package graft.queries

import graft.SparkSuite
import graft.core.Staging
import java.io.File

/** VERDICT r15 task 4: fingerprint-keyed staged artifacts must not
  * accumulate across corpus regenerations — staging a family (blob lake,
  * bucketed table, stream root) against a CHANGED source reaps the
  * old-fingerprint generation, leaving exactly one live artifact, while
  * in-flight (young, dot-prefixed) stagings of concurrent sessions are
  * left alone. */
class StagingGcSpec extends SparkSuite {

  private lazy val tmpRoot: File =
    java.nio.file.Files.createTempDirectory("gcspec").toFile

  override def afterAll(): Unit = {
    Staging.rmTree(tmpRoot): Unit
    super.afterAll()
  }

  /** A throwaway corpus dir whose documents / lineitem / events tables
    * can be "regenerated" (mtime-bumped) to change the fingerprint. */
  private def tmpCorpus(name: String): File = {
    val dir = new File(tmpRoot, s"gcspec_$name")
    Staging.rmTree(dir)
    dir.mkdirs()
    import spark.implicits._
    Seq((1L, "alpha", 5L), (2L, "beta", 4L), (3L, "gamma", 5L))
      .toDF("doc_id", "text", "n_chars")
      .coalesce(1).write.mode("overwrite")
      .parquet(new File(dir, "documents.parquet").getAbsolutePath)
    Seq((10L, 100L), (10L, 101L), (11L, 100L), (11L, 101L), (12L, 102L))
      .toDF("l_orderkey", "l_partkey")
      .coalesce(1).write.mode("overwrite")
      .parquet(new File(dir, "lineitem.parquet").getAbsolutePath)
    // a single FILE, as the generated corpora ship events: streams stage it first
    Staging.writeParquetFile(
      Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), "view", 1.5),
          (2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), "click", 2.0),
          (3L, java.sql.Timestamp.valueOf("2024-01-01 01:30:00"), "view", 0.5))
        .toDF("event_id", "ts", "event_type", "value"),
      new File(dir, "events.parquet"))
    dir
  }

  /** Bump every file's mtime far enough that the (name, length, mtime)
    * fingerprint is guaranteed to change — the regenerated-corpus signal. */
  private def regenerate(dir: File): Unit = {
    def touch(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(touch)
      f.setLastModified(f.lastModified() + 60000): Unit
    }
    touch(dir)
  }

  private def family(parent: File, prefix: String): Seq[String] =
    Option(parent.listFiles()).getOrElse(Array.empty[File])
      .map(_.getName).filter(_.startsWith(prefix)).toSeq

  test("restaging a blob lake after corpus regen leaves exactly one live generation") {
    val corpus = tmpCorpus("blobs")
    val target = Staging.root
    def stage(): File = SourceQueries.stagedBlobs(
      corpus.getAbsolutePath, "gctest") { staging =>
      java.nio.file.Files.write(new File(staging, "blob.bin").toPath, Array[Byte](1, 2, 3))
    }
    val g1 = stage()
    assert(family(target, "blobs_gctest_").contains(g1.getName))
    regenerate(corpus)
    val g2 = stage()
    assert(g2.getName != g1.getName, "fingerprint must change on regeneration")
    val live = family(target, "blobs_gctest_")
    assert(live == Seq(g2.getName),
      s"exactly one live generation expected, got $live")
    assert(!g1.exists(), "the stale generation must be reaped")
    Staging.rmTree(corpus): Unit
    Staging.rmTree(g2): Unit
  }

  test("a YOUNG in-flight staging dir survives the sweep; an old orphan does not") {
    val corpus = tmpCorpus("tmps")
    val target = Staging.root
    val sfName = corpus.getName
    val young = new File(target, s".blobs_gctest2_${sfName}_tmp_inflight")
    young.mkdirs()
    val orphan = new File(target, s".blobs_gctest2_${sfName}_tmp_crashed")
    orphan.mkdirs()
    orphan.setLastModified(System.currentTimeMillis() - 2L * 60 * 60 * 1000): Unit
    val g = SourceQueries.stagedBlobs(corpus.getAbsolutePath, "gctest2") { staging =>
      java.nio.file.Files.write(new File(staging, "b").toPath, Array[Byte](7))
    }
    assert(young.exists(), "a fresh concurrent staging must not be reaped")
    assert(!orphan.exists(), "a crashed run's stale tmp dir must be reaped")
    Staging.rmTree(young): Unit
    Staging.rmTree(corpus): Unit
    Staging.rmTree(g): Unit
  }

  test("restaging the bucketed lineitem table after corpus regen leaves one live table dir") {
    val corpus = tmpCorpus("bkt")
    val dir = corpus.getAbsolutePath
    val prefix = s"lineitem_bkt_${corpus.getName}_"
    RelationalQueries.basketPairs(spark, dir).count(): Unit
    val (t1, d1) = (Staging.tableName("lineitem_bkt", dir, "lineitem"),
      Staging.path("lineitem_bkt", dir, "lineitem"))
    assert(family(Staging.root, prefix) == Seq(d1.getName))
    regenerate(corpus)
    RelationalQueries.basketPairs(spark, dir).count(): Unit
    val (t2, d2) = (Staging.tableName("lineitem_bkt", dir, "lineitem"),
      Staging.path("lineitem_bkt", dir, "lineitem"))
    assert(t2 != t1, "table fingerprint must change on regeneration")
    val live = family(Staging.root, prefix)
    assert(live == Seq(d2.getName), s"exactly one live table dir expected, got $live")
    spark.sql(s"DROP TABLE IF EXISTS `$t1`")
    spark.sql(s"DROP TABLE IF EXISTS `$t2`")
    Staging.rmTree(d2): Unit
    Staging.rmTree(corpus): Unit
  }

  test("rerunning a stream sink after corpus regen leaves one live stream root") {
    val corpus = tmpCorpus("stream")
    val dir = corpus.getAbsolutePath
    def run(): Seq[org.apache.spark.sql.Row] =
      StreamQueries.streamLakeSink(spark, dir).collect().toSeq
    val first = run()
    assert(first.map(_.getAs[Long]("n_events")).sum == 3L)
    val g1 = Staging.path("stream_sink", dir, "events")
    assert(new File(g1, "chk").isDirectory, "the sink checkpoints under its root")
    regenerate(corpus)
    assert(run() == first, "a regenerated corpus lands the same rows")
    val g2 = Staging.path("stream_sink", dir, "events")
    assert(g2.getName != g1.getName, "fingerprint must change on regeneration")
    for ((fam, g) <- Seq("stream_sink" -> g2,
        "stream_events" -> Staging.path("stream_events", dir, "events"))) {
      val live = family(Staging.root, s"${fam}_${corpus.getName}_")
      assert(live == Seq(g.getName), s"exactly one live $fam generation expected, got $live")
      Staging.rmTree(g): Unit
    }
    Staging.rmTree(corpus): Unit
  }
}
