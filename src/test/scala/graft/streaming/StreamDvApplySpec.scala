package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}
import graft.core.Tables

/** q173's contract: the DV generation ladder is complete and monotone
  * (later generations only grow each file's bitmap), data files are
  * never touched by delete waves, and a lost checkpoint replays every
  * batch over completed generations as a no-op. */
class StreamDvApplySpec extends SparkSuite {

  private def stateRoot: java.io.File =
    graft.core.Staging.path("stream_dv", sfDir, "documents")

  test("the generation ladder is complete and per-file monotone") {
    SparkEntry.queries("q173_stream_dv_apply")(spark, sfDir).count()
    val dvRoot = new java.io.File(stateRoot, "dvs")
    val gens = dvRoot.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen_") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(_.getName.stripPrefix("gen_").toLong).sorted
    assert(gens.toSeq === Seq(1L, 2L, 3L, 4L), s"gens: ${gens.mkString(",")}")
    def cards(g: Long): Map[String, Long] = spark.read.parquet(
      new java.io.File(dvRoot, s"gen_$g").getAbsolutePath)
      .select(col("fpath"), col("card")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // supersede, never shrink: every file's bitmap grows monotonically
    for (g <- 1L to 3L) {
      val (a, b) = (cards(g), cards(g + 1))
      for ((f, c) <- a)
        assert(b.getOrElse(f, 0L) >= c, s"gen ${g + 1} shrank $f")
    }
    // final cardinality = the union arithmetic
    val total = cards(4L).values.sum
    val expected = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 19 === 3 || col("doc_id") % 13 === 3 ||
        col("doc_id") % 17 === 2 || col("doc_id") % 29 === 8).count()
    assert(total === expected, s"final DV cardinality $total != $expected")
  }

  test("delete waves never touch data files") {
    SparkEntry.queries("q173_stream_dv_apply")(spark, sfDir).count()
    val lake = stagedLake("dvstream")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val before = walk(new java.io.File(lake, "data"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    SparkEntry.queries("q173_stream_dv_apply")(spark, sfDir).count()
    val after = walk(new java.io.File(lake, "data"))
      .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    assert(after === before, "a DV apply touched a data file")
  }

  test("losing the checkpoint replays every batch over completed generations — a no-op") {
    val before = SparkEntry.queries("q173_stream_dv_apply")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val dvRoot = new java.io.File(stateRoot, "dvs")
    val mtimes = dvRoot.listFiles().map(f => f.getName -> f.lastModified()).toMap
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(stateRoot, "chk"))
    val after = SparkEntry.queries("q173_stream_dv_apply")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(after === before)
    val mtimes2 = dvRoot.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(mtimes2 === mtimes, "a replayed batch rewrote a completed generation")
  }
}
