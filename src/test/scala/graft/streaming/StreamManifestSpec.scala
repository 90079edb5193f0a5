package graft.streaming

import org.apache.commons.io.FileUtils

import graft.{SparkEntry, SparkSuite}

/** q167's commit contract: every micro-batch lands as one manifest
  * generation (monotone, append-only), replaying the whole stream after
  * deleting the CHECKPOINT rewrites nothing (exactly-once is carried by
  * the sink's committed generations, not the checkpoint), and an
  * uncommitted generation is invisible to the planner. */
class StreamManifestSpec extends SparkSuite {

  private def root(): java.io.File =
    graft.core.Staging.path("stream_manifest", sfDir, "events")

  private def manifests(r: java.io.File): Seq[java.io.File] =
    r.listFiles().filter(_.getName.matches("manifest_g\\d+\\.avro"))
      .sortBy(_.getName.stripPrefix("manifest_g").stripSuffix(".avro").toInt).toSeq

  private def entries(f: java.io.File): Vector[Vector[Any]] =
    graft.sources.Avro.decode(java.nio.file.Files.readAllBytes(f.toPath))._2

  test("generations are monotone appends; checkpoint replay rewrites nothing") {
    val q = SparkEntry.queries("q167_stream_manifest_commit")
    val r1 = q(spark, sfDir).collect()
    val r = root()
    val gens = manifests(r)
    assert(gens.size === 5, s"expected g0..g4, found ${gens.map(_.getName)}")
    // append-only: every generation's unit set strictly contains the last
    val unitSets = gens.map(g => entries(g).map(_(0).asInstanceOf[Long]).toSet)
    assert(unitSets.head.isEmpty, "g0 must be the empty table")
    for (i <- 1 until unitSets.size) {
      assert(unitSets(i - 1).subsetOf(unitSets(i)), s"g$i dropped units")
      assert(unitSets(i).size > unitSets(i - 1).size, s"g$i added nothing")
    }
    // the exactly-once probe: wipe the checkpoint, replay all batches —
    // every committed artifact must survive untouched
    val state = (manifests(r) ++ Seq(new java.io.File(r, "data")))
      .flatMap(walk).map(f => f.getAbsolutePath -> f.lastModified()).toMap
    FileUtils.deleteDirectory(new java.io.File(r, "chk"))
    val r2 = q(spark, sfDir).collect()
    val after = (manifests(r) ++ Seq(new java.io.File(r, "data")))
      .flatMap(walk).map(f => f.getAbsolutePath -> f.lastModified()).toMap
    assert(after === state, "a replayed batch rewrote a committed artifact")
    assert(r1.map(_.toString).toSeq === r2.map(_.toString).toSeq)
  }

  test("an uncommitted (half-written) batch is invisible to the planner") {
    SparkEntry.queries("q167_stream_manifest_commit")(spark, sfDir).collect()
    val r = root()
    // simulate a crash between data write and manifest commit: orphan
    // data on disk, no manifest referencing it
    val orphan = new java.io.File(r, "data/w9/unit=424242")
    orphan.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-orphan.parquet").toPath, Array[Byte](1))
    try {
      val latest = manifests(r).last
      val refs = entries(latest).map(_(1).asInstanceOf[String]).toSet
      assert(!refs.exists(_.contains("w9")), "planner would read orphan data")
      // the serve answer is unchanged by the orphan
      val rows = SparkEntry.queries("q167_stream_manifest_commit")(spark, sfDir)
        .collect()
      assert(rows.nonEmpty)
    } finally FileUtils.deleteDirectory(new java.io.File(r, "data/w9"))
  }

  private def walk(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
}
