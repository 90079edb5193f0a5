package graft.olap

import graft.{SparkEntry, SparkSuite}

/** q164's GC contract: vacuum physically deletes exactly the units the
  * live manifest generation no longer references (plus any unreferenced
  * garbage), never touches a live file, and is idempotent — a re-run
  * lists no orphans and reports identical numbers. */
class VacuumSpec extends SparkSuite {

  private def manifest(lake: java.io.File, name: String): Vector[Vector[Any]] =
    graft.sources.Avro.decode(java.nio.file.Files.readAllBytes(
      new java.io.File(lake, name).toPath))._2

  test("expired units deleted, live units intact, garbage collected, idempotent") {
    val r1 = SparkEntry.queries("q164_vacuum")(spark, sfDir).collect()
    val lake = stagedLake("vacuumlake", "events")
    val g1 = manifest(lake, "manifest.avro")
    val g2 = manifest(lake, "manifest_g2.avro")
    val g2Paths = g2.map(_(1).asInstanceOf[String]).toSet
    val expired = g1.map(_(1).asInstanceOf[String]).filterNot(g2Paths)
    assert(expired.nonEmpty, "no expired units — the vacuum claim is vacuous")
    for (p <- expired)
      assert(!new java.io.File(lake, p).exists(), s"expired $p survived vacuum")
    for (p <- g2Paths)
      assert(new java.io.File(lake, p).isDirectory, s"live $p was vacuumed")

    // live-file state before the second run; inject unreferenced garbage
    def liveState(): Map[String, (Long, Long)] =
      g2Paths.toSeq.flatMap { p =>
        new java.io.File(lake, p).listFiles().filter(_.isFile)
          .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified())))
      }.toMap
    val before = liveState()
    val junkDir = new java.io.File(lake, "data/unit=99999")
    junkDir.mkdirs()
    val junk = new java.io.File(junkDir, "part-junk.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))

    val r2 = SparkEntry.queries("q164_vacuum")(spark, sfDir).collect()
    assert(!junk.exists() && !junkDir.exists(),
      "an unreferenced file survived vacuum")
    assert(liveState() === before, "vacuum modified a live data file")
    assert(r1.map(_.toString).toSeq === r2.map(_.toString).toSeq,
      "vacuum re-run changed the reported witness")

    // the horizon witness agrees with the manifest arithmetic
    for (r <- r1) {
      assert(r.getAs[Long]("units_missing_g1") === r.getAs[Long]("units_vacuumed"))
      assert(r.getAs[Long]("units_vacuumed") === expired.size.toLong)
    }
  }
}
