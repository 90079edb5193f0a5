package graft.olap

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** q172's history-surgery contract: the composed generation references
  * ONLY existing paths from g1/g2 (pure metadata arithmetic — no file
  * is written, moved, or touched), expired units come back because
  * their files were never deleted, and the append survives the
  * rollback. */
class RollbackCherryPickSpec extends SparkSuite {

  private def manifest(lake: java.io.File, name: String): Vector[Vector[Any]] = {
    val (_, entries) = graft.sources.Avro.decode(
      java.nio.file.Files.readAllBytes(new java.io.File(lake, name).toPath))
    entries
  }

  private def lakeState(lake: java.io.File): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(lake).map(f =>
      f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
  }

  test("history surgery is metadata-only: no file written, moved, or touched") {
    val q = SparkEntry.queries("q172_rollback_cherry_pick")(spark, sfDir)
    q.collect() // stages the lake on first run (via q161b's family)
    val lake = stagedLake("manifestg2", "events")
    val before = lakeState(lake)
    val out = q.collect()
    assert(lakeState(lake) === before,
      "a rollback/cherry-pick serve modified the artifact")
    // g4's reference set = g1 ∪ (g2 − g1), path-identical
    val g1 = manifest(lake, "manifest.avro")
    val g2 = manifest(lake, "manifest_g2.avro")
    val g1Ids = g1.map(_(0).asInstanceOf[Long]).toSet
    val cherry = g2.filter(r => !g1Ids(r(0).asInstanceOf[Long]))
    assert(out.head.getAs[Long]("units_g4") ===
      g1.length.toLong + cherry.length.toLong)
    // the rollback resurrects units g2 expired — they must exist on disk
    val g2Ids = g2.map(_(0).asInstanceOf[Long]).toSet
    val expired = g1.filter(r => !g2Ids(r(0).asInstanceOf[Long]))
    assert(expired.nonEmpty, "nothing was expired — rollback check vacuous")
    for (e <- expired)
      assert(new java.io.File(lake, e(1).asInstanceOf[String]).isDirectory,
        s"expired unit ${e(0)} has no files — rollback would serve a hole")
  }

  test("the composed content = original table plus the late stream") {
    val out = SparkEntry.queries("q172_rollback_cherry_pick")(spark, sfDir)
      .select(col("event_type"), col("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val e = graft.core.Tables.events(spark, sfDir)
    val base = e.groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val late = e.filter(col("event_id") % 17 === 0)
      .groupBy(col("event_type")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((t, n) <- out)
      assert(n === base.getOrElse(t, 0L) + late.getOrElse(t, 0L))
  }
}
