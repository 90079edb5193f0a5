package graft.olap

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** q170's incremental-consumption contract: the delta derives from a
  * manifest diff (appended units only), never includes an expired or
  * carried-over unit, and its size matches the manifests' stated rows. */
class IncrementalScanSpec extends SparkSuite {

  private def manifest(lake: java.io.File, name: String): Vector[Vector[Any]] = {
    val (_, entries) = graft.sources.Avro.decode(
      java.nio.file.Files.readAllBytes(new java.io.File(lake, name).toPath))
    entries
  }

  test("delta = appended units only; expired units never reappear") {
    val out = SparkEntry.queries("q170_incremental_scan")(spark, sfDir)
    val rows = out.collect()
    val lake = stagedLake("manifestg2", "events")
    val g1 = manifest(lake, "manifest.avro")
    val g2 = manifest(lake, "manifest_g2.avro")
    val g1Ids = g1.map(_(0).asInstanceOf[Long]).toSet
    val added = g2.filter(r => !g1Ids(r(0).asInstanceOf[Long]))
    // witness columns match the manifest diff
    assert(rows.head.getAs[Long]("units_added") === added.length.toLong)
    assert(rows.head.getAs[Long]("rows_added") ===
      added.map(_(2).asInstanceOf[Long]).sum)
    // all appended paths live under delta/ — no g1 data dir is re-read
    assert(added.forall(_(1).asInstanceOf[String].startsWith("delta/")),
      "an incremental unit points into the base table")
    // the scanned delta total equals the manifests' stated rows
    assert(rows.map(_.getAs[Long]("n")).sum ===
      added.map(_(2).asInstanceOf[Long]).sum)
  }

  test("the delta equals an independent recompute of the late stream") {
    val out = SparkEntry.queries("q170_incremental_scan")(spark, sfDir)
      .select(col("event_type"), col("n"), col("id_sum")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected = graft.core.Tables.events(spark, sfDir)
      .filter(col("event_id") % 17 === 0)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === expected)
  }
}
