package graft.olap

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** q171's write-audit-publish contract: main never references an
  * unaudited or quarantined unit, passing units publish BY REFERENCE
  * (the branch path string, no data movement), and the audit is
  * non-vacuous in both directions. */
class WapPublishSpec extends SparkSuite {

  private def manifest(lake: java.io.File, name: String): Vector[Vector[Any]] = {
    val (_, entries) = graft.sources.Avro.decode(
      java.nio.file.Files.readAllBytes(new java.io.File(lake, name).toPath))
    entries
  }

  test("publish adds exactly the passing units, by reference") {
    val report = SparkEntry.queries("q171_wap_publish")(spark, sfDir).collect()
    val lake = stagedLake("waplake")
    val main = manifest(lake, "main.avro")
    val branch = manifest(lake, "branch.avro")
    val g2 = manifest(lake, "main_g2.avro")
    val mainIds = main.map(_(0).asInstanceOf[Long]).toSet
    val published = g2.filter(r => !mainIds(r(0).asInstanceOf[Long]))
    // the gate split is non-vacuous
    val passUnits = report.filter(_.getAs[Boolean]("published"))
      .map(_.getAs[Long]("unit")).toSet
    val quarUnits = report.filterNot(_.getAs[Boolean]("published"))
      .map(_.getAs[Long]("unit")).toSet
    assert(passUnits.nonEmpty && quarUnits.nonEmpty)
    // main_g2's additions = exactly the passing audit set
    assert(published.map(_(0).asInstanceOf[Long] - 2000L).toSet === passUnits)
    // published by reference: identical path strings as the branch manifest
    val branchPaths = branch.map(r =>
      (r(0).asInstanceOf[Long], r(1).asInstanceOf[String])).toMap
    for (p <- published)
      assert(p(1).asInstanceOf[String] === branchPaths(p(0).asInstanceOf[Long]),
        s"unit ${p(0)} was copied instead of referenced")
    // no quarantined unit is reachable from main_g2
    assert(published.map(_(0).asInstanceOf[Long] - 2000L).toSet
      .intersect(quarUnits).isEmpty)
  }

  test("quarantine isolates whole units: every quarantined unit holds a flag") {
    val report = SparkEntry.queries("q171_wap_publish")(spark, sfDir).collect()
    for (r <- report) {
      if (r.getAs[Boolean]("published"))
        assert(r.getAs[Long]("n_flagged") === 0L)
      else assert(r.getAs[Long]("n_flagged") > 0L)
      assert(r.getAs[Long]("rows_main_after") >= r.getAs[Long]("rows_main_before"))
    }
    // after-size arithmetic: before + passing rows
    val passedRows = report.filter(_.getAs[Boolean]("published"))
      .map(_.getAs[Long]("n_rows")).sum
    assert(report.head.getAs[Long]("rows_main_after") ===
      report.head.getAs[Long]("rows_main_before") + passedRows)
  }
}
