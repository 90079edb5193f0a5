package graft.analytics

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** q163's merge-on-read contract: deletes live ONLY in delete files (the
  * data files are immutable and the read never rewrites them), position
  * deletes carry no keys yet round-trip to exactly the victim key set,
  * and the serve plan applies both delete files as broadcast joins. */
class MorDeletesSpec extends SparkSuite {

  // sf0.001 gives 500 docs over 16 units — every unit populated, both
  // victim families non-empty
  private def dataState(lake: java.io.File): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(new java.io.File(lake, "data"))
      .map(f => f.getAbsolutePath -> ((f.length(), f.lastModified()))).toMap
  }

  test("reads subtract delete files; data files are never touched") {
    val out = SparkEntry.queries("q163_mor_deletes")(spark, sfDir)
    out.collect() // stages the lake on first run
    val lake = stagedLake("morlake")
    val before = dataState(lake)
    val report = out.collect() // second read: pure MOR serve
    assert(dataState(lake) === before,
      "a merge-on-read serve modified a data file")
    // per-unit arithmetic: totals add up and survivors = rows − hits
    for (r <- report) {
      val (rows, pos, eq, live) = (r.getAs[Long]("n_rows"), r.getAs[Long]("n_pos"),
        r.getAs[Long]("n_eq"), r.getAs[Long]("n_live"))
      assert(live <= rows - math.max(pos, eq) && live >= rows - pos - eq,
        s"unit ${r.getAs[Long]("unit")}: $rows rows, $pos pos, $eq eq, $live live")
    }
    assert(report.map(_.getAs[Long]("n_pos")).sum > 0, "no position deletes fired")
    assert(report.map(_.getAs[Long]("n_eq")).sum > 0, "no equality deletes fired")
  }

  test("position deletes carry only (path, pos) but round-trip to the victim keys") {
    SparkEntry.queries("q163_mor_deletes")(spark, sfDir).collect()
    val lake = stagedLake("morlake")
    val posDel = spark.read.parquet(s"$lake/pos_deletes")
    assert(posDel.columns.sorted.toSeq === Seq("fname", "pos") ||
      posDel.columns.sorted.toSeq === Seq("fpath", "pos"),
      s"position-delete file leaks columns: ${posDel.columns.mkString(",")}")
    // joining positions back to the scan must recover EXACTLY doc_id%23==5
    val data = spark.read.parquet(s"$lake/data")
      .select(col("doc_id"),
        regexp_extract(col("_metadata.file_path"), "([^/]+/[^/]+)$", 1).as("fpath"),
        col("_metadata.row_index").as("pos"))
    val recovered = data.join(posDel, Seq("fpath", "pos"), "left_semi")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expected = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 23 === 5)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(recovered === expected,
      s"position→key round trip diverged: ${recovered.size} vs ${expected.size}")
  }

  test("the serve plan broadcasts both delete-file joins") {
    val out = SparkEntry.queries("q163_mor_deletes")(spark, sfDir)
    val formatted = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(formatted).length
    assert(nBroadcast >= 2, s"expected 2 broadcast delete joins:\n${formatted.take(2000)}")
  }
}
