package graft.functions

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** BloomSketchAgg's contracts: deterministic bytes under any merge
  * order, zero false negatives, bounded false positives, and q166's
  * sidecar plan actually prunes units and pushes partition filters. */
class BloomSketchSpec extends SparkSuite {

  import BloomSketchAgg.bloomSketch
  import BloomContainsExpr.bloomContains

  private def sketchOf(nParts: Int): Array[Byte] = {
    import spark.implicits._
    (0 until 1000).map(_.toLong).toDF("v").repartition(nParts)
      .agg(bloomSketch(col("v"), 4096L, 0.01).as("b"))
      .head().getAs[Array[Byte]]("b")
  }

  test("merge-order independence: 1-partition and 32-partition sketches are bit-equal") {
    assert(java.util.Arrays.equals(sketchOf(1), sketchOf(32)))
  }

  test("no false negatives; false positives near fpp") {
    val bytes = sketchOf(8)
    val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    assert((0L until 1000L).forall(bf.mightContainLong),
      "bloom false negative — the contract the pruning path relies on")
    val fp = (1000000L until 1010000L).count(bf.mightContainLong)
    assert(fp <= 300, s"$fp false positives in 10000 probes (fpp=0.01)")
  }

  test("the SQL surface registers through extensions") {
    import spark.implicits._
    (0 until 100).map(_.toLong).toDF("v").createOrReplaceTempView("bloom_t")
    val r = spark.sql(
      """SELECT graft_bloom_contains(b, 7L) AS hit,
        |       graft_bloom_contains(b, 123456789L) AS probably_not
        |FROM (SELECT graft_bloom(v, 1024, 0.01) AS b FROM bloom_t)""".stripMargin)
      .head()
    assert(r.getBoolean(0))
  }

  test("q166: blooms prune units and the data scan carries partition filters") {
    SparkEntry.queries("q166_bloom_skipping")(spark, sfDir).collect()
    val lake = stagedLake("bloomlake", "events")
    val blooms = spark.read.parquet(s"$lake/blooms")
    val probes = graft.core.Tables.events(spark, sfDir)
      .filter(col("user_id") % 97 === 13).select(col("user_id")).distinct()
    val pos = blooms.crossJoin(broadcast(probes))
      .filter(bloomContains(col("bloom"), col("user_id")))
      .select(col("unit")).distinct().count()
    val total = blooms.count()
    // sf0.001: ~10 events per user over ~30 day-units — the sidecar must
    // actually skip something or the operator claim is vacuous
    assert(pos < total, s"bloom pruned nothing ($pos of $total units positive)")
    val pruned = spark.read.parquet(s"$lake/data")
      .filter(col("unit").isin(0L, 1L, 2L))
    val formatted = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.matches("(?s).*PartitionFilters: \\[.*unit.*"),
      formatted.take(1500))
  }
}
