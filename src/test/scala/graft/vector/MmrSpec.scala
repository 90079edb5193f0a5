package graft.vector

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.functions.{MmrAgg, VectorFns}

/** SURVEY §5.2 MMR properties + FIXTURES.md §B golden case, and parity of
  * the one-aggregate [[Mmr.mmrRerank]] with the top-fetch_k window plus a
  * driver-side [[Mmr.select]]. */
class MmrSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private val q = Array(1.0, 0.0, 0.0, 0.0)
  private def cos(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.zip(b).map { case (x, y) => x * y }.sum
    val na = math.sqrt(a.map(x => x * x).sum)
    val nb = math.sqrt(b.map(x => x * x).sum)
    if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
  }
  // candidates with relevance = cosine to q
  private def mk(vs: (Long, Array[Double])*): Seq[(Long, Double, Array[Double])] =
    vs.map { case (id, v) => (id, cos(q, v), v) }

  test("golden: diversification beats redundancy at lambda=0.5") {
    // 10 and 11 are near-duplicates both close to q; 12 is orthogonal to
    // both. (10 is deliberately NOT colinear with q: for a candidate set
    // where pick1 ∥ q, relevance equals redundancy and MMR ties at 0.)
    val cands = mk(
      10L -> Array(0.95, 0.312, 0.0, 0.0),
      11L -> Array(0.90, 0.436, 0.0, 0.0),
      12L -> Array(0.0, 0.0, 1.0, 0.0))
    val picked = Mmr.select(cands, k = 2, lambda = 0.5).map(_._1)
    // pick1 = 10 (rel .95). pick2: 11 → .5*.90 − .5*cos(11,10)≈.45−.496<0;
    //                              12 → .5*0  − .5*0 = 0 ⇒ 12 wins.
    assert(picked === Seq(10L, 12L))
  }

  test("first pick is always the argmax of relevance") {
    val cands = mk(
      1L -> Array(0.2, 0.8, 0.0, 0.0),
      2L -> Array(0.9, 0.1, 0.0, 0.0),
      3L -> Array(0.5, 0.5, 0.0, 0.0))
    assert(Mmr.select(cands, k = 1, lambda = 0.5).head._1 === 2L)
  }

  test("lambda=1 reduces to plain top-k by relevance") {
    val cands = mk(
      1L -> Array(0.2, 0.8, 0.0, 0.0),
      2L -> Array(0.9, 0.1, 0.0, 0.0),
      3L -> Array(0.5, 0.5, 0.0, 0.0),
      4L -> Array(0.7, 0.3, 0.0, 0.0))
    val picked = Mmr.select(cands, k = 3, lambda = 1.0).map(_._1)
    val topk = cands.sortBy(c => (-c._2, c._1)).take(3).map(_._1)
    assert(picked === topk)
  }

  test("output is a subset of candidates, size min(k, n), ranks 1..n") {
    val cands = mk(
      1L -> Array(0.1, 0.2, 0.3, 0.4),
      2L -> Array(0.4, 0.3, 0.2, 0.1),
      3L -> Array(0.0, 0.0, 1.0, 0.0))
    val out = Mmr.select(cands, k = 5, lambda = 0.5)
    assert(out.size === 3)
    assert(out.map(_._1).toSet.subsetOf(cands.map(_._1).toSet))
    assert(out.map(_._3) === Seq(1, 2, 3))
    assert(out.map(_._1).distinct.size === out.size)
  }

  test("deterministic on exact ties: lower id wins") {
    val cands = mk(
      7L -> Array(1.0, 0.0, 0.0, 0.0),
      3L -> Array(1.0, 0.0, 0.0, 0.0))
    assert(Mmr.select(cands, k = 1, lambda = 1.0).head._1 === 3L)
  }

  // ---- parity with the window formulation ----

  private type Pick = (Long, Long, Long, Int) // query_id, vec_id, score bits, rank

  private def picks(rows: Seq[(Long, Long, Double, Int)]): Set[Pick] =
    rows.map { case (q, v, s, r) => (q, v, java.lang.Double.doubleToLongBits(s), r) }.toSet

  /** The reference: a `row_number` window keeps the top fetch_k of
    * scored(query_id, vec_id, cosine, cvec) per question, then
    * [[Mmr.select]] runs on the driver. */
  private def viaWindow(scored: DataFrame, k: Int, fetchK: Int, lambda: Double): Set[Pick] = {
    val w = Window.partitionBy("query_id").orderBy(desc("cosine"), asc("vec_id"))
    val kept = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= fetchK)
      .select("query_id", "vec_id", "cosine", "cvec").collect()
    picks(kept.toSeq.groupBy(_.getLong(0)).toSeq.flatMap { case (qid, rs) =>
      val cands = rs.map(r => (r.getLong(1), r.getDouble(2), r.getSeq[Double](3).toArray))
      Mmr.select(cands, k, lambda).map { case (id, sc, rank) => (qid, id, sc, rank) }
    })
  }

  /** The scoring `mmrRerank` replaced: `asDouble`, `normL2`, `safeCosine`. */
  private def scoredAsBefore(queries: DataFrame, cands: DataFrame): DataFrame = {
    val q = queries.select(col("query_id").cast("long").as("query_id"),
        VectorFns.asDouble(col("qvec")).as("qvec"))
      .withColumn("qnorm", VectorFns.normL2(col("qvec")))
    val c = cands.select(col("vec_id").cast("long").as("vec_id"),
        VectorFns.asDouble(col("cvec")).as("cvec"))
      .withColumn("cnorm", VectorFns.normL2(col("cvec")))
    c.crossJoin(broadcast(q)).withColumn("cosine",
      VectorFns.safeCosine(VectorFns.dot(col("qvec"), col("cvec")), col("qnorm"), col("cnorm")))
  }

  private def collectPicks(df: DataFrame): Set[Pick] =
    picks(df.select("query_id", "vec_id", "mmr_score", "mmr_rank").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))))

  /** Run `body` with ObjectHashAggregate falling back to sort-based
    * aggregation at the first group, so buffers are serialized,
    * deserialized and merged by the sort-based path too. */
  private def withSortFallback[T](body: => T): T = {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body finally old.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def assertParity(queries: DataFrame, cands: DataFrame,
      k: Int, fetchK: Int, lambda: Double): Unit = {
    val expected = viaWindow(scoredAsBefore(queries, cands), k, fetchK, lambda)
    val spread = cands.repartition(8)
    val got = collectPicks(Mmr.mmrRerank(queries, spread, k, fetchK, lambda))
    val gotFallback = withSortFallback(
      collectPicks(Mmr.mmrRerank(queries, spread, k, fetchK, lambda)))
    assert(expected.nonEmpty)
    assert(got === expected, s"k=$k fetchK=$fetchK")
    assert(gotFallback === expected, s"k=$k fetchK=$fetchK, sort-based fallback")
  }

  private lazy val embeddings = spark.read.parquet(s"$sfDir/embeddings.parquet")

  test("mmrRerank parity with the top-fetch_k window on sf0.001 embeddings") {
    val queries = embeddings.filter(col("vec_id") % 37 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cands = embeddings.select(col("vec_id"), col("embedding").as("cvec"))
    assertParity(queries, cands, k = 5, fetchK = 20, lambda = 0.5)
  }

  // duplicate vectors (ties the lower vec_id must win), an all-zero
  // vector, a −0.0 element and a NaN element
  private val nan = Double.NaN
  private val handQueries = Seq(
    1L -> Array(1.0, 0.0, 0.0, 0.0),
    2L -> Array(0.6, 0.8, 0.0, 0.0),
    3L -> Array(0.0, 0.0, 0.0, 0.0),
    4L -> Array(-0.0, 1.0, 0.0, 0.0))
  private val handCands =
    (10L to 15L).map(_ -> Array(0.9, 0.1, 0.2, 0.0)) ++ Seq(
      3L -> Array(0.0, 0.0, 0.0, 0.0),
      4L -> Array(-0.0, 0.5, 0.5, 0.0),
      5L -> Array(nan, 0.1, 0.0, 0.0),
      6L -> Array(0.1, 0.9, 0.3, 0.2),
      7L -> Array(0.5, 0.5, 0.5, 0.5),
      8L -> Array(-1.0, 0.0, 0.0, 0.0),
      20L -> Array(0.3, 0.2, 0.9, 0.1),
      21L -> Array(0.7, 0.1, 0.1, 0.7))

  test("mmrRerank parity on ties, zero, -0.0 and NaN vectors, k > fetch_k, < fetch_k candidates") {
    import spark.implicits._
    val queries = handQueries.toDF("query_id", "qvec")
    val cands = handCands.toDF("vec_id", "cvec")
    // the cut falls inside the six tied duplicates
    assertParity(queries, cands, k = 3, fetchK = 4, lambda = 0.5)
    // k > fetch_k: fetch_k picks
    assertParity(queries, cands, k = 8, fetchK = 5, lambda = 0.5)
    // fewer candidates than fetch_k: every candidate is fetched
    assertParity(queries, cands, k = 5, fetchK = 20, lambda = 0.5)
  }

  test("MmrAgg keeps Spark's order: NaN is largest, -0.0 equals 0.0, then lower vec_id") {
    import spark.implicits._
    val v = Seq(1.0, 0.0)
    val scored = Seq(
      (1L, 1L, -0.0, v), (1L, 2L, 0.0, Seq(0.0, 1.0)), (1L, 3L, 0.0, Seq(1.0, 1.0)),
      (1L, 4L, -0.5, v), (2L, 9L, 0.25, v), (2L, 8L, nan, Seq(0.5, 0.5)),
      (2L, 7L, 0.25, Seq(0.0, 1.0)), (2L, 6L, 0.75, Seq(1.0, 1.0)))
      .toDF("query_id", "vec_id", "cosine", "cvec")
    val expected = viaWindow(scored, k = 3, fetchK = 2, lambda = 0.5)
    val got = withSortFallback(collectPicks(scored.repartition(8).groupBy("query_id")
      .agg(MmrAgg.mmr(col("vec_id"), col("cosine"), col("cvec"), 3, 2, 0.5).as("picks"))
      .select(col("query_id"), inline(col("picks")))))
    assert(got === expected)
    assert(got.map(p => (p._1, p._2)) === Set((1L, 1L), (1L, 2L), (2L, 8L), (2L, 6L)))
  }

  test("mmrRerank schema: (query_id, vec_id, mmr_score, mmr_rank), none nullable") {
    import spark.implicits._
    val out = Mmr.mmrRerank(handQueries.toDF("query_id", "qvec"), handCands.toDF("vec_id", "cvec"))
    assert(out.schema === StructType(Seq(
      StructField("query_id", LongType, nullable = false),
      StructField("vec_id", LongType, nullable = false),
      StructField("mmr_score", DoubleType, nullable = false),
      StructField("mmr_rank", IntegerType, nullable = false))))
  }

  test("mmrRerank plan: one shuffle, no Window, Sort, AppendColumns or MapGroups") {
    val out = Mmr.mmrRerank(
      embeddings.filter(col("vec_id") < 3).select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      embeddings.select(col("vec_id"), col("embedding").as("cvec")))
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(plan.asInstanceOf[AdaptiveSparkPlanExec].isFinalPlan)
    val shuffles = collect(plan) { case e: ShuffleExchangeLike => e }
    assert(shuffles.size === 1, s"expected one shuffle in:\n$plan")
    val banned = Seq("Window", "Sort", "AppendColumns", "MapGroups")
    val hits = collect(plan) { case p if banned.exists(p.nodeName.contains) => p.nodeName }
    assert(hits.isEmpty, s"${hits.mkString(", ")} in:\n$plan")
  }
}
