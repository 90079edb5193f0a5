package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{ArrayType, DoubleType}

import scala.collection.mutable.ArrayBuffer

import graft.functions.{MmrAgg, VectorFns}

/** O18 — Maximal Marginal Relevance re-rank (SURVEY §2.3).
  *
  * Reference: `search_type="mmr"`, k=5, fetch_k=20, lambda_mult=0.5
  * (`app.py:261-267`): fetch the 20 nearest, then greedily pick 5
  * maximizing `λ·sim(q,d) − (1−λ)·max_{s∈selected} sim(d,s)`.
  *
  * Spark shape: one aggregate. The questions are broadcast and cross-joined
  * with the candidates, the cosine is scored in whole-stage codegen, and
  * `groupBy(query_id)` runs [[graft.functions.MmrAgg]], which keeps the top
  * fetch_k (cosine DESC, vec_id ASC) per question in a bounded buffer and
  * runs [[select]] on it in `eval`. The partial aggregate cuts each map
  * task's rows to ≤ fetch_k per question before the one shuffle; there is
  * no window, no sort of the vectors and no typed-object stage.
  *
  * Scale note: `ObjectHashAggregate` holds one buffer per question and
  * falls back to sort-based aggregation when a task sees more than
  * `spark.sql.objectHashAggregate.sortBased.fallbackThreshold` (128)
  * questions. A buffer that then spills is at most fetch_k × dim × 8 B:
  * 160 KB per question at fetch_k = 20 and 1024-d.
  */
object Mmr {

  /** Pure greedy MMR over (id, relevance, vector) candidates.
    * Deterministic: ties broken by lower id. Returns (id, score, rank)
    * where score is the MMR objective at selection time (the first pick's
    * score is λ·sim, matching the objective with an empty selected set). */
  def select(cands: Seq[(Long, Double, Array[Double])], k: Int, lambda: Double)
      : Seq[(Long, Double, Int)] = {
    val remaining = ArrayBuffer.from(cands.sortBy(c => (-c._2, c._1)))
    val out = ArrayBuffer.empty[(Long, Double, Int)]
    val selectedVecs = ArrayBuffer.empty[Array[Double]]
    var rank = 1
    while (out.length < k && remaining.nonEmpty) {
      var bestIdx = 0
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < remaining.length) {
        val (id, rel, vec) = remaining(i)
        // the redundancy term is max over SIGNED similarities — a
        // candidate anti-correlated with everything selected must get a
        // bonus, not be clamped to 0 (public MMR semantics)
        var maxSim = Double.NegativeInfinity
        var j = 0
        while (j < selectedVecs.length) {
          val s = cosine(vec, selectedVecs(j))
          if (s > maxSim) maxSim = s
          j += 1
        }
        val score =
          if (selectedVecs.isEmpty) lambda * rel
          else lambda * rel - (1.0 - lambda) * maxSim
        if (score > bestScore ||
          (score == bestScore && id < remaining(bestIdx)._1)) {
          bestScore = score; bestIdx = i
        }
        i += 1
      }
      val (id, _, vec) = remaining.remove(bestIdx)
      selectedVecs += vec
      out += ((id, bestScore, rank))
      rank += 1
    }
    out.toSeq
  }

  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** DataFrame operator: queries(query_id, qvec) × cands(vec_id, cvec) →
    * (query_id, vec_id, mmr_score DOUBLE, mmr_rank INT), min(k, fetchK, n)
    * rows per query over its n candidates. */
  def mmrRerank(queries: DataFrame, cands: DataFrame,
                k: Int = 5, fetchK: Int = 20, lambda: Double = 0.5): DataFrame = {
    // a null query_id fails loud, and the output query_id is non-nullable
    val q = queries.select(
      Bridge.column(AssertNotNull(Bridge.expression(col("query_id").cast("long")))).as("query_id"),
      doubles(queries, "qvec").as("qvec"))
      .withColumn("qnorm", norm(col("qvec")))
    val c = cands.select(col("vec_id").cast("long").as("vec_id"), doubles(cands, "cvec").as("cvec"))
      .withColumn("cnorm", norm(col("cvec")))
    c.crossJoin(broadcast(q))
      .withColumn("cosine", VectorFns.safeCosine(VectorFns.dot(col("qvec"), col("cvec")), col("qnorm"), col("cnorm")))
      .groupBy("query_id")
      .agg(MmrAgg.mmr(col("vec_id"), col("cosine"), col("cvec"), k, fetchK, lambda).as("picks"))
      .select(col("query_id"), inline(col("picks")))
  }

  /** `name` as ARRAY<DOUBLE>; an identity cast of a column that already is
    * one would be a `transform` that leaves whole-stage codegen and copies
    * every vector. */
  private def doubles(df: DataFrame, name: String): Column = df.schema(name).dataType match {
    case ArrayType(DoubleType, _) => col(name)
    case _ => VectorFns.asDouble(col(name))
  }

  /** L2 norm as `sqrt(dot(v, v))`: the same left-to-right fold as
    * `VectorFns.normL2`, so the result is bit-identical, but one codegen
    * loop instead of a higher-order `aggregate`. */
  private def norm(v: Column): Column = sqrt(VectorFns.dot(v, v))
}
