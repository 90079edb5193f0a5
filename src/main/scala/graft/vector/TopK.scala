package graft.vector

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFns

/** O17 — batch top-k cosine similarity search (SURVEY.md §2.3).
  *
  * Reference semantics: Qdrant cosine search, k=5 over the whole
  * collection (`/root/reference/app.py:261-271`, distance pinned at
  * `app.py:87`). Re-expressed Spark-first:
  *
  *   - the (small) query side is `broadcast()` — the cross join becomes a
  *     BroadcastNestedLoopJoin with NO shuffle of the candidate side, so
  *     it scales linearly with the index: each executor streams its local
  *     candidate partitions past the in-memory query set;
  *   - norms are precomputed per side (n+m, not n·m evaluations);
  *   - scoring runs in codegen'd Project via higher-order functions;
  *   - `row_number <= k` compiles to WindowGroupLimitExec (Spark ≥3.5),
  *     which pushes the per-group limit below the single shuffle on
  *     `query_id`, so only ~k·|queries| rows ever cross the wire;
  *   - deterministic tie-break on candidate id.
  *
  * The same ranking is the refine stage of every ANN rung (IVF cells,
  * SRP-LSH buckets, 1-bit Hamming, PQ/IVF-PQ): each generates a candidate
  * shortlist its own way and re-ranks it exactly through [[rerank]] — the
  * generate-then-refine plan of distributed top-k search (PAPERS.md:
  * REPOSE, ICDE 2021).
  */
object TopK {

  /** The one result order: cosine DESC, ties to the lower vec_id. */
  val byCosine: Seq[Column] = Seq(desc("cosine"), asc("vec_id"))

  /** rank ≤ k per query_id in [[byCosine]] order, as an INT `rank` column. */
  private def keepTopK(scored: DataFrame, k: Int): DataFrame =
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("query_id").orderBy(byCosine: _*)))
      .filter(col("rank") <= k)

  /** queries(query_id, qvec) × cands(vec_id, cvec) → top-k rows per query
    * with columns (query_id, vec_id, cosine DOUBLE, rank INT).
    */
  def topKCosine(queries: DataFrame, cands: DataFrame, k: Int): DataFrame = {
    val q = queries
      .withColumn("qvec", VectorFns.asDouble(col("qvec")))
      .withColumn("qnorm", VectorFns.normL2(col("qvec")))
    val c = cands
      .withColumn("cvec", VectorFns.asDouble(col("cvec")))
      .withColumn("cnorm", VectorFns.normL2(col("cvec")))

    val scored = c
      .crossJoin(broadcast(q))
      .withColumn("cosine", VectorFns.safeCosine(VectorFns.dot(col("qvec"), col("cvec")), col("qnorm"), col("cnorm")))

    keepTopK(scored, k).select(col("query_id"), col("vec_id"), col("cosine"), col("rank"))
  }

  /** The ranking step of every exact re-rank: scored(query_id, vec_id,
    * extras…, cosine) → (query_id, vec_id, extras…, round(cosine, 6),
    * rank INT) with rank ≤ k per query, ordered by (query_id, rank). For
    * rows that already carry both vectors (the IVF cell join). */
  def rankByCosine(scored: DataFrame, k: Int): DataFrame = {
    val extras = scored.columns.toSeq.filterNot(Set("query_id", "vec_id", "cosine"))
    keepTopK(scored, k)
      .select(Seq(col("query_id"), col("vec_id")) ++ extras.map(col) ++
        Seq(round(col("cosine"), 6).as("cosine"), col("rank")): _*)
      .orderBy(col("query_id"), col("rank"))
  }

  /** The exact re-rank of an ANN shortlist: candidates(query_id, vec_id,
    * extras…) joined to the broadcast questions(query_id, qv, qn) and the
    * vectors(vec_id, v, n), scored safeCosine(⟨qv, v⟩, qn, n), then
    * [[rankByCosine]]. Unit-vector callers pass norms of 1.0, where
    * dot / (1.0 · 1.0) is the bare dot bit-for-bit. */
  def rerank(cands: DataFrame, questions: DataFrame, vectors: DataFrame, k: Int): DataFrame = {
    val extras = cands.columns.toSeq.filterNot(Set("query_id", "vec_id")).map(col)
    val scored = cands
      .join(broadcast(questions), Seq("query_id"))
      .join(vectors, Seq("vec_id"))
      .select(Seq(col("query_id"), col("vec_id")) ++ extras :+
        VectorFns.safeCosine(VectorFns.dot(col("qv"), col("v")), col("qn"), col("n")).as("cosine"): _*)
    rankByCosine(scored, k)
  }
}
