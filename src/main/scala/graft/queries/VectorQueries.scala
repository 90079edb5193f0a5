package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.vector.TopK

/** Vector-retrieval query surface (SURVEY §2.3 O17, §2.4 O23). */
object VectorQueries {

  /** O17: top-5 cosine per query; queries = the 3 lowest vec_ids (they are
    * members of the index, so rank 1 is the self-match at cosine 1.0 — same
    * as searching the reference's own collection, app.py:261-271). */
  def topkCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cands = emb.select(col("vec_id"), col("embedding").as("cvec"))
    TopK.topKCosine(queries, cands, k = 5)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private def topkOracle(k: Int): String =
    s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
       |           FROM embeddings WHERE vec_id < 3),
       |     c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
       |     scored AS (
       |       SELECT q.query_id, c.vec_id,
       |              list_cosine_similarity(qe, ce) AS cos,
       |              row_number() OVER (PARTITION BY q.query_id
       |                                 ORDER BY list_cosine_similarity(qe, ce) DESC, c.vec_id) AS rnk
       |       FROM q CROSS JOIN c)
       |SELECT query_id, vec_id, round(cos, 6) AS cosine, CAST(rnk AS INTEGER) AS rank
       |FROM scored WHERE rnk <= $k ORDER BY query_id, rank""".stripMargin

  val topkCosineOracle: String = topkOracle(5)

  /** The reference's SECOND retrieval path (app.py:400-403): the
    * `create_retrieval_chain` answer path re-retrieves with LangChain's
    * default `as_retriever()` — plain similarity, k=4, no MMR — while
    * the relevance gate used MMR k=5. Registered as its own query so the
    * documented divergence between the two paths is measurable, not just
    * a SURVEY footnote: q17b IS the plain path, q18 is the MMR path. */
  def topkPlain(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cands = emb.select(col("vec_id"), col("embedding").as("cvec"))
    TopK.topKCosine(queries, cands, k = 4)
      .select(col("query_id"), col("vec_id"), round(col("cosine"), 6).as("cosine"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  val topkPlainOracle: String = topkOracle(4)

  /** Symmetric int8 quantization of the embedding column — the 4× memory
    * cut a 100 TB vector index takes before anything else (IVF codebooks
    * and SRP buckets in q35/q36 then operate over codes). Per-vector
    * max-abs scale, codes in [-127, 127], reconstruction error reported
    * per vector. Pure codegen HOFs, one scan, no shuffle; the error fold
    * runs left-to-right over the fixed array order so the float sum is
    * order-pinned cross-engine. */
  def embeddingQuantize(spark: SparkSession, dir: String): DataFrame =
    quantize(Tables.embeddings(spark, dir))
      .orderBy(col("vec_id"))

  /** The quantization chain over any (vec_id, label, embedding) frame —
    * separated so robustness specs can drive it with synthetic vectors. */
  def quantize(emb: DataFrame): DataFrame = {
    emb
      .withColumn("v", expr("transform(embedding, x -> CAST(x AS DOUBLE))"))
      .withColumn("scale",
        expr("array_max(transform(v, x -> abs(x))) / 127.0D"))
      // nullif guards the all-zero vector: codes collapse to 0, error 0
      .withColumn("codes", expr(
        """transform(v, x ->
          |  CAST(least(greatest(coalesce(round(x / nullif(scale, 0.0D)), 0.0D),
          |                      -127.0D), 127.0D) AS INT))""".stripMargin))
      .withColumn("recon", expr("zip_with(codes, v, (c, x) -> c * scale)"))
      .withColumn("mse", expr(
        """aggregate(zip_with(v, recon, (x, r) -> (x - r) * (x - r)),
          |  0.0D, (acc, e) -> acc + e, acc -> acc / size(v))""".stripMargin))
      .withColumn("max_abs_err", expr(
        "array_max(zip_with(v, recon, (x, r) -> abs(x - r)))"))
      .select(col("vec_id"), col("label"),
        round(col("scale"), 6).as("scale"),
        round(col("mse"), 8).as("mse"),
        round(col("max_abs_err"), 6).as("max_abs_err"))
  }

  val embeddingQuantizeOracle: String =
    """WITH v AS (
      |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |  s AS (
      |  SELECT vec_id, label, v,
      |         list_max(list_transform(v, x -> abs(x))) / 127.0 AS scale
      |  FROM v),
      |  c AS (
      |  SELECT vec_id, label, v, scale,
      |    list_transform(v, x -> CAST(least(greatest(
      |      coalesce(round(x / nullif(scale, 0.0)), 0.0), -127.0), 127.0) AS INT)) AS codes
      |  FROM s),
      |  r AS (
      |  SELECT vec_id, label, v, scale,
      |    list_transform(codes, c -> c * scale) AS recon
      |  FROM c)
      |SELECT vec_id, label, round(scale, 6) AS scale,
      |  round(list_reduce(
      |    list_prepend(CAST(0.0 AS DOUBLE),
      |      list_transform(generate_series(1, len(v)), i -> (v[i] - recon[i]) * (v[i] - recon[i]))),
      |    (acc, e) -> acc + e) / len(v), 8) AS mse,
      |  round(list_max(list_transform(generate_series(1, len(v)), i -> abs(v[i] - recon[i]))), 6) AS max_abs_err
      |FROM r ORDER BY vec_id""".stripMargin

  // --- q138: contrastive hard-negative mining --------------------------------
  /** The embedding-training companion to the dedup/ANN families: for each
    * anchor vector, the top-5 highest-cosine candidates with a DIFFERENT
    * label (hard negatives) plus the nearest same-label neighbor (the
    * positive) and the triplet margin neg_cos − pos_cos — exactly the
    * mining pass a contrastive fine-tune (triplet / InfoNCE) runs over a
    * labeled corpus to pick informative pairs.
    *
    * 100 TB shape: anchors broadcast (the mining batch is always small
    * relative to the corpus), candidates stream partition-local past them
    * — no candidate shuffle for scoring. Positives and negatives rank in
    * ONE window partitioned by (anchor, class), so a single (anchor_id,
    * is_pos)-keyed exchange of scored ids carries the whole reduction and
    * WindowGroupLimit pushes rank≤5 below it; the 1-row-per-anchor
    * positive side then broadcast-joins back. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.VectorFns
    val emb = Tables.embeddings(spark, dir)
    val anchors = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("anchor_id"), col("label").as("anchor_label"),
        VectorFns.asDouble(col("embedding")).as("qvec"))
      .withColumn("qnorm", VectorFns.normL2(col("qvec")))
    val cands = emb
      .select(col("vec_id"), col("label"), VectorFns.asDouble(col("embedding")).as("cvec"))
      .withColumn("cnorm", VectorFns.normL2(col("cvec")))
    val scored = cands.crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .withColumn("cosine", VectorFns.safeCosine(
        VectorFns.dot(col("qvec"), col("cvec")), col("qnorm"), col("cnorm")))
      .withColumn("is_pos", col("label") === col("anchor_label"))
    val w = Window.partitionBy(col("anchor_id"), col("is_pos")).orderBy(TopK.byCosine: _*)
    val ranked = scored.withColumn("rnk", row_number().over(w))
    val negs = ranked.filter(!col("is_pos") && col("rnk") <= 5)
      .select(col("anchor_id"), col("vec_id").as("neg_id"), col("label").as("neg_label"),
        round(col("cosine"), 6).as("neg_cos"), col("rnk").cast("int").as("rank"))
    val pos = ranked.filter(col("is_pos") && col("rnk") === 1)
      .select(col("anchor_id"), col("vec_id").as("pos_id"),
        round(col("cosine"), 6).as("pos_cos"))
    negs.join(broadcast(pos), Seq("anchor_id"))
      .withColumn("margin", round(col("neg_cos") - col("pos_cos"), 6))
      .select(col("anchor_id"), col("neg_id"), col("neg_label"), col("neg_cos"),
        col("rank"), col("pos_id"), col("pos_cos"), col("margin"))
      .orderBy(col("anchor_id"), col("rank"))
  }

  /** Brute-force mining over the same (anchor, class) ranking — rounding
    * and tie-breaks pinned identically (the q17 cosine-parity discipline). */
  val hardNegativesOracle: String =
    """WITH a AS (SELECT vec_id AS anchor_id, label AS anchor_label,
      |             CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 8),
      |  c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
      |  s AS (SELECT a.anchor_id, c.vec_id, c.label,
      |          list_cosine_similarity(qe, ce) AS cos,
      |          (c.label = a.anchor_label) AS is_pos
      |        FROM a CROSS JOIN c WHERE c.vec_id <> a.anchor_id),
      |  r AS (SELECT *, row_number() OVER (PARTITION BY anchor_id, is_pos
      |          ORDER BY cos DESC, vec_id) AS rnk FROM s),
      |  n AS (SELECT anchor_id, vec_id AS neg_id, label AS neg_label,
      |          round(cos, 6) AS neg_cos, CAST(rnk AS INTEGER) AS rank
      |        FROM r WHERE NOT is_pos AND rnk <= 5),
      |  p AS (SELECT anchor_id, vec_id AS pos_id, round(cos, 6) AS pos_cos
      |        FROM r WHERE is_pos AND rnk = 1)
      |SELECT n.anchor_id, n.neg_id, n.neg_label, n.neg_cos, n.rank,
      |  p.pos_id, p.pos_cos, round(n.neg_cos - p.pos_cos, 6) AS margin
      |FROM n JOIN p USING (anchor_id)
      |ORDER BY n.anchor_id, n.rank""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q17_topk_cosine" -> ((s, d) => topkCosine(s, d)),
    "q17b_topk_plain" -> ((s, d) => topkPlain(s, d)),
    "q73_embedding_quantize" -> ((s, d) => embeddingQuantize(s, d)),
    "q138_hard_negatives" -> ((s, d) => hardNegatives(s, d))
  )

  def oracles: Map[String, String] = Map(
    "q17_topk_cosine" -> topkCosineOracle,
    "q17b_topk_plain" -> topkPlainOracle,
    "q73_embedding_quantize" -> embeddingQuantizeOracle,
    "q138_hard_negatives" -> hardNegativesOracle
  )
}
