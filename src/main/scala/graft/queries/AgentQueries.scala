package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.vector.Mmr

/** The agentic layer as data (SURVEY §3 E2): MMR-diversified retrieval and
  * the four-way answer router expressed as one DataFrame with a `route`
  * CASE column — control flow in the reference (app.py:312-343, 347-433),
  * a projection here.
  */
object AgentQueries {

  /** O18: MMR re-rank, k=5 / fetch_k=20 / λ=0.5 exactly as app.py:261-267.
    *
    * Oracle: greedy MMR is sequential, but only k-deep — so it IS
    * expressible as a DuckDB recursive CTE that carries the selected
    * (ids, vectors) as list-typed state and picks the argmax of
    * `λ·rel − (1−λ)·max_cos(cand, selected)` via an ORDER BY … LIMIT 1
    * lateral per iteration (5 iterations total, one per rank). Both
    * engines compute cosines over DOUBLE[] with the same fold order
    * (q17's bit-exact rank ordering is the standing proof), so the
    * selection sequence matches bit-for-bit — verified at sf0.01 and the
    * sf1 rung. MmrSpec's golden/property tests still cover the general
    * semantics (λ sweeps, anti-correlated bonus, tie-breaks), and its
    * parity tests pin the one-aggregate plan of [[Mmr.mmrRerank]] to the
    * top-fetch_k window it replaced. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cands = emb.select(col("vec_id"), col("embedding").as("cvec"))
    Mmr.mmrRerank(queries, cands, k = 5, fetchK = 20, lambda = 0.5)
      .select(col("query_id"), col("vec_id"),
        round(col("mmr_score"), 6).as("mmr_score"), col("mmr_rank"))
      .orderBy(col("query_id"), col("mmr_rank"))
  }

  /** E2: router as data. The reference's LLM verdict is modeled as the
    * deterministic keyword-coverage signal `search_needed = n_matches <
    * n_keywords` (documented divergence, SURVEY §7.4); the four branches
    * (app.py:347-433) become one CASE column + per-route prompt
    * projections over the O14 context. */
  def routerDecision(spark: SparkSession, dir: String): DataFrame = {
    val gate = RagQueries.relevanceGate(spark, dir)
    val ctx = RagQueries.contextAssembly(spark, dir).select(col("query_id"), col("context"))
    val queries = {
      import spark.implicits._
      RagQueries.chatQueries.toDF("query_id", "qtext")
    }
    gate.join(queries, Seq("query_id"))
      .join(ctx, Seq("query_id"), "left")
      .withColumn("context", coalesce(col("context"), lit("")))
      .withColumn("search_needed", col("n_matches") < col("n_keywords"))
      .withColumn("route",
        when(col("search_needed") && col("relevant"), "hybrid")
          .when(col("search_needed") && !col("relevant"), "web_search")
          .when(!col("search_needed") && col("relevant"), "document_rag")
          .otherwise("direct"))
      .withColumn("prompt",
        when(col("route") === "hybrid",
          concat(lit("Based on the document content and web search results, answer: "),
            col("qtext"), lit(" | Context: "), substring(col("context"), 1, 300)))
          .when(col("route") === "web_search",
            concat(lit("Answer using web search: "), col("qtext")))
          .when(col("route") === "document_rag",
            concat(lit("Answer based on the retrieved documents: "),
              col("qtext"), lit(" | Context: "), substring(col("context"), 1, 300)))
          .otherwise(concat(lit("Answer directly: "), col("qtext"))))
      .select(col("query_id"), col("qtext"), col("search_needed"),
        col("relevant"), col("route"), col("prompt"))
      .orderBy(col("query_id"))
  }

  val routerDecisionOracle: String = {
    val values = RagQueries.chatQueriesSqlValues
    s"""WITH q(query_id, qtext) AS (VALUES $values),
       |  retrieved AS (
       |    SELECT q.query_id, d.doc_id, d.text FROM q JOIN documents d
       |    ON d.doc_id >= q.query_id * 5
       |   AND d.doc_id <= q.query_id * 5 + CASE WHEN q.query_id = 2 THEN 1 ELSE 4 END),
       |  kws AS (
       |    SELECT DISTINCT query_id, kw
       |    FROM (SELECT query_id, unnest(string_split(lower(qtext), ' ')) AS kw FROM q)
       |    WHERE length(kw) > 3),
       |  m AS (SELECT r.query_id, count(*) AS n_matches
       |        FROM retrieved r JOIN kws k ON r.query_id = k.query_id
       |        WHERE contains(r.text, k.kw) GROUP BY r.query_id),
       |  nd AS (SELECT query_id, count(*) AS n_docs FROM retrieved GROUP BY query_id),
       |  nk AS (SELECT query_id, count(*) AS n_keywords FROM kws GROUP BY query_id),
       |  gate AS (
       |    SELECT q.query_id, q.qtext,
       |           coalesce(nd.n_docs, 0) AS n_docs,
       |           coalesce(nk.n_keywords, 0) AS n_keywords,
       |           coalesce(m.n_matches, 0) AS n_matches,
       |           (coalesce(nd.n_docs, 0) >= 3
       |            OR coalesce(m.n_matches, 0) >= coalesce(nk.n_keywords, 0) / 2.0) AS relevant
       |    FROM q LEFT JOIN nd USING (query_id) LEFT JOIN nk USING (query_id)
       |           LEFT JOIN m USING (query_id)),
       |  qe AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS v
       |         FROM embeddings WHERE vec_id < 3),
       |  ce AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |  scored AS (
       |    SELECT qe.query_id, ce.vec_id,
       |           row_number() OVER (PARTITION BY qe.query_id
       |                              ORDER BY list_cosine_similarity(qe.v, ce.v) DESC, ce.vec_id) AS rnk
       |    FROM qe CROSS JOIN ce),
       |  ctx AS (
       |    SELECT query_id, string_agg(substring(d.text, 1, 300), ' ' ORDER BY rnk) AS context
       |    FROM scored JOIN documents d ON scored.vec_id = d.doc_id
       |    WHERE rnk <= 3 GROUP BY query_id),
       |  r AS (
       |    SELECT g.query_id, g.qtext,
       |           (g.n_matches < g.n_keywords) AS search_needed,
       |           g.relevant, coalesce(c.context, '') AS context
       |    FROM gate g LEFT JOIN ctx c USING (query_id))
       |SELECT query_id, qtext, search_needed, relevant,
       |  CASE WHEN search_needed AND relevant THEN 'hybrid'
       |       WHEN search_needed AND NOT relevant THEN 'web_search'
       |       WHEN NOT search_needed AND relevant THEN 'document_rag'
       |       ELSE 'direct' END AS route,
       |  CASE WHEN search_needed AND relevant
       |         THEN 'Based on the document content and web search results, answer: ' || qtext || ' | Context: ' || substring(context, 1, 300)
       |       WHEN search_needed AND NOT relevant
       |         THEN 'Answer using web search: ' || qtext
       |       WHEN NOT search_needed AND relevant
       |         THEN 'Answer based on the retrieved documents: ' || qtext || ' | Context: ' || substring(context, 1, 300)
       |       ELSE 'Answer directly: ' || qtext END AS prompt
       |FROM r ORDER BY query_id""".stripMargin
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q18_mmr" -> ((s, d) => mmrRerank(s, d)),
    "q24_router" -> ((s, d) => routerDecision(s, d))
  )

  /** Recursive-CTE greedy MMR (see [[mmrRerank]] Scaladoc). */
  val mmrOracle: String =
    """WITH RECURSIVE
      |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |      FROM embeddings WHERE vec_id < 3),
      |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
      |fetched AS (
      |  SELECT q.query_id, c.vec_id, list_cosine_similarity(qe, ce) AS rel, ce,
      |         row_number() OVER (PARTITION BY q.query_id
      |                            ORDER BY list_cosine_similarity(qe, ce) DESC, c.vec_id) AS rnk
      |  FROM q CROSS JOIN c),
      |cand AS (SELECT query_id, vec_id, rel, ce FROM fetched WHERE rnk <= 20),
      |sel AS (
      |  SELECT query_id, 0 AS it, CAST([] AS BIGINT[]) AS sel_ids,
      |         CAST([] AS DOUBLE[][]) AS sel_vecs,
      |         CAST(NULL AS BIGINT) AS pick, CAST(NULL AS DOUBLE) AS score
      |  FROM q
      |  UNION ALL
      |  SELECT s.query_id, s.it + 1,
      |         list_append(s.sel_ids, p.vec_id), list_append(s.sel_vecs, p.ce),
      |         p.vec_id, p.score
      |  FROM sel s, LATERAL (
      |    SELECT c2.vec_id, c2.ce,
      |           CASE WHEN len(s.sel_ids) = 0 THEN 0.5 * c2.rel
      |                ELSE 0.5 * c2.rel - 0.5 * list_max(
      |                  list_transform(s.sel_vecs, sv -> list_cosine_similarity(c2.ce, sv)))
      |           END AS score
      |    FROM cand c2
      |    WHERE c2.query_id = s.query_id AND NOT list_contains(s.sel_ids, c2.vec_id)
      |    ORDER BY score DESC, c2.vec_id
      |    LIMIT 1) p
      |  WHERE s.it < 5)
      |SELECT query_id, pick AS vec_id, round(score, 6) AS mmr_score,
      |       CAST(it AS INTEGER) AS mmr_rank
      |FROM sel WHERE it >= 1 ORDER BY query_id, mmr_rank""".stripMargin

  def oracles: Map[String, String] = Map(
    "q18_mmr" -> mmrOracle,
    "q24_router" -> routerDecisionOracle
  )
}
