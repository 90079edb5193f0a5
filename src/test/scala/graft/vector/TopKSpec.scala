package graft.vector

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.VectorFns

/** FIXTURES.md §B hand vectors: q=[1,0,0,0]; candidates with known cosines
  * and a duplicate-score pair pinning the id tie-break. */
class TopKSpec extends SparkSuite {

  test("top-k cosine golden values and tie-break by id") {
    import spark.implicits._
    val queries = Seq((0L, Seq(1.0f, 0.0f, 0.0f, 0.0f))).toDF("query_id", "qvec")
    val cands = Seq(
      (10L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),  // cos 1.0
      (11L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),  // cos 0.0
      (12L, Seq(0.6f, 0.8f, 0.0f, 0.0f)),  // cos 0.6
      (13L, Seq(0.6f, -0.8f, 0.0f, 0.0f)), // cos 0.6 — tie with 12, loses on id
      (14L, Seq(2.0f, 0.0f, 0.0f, 0.0f))   // cos 1.0 — scale invariant, ties with 10
    ).toDF("vec_id", "cvec")

    val rows = TopK.topKCosine(queries, cands, k = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), math.rint(r.getDouble(2) * 1e6) / 1e6, r.getInt(3)))

    assert(rows.toSeq === Seq(
      (10L, 1.0, 1), (14L, 1.0, 2), (12L, 0.6, 3), (13L, 0.6, 4)))
  }

  test("k larger than candidate count returns all, still ranked") {
    import spark.implicits._
    val queries = Seq((0L, Seq(1.0f, 0.0f))).toDF("query_id", "qvec")
    val cands = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f))).toDF("vec_id", "cvec")
    val n = TopK.topKCosine(queries, cands, k = 10).count()
    assert(n === 2)
  }

  test("rerank re-scores a shortlist: id tie-break, zero norm, short lists, extras in order") {
    import spark.implicits._
    val vectors = Seq(
      (10L, Seq(1.0, 0.0, 0.0, 0.0)),
      (11L, Seq(0.0, 1.0, 0.0, 0.0)),
      (12L, Seq(0.6, 0.8, 0.0, 0.0)),
      (13L, Seq(0.6, -0.8, 0.0, 0.0)), // ties 12 on question 0
      (14L, Seq(2.0, 0.0, 0.0, 0.0)),  // cos 1.0, but in no shortlist
      (15L, Seq(0.0, 0.0, 0.0, 0.0)),  // zero norm: scores 0.0
      (16L, Seq(0.0, 0.0, 1.0, 0.0))   // cos 0.0, loses the tie to 15
    ).toDF("vec_id", "v").withColumn("n", VectorFns.normL2(col("v")))
    val questions = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (1L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("query_id", "qv").withColumn("qn", VectorFns.normL2(col("qv")))
    // a shortlist over a subset of the vectors, with two extra columns
    val cands = Seq(
      (0L, 16L, "p", 7), (0L, 13L, "q", 2), (0L, 15L, "r", 9), (0L, 10L, "s", 0),
      (0L, 12L, "t", 3),
      (1L, 12L, "u", 4), (1L, 11L, "w", 1) // fewer than k
    ).toDF("query_id", "vec_id", "tag", "hamming")

    val out = TopK.rerank(cands, questions, vectors, k = 4)
    assert(out.columns.toSeq === Seq("query_id", "vec_id", "tag", "hamming", "cosine", "rank"))
    val rows = out.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), r.getString(2), r.getInt(3), r.getDouble(4), r.getInt(5)))
    assert(rows === Seq(
      (0L, 10L, "s", 0, 1.0, 1),
      (0L, 12L, "t", 3, 0.6, 2), (0L, 13L, "q", 2, 0.6, 3),
      (0L, 15L, "r", 9, 0.0, 4),
      (1L, 11L, "w", 1, 1.0, 1), (1L, 12L, "u", 4, 0.8, 2)))
  }
}
