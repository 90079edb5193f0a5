package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.embed.HashEmbedder

/** Output checks. Each returns the problems it found; an op with any
  * problem counts as failed. */
object Check {

  // a compiled UDF: a higher-order `aggregate` is interpreted per element
  private val norm2 = udf((v: scala.collection.Seq[Double]) => v.foldLeft(0.0)((acc, x) => acc + x * x))

  def sha256Hex(text: String): String =
    MessageDigest.getInstance("SHA-256").digest(text.getBytes(StandardCharsets.UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Checks the collection rows of `docs` after an upload:
    *  - every non-empty doc has chunks, and no other doc of the upload does;
    *  - each chunk's doc hash equals the hash of the generator's text, so
    *    decoding was byte-exact;
    *  - chunk ids run 0..n-1, vec ids follow them, chunks hold 1..1000 chars;
    *  - embeddings are 1024-d with unit norm.
    * Returns (problems, ids of docs present with byte-exact content). */
  def collection(spark: SparkSession, path: String, docs: Seq[Doc],
                 mustBePresent: Set[Long]): (Seq[String], Set[Long]) = {
    val ids = docs.map(_.id)
    val rows = spark.read.parquet(path)
      .filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("chunk_id"), col("vec_id"), length(col("text")).as("len"),
        col("content_hash"), size(col("embedding")).as("dim"),
        norm2(col("embedding")).as("norm2"))
      .collect()
    val problems = ArrayBuffer.empty[String]
    val byDoc = rows.groupBy(_.getLong(0))
    val exact = Set.newBuilder[Long]
    for (d <- docs) {
      val rs = byDoc.getOrElse(d.id, Array.empty[Row])
      if (rs.isEmpty) {
        if (mustBePresent(d.id)) problems += s"doc ${d.id} (${d.encoding}) has no chunks"
      } else if (d.text.trim.isEmpty) problems += s"empty doc ${d.id} has chunks"
      else {
        val want = sha256Hex(d.text)
        val hashes = rs.map(_.getString(4)).distinct
        if (hashes.sameElements(Array(want))) exact += d.id
        else problems += s"doc ${d.id} (${d.encoding}) decoded text differs from the upload"
        val chunkIds = rs.map(_.getInt(1)).sorted
        if (!chunkIds.sameElements(chunkIds.indices))
          problems += s"doc ${d.id} chunk ids are not 0..${chunkIds.length - 1}"
        rs.foreach { r =>
          val (chunk, vec, len, dim, norm2) = (r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(5), r.getDouble(6))
          if (vec != Flow.vecId(d.id, chunk)) problems += s"doc ${d.id} chunk $chunk has vec id $vec"
          if (len < 1 || len > Flow.ChunkSize) problems += s"doc ${d.id} chunk $chunk has $len chars"
          if (dim != Flow.Dim) problems += s"doc ${d.id} chunk $chunk embedding has $dim dims"
          if (math.abs(math.sqrt(norm2) - 1.0) > 1e-9)
            problems += s"doc ${d.id} chunk $chunk embedding norm is ${math.sqrt(norm2)}"
        }
      }
    }
    val expected = docs.map(_.id).toSet
    byDoc.keys.filterNot(expected).foreach(id => problems += s"unexpected doc $id")
    (problems.toSeq, exact.result())
  }

  /** The collection on the driver, for brute-force retrieval. */
  final class Index(val ids: Array[Long], val vecs: Array[Array[Double]], val texts: Array[String]) {
    private val norms = vecs.map(norm)
    private val textOf = ids.indices.map(i => ids(i) -> texts(i)).toMap

    /** Top-`fetchK` by cosine (ties to the lower id), then greedy MMR: each
      * step takes the candidate maximizing λ·rel − (1−λ)·max cosine to the
      * picks so far (just λ·rel for the first), ties to the lower id.
      * Written independently of `graft.vector.Mmr`. */
    def mmr(question: String): Seq[(Long, Double)] = {
      val q = HashEmbedder.embed(question, Flow.Dim)
      val qn = norm(q)
      val rel = vecs.indices.map { i =>
        val d = qn * norms(i)
        (i, if (d == 0.0) 0.0 else dot(q, vecs(i)) / d)
      }
      val top = rel.sortWith { case ((i, a), (j, b)) => a > b || (a == b && ids(i) < ids(j)) }
        .take(Flow.FetchK)
      val picked = ArrayBuffer.empty[(Int, Double)]
      val left = ArrayBuffer.from(top)
      while (picked.length < Flow.K && left.nonEmpty) {
        val scored = left.map { case (i, r) =>
          val redundancy = if (picked.isEmpty) 0.0 else picked.map(p => cosine(vecs(i), vecs(p._1))).max
          (i, if (picked.isEmpty) Flow.Lambda * r else Flow.Lambda * r - (1 - Flow.Lambda) * redundancy)
        }
        val best = scored.reduce { (a, b) =>
          if (b._2 > a._2 || (b._2 == a._2 && ids(b._1) < ids(a._1))) b else a
        }
        picked += best
        left.remove(left.indexWhere(_._1 == best._1))
      }
      picked.map { case (i, s) => (ids(i), s) }.toSeq
    }

    def text(vecId: Long): String = textOf(vecId)
  }

  def loadIndex(spark: SparkSession, path: String): Index = {
    val rows = spark.read.parquet(path).select("vec_id", "embedding", "text").collect()
    new Index(rows.map(_.getLong(0)), rows.map(_.getSeq[Double](1).toArray), rows.map(_.getString(2)))
  }

  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }
  private def norm(a: Array[Double]): Double = math.sqrt(dot(a, a))
  private def cosine(a: Array[Double], b: Array[Double]): Double = {
    val d = norm(a) * norm(b)
    if (d == 0.0) 0.0 else dot(a, b) / d
  }

  /** First `n` code points (Spark's `substring` counts code points). */
  private def takeCodePoints(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s else s.substring(0, s.offsetByCodePoints(0, n))

  /** Checks one `Flow.ask` row against brute force: the MMR picks, the gate
    * of app.py:278-295 recomputed here, and a context of at most 3 × 300
    * chars. Returns (problems, picks matching brute force out of k). */
  def answer(ix: Index, question: Question, row: Row): (Seq[String], Int) = {
    val problems = ArrayBuffer.empty[String]
    val got = row.getAs[scala.collection.Seq[Long]]("vec_ids").toSeq
    val want = ix.mmr(question.text).map(_._1)
    if (got != want) problems += s"question ${question.id}: picks $got, brute force $want"
    val texts = got.map(id => ix.text(id).toLowerCase)
    val kws = question.text.toLowerCase.split(" ").distinct.filter(w => w.codePointCount(0, w.length) > 3)
    val matches = texts.map(t => kws.count(t.contains)).sum
    val relevant = got.length >= 3 || matches >= kws.length / 2.0
    if (row.getAs[Int]("n_docs") != got.length || row.getAs[Int]("n_keywords") != kws.length ||
        row.getAs[Int]("n_matches") != matches || row.getAs[Boolean]("relevant") != relevant)
      problems += s"question ${question.id}: gate differs from app.py:278-295"
    val context = row.getAs[scala.collection.Seq[String]]("context").toSeq
    val wantContext = got.take(Flow.ContextDocs).map(id => takeCodePoints(ix.text(id), Flow.ContextChars))
    if (context != wantContext ||
        context.map(c => c.codePointCount(0, c.length)).sum > Flow.ContextDocs * Flow.ContextChars)
      problems += s"question ${question.id}: context is not the first 3 picks cut to 300 chars"
    (problems.toSeq, got.toSet.intersect(want.toSet).size)
  }
}
