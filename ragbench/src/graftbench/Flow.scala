package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analytics.{Blocking, Clusters, Sketches}
import graft.embed.HashEmbedder
import graft.sources.TextExtract
import graft.text.Chunker
import graft.vector.Mmr

/** The reference app's flows, written the way a caller of the library
  * writes them (app.py:160-212 upload, 256-296 and 359 retrieval and
  * context, 455 re-ingest guard). Each layer call goes through `layers`,
  * so the end-to-end and traced runs share this code. */
final class Flow(spark: SparkSession, layers: Layers) {
  import Flow._
  import spark.implicits._

  private val embed = HashEmbedder.embedUdf(Dim)
  private val bands = udf((t: String) => Sketches.minhashBands(t, Bands, RowsPerBand))

  /** Upload directory → (doc_id, text, content_hash). */
  def scanDecode(dir: String): DataFrame = {
    val scanned = layers.stage("sources.scan")(
      spark.read.format("graftblob").load(dir).select("doc_id", "content"))
    layers.stage("sources.decode")(
      scanned.as[(Long, Array[Byte])]
        .map { case (id, bytes) => (id, TextExtract.decodeAuto(bytes)._1) }
        .toDF("doc_id", "text")
        .withColumn("content_hash", sha2(col("text"), 256)))
  }

  /** (doc_id, text, content_hash) → chunks 1000/200 → 1024-d embeddings →
    * appended to the collection. */
  def chunkEmbedUpsert(docs: DataFrame, collection: String): Unit = {
    val chunks = layers.stage("text.chunk")(
      docs.select("doc_id", "text", "content_hash").as[(Long, String, String)]
        .flatMap { case (id, text, hash) =>
          Chunker.chunkWithIds(text, ChunkSize, ChunkOverlap)
            .map(c => (id, c.chunkId, vecId(id, c.chunkId), c.text, hash))
        }
        .toDF("doc_id", "chunk_id", "vec_id", "text", "content_hash"))
    val embedded = layers.stage("embed.hash")(chunks.withColumn("embedding", embed(col("text"))))
    layers.upsert("sources.upsert", embedded, collection)
  }

  /** The upload path: scan, decode, chunk, embed, upsert. */
  def ingest(dir: String, collection: String): Unit =
    chunkEmbedUpsert(scanDecode(dir), collection)

  /** Questions → embedded → MMR (k=5, fetch_k=20, λ=0.5) over the
    * collection → gate and context, collected to the driver. One row per
    * question: (query_id, vec_ids, n_docs, n_keywords, n_matches, relevant,
    * context). */
  def ask(collection: String, questions: Seq[(Long, String)]): Array[Row] = {
    val qs = questions.toDF("query_id", "qtext")
    val qvecs = layers.stage("embed.hash")(qs.select(col("query_id"), embed(col("qtext")).as("qvec")))
    val stored = spark.read.parquet(collection)
    val picks = layers.stage("vector.mmr")(
      Mmr.mmrRerank(qvecs, stored.select(col("vec_id"), col("embedding").as("cvec")),
        k = K, fetchK = FetchK, lambda = Lambda))
    layers.collect("assemble", assemble(picks, stored, qs))
  }

  /** The relevance gate of app.py:278-295 and the 3 × 300-char context of
    * app.py:359/544. Relevant iff at least 3 docs came back, or the
    * (doc, keyword) matches reach half the keywords; keywords are the
    * distinct lower-cased query words longer than 3 chars, matched as
    * substrings of the lower-cased doc text. */
  private def assemble(picks: DataFrame, stored: DataFrame, qs: DataFrame): DataFrame = {
    val hits = picks.join(stored.select("vec_id", "text"), "vec_id")
      .groupBy("query_id")
      .agg(sort_array(collect_list(struct(col("mmr_rank"), col("vec_id"), lower(col("text")).as("ltext"),
        col("text")))).as("picks"))
    qs.join(hits, Seq("query_id"), "left")
      .select(
        col("query_id"),
        coalesce(transform(col("picks"), _("vec_id")), array().cast("array<bigint>")).as("vec_ids"),
        coalesce(size(col("picks")), lit(0)).as("n_docs"),
        filter(array_distinct(split(lower(col("qtext")), " ")), k => length(k) > 3).as("kws"),
        col("picks"))
      .select(
        col("query_id"), col("vec_ids"), col("n_docs"), size(col("kws")).as("n_keywords"),
        aggregate(coalesce(col("picks"), array()), lit(0),
          (acc, p) => acc + size(filter(col("kws"), k => p("ltext").contains(k)))).as("n_matches"),
        coalesce(transform(slice(col("picks"), 1, ContextDocs), p => substring(p("text"), 1, ContextChars)),
          array().cast("array<string>")).as("context"))
      .withColumn("relevant", col("n_docs") >= 3 || col("n_matches") >= col("n_keywords") / 2.0)
  }

  /** A second upload into an existing collection: exact re-uploads are
    * dropped by content hash against the collection, near-duplicates of the
    * stored upload by MinHash bands, within-band pairs and connected
    * components; the survivors are chunked, embedded and upserted. Returns
    * the candidate pairs (id1 < id2). */
  def reupload(dir: String, storedUpload: String, collection: String): DataFrame = {
    val incoming = scanDecode(dir)
    val indexed = spark.read.parquet(collection).select("content_hash")
    val fresh = layers.stage("guard")(incoming.join(indexed, Seq("content_hash"), "left_anti"))
    val known = scanDecode(storedUpload)
    val keys = layers.stage("analytics.minhash")(
      fresh.select("doc_id", "text").unionByName(known.select("doc_id", "text"))
        .select(col("doc_id"), posexplode(bands(col("text"))).as(Seq("band", "key")))
        .select(col("doc_id"), concat_ws(":", col("band"), col("key")).as("bkey")))
    val pairs = layers.stage("analytics.pairs")(
      Blocking.selfPairs(keys, "bkey", "doc_id", MaxBlock)
        .select(col("_1.doc_id").as("id1"), col("_2.doc_id").as("id2"))
        .distinct())
    val labels = layers.stage("analytics.cc")(Clusters.connectedComponents(pairs))
    // stored ids are below every incoming id, so a component holding a
    // stored doc is labelled with it; a new cluster keeps its lowest id
    val survivors = fresh.join(labels, fresh("doc_id") === labels("id"), "left")
      .filter(col("canonical_id").isNull || col("canonical_id") === col("doc_id"))
      .select("doc_id", "text", "content_hash")
    chunkEmbedUpsert(survivors, collection)
    pairs
  }
}

object Flow {
  // the reference configuration (BASELINE.md)
  val ChunkSize = 1000
  val ChunkOverlap = 200
  val Dim = 1024
  val K = 5
  val FetchK = 20
  val Lambda = 0.5
  val ContextDocs = 3
  val ContextChars = 300
  val Bands = 16
  val RowsPerBand = 4
  val MaxBlock = 256

  /** Chunk ids are unique per collection: a doc has far fewer than 100000 chunks. */
  def vecId(docId: Long, chunkId: Int): Long = docId * 100000L + chunkId
}
