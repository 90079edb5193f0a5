package graft.queries

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.sources.{BlobDataSource, Collections, Jpeg, Multimodal, Png}
import scala.jdk.CollectionConverters._

/** Source/sink-shaped operators (SURVEY §2.1): ordered page reassembly
  * (O1/O2 analog), hybrid full-outer combine (O24), and the multimodal
  * binary decode pipeline (D8 + builder mandate).
  */
object SourceQueries {

  // --- q01: paged scan + ordered concat (O1/O2) ----------------------------
  /** The reference reads PDFs page-by-page and concatenates in order
    * (app.py:123-132). Model: split each doc into non-overlapping 200-char
    * pages, then reassemble via ordered group-concat and prove the
    * round-trip is lossless. One scan, two projections (O4): the same
    * scan feeds the page set and the reassembly check. */
  def pagesConcat(spark: SparkSession, dir: String): DataFrame = {
    val pages = Tables.documents(spark, dir)
      // empty docs have no pages (and sequence(0,-1,s) throws under ANSI)
      .filter(length(col("text")) > 0)
      .withColumn("len", length(col("text")))
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(0), col("len") - 1, lit(200))).as(Seq("page_no", "start")))
      .withColumn("page", expr("substring(text, start + 1, 200)"))
    pages.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_pages"),
        array_join(
          transform(array_sort(collect_list(struct(col("page_no"), col("page")))),
            _.getField("page")), "").as("reassembled"),
        first(col("text")).as("orig"))
      .select(col("doc_id"), col("n_pages"),
        (col("reassembled") === col("orig")).as("roundtrip_ok"),
        length(col("reassembled")).cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val pagesConcatOracle: String =
    """WITH pages AS (
      |  SELECT doc_id, text,
      |         unnest(generate_series(0, length(text) - 1, 200)) AS start
      |  FROM documents WHERE length(text) > 0),
      |  re AS (
      |    SELECT doc_id,
      |           count(*) AS n_pages,
      |           string_agg(substring(text, CAST(start AS INTEGER) + 1, 200), '' ORDER BY start) AS reassembled,
      |           any_value(text) AS orig
      |    FROM pages GROUP BY doc_id)
      |SELECT doc_id, n_pages, (reassembled = orig) AS roundtrip_ok,
      |       CAST(length(reassembled) AS BIGINT) AS n_chars
      |FROM re ORDER BY doc_id""".stripMargin

  // --- q02c: DOCX-style paragraph join (O2) ---------------------------------
  /** The reference's DOCX extraction appends every paragraph plus "\n"
    * (`text += para.text + "\n"`, app.py:138-139 — no empty-paragraph
    * filtering at extract time; the preview path filters, see O9).
    * Paragraphs are modeled as 10-token windows of the doc text; the
    * reassembly is the same ordered group-concat shape as q01. */
  def paragraphJoin(spark: SparkSession, dir: String): DataFrame = {
    val paras = Tables.documents(spark, dir)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, (size(toks) - 1) div 10), i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))"))
          .as(Seq("para_no", "para")))
    paras.groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        array_join(
          transform(array_sort(collect_list(struct(col("para_no"), col("para")))),
            x => concat(x.getField("para"), lit("\n"))), "").as("doc_text"))
      .select(col("doc_id"), col("n_paras"),
        length(col("doc_text")).cast("bigint").as("n_chars"), col("doc_text"))
      .orderBy(col("doc_id"))
  }

  val paragraphJoinOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |  FROM documents),
      |  p AS (
      |    SELECT doc_id, i AS para_no,
      |           array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS para
      |    FROM (SELECT doc_id, toks, unnest(generate_series(0, (len(toks)-1)//10)) AS i
      |          FROM t WHERE len(toks) > 0))
      |SELECT doc_id, count(*) AS n_paras,
      |       CAST(length(string_agg(para || chr(10), '' ORDER BY para_no)) AS BIGINT) AS n_chars,
      |       string_agg(para || chr(10), '' ORDER BY para_no) AS doc_text
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- q03: TXT decode with encoding fallback (O3) --------------------------
  /** app.py:145-158: strict UTF-8 read, latin-1 on UnicodeDecodeError.
    * Every third doc's payload gets a dangling 0xC3 lead byte appended —
    * malformed UTF-8, so those rows take the latin-1 path (0xC3 → 'Ã').
    * The decode runs executor-side over a BINARY column (Dataset.map);
    * the oracle replays the byte arithmetic, which is exact because the
    * corpus is pure ASCII (verified at sf0.01/sf0.1). */
  def encodingFallback(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text").cast("binary"), lit(Array[Byte](0xC3.toByte))))
          .otherwise(col("text").cast("binary")).as("content"))
      .as[(Long, Array[Byte])]
    blobs.map { case (id, bytes) =>
      val (decoded, enc) = graft.sources.TextExtract.decodeWithFallback(bytes)
      (id, enc, decoded.length.toLong, decoded)
    }.toDF("doc_id", "encoding", "text_len", "text")
      .orderBy(col("doc_id"))
  }

  val encodingFallbackOracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 3 = 0 THEN 'latin-1' ELSE 'utf-8' END AS encoding,
      |         CASE WHEN doc_id % 3 = 0 THEN text || 'Ã' ELSE text END AS text
      |  FROM documents)
      |SELECT doc_id, encoding, CAST(length(text) AS BIGINT) AS text_len, text
      |FROM d ORDER BY doc_id""".stripMargin

  // --- q03b: BOM-aware decode (UTF-8 BOM, UTF-16 LE/BE) ----------------------
  /** The byte-level ingest gap q03's reference contract leaves open:
    * Windows-written text arrives with BOMs, and UTF-16 both ways. A
    * BOM-blind reader keeps a garbage U+FEFF first char (UTF-8 BOM) or
    * NUL-interleaves the text via the latin-1 fallback (UTF-16/32). Docs
    * cycle six on-disk encodings by doc_id; `TextExtract.decodeAuto`
    * sniffs and decodes executor-side over the BINARY column, and the
    * oracle predicts both the chosen codec label and the decoded text
    * VERBATIM — a sniff-order or offset bug breaks the string gate. */
  def bomDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val utf8 = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val bytes = (id % 6) match {
          case 0 => utf8
          case 1 => Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ utf8
          case 2 => Array[Byte](0xFF.toByte, 0xFE.toByte) ++
            text.getBytes(java.nio.charset.StandardCharsets.UTF_16LE)
          case 3 => Array[Byte](0xFE.toByte, 0xFF.toByte) ++
            text.getBytes(java.nio.charset.StandardCharsets.UTF_16BE)
          case 4 => Array[Byte](0xFF.toByte, 0xFE.toByte, 0, 0) ++
            text.getBytes("UTF-32LE")
          case _ => Array[Byte](0, 0, 0xFE.toByte, 0xFF.toByte) ++
            text.getBytes("UTF-32BE")
        }
        val (decoded, enc) = graft.sources.TextExtract.decodeAuto(bytes)
        (id, enc, decoded.length.toLong, decoded)
      }
      .toDF("doc_id", "encoding", "text_len", "text")
      .orderBy(col("doc_id"))
  }

  val bomDecodeOracle: String =
    """SELECT doc_id,
      |       CASE doc_id % 6 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8-bom'
      |            WHEN 2 THEN 'utf-16le' WHEN 3 THEN 'utf-16be'
      |            WHEN 4 THEN 'utf-32le' ELSE 'utf-32be' END AS encoding,
      |       CAST(length(text) AS BIGINT) AS text_len, text
      |FROM documents ORDER BY doc_id""".stripMargin

  // --- q08: collection lifecycle (O6/O7/O8) ---------------------------------
  /** The Qdrant collection lifecycle (create idempotent, upsert-as-append,
    * drop+recreate — app.py:84-91, 204-212, 493-498) run against a real
    * parquet collection dir, with the observed row count after each step
    * as the query result. The reference's add_documents is insert-only, so
    * a second upsert doubles the rows (dedup is the O25 anti-join
    * upstream). Counts are scalar lifecycle witnesses, not data collects. */
  def collectionLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // run-unique target: two concurrent invocations (bench + oracle runner
    // on the same SF) must not interleave their appends/overwrites
    val coll = new java.io.File(graft.core.Staging.root,
      s"coll_${java.util.UUID.randomUUID()}").getAbsolutePath
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val schema = docs.schema
    def n(): Long = spark.read.parquet(coll).count()
    try {
      Collections.create(spark, coll, schema)
      val afterCreate = n()
      Collections.create(spark, coll, schema) // idempotent — must not throw
      val afterCreate2 = n()
      Collections.upsert(docs, coll)
      val afterUpsert = n()
      Collections.upsert(docs, coll)
      val afterUpsert2 = n()
      Collections.truncate(spark, coll, schema)
      val afterTruncate = n()
      Seq(
        ("a_create", afterCreate), ("b_create_again", afterCreate2),
        ("c_upsert", afterUpsert), ("d_upsert_again", afterUpsert2),
        ("e_truncate", afterTruncate)).toDF("step", "n_rows")
        .orderBy(col("step"))
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(coll))
    }
  }

  val collectionLifecycleOracle: String =
    """WITH n AS (SELECT count(*) AS c FROM documents)
      |SELECT step, CAST(n_rows AS BIGINT) AS n_rows FROM (
      |  SELECT 'a_create' AS step, 0 AS n_rows
      |  UNION ALL SELECT 'b_create_again', 0
      |  UNION ALL SELECT 'c_upsert', (SELECT c FROM n)
      |  UNION ALL SELECT 'd_upsert_again', 2 * (SELECT c FROM n)
      |  UNION ALL SELECT 'e_truncate', 0)
      |ORDER BY step""".stripMargin

  // --- q23: hybrid source combine (O24) -------------------------------------
  /** Full-outer join of document-retrieval results with web-search results
    * keyed by query (app.py:347-374 concatenates both into one prompt).
    * Query 0 has docs only, query 3 web only — both outer sides exercised. */
  def hybridCombine(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docSide = RagQueries.contextAssembly(spark, dir)
      .select(col("query_id"), col("context"))
    val webSide = Seq(
      (1L, "web result alpha"), (2L, "web result beta"), (3L, "web result gamma"))
      .toDF("query_id", "web_answer")
    docSide.join(webSide, Seq("query_id"), "full_outer")
      .select(
        col("query_id"),
        col("context").isNotNull.as("has_doc"),
        col("web_answer").isNotNull.as("has_web"),
        concat_ws(" | ",
          substring(coalesce(col("context"), lit("")), 1, 120),
          coalesce(col("web_answer"), lit(""))).as("combined"))
      .orderBy(col("query_id"))
  }

  val hybridCombineOracle: String =
    """WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qe
      |           FROM embeddings WHERE vec_id < 3),
      |     c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ce FROM embeddings),
      |     scored AS (
      |       SELECT q.query_id, c.vec_id,
      |              row_number() OVER (PARTITION BY q.query_id
      |                                 ORDER BY list_cosine_similarity(qe, ce) DESC, c.vec_id) AS rnk
      |       FROM q CROSS JOIN c),
      |     ctx AS (
      |       SELECT query_id, string_agg(substring(d.text, 1, 300), ' ' ORDER BY rnk) AS context
      |       FROM scored JOIN documents d ON scored.vec_id = d.doc_id
      |       WHERE rnk <= 3 GROUP BY query_id),
      |     web(query_id, web_answer) AS (VALUES
      |       (1, 'web result alpha'), (2, 'web result beta'), (3, 'web result gamma'))
      |SELECT coalesce(ctx.query_id, web.query_id) AS query_id,
      |       (ctx.context IS NOT NULL) AS has_doc,
      |       (web.web_answer IS NOT NULL) AS has_web,
      |       concat_ws(' | ', substring(coalesce(ctx.context, ''), 1, 120),
      |                 coalesce(web.web_answer, '')) AS combined
      |FROM ctx FULL OUTER JOIN web ON ctx.query_id = web.query_id
      |ORDER BY query_id""".stripMargin

  // --- q60: multimodal binary decode ---------------------------------------
  /** Binary-column pipeline: documents.text cast to BINARY stands in for
    * an opaque blob payload (no magic bytes → the codec's bytes-as-samples
    * path); Multimodal.extractFeatures (mapPartitions) pools 8 segment
    * means and samples every-16th "frames". The oracle replays the same
    * arithmetic over ord() codes in DuckDB — the payload is ASCII so
    * bytes ≡ char codes. The REAL-codec path (RIFF/WAVE) is exercised
    * end-to-end by q60b. */
  def multimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    val blobs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("content"))
    val feats = Multimodal.extractFeatures(blobs)
    feats.select(
      col("doc_id"), col("n_samples"),
      round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
      round(col("b2"), 6).as("b2"), round(col("b3"), 6).as("b3"),
      round(col("b4"), 6).as("b4"), round(col("b5"), 6).as("b5"),
      round(col("b6"), 6).as("b6"), round(col("b7"), 6).as("b7"),
      col("frame_checksum"), col("n_frames"))
      .orderBy(col("doc_id"))
  }

  val multimodalDecodeOracle: String = {
    def bucket(k: Int) =
      s"round(list_avg(list_transform(list_filter(generate_series(1, n), i -> (i-1)*8 // n = $k), i -> codes[i])), 6) AS b$k"
    s"""WITH d AS (
       |  SELECT doc_id, length(text) AS n,
       |         list_transform(list_filter(string_split(text, ''), c -> c != ''),
       |                        c -> CAST(ord(c) AS BIGINT)) AS codes
       |  FROM documents)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
       |  ${(0 to 7).map(bucket).mkString(",\n  ")},
       |  list_reduce(
       |    list_prepend(CAST(0 AS BIGINT),
       |      list_transform(list_filter(generate_series(1, n), i -> (i-1) % 16 = 0),
       |                     i -> codes[i])),
       |    (a, b) -> (a * 31 + b) % 2147483647) AS frame_checksum,
       |  CAST(len(list_filter(generate_series(1, n), i -> (i-1) % 16 = 0)) AS BIGINT) AS n_frames
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** Content-addressed blob staging (the q60b pattern, shared by every
    * real-container round trip): the `blobs_<fmt>` family of
    * `Staging.staged`, keyed by the source table's fingerprint — a
    * regenerated source or a changed blob format misses the cache, a
    * re-run hits it. `populate` runs the distributed write (a Spark job)
    * into the temp dir Staging publishes; a `doc_<id>.<ext>` lake goes
    * through [[stagedDocBlobs]]. */
  private[queries] def stagedBlobs(dir: String, fmt: String, srcTable: String = "documents")(
      populate: java.io.File => Unit): java.io.File =
    graft.core.Staging.staged(s"blobs_$fmt", dir, srcTable)(populate)

  /** The published lake root stagedBlobs would return, WITHOUT
    * populating it — what audits and specs resolve artifacts through. */
  private[graft] def stagedBlobRoot(dir: String, fmt: String,
      srcTable: String = "documents"): java.io.File =
    graft.core.Staging.path(s"blobs_$fmt", dir, srcTable)

  /** A staged doc-blob lake: each `(doc_id, bytes)` row of `rows` becomes
    * the file `doc_<id>.<ext>`, written by the `graftblob` sink (one file
    * per row, published by its job commit) and read back with
    * [[BlobDataSource.docBlobs]]. `rows` is built only when the lake is
    * not staged yet. */
  private[queries] def stagedDocBlobs(dir: String, fmt: String, ext: String)(
      rows: => Dataset[(Long, Array[Byte])]): java.io.File =
    stagedBlobs(dir, fmt) { staging =>
      rows.toDF("doc_id", "content")
        .select(col("doc_id"), lit(ext).as("ext"),
          length(col("content")).cast("long").as("length"), col("content"))
        .write.format("graftblob").mode("append").save(staging.getAbsolutePath)
    }

  /** Each doc's text bytes as unsigned samples (a null text has none):
    * the payload of the WAV and PNG lakes. */
  private def textSamples(spark: SparkSession, dir: String): Dataset[(Long, Array[Int])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text").cast("binary").as("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        (id, (if (bytes == null) Array.empty[Byte] else bytes).map(b => b & 0xff))
      }
  }

  /** Each non-empty doc's text cut into `n`-char slices: the pages,
    * frames and cues of the paged lakes. */
  private def textSlices(spark: SparkSession, dir: String, n: Int): Dataset[(Long, Seq[String])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), expr(
        s"transform(sequence(0, length(text) - 1, $n), s -> substring(text, s + 1, $n))"))
      .as[(Long, Seq[String])]
  }

  /** Each doc's q02c paragraphs (10-token windows), over the docs `keep`
    * admits (`toks` is the doc's token array). */
  private def textParas(spark: SparkSession, dir: String, keep: Column): Dataset[(Long, Seq[String])] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
      .filter(keep)
      .select(col("doc_id"), expr(
        "transform(sequence(0, (size(toks) - 1) div 10), i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))"))
      .as[(Long, Seq[String])]
  }

  // --- q60b: real binaryFile ingestion (D8, app.py:162-164) -----------------
  /** The upload path closed for real: each doc is materialized as a
    * genuine WAV file (16-bit PCM mono, samples = the text's byte values;
    * written by the `graftblob` sink — the file-sink side of a blob
    * exchange), read back with the `binaryFile` source, and decoded by
    * the REAL RIFF/WAVE codec in Multimodal.decodeSamples — header walk,
    * fmt validation, int16 frames. Because the decoded samples equal the
    * text bytes, the DuckDB oracle stays the same ord()-code arithmetic:
    * a codec bug (off-by-one in the chunk walk, endianness, padding)
    * breaks the bit-exact match loudly. doc_id rides in the file name.
    * On a cluster the blob dir would be DFS; local-mode it's a shared
    * local dir. */
  /** The PCM16 WAV lake (one file per doc, samples = text bytes) —
    * shared by q60b's ingestion check and q60v's trim stage; staged
    * once per corpus fingerprint. */
  private def wavLake(spark: SparkSession, dir: String): java.io.File = {
    import spark.implicits._
    stagedDocBlobs(dir, "wav", "wav") {
      textSamples(spark, dir).map { case (id, s) => (id, Multimodal.encodeWavPcm16(s)) }
    }
  }

  def multimodalBinaryFiles(spark: SparkSession, dir: String): DataFrame = {
    val blobs = BlobDataSource.docBlobs(spark, wavLake(spark, dir).getAbsolutePath)
    Multimodal.extractFeatures(blobs)
      .select(col("doc_id"), col("n_samples"), col("frame_checksum"), col("n_frames"))
      .orderBy(col("doc_id"))
  }

  // --- q60v: audio silence trim (the VAD stage of audio curation) -----------
  /** The audio feature-extract/trim stage every speech-corpus pipeline
    * runs before training: decode each WAV (the REAL RIFF codec, shared
    * q60b lake), strip leading and trailing SILENCE (samples at the
    * floor value — here the space byte, the corpus' silence analog),
    * and fingerprint the kept middle. Trim-boundary semantics are
    * pinned one-sidedly: an all-silence clip counts entirely as
    * leading. The oracle mirrors the whole stage with ltrim/rtrim +
    * the q43 rolling hash over the kept text, so an off-by-one at
    * either boundary, a mis-decode, or a checksum drift breaks the
    * bit-exact match loudly. Map-only over the blob lake — only the
    * 6-column summary shuffles, never audio samples. */
  def audioSilenceTrim(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BlobDataSource.docBlobs(spark, wavLake(spark, dir).getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val s = Multimodal.decodeSamples(bytes)
        val silence = 32 // the corpus' silence-floor sample (space byte)
        var lo = 0
        while (lo < s.length && s(lo) == silence) lo += 1
        var hi = s.length
        while (hi > lo && s(hi - 1) == silence) hi -= 1
        var checksum = 0L
        var i = lo
        while (i < hi) { checksum = (checksum * 31 + s(i)) % 2147483647L; i += 1 }
        (id, s.length.toLong, lo.toLong, (s.length - hi).toLong,
          (hi - lo).toLong, checksum)
      }
      .toDF("doc_id", "n_samples", "n_leading", "n_trailing", "n_kept", "kept_checksum")
      .orderBy(col("doc_id"))
  }

  val audioSilenceTrimOracle: String =
    """WITH d AS (
      |  SELECT doc_id, length(text) AS n,
      |         length(text) - length(ltrim(text, ' ')) AS lead,
      |         trim(text, ' ') AS kept
      |  FROM documents)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
      |  CAST(lead AS BIGINT) AS n_leading,
      |  CAST(n - lead - length(kept) AS BIGINT) AS n_trailing,
      |  CAST(length(kept) AS BIGINT) AS n_kept,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(string_split(kept, ''), c -> c != ''),
      |                     c -> CAST(ord(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS kept_checksum
      |FROM d ORDER BY doc_id""".stripMargin

  /** Same byte arithmetic as q60's oracle, minus the pooled buckets (the
    * ingestion check is about the source path, not the pooling). */
  val multimodalBinaryFilesOracle: String =
    """WITH d AS (
      |  SELECT doc_id, length(text) AS n,
      |         list_transform(list_filter(string_split(text, ''), c -> c != ''),
      |                        c -> CAST(ord(c) AS BIGINT)) AS codes
      |  FROM documents)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_samples,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(generate_series(1, n), i -> (i-1) % 16 = 0),
      |                     i -> codes[i])),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS frame_checksum,
      |  CAST(len(list_filter(generate_series(1, n), i -> (i-1) % 16 = 0)) AS BIGINT) AS n_frames
      |FROM d ORDER BY doc_id""".stripMargin

  // --- q60g: WAV subformat coverage (PCM16 / PCM8 / IEEE float32) -----------
  /** q60b's ingestion contract across the three wild-common WAV mono
    * subformats: each doc is staged in the format `doc_id % 3` selects —
    * PCM16, PCM8 (unsigned bytes), or IEEE float32 (normalized to the
    * int16 grid) — and every one must decode back to the text's byte
    * values EXACTLY (PCM8 stores them raw; float32 stores n/32768, exact
    * in float). The oracle recomputes the same ord()-code arithmetic per
    * doc plus the `encoding` label from doc_id % 3, so a subformat
    * mis-decode (recentered PCM8, truncated float scale, chunk-walk pad
    * bug) breaks the bit-exact match loudly. */
  def wavSubformats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobRoot = stagedDocBlobs(dir, "wav3", "wav") {
      textSamples(spark, dir).map { case (id, s) =>
        (id, (id % 3) match {
          case 0 => Multimodal.encodeWavPcm16(s)
          case 1 => Multimodal.encodeWavPcm8(s)
          case _ => Multimodal.encodeWavFloat32(s)
        })
      }
    }
    val blobs = BlobDataSource.docBlobs(spark, blobRoot.getAbsolutePath)
    Multimodal.extractFeatures(blobs)
      .select(col("doc_id"),
        expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'pcm16' WHEN 1 THEN 'pcm8' " +
          "ELSE 'float32' END").as("encoding"),
        col("n_samples"), col("frame_checksum"), col("n_frames"))
      .orderBy(col("doc_id"))
  }

  /** q60b's oracle arithmetic plus the doc_id-derived encoding label. */
  val wavSubformatsOracle: String =
    """WITH d AS (
      |  SELECT doc_id, length(text) AS n,
      |         list_transform(list_filter(string_split(text, ''), c -> c != ''),
      |                        c -> CAST(ord(c) AS BIGINT)) AS codes
      |  FROM documents)
      |SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'pcm16' WHEN 1 THEN 'pcm8'
      |       ELSE 'float32' END AS encoding,
      |  CAST(n AS BIGINT) AS n_samples,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(generate_series(1, n), i -> (i-1) % 16 = 0),
      |                     i -> codes[i])),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS frame_checksum,
      |  CAST(len(list_filter(generate_series(1, n), i -> (i-1) % 16 = 0)) AS BIGINT) AS n_frames
      |FROM d ORDER BY doc_id""".stripMargin

  // --- q60c: real DOCX ingestion (O2 from genuine bytes, app.py:134-143) ----
  /** O2 closed from REAL bytes: each doc is materialized as a genuine
    * .docx (ZIP package + WordprocessingML, Docx.encode) whose paragraphs
    * are the same 10-token windows q02c models, read back with the
    * `binaryFile` source, and extracted by the real unzip + StAX XML walk
    * in Docx.decodeParagraphs. The reassembly (`text += para + "\n"`,
    * app.py:138-139) reproduces q02c's output exactly, so q02c's oracle
    * applies VERBATIM — any container bug (zip framing, XML escaping,
    * namespace handling, paragraph order) breaks the bit-exact match
    * loudly. Staging follows q60b's content-addressed blob-dir pattern. */
  /** Stage (and cache) the genuine .docx blob dir shared by q60c/q79. */
  private def docxBlobRoot(spark: SparkSession, dir: String): java.io.File = {
    import spark.implicits._
    stagedDocBlobs(dir, "docx", "docx") {
      textParas(spark, dir, size(col("toks")) > 0)
        .map { case (id, paras) => (id, graft.sources.Docx.encode(paras)) }
    }
  }

  def docxRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BlobDataSource.docBlobs(spark, docxBlobRoot(spark, dir).getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val paras = graft.sources.Docx.decodeParagraphs(bytes)
        val text = paras.map(_ + "\n").mkString
        (id, paras.length.toLong, text.length.toLong, text)
      }
      .toDF("doc_id", "n_paras", "n_chars", "doc_text")
      .orderBy(col("doc_id"))
  }

  // --- q60d: real PDF ingestion (O1 from genuine bytes, app.py:123-132) ----
  /** O1 closed from REAL bytes: each doc becomes a genuine multi-page PDF
    * (catalog → page tree → per-page uncompressed BT/Tj/ET content
    * streams, byte-exact xref — Pdf.encode) with q01's 200-char pages,
    * read back via `binaryFile`, and extracted by the real object-graph
    * walk in Pdf.decodePages (trailer /Root → /Pages → /Kids order →
    * /Contents → text-operator tokenizer). Ordered page concat then
    * reproduces q01's output exactly, so q01's oracle applies VERBATIM —
    * any codec bug (xref, string escapes, page order, operator
    * tokenizing) breaks the bit-exact match loudly. */
  def pdfRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdf") { (_, pages) =>
      graft.sources.Pdf.encode(pages)
    }

  // --- q60f: compressed (FlateDecode) PDF ingestion -------------------------
  /** q60d's contract against the shape virtually every REAL-WORLD PDF
    * has: content streams written `/Filter /FlateDecode` (zlib), /Length
    * carrying the compressed byte count (app.py:123-132 handles these via
    * PyMuPDF; until round 9 this codec rejected them all). The reader's
    * object-graph walk is unchanged — only the stream decode inflates —
    * so q01's oracle applies VERBATIM, and any inflate/length/framing bug
    * breaks the bit-exact match loudly. Unsupported filters still throw
    * (PdfCodecSpec pins that contract). */
  def pdfFlateRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdfz") { (_, pages) =>
      graft.sources.Pdf.encode(pages, compress = true)
    }

  // --- q60h: predictor-wrapped FlateDecode PDF ingestion --------------------
  /** q60f's contract against the NEXT-most-common real-world stream
    * shape: FlateDecode with `/DecodeParms << /Predictor 12 /Columns 24
    * >>` — PNG row filters applied before deflate (ISO 32000 §7.4.4.4;
    * app.py:123-132 handles these via PyMuPDF). The decode path reuses
    * the PNG codec's per-row unfilter — the PDF spec defines predictors
    * 10-15 as exactly PNG's filters — and the staged rows cycle all five
    * filter types, so every unfilter branch runs under the oracle.
    * Object-graph walk and text extraction are unchanged → q01's oracle
    * applies VERBATIM; a predictor/geometry/short-row bug breaks the
    * bit-exact match loudly. Unsupported predictor values and non-8-bit
    * components still throw (PdfCodecSpec pins that contract). */
  def pdfPredictorRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdfpred") { (_, pages) =>
      graft.sources.Pdf.encode(pages, compress = true, predictor = 12, columns = 24)
    }

  // --- q60i: filter-chain / LZWDecode PDF ingestion -------------------------
  /** q60f's contract against the remaining real-world lossless stream
    * shapes (ISO 32000 §7.4; app.py:123-132 handles all of them via
    * PyMuPDF): docs cycle four encodings by doc_id — `/LZWDecode`
    * (TIFF-convention LZW, pre-2000 PDFs), `[/ASCIIHexDecode
    * /FlateDecode]` and `[/ASCII85Decode /FlateDecode]` (the 7-bit-safe
    * transport chains), and LZW wrapped in a TIFF predictor — so every
    * new decode path (LZW code widths/EarlyChange, hex/85 transport
    * stripping, chain ordering, predictor-over-LZW) runs under the same
    * bit-exact oracle as q60d/q60f/q60h. Object-graph walk and text
    * extraction are unchanged → q01's oracle applies VERBATIM; a bit-
    * packing, table-reset, or chain-order bug breaks the match loudly.
    * Unsupported filters and chain shapes still throw (PdfCodecSpec). */
  def pdfFilterChainRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdfchain") { (id, pages) =>
      (id % 4) match {
        case 0 => graft.sources.Pdf.encode(pages, compress = true,
          filterChain = Seq("LZWDecode"))
        case 1 => graft.sources.Pdf.encode(pages, compress = true,
          filterChain = Seq("ASCIIHexDecode", "FlateDecode"))
        case 2 => graft.sources.Pdf.encode(pages, compress = true,
          filterChain = Seq("ASCII85Decode", "FlateDecode"))
        case _ => graft.sources.Pdf.encode(pages, compress = true,
          predictor = 2, columns = 24, filterChain = Seq("LZWDecode"))
      }
    }

  // --- q60j: PDF 1.5 object-stream / xref-stream ingestion ------------------
  /** The PDF 1.5+ packing every modern generator writes (ISO 32000
    * §7.5.7-§7.5.8; app.py:123-132 reads it via PyMuPDF): catalog, page
    * tree, and page dicts live INSIDE a compressed `/Type /ObjStm`
    * object stream — invisible to a reader that only walks top-level
    * objects — and the classic xref table is replaced by a binary
    * `/Type /XRef` cross-reference stream (PNG-Up predictor rows). Docs
    * alternate predictor-wrapped and plain xref streams by id. The
    * object-graph walk resumes once ObjStm members are expanded, so
    * q01's oracle applies VERBATIM; a header/offset/expansion bug loses
    * pages and breaks the bit-exact match loudly (PdfCodecSpec
    * additionally validates the emitted xref stream entry-by-entry). */
  def pdfObjStmRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdfobjstm") { (id, pages) =>
      graft.sources.Pdf.encodeObjStm(pages, xrefPredictor = id % 2 == 0)
    }

  // --- q60k: tar / tar.gz bundle ingestion ----------------------------------
  /** The container shape corpora ship in at scale: docs are bundled into
    * 16 multi-file `.tar` archives (odd bundles gzip'd to `.tar.gz`),
    * one blob per bundle — so the lake holds thousands of multi-MB blobs
    * instead of billions of small files, and one task decodes one bundle
    * (the file-per-task discipline of the rest of the codec family;
    * replaces the reference's per-file loop at `app.py:160-202`). The
    * decode path exercises the REAL ustar grammar (checksums, block
    * padding, end-of-archive marker, gzip transport detection): bundle
    * membership comes from the CONTAINER path and entry ids from entry
    * NAMES, so a mis-bundled, mis-named, dropped, or duplicated entry
    * breaks the bit-exact oracle loudly. */
  def tarBundleRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nBundles = 16
    val blobRoot = stagedBlobs(dir, "tar") { staging =>
      Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"), (col("doc_id") % nBundles).as("bundle"))
        // one shuffle co-locates each bundle's members in one task —
        // exactly how a 1000-executor run would write 100k bundles
        .repartition(nBundles, col("bundle"))
        .as[(Long, String, Long)]
        .foreachPartition { it: Iterator[(Long, String, Long)] =>
          it.toSeq.groupBy(_._3).foreach { case (b, rows) =>
            val entries = rows.sortBy(_._1).map { case (id, text, _) =>
              (f"docs/doc_$id%06d.txt",
                text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            val tar = graft.sources.Tar.encode(entries)
            val (bytes, ext) =
              if (b % 2 == 1) (graft.sources.Tar.gzip(tar), "tar.gz") else (tar, "tar")
            java.nio.file.Files.write(
              new java.io.File(staging, f"bundle_$b%02d.$ext").toPath, bytes)
          }
        }
    }
    val decoded = spark.read.format("binaryFile").load(blobRoot.getAbsolutePath)
      .select(
        regexp_extract(col("path"), "bundle_(\\d+)\\.tar", 1).cast("long").as("bundle_id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .flatMap { case (bundleId, raw) =>
        val tar = if (graft.sources.Tar.isGzip(raw)) graft.sources.Tar.gunzip(raw) else raw
        graft.sources.Tar.decode(tar).map { case (name, data) =>
          require(name.startsWith("docs/doc_") && name.endsWith(".txt"),
            s"tar bundle: unexpected entry '$name'")
          (name.stripPrefix("docs/doc_").stripSuffix(".txt").toLong, bundleId,
            new String(data, java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      .toDF("doc_id", "bundle_id", "doc_text")
    val perBundle = org.apache.spark.sql.expressions.Window.partitionBy(col("bundle_id"))
    decoded
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("bundle_id"),
        count(lit(1)).over(perBundle).as("n_entries"),
        (col("doc_text") === col("text")).as("roundtrip_ok"),
        length(col("doc_text")).cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val tarBundleOracle: String =
    """WITH d AS (
      |  SELECT doc_id, doc_id % 16 AS bundle_id, text
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id, bundle_id,
      |       count(*) OVER (PARTITION BY bundle_id) AS n_entries,
      |       true AS roundtrip_ok,
      |       CAST(length(text) AS BIGINT) AS n_chars
      |FROM d ORDER BY doc_id""".stripMargin

  /** Shared harness for the staged paged-container round-trip family
    * (the PDF shapes q60m/n/p/q/r and the TIFF q60t): page every doc's
    * text into 200-char pages, stage ONE container file per doc via
    * `encodeDoc`, decode with the format's full page-decoding ladder,
    * and compare VERBATIM against the source text — q01's oracle
    * contract, so `pagesConcatOracle` applies to every member unchanged. */
  private def pagedBlobRoundtrip(spark: SparkSession, dir: String, fmt: String,
      ext: String)(encodeDoc: (Long, Seq[String]) => Array[Byte])(
      decodePages: Array[Byte] => Seq[String]): DataFrame = {
    import spark.implicits._
    val blobRoot = stagedDocBlobs(dir, fmt, ext) {
      textSlices(spark, dir, 200).map { case (id, pages) => (id, encodeDoc(id, pages)) }
    }
    BlobDataSource.docBlobs(spark, blobRoot.getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val pages = decodePages(bytes)
        (id, pages.length.toLong, pages.mkString)
      }
      .toDF("doc_id", "n_pages", "reassembled")
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("n_pages"),
        (col("reassembled") === col("text")).as("roundtrip_ok"),
        length(col("reassembled")).cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  private def pagedPdfRoundtrip(spark: SparkSession, dir: String, fmt: String)(
      encodeDoc: (Long, Seq[String]) => Array[Byte]): DataFrame =
    pagedBlobRoundtrip(spark, dir, fmt, "pdf")(encodeDoc)(
      bytes => graft.sources.Pdf.decodePages(bytes))

  // --- q60t: multi-page TIFF ingestion ---------------------------------------
  /** The scanned-document container (fax/scanner/archival corpora ship
    * multi-page .tif): each doc staged as one multi-page TIFF
    * (sources/Tiff.scala — chained per-page IFDs, strip layout with a
    * short final strip, inline + offset value placements), cycling all
    * FOUR baseline shapes by id: II and MM byte orders × uncompressed
    * and PackBits (§9 RLE). The page reassembly reproduces q01's
    * contract exactly, so its oracle applies VERBATIM — an IFD-walk,
    * strip-geometry, endianness, or RLE bug breaks the bit-exact match
    * loudly. LZW/JPEG-in-TIFF and non-8-bit layouts throw
    * (TiffCodecSpec pins those). */
  def tiffRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedBlobRoundtrip(spark, dir, "tif", "tif") { (id, pages) =>
      graft.sources.Tiff.encode(
        pages.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
        bigEndian = id % 2 == 1, packbits = (id / 2) % 2 == 1)
    }(bytes => graft.sources.Tiff.decodePages(bytes)
        .map(new String(_, java.nio.charset.StandardCharsets.UTF_8)))

  // --- q60m: RC4-encrypted PDF ingestion ------------------------------------
  /** The "encrypted but openable" PDFs every large corpus contains:
    * standard security handler with an EMPTY user password (the shape
    * rights-management tooling emits; PyMuPDF opens them transparently,
    * `app.py:123-132`). Docs cycle all FOUR handler generations by id:
    * revision 2 (RC4-40, /V 1), revision 3 (RC4-128, /V 2), AESV2
    * (AES-128-CBC crypt filter, /V 4 /R 4 — Acrobat 7) and AES-256
    * (/V 5 /R 6 with the Algorithm 2.B hash — the modern default),
    * all FlateDecode-compressed, so every key-derivation path (single
    * MD5 vs the 50-iteration loop, 19-round RC4 for /O and /U, the
    * sAlT-extended AES object key, SHA-256/384/512+AES hashing and the
    * /UE file-key unwrap), the IV+CBC+padding layer, and the
    * decrypt-then-inflate order run under the bit-exact gate. The /U
    * authentication check runs per file — a real password or a
    * tampered /U or ciphertext throws loudly (PdfCodecSpec pins
    * those). Round 14 widened the cycle to SIX shapes: the last two
    * are encrypted OBJECT-STREAM documents (PDF 1.5 xref streams,
    * objects packed in an ObjStm whose payload is encrypted once with
    * the ObjStm's key, members not re-encrypted, /Encrypt + /ID in the
    * XRef dict — the modern encrypted default, ISO 32000 §7.5.7/§7.6.2)
    * under RC4-128 and AESV2. q01's oracle applies VERBATIM. */
  def pdfEncryptedRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdfenc6") { (id, pages) =>
      (id % 6) match {
        case 0 => graft.sources.Pdf.encode(pages, compress = true, encryptRev = 2)
        case 1 => graft.sources.Pdf.encode(pages, compress = true, encryptRev = 3)
        case 2 => graft.sources.Pdf.encode(pages, compress = true, encryptRev = 4)
        case 3 => graft.sources.Pdf.encode(pages, compress = true, encryptRev = 6)
        case 4 => graft.sources.Pdf.encodeObjStm(pages, encryptRev = 3)
        case _ => graft.sources.Pdf.encodeObjStm(pages, encryptRev = 4)
      }
    }

  // --- q60n: composite-font (Type0 + /ToUnicode) PDF ingestion --------------
  /** The single largest real-input gap closed: PDFs produced by a
    * browser, LaTeX, or Word with SUBSET FONTS show text as hex-string
    * operands of 2-byte glyph indices, readable only through the
    * font's embedded /ToUnicode CMap (ISO 32000 §9.7 + §9.10.3 — the
    * PyMuPDF capability at app.py:123-132). Docs cycle six staged
    * shapes by id: Type0/Identity-H with a FlateDecode-compressed CMap,
    * the same with a raw CMap, simple-font hex-string operands
    * (uncompressed), hex strings under a FlateDecode content stream,
    * and Identity-H / Identity-V WITHOUT any /ToUnicode (the predefined-
    * CMap fallback, §9.7.5.2: CID = code = UTF-16 unit) — so CID
    * assignment, bfchar + both bfrange clause forms, hex-element TJ
    * arrays, the Tf font tracker, the CMap-stream filter path, and the
    * no-CMap identity ladder all run under q01's VERBATIM bit-exact
    * oracle. A malformed CMap, an unmapped code, or a non-Identity
    * predefined CMap throws loudly (PdfCodecSpec). */
  def pdfCompositeFontRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdftype0b") { (id, pages) =>
      (id % 6) match {
        case 0 => graft.sources.Pdf.encodeType0(pages)
        case 1 => graft.sources.Pdf.encodeType0(pages, compressCMap = false)
        case 2 => graft.sources.Pdf.encode(pages, hexStrings = true)
        case 3 => graft.sources.Pdf.encode(pages, compress = true, hexStrings = true)
        // predefined Identity CMap, NO /ToUnicode (ISO 32000 §9.7.5.2):
        // codes decode as CIDs = UTF-16 units
        case 4 => graft.sources.Pdf.encodeType0(pages, toUnicode = false)
        case _ => graft.sources.Pdf.encodeType0(pages, toUnicode = false,
          vertical = true)
      }
    }

  // --- q60p: simple-font /Encoding /Differences PDF ingestion ---------------
  /** The single most common LEGACY-PDF text shape (round-12/13's #1
    * conformance gap vs app.py:123-132, app.py:169): pre-Type0 simple
    * fonts whose byte codes decode through a named base encoding —
    * WinAnsi, MacRoman, Standard (ISO 32000 Appendix D) — with an
    * optional /Differences override array (§9.6.6.3). Docs cycle five
    * staged shapes by id: bare /WinAnsiEncoding name, bare
    * /MacRomanEncoding name, a /Differences remap of every text char to
    * codes ≥ 128 over the implicit StandardEncoding (literal strings
    * with OCTAL escapes), the same remap over /BaseEncoding /WinAnsi
    * shown as hex strings, and an INDIRECT /Encoding object with a
    * MacRoman base under a FlateDecode content stream — so the three
    * Appendix D tables, the glyph-name → Unicode AGL walk, multi-run
    * Differences parsing, octal-escape literals, and both dict forms
    * all run under q01's VERBATIM bit-exact oracle. Unknown encodings
    * and unmapped codes throw loudly (PdfCodecSpec). */
  def pdfSimpleEncodingRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Pdf.SimpleEncoding
    pagedPdfRoundtrip(spark, dir, "pdfsimpleenc") { (id, pages) =>
      (id % 5) match {
        case 0 => graft.sources.Pdf.encode(pages,
          encoding = Some(SimpleEncoding(base = Some("WinAnsiEncoding"))))
        case 1 => graft.sources.Pdf.encode(pages,
          encoding = Some(SimpleEncoding(base = Some("MacRomanEncoding"))))
        case 2 => graft.sources.Pdf.encode(pages,
          encoding = Some(SimpleEncoding(remapFrom = 128)))
        case 3 => graft.sources.Pdf.encode(pages, hexStrings = true,
          encoding = Some(SimpleEncoding(base = Some("WinAnsiEncoding"),
            remapFrom = 160)))
        case _ => graft.sources.Pdf.encode(pages, compress = true,
          encoding = Some(SimpleEncoding(base = Some("MacRomanEncoding"),
            remapFrom = 140, indirect = true)))
      }
    }
  }

  // --- q60q: Form XObject (Do) PDF ingestion ---------------------------------
  /** Text split between page content streams and FORM XOBJECTS invoked
    * via `Do` (ISO 32000 §8.10) — the letterhead/stamp/template shape;
    * an extractor that ignores `Do` silently LOSES that text (PyMuPDF
    * walks forms, app.py:123-132). Docs cycle five staged variants by
    * id: self-resourced form, NESTED forms (form invoking form),
    * resource-INHERITING form (the PDF 1.1 shape), a Flate-compressed
    * form stream alongside an Image XObject `Do` (which must contribute
    * nothing), and an INLINE IMAGE whose binary payload reads as
    * `(BT x Tj` (the tokenizer must skip BI..ID..EI wholesale) — all
    * under q01's VERBATIM oracle. Cycles, unknown XObject names, and
    * non-Form/Image subtypes throw loudly (PdfCodecSpec). */
  def pdfFormXObjectRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdfforms3") { (id, pages) =>
      graft.sources.Pdf.encodeForms(pages, (id % 5).toInt)
    }

  // --- q60r: structured page trees + split /Contents PDF ingestion ----------
  /** Two page-level structures virtually every real generator emits and
    * a naive reader breaks on (ISO 32000 §7.7.3): NESTED page trees
    * (balanced /Pages interiors — a flat-root walk crashes on the
    * interior node), /Resources INHERITANCE down the tree (§7.7.3.4 —
    * leaves without their own dict), and /Contents ARRAYS whose split
    * streams concatenate into the page content (§7.7.3.3 — reading only
    * the first element silently LOSES text). Docs cycle four staged
    * variants by id (self-resourced depth-2 tree, root-inherited
    * resources, flat + split contents, nested + inherited + split +
    * Flate) — all under q01's VERBATIM oracle; cyclic trees and
    * non-Page leaves throw loudly (PdfCodecSpec). */
  def pdfPageTreeRoundtrip(spark: SparkSession, dir: String): DataFrame =
    pagedPdfRoundtrip(spark, dir, "pdftree") { (id, pages) =>
      graft.sources.Pdf.encodePageTree(pages, (id % 4).toInt)
    }

  // --- q60o: docx2txt loader-path parity (tables, headers, footers) ---------
  /** The reference's SPLITTER path reads .docx through `Docx2txtLoader`
    * (app.py:172), whose engine — docx2txt — extracts table cell text
    * and header/footer parts that the `doc.paragraphs` walk
    * (app.py:137-139, our q60c) never sees. Each doc is staged as a
    * FULL package: a header part, a tab/br-structured first paragraph,
    * q02c's 10-token body windows, a one-row table whose cells repeat
    * the first two windows, and a footer part. Decoded with
    * [[graft.sources.Docx.decodeText]] (docx2txt's pre-order "\n\n"
    * per `w:p`, tab for `w:tab`, newline for `w:br`, headers →
    * document → footers, final strip), while the oracle reconstructs
    * the exact expected string in SQL — header, rich paragraph,
    * windows, repeated cells, footer joined by blank lines — so the
    * whole loader-path contract sits under the bit-exact gate. */
  def docxFullTextRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobRoot = stagedDocBlobs(dir, "docxfull", "docx") {
      textParas(spark, dir, size(col("toks")) > 0).map { case (id, paras) =>
        (id, graft.sources.Docx.encodeFull(
          header = Some(s"Header $id"),
          richPara = Some(graft.sources.Docx.RichPara(
            Seq("col1", "col2", "line2"), Seq("\t", "\n"))),
          paragraphs = paras,
          tableCells = paras.take(2),
          footer = Some(s"Footer $id")))
      }
    }
    BlobDataSource.docBlobs(spark, blobRoot.getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val text = graft.sources.Docx.decodeText(bytes)
        (id, text.length.toLong, text)
      }
      .toDF("doc_id", "n_chars", "doc_text")
      .orderBy(col("doc_id"))
  }

  val docxFullTextOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |  FROM documents),
      |  p AS (
      |    SELECT doc_id, i AS para_no,
      |           array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS para
      |    FROM (SELECT doc_id, toks, unnest(generate_series(0, (len(toks)-1)//10)) AS i
      |          FROM t WHERE len(toks) > 0)),
      |  pieces AS (
      |    SELECT doc_id, 0 AS ord, 'Header ' || CAST(doc_id AS VARCHAR) AS piece
      |    FROM p GROUP BY doc_id
      |    UNION ALL
      |    SELECT doc_id, 1, 'col1' || chr(9) || 'col2' || chr(10) || 'line2'
      |    FROM p GROUP BY doc_id
      |    UNION ALL
      |    SELECT doc_id, 2 + para_no, para FROM p
      |    UNION ALL
      |    SELECT doc_id, 1000000 + para_no, para FROM p WHERE para_no < 2
      |    UNION ALL
      |    SELECT doc_id, 2000000, 'Footer ' || CAST(doc_id AS VARCHAR)
      |    FROM p GROUP BY doc_id)
      |SELECT doc_id,
      |       CAST(length(string_agg(piece, chr(10) || chr(10) ORDER BY ord)) AS BIGINT) AS n_chars,
      |       string_agg(piece, chr(10) || chr(10) ORDER BY ord) AS doc_text
      |FROM pieces GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // --- q60l: HTML text extraction (the WET-conversion step) -----------------
  /** The dominant real-world ingestion shape the reference never
    * handles: web pages. Each doc is staged as a genuine HTML file
    * (head with title/style/script to be DROPPED, an h1, a
    * special-chars paragraph exercising entity decode, one `<p>` per
    * 10-token window — `Html.encodePage`), read back via `binaryFile`,
    * and extracted with the deterministic-lenience contract of
    * [[graft.sources.Html]] (the Common Crawl WET step). The oracle
    * reconstructs the expected text VERBATIM from `documents` — heading
    * line + constant entity-bearing line + q02c's paragraph windows —
    * so tag skipping, subtree dropping, entity decoding and the
    * whitespace discipline are all under the string-level bit-exact
    * gate. File-per-task like the rest of the codec family. */
  def htmlExtractRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val constPara = "R&D <ok> \"q\" 10<20 done"
    val blobRoot = stagedDocBlobs(dir, "html", "html") {
      textParas(spark, dir, length(col("text")) > 0).map { case (id, paras) =>
        (id, graft.sources.Html.encodePage(s"Title $id", s"Doc $id", constPara +: paras)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      }
    }
    BlobDataSource.docBlobs(spark, blobRoot.getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val extracted = graft.sources.Html.extractText(
          new String(bytes, java.nio.charset.StandardCharsets.UTF_8))
        (id, extracted)
      }
      .toDF("doc_id", "extracted")
      .select(col("doc_id"),
        size(split(col("extracted"), "\n")).cast("bigint").as("n_lines"),
        length(col("extracted")).cast("bigint").as("n_chars"),
        col("extracted"))
      .orderBy(col("doc_id"))
  }

  val htmlExtractOracle: String =
    """WITH t AS (
      |  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS toks
      |  FROM documents WHERE length(text) > 0),
      |  p AS (
      |    SELECT doc_id, i AS para_no,
      |           array_to_string(toks[(i*10+1):(i*10+10)], ' ') AS para
      |    FROM (SELECT doc_id, toks, unnest(generate_series(0, (len(toks)-1)//10)) AS i
      |          FROM t)),
      |  agg AS (
      |    SELECT doc_id, string_agg(para, chr(10) ORDER BY para_no) AS body
      |    FROM p GROUP BY doc_id),
      |  ex AS (
      |    SELECT doc_id,
      |      'Doc ' || doc_id || chr(10) ||
      |      'R&D <ok> "q" 10<20 done' || chr(10) || body AS extracted
      |    FROM agg)
      |SELECT doc_id,
      |       CAST(len(string_split(extracted, chr(10))) AS BIGINT) AS n_lines,
      |       CAST(length(extracted) AS BIGINT) AS n_chars, extracted
      |FROM ex ORDER BY doc_id""".stripMargin

  // --- q60e: real PNG ingestion (the image leg of the multimodal mandate) --
  /** The image path closed from REAL bytes: each doc is materialized as a
    * genuine PNG (8-bit grayscale, pixels = the text's byte values, rows
    * cycling all five scanline filters — Png.encode), read back with the
    * `binaryFile` source, and decoded by the REAL PNG codec in
    * Multimodal.decodeSamples' dispatch: chunk walk with CRC-32 verified,
    * multi-IDAT zlib inflate, per-row unfilter (incl. the Paeth
    * predictor), tEXt padding trim. Because the decoded pixels equal the
    * text bytes, q60's full ord()-code oracle (8 pooled buckets + frame
    * checksum) applies VERBATIM — any codec bug (CRC, inflate, filter
    * reconstruction, padding) breaks the bit-exact match loudly. */
  def pngRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobRoot = stagedDocBlobs(dir, "png", "png") {
      textSamples(spark, dir).map { case (id, s) => (id, Png.encode(s)) }
    }
    val blobs = BlobDataSource.docBlobs(spark, blobRoot.getAbsolutePath)
    val feats = Multimodal.extractFeatures(blobs)
    feats.select(
      col("doc_id"), col("n_samples"),
      round(col("b0"), 6).as("b0"), round(col("b1"), 6).as("b1"),
      round(col("b2"), 6).as("b2"), round(col("b3"), 6).as("b3"),
      round(col("b4"), 6).as("b4"), round(col("b5"), 6).as("b5"),
      round(col("b6"), 6).as("b6"), round(col("b7"), 6).as("b7"),
      col("frame_checksum"), col("n_frames"))
      .orderBy(col("doc_id"))
  }

  // --- q60s: real JPEG ingestion (metadata scan + entropy round trip) -------
  /** The OTHER image leg: JPEG is the format crawled corpora actually
    * contain (PNG is the minority), and an image-curation pipeline's
    * first pass is exactly this scan — dimensions, progressive vs
    * baseline, component count, Exif orientation — run over billions of
    * blobs WITHOUT entropy-decoding any of them. Each doc stages as a
    * structurally genuine JPEG (sources/Jpeg.scala: marker segments,
    * JFIF/Exif APPn, DQT/SOF/DHT/DRI/SOS, byte-stuffed scan data whose
    * payload is the doc's text) cycling FIVE wild shapes by id: JFIF
    * grayscale baseline + comment; Exif-II color baseline; Exif-MM
    * progressive TWO-SCAN with an offset-stored ImageDescription; JFIF
    * color baseline with restart markers + a second DQT; Exif-II
    * grayscale progressive with restarts. Geometry and orientation are
    * doc_id/n_chars arithmetic, so the oracle predicts every column
    * exactly; meta_ok/payload_ok pin the COM text and the unstuffed
    * scan bytes (the preamble plants phantom EOI/RST patterns that only
    * correct unstuffing survives). One task per blob, decode in a map —
    * the same file-per-task discipline as the rest of the codec family;
    * at 100 TB the scan is embarrassingly parallel and shuffles only
    * the 10-column metadata rows, never image bytes. */
  def jpegMetadataScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // fmt "jpg2": codec-VERSION tag folded into the lake family name
    // (ADVICE r15) — the UTF-8 COM/Exif encoder change is not visible to
    // the source-parquet fingerprint, so the family name itself must
    // change whenever codec behavior does, or a stale lake staged by the
    // old encoder silently feeds the new decoder
    val blobRoot = stagedDocBlobs(dir, "jpg2", "jpg") {
      Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), col("text"))
        .as[(Long, String)]
        .map { case (id, text) =>
          val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val w = 16 + (id % 240).toInt
          val h = 16 + (text.length % 480)
          val orient = Some((id % 8).toInt + 1)
          val desc = Some(s"doc $id")
          val com = Some(text.substring(0, math.min(40, text.length)))
          (id, (id % 5).toInt match {
            case 0 => Jpeg.encode(payload, w, h, components = 1, comment = com)
            case 1 => Jpeg.encode(payload, w, h, exifOrientation = orient)
            case 2 => Jpeg.encode(payload, w, h, progressive = true,
              exifOrientation = orient, exifBigEndian = true, exifDescription = desc)
            case 3 => Jpeg.encode(payload, w, h, comment = com, dri = 64,
              extraDqt = true)
            case 4 => Jpeg.encode(payload, w, h, components = 1,
              progressive = true, exifOrientation = orient,
              exifDescription = desc, dri = 32)
          })
        }
    }
    BlobDataSource.docBlobs(spark, blobRoot.getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val m = Jpeg.decode(bytes)
        val v = (id % 5).toInt
        val payloadStr = new String(m.payload, java.nio.charset.StandardCharsets.UTF_8)
        // the staged COM text was the payload's first 40 chars and the
        // Exif description "doc <id>" — pin both VALUES (absence
        // included) against what this doc's variant staged
        val expComment = if (v == 0 || v == 3) Some(payloadStr.take(40)) else None
        val expDesc = if (v == 2 || v == 4) Some(s"doc $id") else None
        (id, m.width.toLong, m.height.toLong, m.components.toLong,
          m.progressive, m.nScans.toLong, m.orientation.toLong,
          m.comment == expComment && m.description == expDesc, payloadStr)
      }
      .toDF("doc_id", "width", "height", "n_components", "progressive",
        "n_scans", "orientation", "meta_ok", "payload_text")
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("width"), col("height"), col("n_components"),
        col("progressive"), col("n_scans"), col("orientation"), col("meta_ok"),
        (col("payload_text") === col("text")).as("payload_ok"),
        length(col("text")).cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val jpegMetadataOracle: String =
    """WITH d AS (
      |  SELECT doc_id, length(text) AS n, doc_id % 5 AS v, text
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id,
      |  CAST(16 + doc_id % 240 AS BIGINT) AS width,
      |  CAST(16 + n % 480 AS BIGINT) AS height,
      |  CAST(CASE WHEN v IN (0, 4) THEN 1 ELSE 3 END AS BIGINT) AS n_components,
      |  v IN (2, 4) AS progressive,
      |  CAST(CASE WHEN v IN (2, 4) THEN 2 ELSE 1 END AS BIGINT) AS n_scans,
      |  CAST(CASE WHEN v IN (1, 2, 4) THEN doc_id % 8 + 1 ELSE 1 END AS BIGINT)
      |    AS orientation,
      |  true AS meta_ok,
      |  true AS payload_ok,
      |  CAST(n AS BIGINT) AS n_chars
      |FROM d ORDER BY doc_id""".stripMargin

  // --- q60u: AVI video container + frame sampling ----------------------------
  /** The VIDEO leg of the multimodal mandate, closed the way the image
    * legs were: a REAL container codec (sources/Avi.scala — RIFF/AVI
    * envelope, avih/strh headers, movi `00dc` frame walk with RIFF word
    * alignment, idx1 index VERIFIED against the walk) with the frame
    * payloads as opaque blobs (the actual video codec is out of scope,
    * [[graft.sources.Jpeg]]'s entropy-data discipline). Each doc stages
    * as one AVI whose frames are its 200-char text pages; the pipeline
    * stage under test is decode → FRAME-SAMPLE (keep every 2nd frame —
    * the keyframe-thinning every video-corpus pipeline runs before
    * feature extraction) → reassemble. The sampled concatenation and
    * the parsed header geometry are recomputed exactly by the oracle,
    * so a frame-order, alignment, index, or sampling bug breaks the
    * bit-exact match loudly. One task per blob; only sampled text and
    * 4 metadata columns shuffle, never video bytes. */
  /** The AVI lake (one file per non-empty doc, frames = 200-char text
    * pages) — shared by q60u's frame sampling and q60w's scene-cut
    * stage; staged once per corpus fingerprint. */
  private def aviLake(spark: SparkSession, dir: String): java.io.File = {
    import spark.implicits._
    stagedDocBlobs(dir, "avi", "avi") {
      textSlices(spark, dir, 200).map { case (id, pages) =>
        (id, graft.sources.Avi.encode(
          pages.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)),
          width = 16 + (id % 240).toInt, height = 240, usPerFrame = 33367))
      }
    }
  }

  def aviFrameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BlobDataSource.docBlobs(spark, aviLake(spark, dir).getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val v = graft.sources.Avi.decode(bytes)
        val sampled = v.frames.zipWithIndex.collect { case (f, i) if i % 2 == 0 => f }
        (id, v.width.toLong, v.frames.length.toLong, sampled.length.toLong,
          sampled.map(new String(_, java.nio.charset.StandardCharsets.UTF_8)).mkString)
      }
      .toDF("doc_id", "width", "n_frames", "n_sampled", "sampled_text")
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
      .select(col("doc_id"), col("width"), col("n_frames"), col("n_sampled"),
        col("sampled_text"), length(col("text")).cast("bigint").as("n_chars"))
      .orderBy(col("doc_id"))
  }

  val aviFrameSampleOracle: String =
    """SELECT doc_id,
      |  CAST(16 + doc_id % 240 AS BIGINT) AS width,
      |  CAST((length(text) + 199) // 200 AS BIGINT) AS n_frames,
      |  CAST(((length(text) + 199) // 200 + 1) // 2 AS BIGINT) AS n_sampled,
      |  array_to_string(list_transform(generate_series(0, length(text) - 1, 400),
      |    s -> substring(text, s + 1, 200)), '') AS sampled_text,
      |  CAST(length(text) AS BIGINT) AS n_chars
      |FROM documents WHERE length(text) > 0 ORDER BY doc_id""".stripMargin

  // --- q60w: video scene-cut detection (segmentation stage) ------------------
  /** The segmentation stage that follows q60u's keyframe thinning in a
    * video-curation pipeline: decode each AVI (REAL container walk,
    * shared q60u lake), compute a per-frame intensity metric (byte sum —
    * the histogram-delta stand-in, the corpus is ASCII so byte == code
    * point like every ord()-based oracle here), and declare a SCENE CUT
    * wherever consecutive frames' metrics differ by more than the
    * threshold. Output is the per-doc cut summary a sampler needs:
    * scene count, first cut, and a rolling hash over all cut indices so
    * a single misplaced boundary breaks the bit-exact match loudly.
    * Map-only over the blob lake — one task per blob, only the 6-column
    * summary shuffles, never video bytes; at 100 TB this is the same
    * embarrassingly-parallel shape as q60u/q60v. */
  def videoSceneCut(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val threshold = 300L // |Δ byte-sum| above this = cut (tuned so the
    //                      corpus yields a mix of cut and no-cut pairs)
    BlobDataSource.docBlobs(spark, aviLake(spark, dir).getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val v = graft.sources.Avi.decode(bytes)
        val ms = v.frames.map(f => f.foldLeft(0L)((a, b) => a + (b & 0xff)))
        val cuts = (1 until ms.length).filter(i =>
          math.abs(ms(i) - ms(i - 1)) > threshold)
        var checksum = 0L
        cuts.foreach(i => checksum = (checksum * 31 + i) % 2147483647L)
        (id, ms.length.toLong, cuts.length.toLong, cuts.length.toLong + 1L,
          cuts.headOption.map(_.toLong).getOrElse(-1L), checksum)
      }
      .toDF("doc_id", "n_frames", "n_cuts", "n_scenes", "first_cut", "cuts_checksum")
      .orderBy(col("doc_id"))
  }

  /** The whole stage mirrored frame-by-frame: DuckDB recomputes each
    * 200-char frame's byte-sum metric, the same |Δ| > 300 rule, and the
    * same rolling hash over 0-based cut indices. */
  val videoSceneCutOracle: String =
    """WITH d AS (
      |  SELECT doc_id, text, length(text) AS n
      |  FROM documents WHERE length(text) > 0),
      |f AS (
      |  SELECT doc_id,
      |    list_transform(generate_series(0, n - 1, 200), s ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(
      |          list_filter(string_split(substring(text, s + 1, 200), ''),
      |                      c -> c != ''),
      |          c -> CAST(ord(c) AS BIGINT))),
      |        (a, b) -> a + b)) AS ms
      |  FROM d),
      |c AS (
      |  SELECT doc_id, len(ms) AS n_frames,
      |    list_filter(generate_series(2, len(ms)),
      |                i -> abs(ms[i] - ms[i - 1]) > 300) AS cuts
      |  FROM f)
      |SELECT doc_id,
      |  CAST(n_frames AS BIGINT) AS n_frames,
      |  CAST(len(cuts) AS BIGINT) AS n_cuts,
      |  CAST(len(cuts) + 1 AS BIGINT) AS n_scenes,
      |  CAST(coalesce(cuts[1] - 1, -1) AS BIGINT) AS first_cut,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(cuts, i -> CAST(i - 1 AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) AS cuts_checksum
      |FROM c ORDER BY doc_id""".stripMargin

  // --- q140: subtitle-to-scene alignment (multimodal interval overlap) ------
  /** A scene span in frame-clock microseconds — named fields so the
    * alignment HOF can address them from SQL (tuple `_1/_2` encoders
    * don't survive `expr`). */
  final case class SceneSpan(s: Long, e: Long)

  /** The SRT subtitle lake: one .srt per non-empty doc, cue j = the
    * doc's j-th 120-char slice on a 30 ms grid ([j·30, j·30+25) ms) —
    * deliberately NOT the 33.367 ms frame clock, so cue↔scene alignment
    * is a genuine interval-overlap problem, not an index match. */
  private def srtLake(spark: SparkSession, dir: String): java.io.File = {
    import spark.implicits._
    stagedDocBlobs(dir, "srt", "srt") {
      textSlices(spark, dir, 120).map { case (id, slices) =>
        (id, graft.sources.Srt.encode(
          slices.zipWithIndex.map { case (t, j) => (j * 30L, j * 30L + 25L, t) }))
      }
    }
  }

  /** The transcript-alignment stage of a video-curation pipeline: parse
    * each doc's REAL .srt (strict [[graft.sources.Srt]] codec), segment
    * its REAL .avi into scenes (q60w's |Δbyte-sum| > 300 cut rule over
    * the shared AVI lake, frame clock 33367 µs), and assign every cue to
    * its dominant scene by exact integer-µs interval overlap — first
    * maximal scene wins, cues past the video end report scene −1. This
    * is the join that turns (video, transcript) pairs into per-scene
    * training text.
    *
    * 100 TB shape: both lakes decode map-only (one task per blob); the
    * only shuffle is the doc_id-keyed 1:1 join of cue rows against
    * per-doc scene-boundary ARRAYS (a handful of longs per doc — frame
    * payloads and cue text never move). The argmax runs as a codegen'd
    * HOF fold over the broadcast-sized scene array inside each row. */
  def subtitleAlign(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val uspf = 33367L
    val scenes = BlobDataSource.docBlobs(spark, aviLake(spark, dir).getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val v = graft.sources.Avi.decode(bytes)
        val ms = v.frames.map(f => f.foldLeft(0L)((a, b) => a + (b & 0xff)))
        val cuts = (1 until ms.length).filter(i => math.abs(ms(i) - ms(i - 1)) > 300L)
        val bounds = (0 +: cuts) :+ ms.length
        (id, bounds.sliding(2).map { w => SceneSpan(w.head * uspf, w.last * uspf) }.toSeq)
      }.toDF("doc_id", "scenes")
    val cues = BlobDataSource.docBlobs(spark, srtLake(spark, dir).getAbsolutePath)
      .as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        graft.sources.Srt.decode(bytes).map(c =>
          (id, (c.idx - 1).toLong, c.startMs * 1000L, c.endMs * 1000L, c.text.length.toLong))
      }.toDF("doc_id", "cue_idx", "start_us", "end_us", "cue_chars")
    cues.join(scenes, Seq("doc_id"))
      .withColumn("best", expr(
        """aggregate(
          |  transform(scenes, (sc, i) -> named_struct(
          |    'ov', greatest(0L, least(sc.e, end_us) - greatest(sc.s, start_us)),
          |    'idx', CAST(i AS BIGINT))),
          |  named_struct('ov', -1L, 'idx', -1L),
          |  (acc, x) -> IF(x.ov > acc.ov, x, acc))""".stripMargin))
      .select(col("doc_id"), col("cue_idx"), col("start_us"), col("end_us"),
        col("cue_chars"), size(col("scenes")).cast("long").as("n_scenes"),
        when(col("best.ov") > 0, col("best.idx")).otherwise(lit(-1L)).as("best_scene"),
        greatest(col("best.ov"), lit(0L)).as("overlap_us"))
      .orderBy(col("doc_id"), col("cue_idx"))
  }

  /** The whole stage recomputed from the corpus: frame metrics, the cut
    * rule, scene spans on the 33367 µs frame clock, the 30 ms cue grid,
    * and the first-maximal-overlap assignment (list_position = first
    * occurrence, matching the fold's strict-greater keep rule). */
  val subtitleAlignOracle: String =
    """WITH d AS (SELECT doc_id, text, length(text) AS n
      |           FROM documents WHERE length(text) > 0),
      |f AS (SELECT doc_id, n,
      |  list_transform(generate_series(0, n - 1, 200), s ->
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_filter(string_split(substring(text, s + 1, 200), ''),
      |                                 c -> c != ''),
      |        c -> CAST(ord(c) AS BIGINT))), (a, b) -> a + b)) AS ms
      |  FROM d),
      |b AS (SELECT doc_id, n,
      |  list_concat(list_concat([CAST(0 AS BIGINT)],
      |    list_transform(list_filter(generate_series(2, len(ms)),
      |                               i -> abs(ms[i] - ms[i-1]) > 300),
      |                   i -> CAST(i - 1 AS BIGINT))),
      |    [CAST(len(ms) AS BIGINT)]) AS bounds
      |  FROM f),
      |s AS (SELECT doc_id, n, len(bounds) - 1 AS n_scenes,
      |  list_transform(generate_series(1, len(bounds) - 1), k ->
      |    {'s': bounds[k] * 33367, 'e': bounds[k+1] * 33367}) AS scenes
      |  FROM b),
      |c AS (SELECT doc_id, n, n_scenes, scenes,
      |  unnest(generate_series(0, (n + 119) // 120 - 1)) AS cue_idx FROM s),
      |o AS (SELECT doc_id, cue_idx, n_scenes,
      |  cue_idx * 30000 AS start_us, cue_idx * 30000 + 25000 AS end_us,
      |  least(120, n - cue_idx * 120) AS cue_chars,
      |  list_transform(scenes, sc -> greatest(0,
      |    least(sc.e, cue_idx*30000 + 25000) - greatest(sc.s, cue_idx*30000))) AS ovs
      |  FROM c)
      |SELECT doc_id, CAST(cue_idx AS BIGINT) AS cue_idx,
      |  CAST(start_us AS BIGINT) AS start_us, CAST(end_us AS BIGINT) AS end_us,
      |  CAST(cue_chars AS BIGINT) AS cue_chars, CAST(n_scenes AS BIGINT) AS n_scenes,
      |  CAST(CASE WHEN list_max(ovs) > 0
      |            THEN list_position(ovs, list_max(ovs)) - 1 ELSE -1 END AS BIGINT) AS best_scene,
      |  CAST(greatest(list_max(ovs), 0) AS BIGINT) AS overlap_us
      |FROM o ORDER BY doc_id, cue_idx""".stripMargin

  // --- q152: MP3 frame census (compressed-audio container walk) --------------
  /** The compressed-audio census a media corpus runs before any decode
    * spend: per file, frame count, bitrate, sample rate, EXACT duration
    * and byte size — all from the REAL MPEG-1 Layer III header walk
    * ([[graft.sources.Mp3]], strict: lost sync / truncation / format
    * switch throws), no DCT decode. One .mp3 per non-empty doc with
    * encode parameters derived deterministically from the doc (bitrate
    * index 1 + id mod 14, samplerate id mod 3, padding id mod 2, frames
    * = the doc's 200-char page count), so the oracle re-derives every
    * census column arithmetically — a frame-length, padding, or walk bug
    * breaks the bit-exact match. Duration is integer milliseconds
    * (frames·1152·1000 div Hz — Layer III is 1152 samples/frame).
    *
    * Map-only over the blob lake: one task per blob, only the 6-column
    * census shuffles (q60u's embarrassingly-parallel shape). */
  private def mp3Lake(spark: SparkSession, dir: String): java.io.File = {
    import spark.implicits._
    stagedDocBlobs(dir, "mp3", "mp3") {
      Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), expr("CAST((length(text) + 199) div 200 AS INT)").as("nf"))
        .as[(Long, Int)]
        .map { case (id, nf) =>
          (id, graft.sources.Mp3.encode(nf,
            bitrateIdx = 1 + (id % 14).toInt,
            sampleRateIdx = (id % 3).toInt,
            padding = id % 2 == 1, seed = id))
        }
    }
  }

  def mp3Census(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BlobDataSource.docBlobs(spark, mp3Lake(spark, dir).getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val frames = graft.sources.Mp3.decode(bytes)
        val kbps = frames.map(graft.sources.Mp3.bitrateKbps).distinct
        val hz = frames.map(graft.sources.Mp3.sampleRateHz).distinct
        require(kbps.size == 1 && hz.size == 1, s"doc $id: VBR unexpected in this lake")
        (id, frames.length.toLong, kbps.head.toLong, hz.head.toLong,
          frames.length.toLong * 1152L * 1000L / hz.head,
          bytes.length.toLong)
      }
      .toDF("doc_id", "n_frames", "bitrate_kbps", "sample_rate", "duration_ms", "file_bytes")
      .orderBy(col("doc_id"))
  }

  /** Every census column re-derived arithmetically: frame count from the
    * page rule, tables indexed by the same id arithmetic, frame length =
    * 144000·kbps div Hz + padding, duration = frames·1152·1000 div Hz. */
  val mp3CensusOracle: String =
    """WITH d AS (
      |  SELECT doc_id, (length(text) + 199) // 200 AS nf,
      |    ([32,40,48,56,64,80,96,112,128,160,192,224,256,320])[1 + CAST(doc_id % 14 AS INTEGER)] AS kbps,
      |    ([44100,48000,32000])[1 + CAST(doc_id % 3 AS INTEGER)] AS hz,
      |    CAST(doc_id % 2 AS INTEGER) AS pad
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
      |  CAST(kbps AS BIGINT) AS bitrate_kbps, CAST(hz AS BIGINT) AS sample_rate,
      |  CAST(nf * 1152 * 1000 // hz AS BIGINT) AS duration_ms,
      |  CAST(nf * (144000 * kbps // hz + pad) AS BIGINT) AS file_bytes
      |FROM d ORDER BY doc_id""".stripMargin

  // --- q157: MP4/ISO-BMFF container census (the modern-video q152) -----------
  /** Closes the video-container family at the format crawled corpora
    * actually ship (VERDICT r17 task 7): AVI (q60u) is the legacy RIFF
    * side; this is the ISO-BMFF box walk ([[graft.sources.Mp4]], strict:
    * non-tiling children / missing ftyp / duplicate moov / version-1
    * headers throw). One .mp4 per non-empty doc, two tracks with
    * EXACT-millisecond tick rates derived deterministically from the doc
    * — video: page count at 25 fps on a 90 kHz clock (ticks nf·3600 →
    * ms nf·40), audio: one sample per char at 48 kHz (ticks n·48 → ms
    * n), movie clock 1000 Hz at max(video, audio) — so the oracle
    * re-derives every census column arithmetically, INCLUDING the total
    * byte size from the box grammar's fixed sizes (ftyp 24 + moov 462 +
    * mdat 8+payload): a size, tiling, or header-layout bug anywhere in
    * the codec breaks the bit-exact match. Map-only over the blob lake
    * (q152's embarrassingly-parallel shape); only the census shuffles. */
  private def mp4Lake(spark: SparkSession, dir: String): java.io.File = {
    import spark.implicits._
    stagedDocBlobs(dir, "mp4", "mp4") {
      Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .select(col("doc_id"), length(col("text")).cast("long").as("n"))
        .as[(Long, Long)]
        .map { case (id, n) =>
          val nf = (n + 199) / 200
          (id, graft.sources.Mp4.encode(
            brand = if (id % 2 == 0) "isom" else "mp42",
            timescale = 1000L,
            durationTicks = math.max(nf * 40L, n),
            tracks = Seq(("vide", 90000L, nf * 3600L), ("soun", 48000L, n * 48L)),
            mdat = Array.tabulate((n % 200).toInt + 1)(i => ((id + i) % 251).toByte)))
        }
    }
  }

  def mp4Census(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    BlobDataSource.docBlobs(spark, mp4Lake(spark, dir).getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val m = graft.sources.Mp4.decode(bytes)
        val video = m.tracks.filter(_.handler == "vide")
        val audio = m.tracks.filter(_.handler == "soun")
        require(video.size == 1 && audio.size == 1,
          s"doc $id: expected one video + one audio track, got ${m.tracks.map(_.handler)}")
        (id, m.brand, m.tracks.size.toLong, m.durationMs,
          video.head.durationMs, audio.head.durationMs,
          m.mdatBytes, bytes.length.toLong)
      }
      .toDF("doc_id", "brand", "n_tracks", "duration_ms", "video_ms",
        "audio_ms", "mdat_bytes", "file_bytes")
      .orderBy(col("doc_id"))
  }

  /** Every column re-derived arithmetically, file_bytes from the box
    * grammar's fixed sizes: ftyp 24 + moov(8 + mvhd 108 + 2·trak 173) +
    * mdat(8 + n%200 + 1) = 495 + n%200. */
  val mp4CensusOracle: String =
    """WITH d AS (
      |  SELECT doc_id, length(text) AS n, (length(text) + 199) // 200 AS nf
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'isom' ELSE 'mp42' END AS brand,
      |  CAST(2 AS BIGINT) AS n_tracks,
      |  CAST(greatest(nf * 40, n) AS BIGINT) AS duration_ms,
      |  CAST(nf * 40 AS BIGINT) AS video_ms,
      |  CAST(n AS BIGINT) AS audio_ms,
      |  CAST(n % 200 + 1 AS BIGINT) AS mdat_bytes,
      |  CAST(495 + n % 200 AS BIGINT) AS file_bytes
      |FROM d ORDER BY doc_id""".stripMargin

  // --- q153: parquet footer-only lake census ----------------------------------
  /** The "how healthy is this lake" pass that must NEVER read data: per
    * partition directory, file count, row count and the value column's
    * min/max — all from PARQUET FOOTERS (block row counts + column-chunk
    * statistics via parquet-hadoop's ParquetFileReader), zero row-group
    * byte I/O by construction. This is the metadata pass a 100 TB
    * deployment runs to decide compaction (q126/q147), clustering decay
    * (q84/q105), and stats freshness — at that scale the FOOTERS are the
    * dataset, so the reads themselves run distributed: the file list
    * parallelizes across executors and each task opens only footers.
    *
    * The lake: events hive-partitioned by bucket = user_id % 16, written
    * through repartition(bucket) so each bucket lands as exactly ONE
    * file — a layout invariant the census verifies (n_files) and the
    * oracle predicts; row counts and stats must equal the source table's
    * per-bucket truth or the footer walk is wrong. */
  private def bucketLake(spark: SparkSession, dir: String): java.io.File =
    stagedBlobs(dir, "bucketlake", srcTable = "events") { staging =>
      Tables.events(spark, dir)
        .withColumn("bucket", col("user_id") % 16)
        .repartition(16, col("bucket"))
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(new java.io.File(staging, "events").getAbsolutePath)
    }

  def footerStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val root = new java.io.File(bucketLake(spark, dir), "events")
    val files = root.listFiles().toSeq
      .filter(_.getName.startsWith("bucket="))
      .flatMap { d =>
        d.listFiles().toSeq.filter(_.getName.endsWith(".parquet"))
          .map(f => (d.getName.stripPrefix("bucket=").toLong, f.getAbsolutePath))
      }
    files.toDS()
      .map { case (bucket, path) =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(path),
          new org.apache.hadoop.conf.Configuration())
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          var rows = 0L; var mn = Double.MaxValue; var mx = Double.MinValue
          var sawValue = false
          reader.getFooter.getBlocks.forEach { b =>
            rows += b.getRowCount
            b.getColumns.forEach { c =>
              if (c.getPath.toDotString == "value") {
                sawValue = true
                val st = c.getStatistics
                require(st != null && st.hasNonNullValue,
                  s"footer census needs stats; missing for 'value' in $path")
                mn = math.min(mn, st.genericGetMin.asInstanceOf[java.lang.Double])
                mx = math.max(mx, st.genericGetMax.asInstanceOf[java.lang.Double])
              }
            }
          }
          // schema drift (renamed/dropped 'value') must throw, not emit
          // Double.MaxValue/MinValue sentinels as silent min/max
          require(sawValue,
            s"footer census saw no 'value' column chunk in $path")
          (bucket, 1L, rows, mn, mx)
        } finally reader.close()
      }
      .toDF("bucket", "n_files", "n_rows", "min_value", "max_value")
      .groupBy(col("bucket"))
      .agg(sum(col("n_files")).as("n_files"), sum(col("n_rows")).as("n_rows"),
        // + 0.0 canonicalizes signed zero: parquet-mr writes a +0.0 min
        // as -0.0 in the footer (PARQUET-1222 safe-zero handling), which
        // is value-equal but repr-distinct under the driver's hash
        (min(col("min_value")) + 0.0).as("min_value"),
        (max(col("max_value")) + 0.0).as("max_value"))
      .orderBy(col("bucket"))
  }

  /** The per-bucket truth the footers must reproduce — including the
    * one-file-per-bucket layout invariant the write path promises. */
  val footerStatsOracle: String =
    """SELECT user_id % 16 AS bucket, CAST(1 AS BIGINT) AS n_files,
      |  count(*) AS n_rows,
      |  min(value) + 0.0 AS min_value, max(value) + 0.0 AS max_value
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  // --- q80: Hive-partitioned ORC lake + partition pruning --------------------
  /** The lake-layout scan primitive: events written ONCE as ORC,
    * hive-partitioned by event_type (`partitionBy` → one directory per
    * value), then read back under a partition predicate. Only the
    * matching partition's files are listed into the scan — at 100 TB the
    * difference between touching 1/5th of the lake and all of it before
    * a single row is read (PartitionFilters + file-count reduction are
    * plan-asserted in PartitionPruningSpec, along with dynamic partition
    * pruning from a joined dimension filter). ORC as the lake format
    * also proves the engine isn't parquet-monogamous — same DataFrame
    * API, different columnar container. The oracle replays the
    * aggregation over the original parquet with the same predicate, so
    * the partitioned write + pruned read round trip is bit-exact. */
  def partitionedLake(spark: SparkSession, dir: String): DataFrame = {
    val lakeRoot = stagedBlobs(dir, "orclake", srcTable = "events") { staging =>
      Tables.events(spark, dir)
        .write.partitionBy("event_type").mode("overwrite")
        .orc(new java.io.File(staging, "events").getAbsolutePath)
    }
    spark.read.orc(new java.io.File(lakeRoot, "events").getAbsolutePath)
      .filter(col("event_type") === "purchase")
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy(col("hour_us"))
  }

  val partitionedLakeOracle: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events WHERE event_type = 'purchase'
      |GROUP BY 1 ORDER BY hour_us""".stripMargin

  // --- q79: DSv2 blob connector scan with pushdown --------------------------
  /** The staged .docx lake read through the `graftblob` DataSource V2
    * connector ([[graft.sources.BlobDataSource]]) instead of `binaryFile`:
    * the `doc_id < 250 AND ext = 'docx'` predicate pushes INTO the
    * connector and prunes at the file LISTING — non-matching blobs never
    * become input partitions, the 100 TB behavior a generic binaryFile
    * scan can't give (it lists everything, then filters rows). The
    * surviving files' bytes flow through the same real DOCX codec as
    * q60c, so the oracle is q02c's contract restricted to the pushed
    * doc_id range — connector listing, filter arithmetic, split packing
    * and byte delivery all under the bit-exact gate. Plan-level pushdown
    * (filters echoed in the scan, no content I/O when pruned) is
    * spec-asserted in BlobDataSourceSpec. */
  def dsv2BlobScan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobRoot = docxBlobRoot(spark, dir)
    spark.read.format("graftblob")
      // local blobs are KiB-sized; a 256 KiB target yields real multi-file
      // packing at sf0.01 instead of one split holding everything
      .option("maxPartitionBytes", (256L * 1024).toString)
      .load(blobRoot.getAbsolutePath)
      .filter(col("doc_id") < 250 && col("ext") === "docx")
      .select(col("doc_id"), col("content"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val paras = graft.sources.Docx.decodeParagraphs(bytes)
        val text = paras.map(_ + "\n").mkString
        (id, paras.length.toLong, text.length.toLong, text)
      }
      .toDF("doc_id", "n_paras", "n_chars", "doc_text")
      .orderBy(col("doc_id"))
  }

  /** q02c's contract over the pushed range: same paragraph reassembly,
    * doc_id < 250. */
  val dsv2BlobScanOracle: String =
    paragraphJoinOracle.replace(
      "FROM t WHERE len(toks) > 0",
      "FROM t WHERE len(toks) > 0 AND doc_id < 250")

  // --- q79b: "how big is this lake" via connector aggregate pushdown -------
  /** The metadata rollup every lake operator runs first — answered
    * entirely by the connector's aggregate pushdown
    * (`SupportsPushDownAggregates`): COUNT/MIN/MAX group by ext are
    * computed from the file LISTING, complete (not partial) pushdown, so
    * the plan opens zero blobs and moves one row per extension — over a
    * billion-blob lake this is a driver-side metadata pass, not a job.
    * The oracle re-derives the same facts from the documents table (the
    * lake is doc_<id>.docx for every doc with a non-empty token list),
    * so the listing arithmetic, the pushdown parse and the group-by
    * shape all sit under the bit-exact gate. byte sizes (SUM(length))
    * are pushdown-tested in BlobDataSourceSpec but omitted here: docx
    * container overhead is not SQL-derivable. */
  def blobLakeRollup(spark: SparkSession, dir: String): DataFrame = {
    val blobRoot = docxBlobRoot(spark, dir)
    spark.read.format("graftblob").load(blobRoot.getAbsolutePath)
      .groupBy(col("ext"))
      .agg(
        count(lit(1)).as("n_blobs"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("ext"))
  }

  val blobLakeRollupOracle: String =
    """SELECT 'docx' AS ext, count(*) AS n_blobs,
      |  min(doc_id) AS min_id, max(doc_id) AS max_id
      |FROM documents
      |WHERE len(list_filter(string_split(text, ' '), x -> x != '')) > 0
      |GROUP BY 1 ORDER BY ext""".stripMargin

  // --- q87: CSV lake round trip ---------------------------------------------
  /** The third text container format (after ORC q80 and the blob lake):
    * events written once as real CSV — header, RFC-quoting stressed by
    * the `props` JSON column (embedded commas, quotes, braces),
    * microsecond timestamps via an explicit format — then read back with
    * a declared schema (no inference job: schema-on-read is part of the
    * 100 TB discipline, an inference pass over a CSV lake is a full
    * extra scan) and aggregated. The oracle replays the aggregation over
    * the ORIGINAL parquet, so any writer/reader asymmetry (quoting,
    * escaping, timestamp truncation, float formatting) breaks the
    * bit-exact match loudly. Staging is content-addressed like the blob
    * lakes (one write per corpus fingerprint). */
  def csvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val csvRoot = stagedBlobs(dir, "csv", srcTable = "events") { staging =>
      Tables.events(spark, dir)
        .write.mode("overwrite")
        .option("header", "true").option("timestampFormat", tsFmt)
        .csv(new java.io.File(staging, "events_csv").getAbsolutePath)
    }
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    spark.read.schema(schema)
      .option("header", "true").option("timestampFormat", tsFmt)
      .csv(new java.io.File(csvRoot, "events_csv").getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        sum(length(col("props"))).as("props_chars"))
      .orderBy(col("event_type"))
  }

  val csvRoundtripOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
      |  CAST(sum(length(props)) AS BIGINT) AS props_chars
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q89: JSON-lines lake round trip --------------------------------------
  /** The fourth container format (ORC q80, graftblob q79, CSV q87): events
    * written once as newline-delimited JSON — string escaping stressed by
    * the nested-JSON `props` column (it round-trips as an ESCAPED string
    * inside the JSON envelope, quotes-within-quotes), µs timestamps via
    * explicit format — read back with a declared schema (schema-on-read,
    * no inference pass) and aggregated; the oracle replays the
    * aggregation over the original parquet. Same content-addressed
    * staging as the CSV lake. */
  def jsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val root = stagedBlobs(dir, "jsonl", srcTable = "events") { staging =>
      Tables.events(spark, dir)
        .write.mode("overwrite")
        .option("timestampFormat", tsFmt)
        .json(new java.io.File(staging, "events_jsonl").getAbsolutePath)
    }
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    spark.read.schema(schema)
      .option("timestampFormat", tsFmt)
      .json(new java.io.File(root, "events_jsonl").getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        sum(length(col("props"))).as("props_chars"),
        // the nested payload survives the escape/unescape round trip:
        // parse it back out of the re-read string and aggregate a field
        sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  // --- q89b: gzip-compressed JSONL lake ------------------------------------
  /** q89's round trip through the shape text lakes actually sit in at
    * rest: one gzip member per part file (`.json.gz`), written via the
    * source's own compression codec. The scale-relevant property this
    * pins: gzip text is NOT splittable — each .gz part is one task —
    * so write-side partition count IS the read-side parallelism knob
    * (8 parts staged here); a single fat .gz would serialize the whole
    * read. Schema-on-read, same escape/unescape and µs-timestamp
    * discipline, q89's oracle applies VERBATIM — the codec hop is the
    * delta under test. */
  def jsonlGzipRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val root = stagedBlobs(dir, "jsonlgz", srcTable = "events") { staging =>
      Tables.events(spark, dir)
        .repartition(8) // read-side parallelism for an unsplittable codec
        .write.mode("overwrite")
        .option("timestampFormat", tsFmt)
        .option("compression", "gzip")
        .json(new java.io.File(staging, "events_jsonl_gz").getAbsolutePath)
    }
    val gzDir = new java.io.File(root, "events_jsonl_gz")
    require(gzDir.listFiles().exists(_.getName.endsWith(".json.gz")),
      "q89b: staged lake is not gzip-compressed")
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    spark.read.schema(schema)
      .option("timestampFormat", tsFmt)
      .json(gzDir.getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        sum(length(col("props"))).as("props_chars"),
        sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  // --- q118: schema-evolved lake read (mergeSchema) --------------------------
  /** The read path a year of 100 TB ingest forces on every consumer:
    * the lake accumulates GENERATIONS with different schemas (here
    * gen=1 written before the `props` column existed, gen=2 after),
    * and one scan must union them — `mergeSchema=true` reconciles the
    * parquet footers at planning time and back-fills the missing
    * column with NULLs. The aggregation exercises exactly the
    * null-semantics a consumer must get right (count vs count-non-null,
    * coalesced sums); the oracle replays it from the original table
    * with the generation rule inlined, so a dropped generation, a
    * mis-merged schema, or wrong null-fill breaks the bit-exact match.
    * The generation directory doubles as a hive partition column, so
    * generation-targeted reads still prune at the listing. */
  def schemaEvolutionRead(spark: SparkSession, dir: String): DataFrame = {
    val root = stagedBlobs(dir, "evolake", srcTable = "events") { staging =>
      val lake = new java.io.File(staging, "events_evo")
      val e = Tables.events(spark, dir)
      // generation 1 predates the props column; generation 2 carries it
      e.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"))
        .write.mode("overwrite")
        .parquet(new java.io.File(lake, "gen=1").getAbsolutePath)
      e.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props"))
        .write.mode("overwrite")
        .parquet(new java.io.File(lake, "gen=2").getAbsolutePath)
    }
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(new java.io.File(root, "events_evo").getAbsolutePath)
    require(merged.columns.contains("props") && merged.columns.contains("gen"),
      s"q118: merged schema lost columns: ${merged.columns.mkString(",")}")
    merged
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        count(col("props")).as("n_with_props"), // null-filled gen-1 rows excluded
        sum(coalesce(length(col("props")), lit(0))).as("props_chars"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        countDistinct(col("gen")).cast("bigint").as("n_generations"))
      .orderBy(col("event_type"))
  }

  val schemaEvolutionOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CASE WHEN event_id % 2 = 1 AND props IS NOT NULL
      |               THEN 1 ELSE 0 END) AS BIGINT) AS n_with_props,
      |  CAST(sum(CASE WHEN event_id % 2 = 1
      |               THEN coalesce(length(props), 0) ELSE 0 END) AS BIGINT)
      |    AS props_chars,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  CAST(count(DISTINCT event_id % 2) AS BIGINT) AS n_generations
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q89c: zstd-compressed JSONL lake -------------------------------------
  /** The compression hop LLM corpora actually ship in: Dolma, RedPajama,
    * FineWeb and the post-2023 crawl derivatives distribute
    * `.jsonl.zst`, not `.json.gz`. Hadoop's ZStandardCodec needs a
    * native libhadoop build this (and most) clusters lack, so the lake
    * is written and read through zstd-jni (the SAME library Spark's own
    * shuffle/ORC/parquet zstd paths use — already on every executor
    * classpath): write side streams each partition through a
    * ZstdOutputStream in `foreachPartition` (8 parts — like gzip, zstd
    * frames are not splittable, so write-side partition count IS the
    * read-side parallelism knob); read side is `binaryFile` →
    * per-task frame decode → `from_json` with a declared schema.
    * Frame magic is verified per blob, q89's escape/µs-timestamp
    * discipline is unchanged, and its oracle applies VERBATIM — the
    * codec hop is the delta under test. */
  def jsonlZstdRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val root = stagedBlobs(dir, "jsonlzst", srcTable = "events") { staging =>
      val outDir = new java.io.File(staging, "events_jsonl_zst")
      outDir.mkdirs()
      Tables.events(spark, dir)
        .repartition(8) // read-side parallelism for an unsplittable codec
        .select(to_json(struct(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("value"), col("props")),
          Map("timestampFormat" -> tsFmt).asJava).as("line"))
        .as[String]
        .foreachPartition { it: Iterator[String] =>
          if (it.hasNext) {
            val pid = org.apache.spark.TaskContext.getPartitionId()
            val f = new java.io.File(outDir, f"part_$pid%05d.jsonl.zst")
            val os = new com.github.luben.zstd.ZstdOutputStream(
              new java.io.BufferedOutputStream(new java.io.FileOutputStream(f)), 3)
            try it.foreach { l =>
              os.write(l.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              os.write('\n')
            } finally os.close()
          }
        }
    }
    val zDir = new java.io.File(root, "events_jsonl_zst")
    require(zDir.listFiles().exists(_.getName.endsWith(".jsonl.zst")),
      "q89c: staged lake is not zstd-compressed")
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING"
    val lines = spark.read.format("binaryFile").load(zDir.getAbsolutePath)
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        require(bytes.length >= 4 && (bytes(0) & 0xff) == 0x28 &&
          (bytes(1) & 0xff) == 0xb5 && (bytes(2) & 0xff) == 0x2f &&
          (bytes(3) & 0xff) == 0xfd, "q89c: blob is not a zstd frame")
        val in = new com.github.luben.zstd.ZstdInputStream(
          new java.io.ByteArrayInputStream(bytes))
        val txt = try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8) finally in.close()
        txt.split("\n").iterator.filter(_.nonEmpty)
      }
    lines
      .select(from_json(col("value"), schema,
        Map("timestampFormat" -> tsFmt).asJava).as("e"))
      .select(col("e.*"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"),
        min(unix_micros(col("ts"))).as("first_us"),
        max(unix_micros(col("ts"))).as("last_us"),
        sum(length(col("props"))).as("props_chars"),
        sum(get_json_object(col("props"), "$.k").cast("bigint")).as("sum_k"))
      .orderBy(col("event_type"))
  }

  val jsonlRoundtripOracle: String =
    """SELECT event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
      |  min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
      |  CAST(sum(length(props)) AS BIGINT) AS props_chars,
      |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q119: CSV ingest with corrupt-record quarantine -----------------------
  /** The messy-ingest stage every 100 TB pipeline runs before anything
    * else: a CSV lake where some rows are MALFORMED (here: `value` is
    * the literal `N/A` on every event_id divisible by 97 — the classic
    * export artifact), read under a declared schema in PERMISSIVE mode
    * with `columnNameOfCorruptRecord`, so bad rows are QUARANTINED into
    * a side column instead of killing the job (FAILFAST) or silently
    * vanishing (DROPMALFORMED). The aggregation proves the quarantine
    * accounting: per event_type, total rows, quarantined rows, the
    * value sum over clean rows only, and an id-sum over the quarantined
    * rows (they stay addressable for re-processing — the whole point of
    * quarantine vs drop). The oracle replays it from the original
    * events table with the corruption rule inlined, so a row lost,
    * double-counted, or mis-routed breaks the bit-exact match loudly.
    *
    * Scale shape: single-line CSV is SPLITTABLE — the scan parallelizes
    * by HDFS block like parquet; parse + quarantine routing are
    * map-side, only the per-type partial aggregates shuffle. */
  def csvQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    val root = stagedBlobs(dir, "csvq", srcTable = "events") { staging =>
      Tables.events(spark, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          // the malformed export: a non-numeric token in a DOUBLE field
          when(col("event_id") % 97 === 0, lit("N/A"))
            .otherwise(col("value").cast("string")).as("value"),
          col("props"))
        .repartition(8)
        .write.option("timestampFormat", tsFmt)
        .mode("overwrite")
        .csv(new java.io.File(staging, "events_csv").getAbsolutePath)
    }
    val schema = "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING, _quarantine STRING"
    spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_quarantine")
      .option("timestampFormat", tsFmt)
      .csv(new java.io.File(root, "events_csv").getAbsolutePath)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_rows"),
        count(col("_quarantine")).as("n_quarantined"),
        sum(when(col("_quarantine").isNull, col("value").cast("decimal(18,2)")))
          .cast("double").as("good_value_total"),
        sum(when(col("_quarantine").isNotNull, col("event_id")).otherwise(lit(0L)))
          .as("quarantined_id_sum"))
      .orderBy(col("event_type"))
  }

  val csvQuarantineOracle: String =
    """SELECT event_type, count(*) AS n_rows,
      |  CAST(sum(CASE WHEN event_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_quarantined,
      |  CAST(sum(CASE WHEN event_id % 97 <> 0
      |               THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE)
      |    AS good_value_total,
      |  CAST(sum(CASE WHEN event_id % 97 = 0 THEN event_id ELSE 0 END) AS BIGINT)
      |    AS quarantined_id_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // --- q94: PDF page-1 preview render at 0.5× (app.py:217-225) --------------
  /** The reference's preview pane closed as data: page 1 of each staged
    * PDF (the REAL codec's object-graph walk — same blobs as q60d, cache
    * shared) is "rendered" at 0.5× scale and published as a genuine PNG,
    * then decoded back and summarized. Glyph rasterization stays out of
    * scope (no font engine in a headless JVM — SURVEY §7.4); the
    * deterministic raster stand-in is the page-1 byte stream downsampled
    * 2:1 (the 0.5 zoom factor applied to the only axis the corpus has),
    * so every pixel of the preview still travels the full real
    * PNG encode → CRC/inflate/unfilter decode path and the DuckDB oracle
    * can recompute the identical checksum from `documents.text`. */
  def pdfPreview(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val blobRoot = stagedDocBlobs(dir, "pdf", "pdf") {
      textSlices(spark, dir, 200).map { case (id, pages) => (id, graft.sources.Pdf.encode(pages)) }
    }
    BlobDataSource.docBlobs(spark, blobRoot.getAbsolutePath)
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        val page1 = graft.sources.Pdf.decodePages(bytes).head
        // Sample every other *codepoint* (mod 256), mirroring the oracle's
        // ord(substring(...)) % 256 — byte-level getBytes("ISO-8859-1")
        // would silently mangle any codepoint > U+00FF to '?'.
        val raster = page1.codePoints().toArray.zipWithIndex
          .collect { case (cp, i) if i % 2 == 0 => cp % 256 }
        val png = Png.encode(raster, width = 32)
        val img = Png.decode(png) // the preview a reader would see
        val checksum = img.samples.foldLeft(0L)((a, s) => (a * 31 + s) % 2147483647L)
        (id, img.samples.length.toLong, img.width, img.height, checksum)
      }
      .toDF("doc_id", "n_px", "preview_w", "preview_h", "px_checksum")
      .orderBy(col("doc_id"))
  }

  val pdfPreviewOracle: String =
    """WITH d AS (
      |  SELECT doc_id, substring(text, 1, 200) AS p1
      |  FROM documents WHERE length(text) > 0),
      |c AS (
      |  SELECT doc_id,
      |         list_transform(
      |           list_filter(generate_series(1, length(p1)), i -> (i - 1) % 2 = 0),
      |           i -> ord(substring(p1, i, 1)) % 256) AS codes
      |  FROM d)
      |SELECT doc_id,
      |  CAST(len(codes) AS BIGINT) AS n_px,
      |  CAST(32 AS INTEGER) AS preview_w,
      |  CAST(ceil(len(codes) / 32.0) AS INTEGER) AS preview_h,
      |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
      |                   (a, b) -> (a * 31 + b) % 2147483647) AS BIGINT) AS px_checksum
      |FROM c ORDER BY doc_id""".stripMargin

  // --- q100: real WARC/WET ingestion (the Common Crawl shard shape) --------
  /** The pretraining ingest format closed for real: documents stage into
    * 16 genuine multi-record WET-style WARC shards (a warcinfo header
    * record + one `conversion` record per doc, `WARC-Target-URI` carrying
    * the doc identity — the Common Crawl extracted-text layout, ISO
    * 28500), read back whole-file via `binaryFile`, and parsed by the
    * strict record walk in [[graft.sources.Warc]]. Extracted payloads
    * must reproduce `documents.text` byte-for-byte under the bit-exact
    * oracle, so any codec bug — header parse, Content-Length off-by-one,
    * terminator handling — fails loudly.
    *
    * 100 TB shape: this IS how crawl corpora arrive — thousands of
    * multi-record shards, one task per file (uncompressed WARC is not
    * block-splittable; file-level parallelism is the real contract),
    * record decode streaming within the task. The 16-shard staging keeps
    * that file-per-task structure at test scale. */
  // --- q109: the WARC→WET pipeline composed end-to-end ----------------------
  /** The actual Common Crawl conversion job, composed from this
    * library's own codecs: crawl shards are WARC files whose `response`
    * records carry raw HTML (staged here as genuine multi-record shards
    * of `Html.encodePage` pages, 16 docs per shard, doc identity in
    * WARC-Target-URI), and the job reads each shard file-per-task,
    * walks the strict WARC grammar, extracts visible text from the HTML
    * payload with the deterministic-lenience contract — producing
    * exactly the WET rows a pretraining ingest consumes. Output schema
    * and oracle are q60l's VERBATIM: the composition adds the container
    * hop, and any interaction bug between the two codecs (payload
    * byte-length vs string handling, record framing around markup)
    * breaks the string-level bit-exact match loudly. */
  def wetPipeline(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val date = "2024-01-01T00:00:00Z"
    val constPara = "R&D <ok> \"q\" 10<20 done"
    // response records carry the HTTP response AS STORED ON THE WIRE
    // (RFC 9112 — what Common Crawl response records actually hold),
    // cycling the four framings by doc: identity+Content-Length, chunked
    // transfer coding, gzip content coding, chunked-over-gzip. The WET
    // step must unwrap all four (Warc.httpBody); treating the payload as
    // bare HTML would put status lines and chunk-size hex in the corpus.
    val blobRoot = stagedBlobs(dir, "warchttp") { staging =>
      Tables.documents(spark, dir)
        .filter(length(col("text")) > 0)
        .withColumn("toks", expr("filter(split(text, ' '), x -> x != '')"))
        .select(pmod(col("doc_id"), lit(16L)).as("bucket"), col("doc_id"), expr(
          "transform(sequence(0, (size(toks) - 1) div 10), i -> concat_ws(' ', slice(toks, i * 10 + 1, 10)))")
          .as("paras"))
        .groupBy(col("bucket"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("paras")))).as("docs"))
        .as[(Long, Seq[(Long, Seq[String])])]
        .foreachPartition { it: Iterator[(Long, Seq[(Long, Seq[String])])] =>
          it.foreach { case (bucket, docs) =>
            val records = docs.map { case (id, paras) =>
              graft.sources.Warc.Record("response", s"<urn:graft:resp/$id>",
                s"urn:graft:doc/$id", date,
                graft.sources.Warc.httpWrap(
                  graft.sources.Html.encodePage(s"Title $id", s"Doc $id", constPara +: paras)
                    .getBytes(java.nio.charset.StandardCharsets.UTF_8),
                  (id % 4).toInt))
            }
            java.nio.file.Files.write(
              new java.io.File(staging, f"crawl_$bucket%02d.warc").toPath,
              graft.sources.Warc.encode(records))
          }
        }
    }
    spark.read.format("binaryFile").load(blobRoot.getAbsolutePath)
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        graft.sources.Warc.decode(bytes)
          .filter(_.warcType == "response")
          .map { r =>
            (r.targetUri.stripPrefix("urn:graft:doc/").toLong,
              graft.sources.Html.extractText(
                new String(graft.sources.Warc.httpBody(r.payload),
                  java.nio.charset.StandardCharsets.UTF_8)))
          }
      }
      .toDF("doc_id", "extracted")
      .select(col("doc_id"),
        size(split(col("extracted"), "\n")).cast("bigint").as("n_lines"),
        length(col("extracted")).cast("bigint").as("n_chars"),
        col("extracted"))
      .orderBy(col("doc_id"))
  }

  def warcIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val date = "2024-01-01T00:00:00Z"
    val blobRoot = stagedBlobs(dir, "warc") { staging =>
      Tables.documents(spark, dir)
        .select(pmod(col("doc_id"), lit(16L)).as("bucket"), col("doc_id"), col("text"))
        .groupBy(col("bucket"))
        .agg(sort_array(collect_list(struct(col("doc_id"), col("text")))).as("docs"))
        .as[(Long, Seq[(Long, String)])]
        .foreachPartition { it: Iterator[(Long, Seq[(Long, String)])] =>
          it.foreach { case (bucket, docs) =>
            val info = graft.sources.Warc.Record("warcinfo",
              s"<urn:graft:warcinfo/$bucket>", "", date,
              "software: graft\r\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
            val recs = info +: docs.map { case (id, text) =>
              graft.sources.Warc.Record("conversion", s"<urn:graft:rec/$id>",
                s"urn:graft:doc/$id", date,
                Option(text).getOrElse("").getBytes(java.nio.charset.StandardCharsets.UTF_8))
            }
            java.nio.file.Files.write(
              new java.io.File(staging, f"shard_$bucket%02d.warc").toPath,
              graft.sources.Warc.encode(recs))
          }
        }
    }
    spark.read.format("binaryFile").load(blobRoot.getAbsolutePath)
      .select(col("content")).as[Array[Byte]]
      .flatMap { bytes =>
        graft.sources.Warc.decode(bytes)
          .filter(_.warcType == "conversion")
          .map { r =>
            (r.targetUri.stripPrefix("urn:graft:doc/").toLong,
              new String(r.payload, java.nio.charset.StandardCharsets.UTF_8))
          }
      }
      .toDF("doc_id", "doc_text")
      .select(col("doc_id"),
        length(col("doc_text")).cast("bigint").as("n_chars"), col("doc_text"))
      .orderBy(col("doc_id"))
  }

  val warcIngestOracle: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, text AS doc_text
      |FROM documents ORDER BY doc_id""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pages_concat" -> ((s, d) => pagesConcat(s, d)),
    "q02c_paragraph_join" -> ((s, d) => paragraphJoin(s, d)),
    "q03_encoding_fallback" -> ((s, d) => encodingFallback(s, d)),
    "q03b_bom_decode" -> ((s, d) => bomDecode(s, d)),
    "q08_collection_lifecycle" -> ((s, d) => collectionLifecycle(s, d)),
    "q23_hybrid_combine" -> ((s, d) => hybridCombine(s, d)),
    "q60_multimodal_decode" -> ((s, d) => multimodalDecode(s, d)),
    "q60b_multimodal_binaryfile" -> ((s, d) => multimodalBinaryFiles(s, d)),
    "q60c_docx_roundtrip" -> ((s, d) => docxRoundtrip(s, d)),
    "q60d_pdf_roundtrip" -> ((s, d) => pdfRoundtrip(s, d)),
    "q60f_pdf_flate" -> ((s, d) => pdfFlateRoundtrip(s, d)),
    "q60h_pdf_predictor" -> ((s, d) => pdfPredictorRoundtrip(s, d)),
    "q60i_pdf_filter_chains" -> ((s, d) => pdfFilterChainRoundtrip(s, d)),
    "q60j_pdf_objstm" -> ((s, d) => pdfObjStmRoundtrip(s, d)),
    "q60k_tar_bundles" -> ((s, d) => tarBundleRoundtrip(s, d)),
    "q60l_html_extract" -> ((s, d) => htmlExtractRoundtrip(s, d)),
    "q60m_pdf_encrypted" -> ((s, d) => pdfEncryptedRoundtrip(s, d)),
    "q60n_pdf_composite_font" -> ((s, d) => pdfCompositeFontRoundtrip(s, d)),
    "q60p_pdf_simple_encoding" -> ((s, d) => pdfSimpleEncodingRoundtrip(s, d)),
    "q60q_pdf_form_xobjects" -> ((s, d) => pdfFormXObjectRoundtrip(s, d)),
    "q60r_pdf_page_tree" -> ((s, d) => pdfPageTreeRoundtrip(s, d)),
    "q60o_docx_full_text" -> ((s, d) => docxFullTextRoundtrip(s, d)),
    "q109_wet_pipeline" -> ((s, d) => wetPipeline(s, d)),
    "q60g_wav_subformats" -> ((s, d) => wavSubformats(s, d)),
    "q60e_png_roundtrip" -> ((s, d) => pngRoundtrip(s, d)),
    "q60s_jpeg_metadata" -> ((s, d) => jpegMetadataScan(s, d)),
    "q60t_tiff_multipage" -> ((s, d) => tiffRoundtrip(s, d)),
    "q60u_avi_frame_sample" -> ((s, d) => aviFrameSample(s, d)),
    "q60v_audio_trim" -> ((s, d) => audioSilenceTrim(s, d)),
    "q60w_scene_cut" -> ((s, d) => videoSceneCut(s, d)),
    "q140_subtitle_align" -> ((s, d) => subtitleAlign(s, d)),
    "q152_mp3_census" -> ((s, d) => mp3Census(s, d)),
    "q157_mp4_census" -> ((s, d) => mp4Census(s, d)),
    "q153_footer_stats" -> ((s, d) => footerStats(s, d)),
    "q119_csv_quarantine" -> ((s, d) => csvQuarantine(s, d)),
    "q79_dsv2_blobs" -> ((s, d) => dsv2BlobScan(s, d)),
    "q79b_blob_rollup" -> ((s, d) => blobLakeRollup(s, d)),
    "q80_partitioned_lake" -> ((s, d) => partitionedLake(s, d)),
    "q87_csv_roundtrip" -> ((s, d) => csvRoundtrip(s, d)),
    "q89_jsonl_roundtrip" -> ((s, d) => jsonlRoundtrip(s, d)),
    "q89b_jsonl_gzip" -> ((s, d) => jsonlGzipRoundtrip(s, d)),
    "q89c_jsonl_zstd" -> ((s, d) => jsonlZstdRoundtrip(s, d)),
    "q118_schema_evolution" -> ((s, d) => schemaEvolutionRead(s, d)),
    "q94_pdf_preview" -> ((s, d) => pdfPreview(s, d)),
    "q100_warc_ingest" -> ((s, d) => warcIngest(s, d))
  )

  def oracles: Map[String, String] = Map(
    "q01_pages_concat" -> pagesConcatOracle,
    "q02c_paragraph_join" -> paragraphJoinOracle,
    "q03_encoding_fallback" -> encodingFallbackOracle,
    "q03b_bom_decode" -> bomDecodeOracle,
    "q08_collection_lifecycle" -> collectionLifecycleOracle,
    "q23_hybrid_combine" -> hybridCombineOracle,
    "q60_multimodal_decode" -> multimodalDecodeOracle,
    "q60b_multimodal_binaryfile" -> multimodalBinaryFilesOracle,
    // the round trip reproduces q02c's extraction contract exactly, so its
    // oracle applies verbatim — the container codec is the delta under test
    "q60c_docx_roundtrip" -> paragraphJoinOracle,
    // q60d reproduces q01's extraction contract from real PDF bytes
    "q60d_pdf_roundtrip" -> pagesConcatOracle,
    // q60f: same extraction contract, FlateDecode-compressed staging
    "q60f_pdf_flate" -> pagesConcatOracle,
    "q60h_pdf_predictor" -> pagesConcatOracle,
    // q60i: same extraction contract over LZW / ASCII-transport chains
    "q60i_pdf_filter_chains" -> pagesConcatOracle,
    // q60j: same contract over ObjStm-packed PDF 1.5 documents
    "q60j_pdf_objstm" -> pagesConcatOracle,
    // q60k: bundle membership + per-bundle counts are pure doc_id
    // arithmetic, so the oracle predicts the container layout exactly
    "q60k_tar_bundles" -> tarBundleOracle,
    // q60l: the oracle rebuilds the expected extraction verbatim
    "q60l_html_extract" -> htmlExtractOracle,
    // q60m: same extraction contract over RC4-encrypted documents
    "q60m_pdf_encrypted" -> pagesConcatOracle,
    // q60n: same contract over Type0 / ToUnicode composite-font documents
    // (incl. the predefined Identity-H/V no-ToUnicode shapes)
    "q60n_pdf_composite_font" -> pagesConcatOracle,
    // q60p: same contract over simple-font /Encoding /Differences docs
    "q60p_pdf_simple_encoding" -> pagesConcatOracle,
    // q60q: same contract with text split across Form XObjects (Do)
    "q60q_pdf_form_xobjects" -> pagesConcatOracle,
    // q60r: same contract over nested page trees / inherited resources /
    // split /Contents arrays
    "q60r_pdf_page_tree" -> pagesConcatOracle,
    // q60o: the docx2txt loader-path text, reconstructed verbatim in SQL
    "q60o_docx_full_text" -> docxFullTextOracle,
    // q109: the composed WARC→WET job reproduces q60l's contract exactly —
    // the container hop is the delta under test
    "q109_wet_pipeline" -> htmlExtractOracle,
    // q60g: q60b's arithmetic across three staged WAV subformats
    "q60g_wav_subformats" -> wavSubformatsOracle,
    // q60e's decoded pixels equal the text bytes, so q60's full
    // pooled-bucket oracle applies verbatim — the PNG codec is the delta
    "q60e_png_roundtrip" -> multimodalDecodeOracle,
    // q60s: geometry/orientation/progression are doc_id arithmetic, the
    // COM/Exif/scan payloads are pinned in-query — predicted exactly
    "q60s_jpeg_metadata" -> jpegMetadataOracle,
    // q60t: same page-reassembly contract over multi-page TIFF containers
    "q60t_tiff_multipage" -> pagesConcatOracle,
    // q60u: header geometry + sampled-frame reassembly predicted exactly
    "q60u_avi_frame_sample" -> aviFrameSampleOracle,
    // q60v: ltrim/rtrim + rolling hash mirror the whole trim stage
    "q60v_audio_trim" -> audioSilenceTrimOracle,
    // q60w: frame metrics + cut rule + cut-index hash all recomputed
    "q60w_scene_cut" -> videoSceneCutOracle,
    "q140_subtitle_align" -> subtitleAlignOracle,
    "q152_mp3_census" -> mp3CensusOracle,
    "q157_mp4_census" -> mp4CensusOracle,
    "q153_footer_stats" -> footerStatsOracle,
    // q119: quarantine rule inlined so the oracle needs no CSV lake
    "q119_csv_quarantine" -> csvQuarantineOracle,
    "q79_dsv2_blobs" -> dsv2BlobScanOracle,
    "q79b_blob_rollup" -> blobLakeRollupOracle,
    "q80_partitioned_lake" -> partitionedLakeOracle,
    "q87_csv_roundtrip" -> csvRoundtripOracle,
    "q89_jsonl_roundtrip" -> jsonlRoundtripOracle,
    // q89b: the gzip codec hop reproduces q89's contract exactly
    "q89b_jsonl_gzip" -> jsonlRoundtripOracle,
    // q89c: the zstd codec hop reproduces q89's contract exactly
    "q89c_jsonl_zstd" -> jsonlRoundtripOracle,
    // q118: the generation rule is inlined so the oracle needs no lake
    "q118_schema_evolution" -> schemaEvolutionOracle,
    "q94_pdf_preview" -> pdfPreviewOracle,
    "q100_warc_ingest" -> warcIngestOracle
  )
}
