package graft.vector

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{PqNearestCellExpr, PqNearestExpr, VectorFns}

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011 — public algorithm): split a D-dim vector
  * into M subvectors, k-means each subspace to K centroids, and store each
  * vector as M single-byte codes. 64-d float embeddings (256 B) become
  * 8 B — the 32× compression that makes billion-vector (100 TB) corpora
  * searchable from executor memory, with asymmetric-distance (ADC) scoring
  * against a broadcast lookup table instead of the raw vectors.
  *
  * The codebook is a BOUNDED DICTIONARY (M×K = 128 rows here), corpus-size
  * independent, so it lives on the driver (the MLlib KMeans pattern, r19)
  * and — r20 — rides into every distributed pass as a LITERAL inside
  * [[graft.functions.PqNearestExpr]] instead of a broadcast join: nearest-
  * code assignment is a narrow per-row argmin (no join, no K-way row
  * blowup, no min_by exchange), each Lloyd round is exactly ONE
  * distributed hash-aggregate job, and the encode pass is pure map work —
  * at 100 TB it pipelines into whatever scan feeds it. Training shuffles
  * only bounded (m, code, sums) aggregates, never payload vectors.
  *
  * Determinism: k-means is seeded from the first K vectors per subspace
  * ([[build]]), ties in assignment break toward the lower code, and
  * centroid means are exact scaled-long sums (order-insensitive) —
  * reproducible run-to-run on fixed data (spec'd), and bit-identical to
  * the r18 join+min_by form (the q38/q39 oracle hash gate pins this).
  *
  * The PQ rungs of the ANN ladder (q38/q39 in-query, q38b/q39b from the
  * persisted index) are one [[build]] and one [[search]]: the geometry
  * below is decided here once, the search is an optional coarse-cell
  * probe, an ADC shortlist, then [[TopK.rerank]].
  */
object Pq {

  /** Index geometry: M subspaces × K codes of Dsub dims (64-d vectors →
    * 8-byte codes), NProbe coarse cells per question (IVF-PQ), and an ADC
    * shortlist of Shortlist ids per question for the exact re-rank. */
  val M = 8
  val K = 16
  val Dsub = 8
  val NProbe = 4
  val Shortlist = 100

  /** Driver-resident codebook rows: (m, code, cv). */
  type Codebook = Seq[(Int, Int, Seq[Double])]

  /** A PQ index over unit vectors: the codebook on the driver; for IVF-PQ
    * the coarse centroids (cent_id, cv), ≤256 rows; the inverted lists
    * (vec_id, codes [, cell]). Both relations are lazy. */
  final case class Index(codebook: Codebook, centroids: Option[DataFrame], lists: DataFrame)

  private def codebookDf(spark: SparkSession, cb: Codebook): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(cb.map { case (m, c, v) => Row(m, c, v) }, 1),
      StructType(Seq(StructField("m", IntegerType),
        StructField("code", IntegerType), StructField("cv", ArrayType(DoubleType)))))

  private def centroidsDf(spark: SparkSession, cents: Seq[(Long, Seq[Double])]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(cents.map { case (id, v) => Row(id, v) }, 1),
      StructType(Seq(StructField("cent_id", LongType),
        StructField("cv", ArrayType(DoubleType)))))

  /** Collect a bounded codebook DataFrame to the driver. */
  private def collectCodebook(codebook: DataFrame): Codebook =
    codebook.select(col("m").cast("int"), col("code").cast("int"), col("cv"))
      .collect().toSeq
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))

  /** `iters` Lloyd rounds from `init`. Empty cells keep their previous
    * centroid so the codebook never shrinks. Returns the driver-resident
    * codebook with exactly the init's (m, code) key set.
    *
    * Each round is ONE distributed job: a narrow literal-codebook argmin
    * (no broadcast build, no assignment exchange — r20) feeding one hash
    * aggregate whose shuffle carries dsub scaled-long sums + a count per
    * (m, code) cell — 128 rows of partials regardless of corpus size.
    * (r19 measured the predecessor ladder: a lazy-localCheckpoint
    * materialization + a query-side broadcast-build job per round; r18's
    * posexplode + two-level groupBy additionally shuffled dsub× the rows.)
    *
    * The means' SUMs run over SCALED LONGS so they are exact and therefore
    * order-insensitive — a double sum's value depends on shuffle-merge
    * arrival order, which would make the trained codebook (and every
    * downstream code) jitter run-to-run. Inputs quantize to 2⁻³⁴
    * (≈6e-11 — far below any k-means-meaningful difference) and the
    * integer adds run at double-sum speed (a DECIMAL sum measured
    * +1.2 s/iteration at the 16×-docs rung). |x| ≤ 1 after
    * normalization ⇒ overflow headroom is 2²⁹ (~537 M) members per
    * cell; beyond that, shard cells or fall back to DECIMAL. */
  def trainCodebook(sub: DataFrame, init: DataFrame, iters: Int): Codebook = {
    var cb: Codebook = collectCodebook(init)
    require(cb.nonEmpty, "Pq.trainCodebook: empty init codebook")
    // subvector width is a codebook property — read it off the (bounded,
    // driver-resident) init instead of threading a parameter
    val dsub = cb.head._3.length
    val scale = 17179869184L // 2^34
    val sums = (0 until dsub).map(p =>
      sum(expr(s"cast(round(sv[$p] * $scale) as bigint)")).as(s"s$p"))
    for (_ <- 1 to iters) {
      val means = sub
        .select(col("m"), PqNearestExpr.nearest(col("m"), col("sv"), cb).as("code"),
          col("sv"))
        .groupBy(col("m"), col("code"))
        .agg(count(lit(1)).as("n"), sums: _*)
        .collect()
        .map { r =>
          val n = r.getLong(2)
          (r.getInt(0), r.getInt(1)) ->
            (0 until dsub).map { p =>
              if (r.isNullAt(3 + p))
                throw new IllegalStateException(
                  s"Pq.trainCodebook: subvector shorter than dsub=$dsub at " +
                    s"(m=${r.getInt(0)}, code=${r.getInt(1)}, pos=$p) — " +
                    "ragged input vectors")
              r.getLong(3 + p) / (n * scale.toDouble)
            }
        }.toMap
      // empty cells keep their previous centroid (bounded driver-side map)
      cb = cb.map { case (m, c, cv) => (m, c, means.getOrElse((m, c), cv)) }
    }
    cb
  }

  /** Code arrays straight off the vectors: appends `codes` ARRAY<INT>,
    * the M per-subspace argmins of `v` ARRAY<DOUBLE> in m-ascending order.
    * Fully NARROW — the argmins run inside one projection, so the encode
    * pass needs no explosion, no regroup, and no exchange at all (r20; the
    * 100 TB shape: codes pipeline out of the corpus scan). */
  def encodeV(vecs: DataFrame, cb: Codebook, m: Int, dsub: Int): DataFrame =
    vecs.withColumn("codes", transform(sequence(lit(0), lit(m - 1)), mm =>
      PqNearestExpr.nearest(mm, slice(col("v"), mm * lit(dsub) + lit(1), lit(dsub)), cb)))

  /** Per-question flattened ADC table: (query_id, qv) → (query_id, dts)
    * where dts[m·K + code] = ‖sv_m − cv_(m,code)‖². Narrow projection
    * against the literal codebook — replaces the broadcast-join + regroup
    * form (r20). Layout matches the (m, code)-ascending order the scoring
    * expression indexes into (codes dense 0..K−1 per m, the standing
    * q38/q39 seeding contract). */
  private def adcTable(questions: DataFrame, cb: Codebook): DataFrame = {
    val sorted = cb.sortBy(t => (t._1, t._2))
    val cvLit = typedLit(sorted.map(_._3))
    questions.select(col("query_id"),
      transform(sequence(lit(0), lit(sorted.length - 1)), i => {
        val mi = floor(i / lit(K)).cast("int")
        val sv = slice(col("qv"), mi * lit(Dsub) + lit(1), lit(Dsub))
        val cv = element_at(cvLit, i + lit(1))
        // same fold order as the r19 join form's
        // aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)), 0D, +)
        aggregate(zip_with(sv, cv, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
      }).as("dts"))
  }

  /** One build over unit vectors `vecs`(vec_id, v), which the caller
    * caches: train the codebook (3 Lloyd rounds seeded from the first K
    * vectors, over a subvector explosion cached only while training) and
    * encode every vector. With coarse `seeds`(vec_id, v) — IVF-PQ — the
    * bounded seed table is collected once, so every list row carries its
    * nearest cell in the same narrow projection as its codes, and it
    * becomes the centroid relation the search probes. */
  def build(vecs: DataFrame, seeds: Option[DataFrame]): Index = {
    val sub = vecs.select(col("vec_id").as("id"),
      posexplode(expr(s"transform(sequence(0, ${M - 1}), m -> slice(v, m * $Dsub + 1, $Dsub))"))
        .as(Seq("m", "sv")))
      .cache()
    val cb = try {
      trainCodebook(sub, sub.filter(col("id") < K)
        .select(col("m"), col("id").cast("int").as("code"), col("sv").as("cv")), iters = 3)
    } finally sub.unpersist(blocking = false)
    val coded = encodeV(vecs, cb, M, Dsub)
    seeds match {
      case None => Index(cb, None, coded.select(col("vec_id"), col("codes")))
      case Some(seedRows) =>
        val cents = seedRows.select(col("vec_id"), col("v")).collect().toSeq
          .map(r => (r.getLong(0), r.getSeq[Double](1)))
        Index(cb, Some(centroidsDf(vecs.sparkSession, cents)),
          coded.select(col("vec_id"), col("codes"),
            PqNearestCellExpr.nearestCell(col("v"), cents).as("cell")))
    }
  }

  /** Persist an IVF-PQ build under `root`: `codebook` (M×K rows),
    * `centroids` (≤256 rows) and `invlists` (vec_id, codes) PARTITIONED
    * BY cell, so a probe reads NProbe directories. */
  def save(index: Index, root: String): Unit = {
    val centroids = index.centroids.getOrElse(throw new IllegalArgumentException(
      "Pq.save: the invlists lake is cell-partitioned; build with coarse seeds"))
    codebookDf(index.lists.sparkSession, index.codebook).coalesce(1).write.parquet(s"$root/codebook")
    centroids.coalesce(1).write.parquet(s"$root/centroids")
    index.lists.write.partitionBy("cell").parquet(s"$root/invlists")
  }

  /** The build [[save]] wrote: the codebook (M×K rows) read back to the
    * driver for the ADC tables; the invlists lake and, with `probed`, the
    * centroids read lazily. Without `probed` the search scans every list
    * (no cell column). */
  def load(spark: SparkSession, root: String, probed: Boolean): Index = {
    val lists = graft.core.Tables.cellLake(spark, s"$root/invlists")
    val cb = collectCodebook(spark.read.parquet(s"$root/codebook"))
    if (!probed) Index(cb, None, lists.select(col("vec_id"), col("codes")))
    else Index(cb, Some(spark.read.parquet(s"$root/centroids")), lists)
  }

  /** Each question's NProbe nearest coarse cells by ⟨qv, cv⟩ (ties to the
    * lower cent_id): (query_id, cell). Tiny, so it broadcasts, and on a
    * cell-partitioned lake the cell join plants dynamic partition pruning. */
  private def probe(questions: DataFrame, centroids: DataFrame): DataFrame =
    questions.crossJoin(broadcast(centroids))
      .withColumn("cdot", VectorFns.dot(col("qv"), col("cv")))
      .withColumn("prank", row_number().over(
        Window.partitionBy("query_id").orderBy(desc("cdot"), asc("cent_id"))))
      .filter(col("prank") <= NProbe)
      .select(col("query_id"), col("cent_id").as("cell"))

  /** One search: unit-vector questions(query_id, qv) against `index` —
    * the coarse-cell probe when the index has centroids, then every
    * scanned list row scored by an ADC lookup-sum against the question's
    * broadcast table (on unit vectors ‖q−x‖² = 2·(1−cos), so ascending ADC
    * approximates descending cosine), the Shortlist lowest per question
    * (ties to the lower vec_id), then the exact re-rank to top k against
    * `vectors`(vec_id, v) with unit norms. Output (query_id, vec_id
    * [, cell], adc_dist, cosine, rank). */
  def search(index: Index, questions: DataFrame, vectors: DataFrame, k: Int): DataFrame = {
    val dt = adcTable(questions, index.codebook)
    val (scanned, cell) = index.centroids match {
      case None => (index.lists.crossJoin(broadcast(dt)), Nil)
      case Some(centroids) =>
        (index.lists.join(broadcast(probe(questions, centroids)), Seq("cell"))
          .join(broadcast(dt), Seq("query_id")), Seq(col("cell")))
    }
    val shortlist = scanned
      .withColumn("adc",
        expr(s"aggregate(sequence(0, ${M - 1}), 0D, (acc, m) -> acc + dts[m * $K + codes[m]])"))
      .withColumn("srank", row_number().over(
        Window.partitionBy("query_id").orderBy(asc("adc"), asc("vec_id"))))
      .filter(col("srank") <= Shortlist)
      .select(Seq(col("query_id"), col("vec_id")) ++ cell :+ round(col("adc"), 6).as("adc_dist"): _*)
    TopK.rerank(shortlist, questions.withColumn("qn", lit(1.0)),
      vectors.select(col("vec_id"), col("v"), lit(1.0).as("n")), k)
  }
}
