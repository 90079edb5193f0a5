package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StructType}

/** Loaders for the driver's test tables (TESTDATA.md / FIXTURES.md).
  *
  * All reads are plain parquet scans — Catalyst gets predicate pushdown,
  * column pruning and partition pruning for free, which is the whole point
  * at 100 TB: never materialize columns a query doesn't touch.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session-scoped DataFrame memo: every `spark.read.parquet` re-lists
    * the path and re-reads the footer to infer the schema; a bench session
    * touches the same ten tables hundreds of times. Keyed by (session,
    * path) so schemas never leak across sessions or SF dirs; holding the
    * analyzed plan is metadata-only (no rows are pinned — this is what a
    * catalog does for a real lake table).
    *
    * The memo key carries a name/length/mtime fingerprint of the path's
    * data files (the stagedBlobs discipline), so a table regenerated
    * mid-session gets a FRESH relation instead of a memoized plan whose
    * cached file index points at deleted parts. Entries for stopped
    * sessions are purged on the next load so neither the session object
    * nor its listings are retained. */
  private val memo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    memo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val path = s"$dir/$name.parquet"
    val key = s"$path@${dirFingerprint(path)}"
    // Evict SUPERSEDED entries for the same (session, path): a regenerated
    // table changes the fingerprint, and the old entry (pinning the deleted
    // parts' file listing) would otherwise live until the session stops.
    memo.keySet.removeIf(k =>
      (k._1 eq spark) && k._2.startsWith(path + "@") && k._2 != key)
    memo.computeIfAbsent((spark, key), { _ => spark.read.parquet(path) })
  }

  /** A `cell`-partitioned index lake (IVF cells, PQ invlists) with `cell`
    * typed BIGINT, like the long cent_id it was written from: partition
    * inference alone types small cell ids INT. Given in the read schema,
    * `cell` stays a bare partition attribute, so a probe join on it still
    * plants dynamic partition pruning. */
  def cellLake(spark: SparkSession, path: String): DataFrame = {
    val inferred = spark.read.parquet(path).schema
    spark.read.schema(StructType(inferred.map(f =>
      if (f.name == "cell") f.copy(dataType = LongType) else f))).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame       = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame     = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame   = load(spark, dir, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS) in the driver corpus
    * (FIXTURES.md), which Spark 4 rejects by default — with the legacy
    * conf it surfaces as LONG nanos, which we truncate to µs (the same
    * ns→µs truncation DuckDB applies, so oracle comparisons agree).
    * Files from other writers surface as TIMESTAMP or TIMESTAMP_NTZ; a
    * 100 TB lake has mixed writers, so the reader adapts to whatever
    * physical type the footer declares instead of assuming one layout. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw
    }
  }
  /** The text/vector tables get a parallelism FLOOR on top of the plain
    * scan. File-scan parallelism is sized in BYTES (maxPartitionBytes),
    * which is the wrong unit for these two tables: their per-row work
    * downstream (shingling, minhash, per-pair set intersects, vector
    * distances) dwarfs their per-byte cost, and parquet dictionary
    * encoding makes the byte count lie — the sf100 rung's 200k-doc
    * corpus compresses to ~2 MB, so the scan arrives as 1-2 partitions
    * and every downstream stage (and every cached intermediate, and the
    * streamed side of every broadcast join) inherits the collapse.
    * Measured: q32's pair verify ran as 2 tasks on a 28-thread box
    * (>45 min before this floor; the work itself is ~2 CPU-hours of
    * array intersects that should have spread 28 ways).
    *
    * The floor is CONDITIONAL: when the scan already meets the session's
    * shuffle parallelism — the genuine 100 TB layout, where files give
    * thousands of splits — it is the identity and costs nothing. When it
    * fires, it costs one shuffle of a table that is by construction small
    * on disk, and it hash-partitions on the table's key so the layout is
    * deterministic run-to-run. Relational tables (lineitem, orders) stay
    * un-floored: their consumers are shuffle-bound joins/aggregations
    * whose own exchanges redistribute anyway, so an upstream repartition
    * would be a pure extra pass. */
  private val flooredMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()

  /** Source fingerprint for the memo key: name/length/mtime of the parquet
    * dir's data files, the stagedBlobs discipline. Without it, a table
    * regenerated mid-session would serve a memoized plan whose cached file
    * index still points at the deleted old parts. */
  private val warnedEmpty =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def dirFingerprint(path: String): String = {
    val root = new java.io.File(path)
    // single-file parquet fingerprints itself; dirs walk RECURSIVELY so
    // hive-partitioned layouts (key=val subdirs) fingerprint their leaves
    def walk(f: java.io.File): Array[java.io.File] =
      if (f.isFile) Array(f)
      else Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
        .filterNot(_.getName.startsWith(".")).flatMap(walk)
    val files = walk(root).filter(f => f.isFile && !f.getName.startsWith("."))
    if (files.isEmpty && warnedEmpty.add(path))
      // non-local paths (hdfs://, s3://) or vanished dirs reach here: the
      // memo degrades to always-memoized — make that visible, not silent
      // (once per path: this sits on the per-load hot path)
      System.err.println(s"[tables] dirFingerprint: empty listing for $path " +
        "(non-local or missing path) — staleness detection inactive for it")
    files.sortBy(f => f.getAbsolutePath)
      .map(f => s"${f.getAbsolutePath.drop(root.getAbsolutePath.length)}:${f.length}:${f.lastModified}")
      .mkString("|").hashCode.toString
  }

  /** ≥ this many rows per partition before the floor adds one: at the
    * measured per-doc costs (shingle + minhash ~0.5 ms/doc, pair verify
    * far above) 2k rows keeps every task >100 ms of real work, while a
    * 5k-row corpus gets 3 partitions — not 32 — so the floor's repartition
    * stays proportional to the data instead of taxing small scales. */
  private val FloorRowsPerTask = 2000L

  private def floored(spark: SparkSession, dir: String, name: String,
                      key: String): DataFrame = {
    val df = load(spark, dir, name) // outside the lambda: same-map recursion
    flooredMemo.keySet.removeIf(k => k._1.sparkContext.isStopped)
    val path = s"$dir/$name.parquet"
    val fkey = s"$path@${dirFingerprint(path)}"
    // same superseded-entry eviction as the plain memo: a regenerated
    // table must not leave a floored plan pinning deleted parts
    flooredMemo.keySet.removeIf(k =>
      (k._1 eq spark) && k._2.startsWith(path + "@") && k._2 != fkey)
    flooredMemo.computeIfAbsent((spark, fkey), { _ =>
      val shuffleParts = spark.conf.get("spark.sql.shuffle.partitions").toLong
      // bare-scan count compiles to parquet footer metadata — no data pass
      val rows = df.count()
      val target = math.min(shuffleParts,
        (rows + FloorRowsPerTask - 1) / FloorRowsPerTask).toInt
      if (df.rdd.getNumPartitions >= target) df
      else df.repartition(target, org.apache.spark.sql.functions.col(key))
    })
  }
  def documents(spark: SparkSession, dir: String): DataFrame =
    floored(spark, dir, "documents", "doc_id")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    floored(spark, dir, "embeddings", "vec_id")
}
