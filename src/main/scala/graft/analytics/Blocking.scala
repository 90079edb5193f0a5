package graft.analytics

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success}

import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import graft.core.Caching._

/** Bounded candidate generation for blocking-based near-dup detection.
  *
  * A within-block self-join is quadratic in block size. Block keys chosen
  * for recall (first-k-token prefix, coarse cluster label) have unbounded
  * size in the wild: a boilerplate-heavy corpus collapses thousands of
  * docs into one hot block and the pair join explodes. Guard: count rows
  * per block and deterministically hash-salt blocks over `maxBlock` rows
  * into ~`maxBlock`-sized sub-blocks, so pair generation is O(m·maxBlock)
  * per hot block instead of O(m²).
  *
  * Two primitives with different contracts:
  *
  *  - [[saltOversized]] CAPS pair generation at O(m·maxBlock) per hot
  *    block by dropping cross-sub-block pairs — right for candidate
  *    generation where a banded-LSH path (q32/q36) owns recall, wrong
  *    for any operator whose oracle is the complete pair set.
  *  - [[selfPairs]] keeps the complete O(m²) pair output (that IS the
  *    operator's semantic result) and caps TASK size instead, splitting
  *    a hot block into balanced sub-block-pair join tasks. This is what
  *    the exact-pair operators (q31/q34/q77/q112) use.
  */
object Blocking {

  /** Separator between block key and salt. U+0001 cannot appear in any
    * block key this engine produces (token prefixes and cluster labels are
    * printable), so a genuine key like "x#0" can never merge with hot-block
    * "x" sub-block 0 — cross-block candidate pairs are impossible. */
  private val SaltSep = "\u0001"

  /** Adds a `salted_block` STRING column to `df`. Blocks with ≤ maxBlock
    * rows keep their key verbatim; larger blocks are split into
    * ceil(n/maxBlock) hash-salted sub-blocks (`key<U+0001>salt`). Deterministic:
    * the salt is a pure function of the id column, independent of
    * partitioning. Cost: one count agg + one (AQE-broadcastable) join on
    * the block key — no per-block window, so no hot single-task sort.
    */
  def saltOversized(df: DataFrame, blockCol: String, idCol: String,
                    maxBlock: Int): DataFrame = {
    require(maxBlock > 0, "maxBlock must be positive")
    val counts = df.groupBy(col(blockCol)).agg(count(lit(1)).as("_block_n"))
    df.join(counts, Seq(blockCol))
      .withColumn("_nsub",
        ceil(col("_block_n") / lit(maxBlock.toDouble)).cast("int"))
      .withColumn("salted_block",
        when(col("_nsub") <= 1, col(blockCol).cast("string"))
          .otherwise(concat(col(blockCol).cast("string"), lit(SaltSep),
            pmod(hash(col(idCol)), col("_nsub")).cast("string"))))
      .drop("_block_n", "_nsub")
  }

  /** All unordered within-block row pairs, skew-BALANCED but LOSSLESS.
    *
    * `saltOversized` caps a hot block's pair generation by dropping
    * cross-sub-block pairs — a recall trade that is right for candidate
    * generation with an LSH fallback, and wrong for operators whose
    * CONTRACT is the complete thresholded pair set (q31's oracle is the
    * plain block equi-join; the sf100 sweep caught the 25,519-pair gap
    * the moment a rung block crossed the cap). The fix is to cap TASK
    * size, not output: a block of n rows splits into s = ceil(n/maxBlock)
    * sub-blocks, and each unordered sub-block pair (i ≤ j) becomes its
    * own join task of ≤ maxBlock² candidate pairs. A row in sub-block g
    * replicates to tasks (g, j) for j ≥ g on the left and (i, g) for
    * i ≤ g on the right — s+1 copies per row, O(n·s) replication against
    * the O(n²/2) pair output that is the operator's semantic result.
    * Every unordered pair appears in exactly one task: same-sub pairs in
    * (g, g) deduped by the id filter, cross-sub pairs in (min, max) with
    * the sides fixed by membership — so no distinct pass is needed.
    *
    * Output: two struct columns `_1`/`_2` holding the full input row
    * (block key included, original type) for the lower-`idCol` and
    * higher-`idCol` member of each pair. Deterministic: sub-block assignment is a pure
    * function of `idCol`, independent of partitioning. Rows with a null
    * block key pair with nothing, and rows with equal ids never pair.
    *
    * Small inputs pair on the driver. A re-upload's dedup input is a few
    * thousand (doc, band key) rows with a handful of pairs, and there the
    * count join, the cache build and the task join are all fixed per-job
    * cost. So when the block key is STRING or integral, the id is
    * integral and the optimizer's size estimate of the input is at most
    * [[LocalBytes]], the call first reads back at most [[LocalRows]] + 1
    * input rows with ONE job that keeps the input's parallelism (each of
    * its p tasks stops after that many rows or once its bytes pass
    * [[LocalBytes]] / p, and the job is cancelled as soon as a task hits
    * its byte cap or the running row total passes [[LocalRows]], so at
    * most [[LocalBytes]] plus one row per task reaches the driver). When
    * the whole input came back:
    *  - if no id is null and the pair output, counted from the per-block
    *    row counts and byte sums before any pair is built, is at most
    *    [[LocalPairs]] pairs and [[LocalBytes]] bytes, the driver makes
    *    every within-block pair and returns a local relation with the
    *    distributed result's schema;
    *  - otherwise the task join above runs over the collected rows, with
    *    the block counts taken on the driver, so the caller's pipeline is
    *    not computed again.
    * Like the small path of [[Clusters]], both are EAGER: the read runs at
    * call time, not when the returned frame runs, so it runs even where
    * the caller's plan would later prune the pairs. An input estimated
    * over [[LocalBytes]] (or of unknown size, or of other key or id types)
    * starts no read and takes the task join over `df` itself, lazily, as
    * before; an input the estimate puts under the bound that is larger in
    * fact pays the cancelled read, which runs its upstream shuffles once
    * more than the task join alone.
    *
    * The bounds are sized from driver memory, not configured. Pair and
    * input bytes are counted as Spark's unsafe row bytes:
    *  - [[LocalBytes]] = 16 MB caps both the collected input and the
    *    built pairs (each pair holds copies of both rows, as the local
    *    relation stores it). The driver holds the input, the pair rows
    *    and the relation's unsafe copy at once, about 3 × 16 MB. The
    *    optimizer's estimate is held to the same 16 MB, but it is not
    *    the unsafe size: it takes a string as 20 bytes and an array as
    *    one element, so it read 5× over a re-upload's keys (0.8 MB) and
    *    a seventh of q31's shingle rows (0.6 MB for 4.8 MB at sf0.1).
    *  - [[LocalPairs]] = 1 << 17 pairs caps the per-pair object overhead
    *    (about 100 bytes each, 13 MB) when the rows themselves are tiny.
    *  - [[LocalRows]] = 1 << 16 input rows bounds the read whatever the
    *    row size, and the per-block grouping on the driver.
    * A re-upload (3,472 rows, 3 pairs) and q34 at sf0.01 (12,344 pairs of
    * 64-d double rows, about 14 MB) pair on the driver; q34 at sf0.1
    * (199,666 pairs, about 230 MB) runs the task join over its 2,000
    * collected rows. */
  def selfPairs(df: DataFrame, blockCol: String, idCol: String,
                maxBlock: Int): DataFrame =
    selfPairs(df, blockCol, idCol, maxBlock, LocalRows, LocalPairs, LocalBytes)

  /** Driver-path bounds (sizing in [[selfPairs]]'s doc). */
  private val LocalRows = 1 << 16
  private val LocalPairs = 1L << 17
  private val LocalBytes = 16L << 20

  /** [[selfPairs]] with the driver-path bounds as parameters,
    * `0 ≤ localRows < Int.MaxValue`: `localRows` = 0 always runs the task
    * join over `df` (with no read); `Int.MaxValue - 1` rows and
    * `Long.MaxValue` pairs and bytes pair every input with a STRING or
    * integral key and a non-null integral id on the driver; `localPairs`
    * = -1 runs the task join over the collected rows. */
  private[analytics] def selfPairs(df: DataFrame, blockCol: String, idCol: String,
                                   maxBlock: Int, localRows: Int, localPairs: Long,
                                   localBytes: Long): DataFrame = {
    require(maxBlock > 0, "maxBlock must be positive")
    val schema = df.schema
    val (b, i) = (schema.fieldIndex(blockCol), schema.fieldIndex(idCol))
    val (keyT, id) = (schema(b).dataType, longId(schema(i).dataType))
    val collected =
      if (localRows > 0 && !df.isStreaming && keyType(keyT) && id.isDefined)
        boundedRows(df, localRows, localBytes)
      else None
    collected match {
      case None =>
        val payload = df.columns // block key included: callers project it typed
        val counts = df.groupBy(col(blockCol)).agg(count(lit(1)).as("_block_n"))
        val counted = df.join(counts, Seq(blockCol)).select(col(blockCol).cast("string").as("_blk"),
          col("_block_n"), struct(payload.map(col): _*).as("_row"))
        // both replication sides read this relation; without the cache the
        // caller's (often expensive) feature columns compute twice
        // (session-lifetime contract: see graft.core.Caching)
        taskJoin(counted.planCache(), idCol, maxBlock)
      case Some(rows) =>
        // UTF8String and boxed integers compare by value, as their STRING casts do
        val blocks = rows.filterNot(_.isNullAt(b)).groupBy(_.get(b, keyT)).values.toSeq
        if (!rows.exists(_.isNullAt(i)) && pairsFit(blocks, localPairs, localBytes))
          localFrame(df.sparkSession, Seq("_1" -> schema, "_2" -> schema), localPairsOf(blocks, id.get, i))
        else {
          val counted = localFrame(df.sparkSession, Seq("_block_n" -> LongType, "_row" -> schema),
              blocks.flatMap(blk => blk.map(r => InternalRow(blk.length.toLong, r))))
            .select(col("_row")(blockCol).cast("string").as("_blk"), col("_block_n"), col("_row"))
          taskJoin(counted, idCol, maxBlock)
        }
    }
  }

  /** Block key types whose grouping by value equals the task join's
    * grouping on the key cast to STRING. */
  private def keyType(t: DataType): Boolean = t match {
    case _: StringType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The reader of an integral id column as a Long, for the driver path. */
  private def longId(t: DataType): Option[(InternalRow, Int) => Long] = t match {
    case LongType => Some((r, i) => r.getLong(i))
    case IntegerType => Some((r, i) => r.getInt(i).toLong)
    case ShortType => Some((r, i) => r.getShort(i).toLong)
    case ByteType => Some((r, i) => r.getByte(i).toLong)
    case _ => None
  }

  /** All of `df` as unsafe row copies, or None when it has more than
    * `maxRows` rows or more than `maxBytes` bytes. An input whose
    * optimizer size estimate is over `maxBytes`, or unknown (Spark takes
    * an RDD's size as `Long.MaxValue`), is declined with no job, so it
    * never runs its upstream stages for the read. */
  private def boundedRows(df: DataFrame, maxRows: Int, maxBytes: Long): Option[Array[UnsafeRow]] = {
    val qe = Bridge.freshExecution(df)
    if (qe.optimizedPlan.stats.sizeInBytes > maxBytes) None else readBounded(qe.toRdd, df.schema, maxRows, maxBytes)
  }

  /** One job with one task per partition of `rdd`: each task stops after
    * `maxRows + 1` rows or once its bytes pass `maxBytes / partitions`,
    * and a task that stopped on its byte cap, or a running row total over
    * `maxRows`, cancels the job. So the driver receives at most `maxBytes`
    * plus one row per partition, however many tasks finish before the
    * cancel. */
  private def readBounded(rdd: RDD[InternalRow], schema: StructType, maxRows: Int,
                          maxBytes: Long): Option[Array[UnsafeRow]] = {
    val parts = new Array[Array[UnsafeRow]](rdd.getNumPartitions)
    val taskBytes = maxBytes / math.max(parts.length, 1)
    var rows = 0L
    @volatile var over = false
    @volatile var job: FutureAction[Unit] = null
    def cancel(): Unit = Option(job).foreach(_.cancel(Some("selfPairs: input over the driver-path bound")))
    // the handler runs on the scheduler's event thread, one task result at a time
    job = rdd.sparkContext.submitJob[InternalRow, Array[UnsafeRow], Unit](rdd,
      boundedTake(schema, maxRows, taskBytes), parts.indices, (p, part) => if (!over) {
        parts(p) = part
        rows += part.length
        if (rows > maxRows || part.iterator.map(_.getSizeInBytes.toLong).sum > taskBytes) {
          over = true
          cancel()
        }
      }, ())
    if (over) cancel() // passed a bound before `job` was assigned
    Await.ready(job, Duration.Inf)
    job.value.get match {
      case _ if over => None
      case Failure(e) => throw e
      case Success(_) => Some(parts.flatten)
    }
  }

  /** The task side of [[readBounded]]: kept out of its closure so the
    * task captures only the schema and the caps. */
  private def boundedTake(schema: StructType, maxRows: Int, maxBytes: Long)
      : Iterator[InternalRow] => Array[UnsafeRow] = it => {
    val proj = UnsafeProjection.create(schema)
    val out = Array.newBuilder[UnsafeRow]
    var (n, bytes) = (0, 0L)
    while (it.hasNext && n <= maxRows && bytes <= maxBytes) {
      val r = proj(it.next()).copy()
      out += r
      n += 1
      bytes += r.getSizeInBytes
    }
    out.result()
  }

  /** Whether the within-block pairs of `blocks` stay within both bounds,
    * counted from the block sizes and byte sums alone. A pair row is its
    * null bits and two offset words, then copies of both rows. */
  private def pairsFit(blocks: Seq[Array[UnsafeRow]], maxPairs: Long, maxBytes: Long): Boolean = {
    var (pairs, bytes) = (0L, 0L)
    for (blk <- blocks) {
      val (n, sum) = (blk.length.toLong, blk.iterator.map(_.getSizeInBytes.toLong).sum)
      pairs += n * (n - 1) / 2
      bytes += n * (n - 1) / 2 * 24 + sum * (n - 1)
    }
    pairs <= maxPairs && bytes <= maxBytes
  }

  /** Every unordered within-block pair as (lower-id row, higher-id row);
    * rows with equal ids never pair. */
  private def localPairsOf(blocks: Seq[Array[UnsafeRow]], id: (InternalRow, Int) => Long,
                           i: Int): Seq[InternalRow] = {
    val pairs = Array.newBuilder[InternalRow]
    for (blk <- blocks; x <- blk.indices; y <- x + 1 until blk.length) {
      val (l, r) = (blk(x), blk(y))
      val (il, ir) = (id(l, i), id(r, i))
      if (il < ir) pairs += InternalRow(l, r)
      else if (ir < il) pairs += InternalRow(r, l)
    }
    pairs.result().toSeq
  }

  /** A local relation of non-null columns over rows built on the driver. */
  private def localFrame(spark: SparkSession, cols: Seq[(String, DataType)],
                         rows: Seq[InternalRow]): DataFrame =
    Bridge.ofRows(spark, LocalRelation(DataTypeUtils.toAttributes(
      StructType(cols.map { case (n, t) => StructField(n, t, nullable = false) })), rows))

  /** The skew-balanced task join of [[selfPairs]] over `counted`
    * (`_blk`, `_block_n`, `_row`): every row with its block's row count. */
  private def taskJoin(counted: DataFrame, idCol: String, maxBlock: Int): DataFrame = {
    val based = counted
      .withColumn("_s", ceil(col("_block_n") / lit(maxBlock.toDouble)).cast("int"))
      .withColumn("_g", pmod(hash(col("_row")(idCol)), col("_s")))
    val aSide = based
      .withColumn("_j", explode(sequence(col("_g"), col("_s") - 1)))
      .select(concat(col("_blk"), lit(SaltSep), col("_g"), lit(":"), col("_j")).as("_task"),
        col("_g").as("_ga"), col("_row").as("_l"))
    val bSide = based
      .withColumn("_i", explode(sequence(lit(0), col("_g"))))
      .select(concat(col("_blk"), lit(SaltSep), col("_i"), lit(":"), col("_g")).as("_task"),
        col("_g").as("_gb"), col("_row").as("_r"))
    val lo = col("_l")(idCol) < col("_r")(idCol)
    aSide.join(bSide, Seq("_task"))
      // same-sub tasks carry both orientations: keep one. Cross-sub tasks
      // carry each pair once with fixed sides: keep all.
      .filter(col("_ga") < col("_gb") || lo)
      .select(when(lo, col("_l")).otherwise(col("_r")).as("_1"),
        when(lo, col("_r")).otherwise(col("_l")).as("_2"))
  }

  /** Diagnostic: per-block row counts above the cap — what a pipeline
    * would log before salting kicks in (no silent truncation). */
  def oversizedBlocks(df: DataFrame, blockCol: String, maxBlock: Int): DataFrame =
    df.groupBy(col(blockCol)).agg(count(lit(1)).as("block_n"))
      .filter(col("block_n") > maxBlock)
      .orderBy(desc("block_n"), col(blockCol))
}
