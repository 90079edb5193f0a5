package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

import graft.core.Tables
import graft.streaming.EventStreams

/** Batch registrations of the S2/S3 streaming transforms (SURVEY §2.7):
  * the SAME EventStreams functions run here over the batch `events` table
  * (watermark a no-op) and over MemoryStream in StreamingSpec — the
  * batch≡stream differential is the unit test, the batch result is the
  * driver-checked oracle (tumbling ≡ epoch-floor bucketing, sliding ≡ the
  * two enclosing slide-aligned windows, session ≡ gaps-and-islands SQL).
  */
object StreamQueries {

  def tumbling(spark: SparkSession, dir: String): DataFrame =
    EventStreams.tumblingCounts(Tables.events(spark, dir))
      .orderBy(col("window_start_us"), col("event_type"))

  val tumblingOracle: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |  event_type, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin

  def sliding(spark: SparkSession, dir: String): DataFrame =
    EventStreams.slidingCounts(Tables.events(spark, dir))
      .orderBy(col("window_start_us"), col("event_type"))

  val slidingOracle: String =
    """WITH e AS (
      |  SELECT event_type,
      |         unnest([ (epoch_us(ts) // 1800000000) * 1800000000 - 1800000000,
      |                  (epoch_us(ts) // 1800000000) * 1800000000 ]) AS window_start_us
      |  FROM events)
      |SELECT window_start_us, event_type, count(*) AS n_events
      |FROM e GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin

  def session(spark: SparkSession, dir: String): DataFrame =
    EventStreams.sessionCounts(Tables.events(spark, dir))
      .orderBy(col("user_id"), col("session_start_us"))

  val sessionOracle: String =
    """WITH o AS (
      |  SELECT user_id, value, event_id, epoch_us(ts) AS us,
      |         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events),
      |  flagged AS (
      |    SELECT user_id, value, event_id, us,
      |           CASE WHEN prev_us IS NULL OR us - prev_us >= 300000000 THEN 1 ELSE 0 END AS new_s
      |    FROM o),
      |  sess AS (
      |    -- the running sum MUST order exactly like the lag above
      |    -- ((us, event_id), not us alone): with duplicate timestamps a
      |    -- ROWS frame ordered on the tie-broken column only is free to
      |    -- slice the tied run around the new_s=1 row, splitting one
      |    -- session into two rows with identical bounds
      |    SELECT user_id, value, us,
      |           sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                            ROWS UNBOUNDED PRECEDING) AS sid
      |    FROM flagged)
      |SELECT min(us) AS session_start_us,
      |       max(us) + 300000000 AS session_end_us,
      |       user_id, count(*) AS n_events,
      |       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, session_start_us""".stripMargin

  /** S1's batch analog (app.py:536-576): token chunks accumulate IN ARRIVAL
    * ORDER into one response string (`full_response += chunk`). Modeled as
    * per-response (user) ordered concat of event_type "tokens" by event_id
    * seq — the same stateful-accumulation shape StreamingSpec drives
    * through foreachBatch, here as the driver-checkable batch query. */
  def orderedAccum(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("user_id").as("response_id"), col("event_id").as("seq"),
        col("event_type").as("token"))
      .groupBy(col("response_id"))
      .agg(
        count(lit(1)).as("n_tokens"),
        array_join(
          transform(array_sort(collect_list(struct(col("seq"), col("token")))),
            _.getField("token")), "").as("full_response"))
      .select(col("response_id"), col("n_tokens"),
        length(col("full_response")).cast("bigint").as("response_len"),
        col("full_response"))
      .orderBy(col("response_id"))

  val orderedAccumOracle: String =
    """SELECT user_id AS response_id, count(*) AS n_tokens,
      |       CAST(length(string_agg(event_type, '' ORDER BY event_id)) AS BIGINT) AS response_len,
      |       string_agg(event_type, '' ORDER BY event_id) AS full_response
      |FROM events GROUP BY user_id ORDER BY response_id""".stripMargin

  /** S4's batch analog: per-key state with explicit reset markers
    * (app.py:488-491 "Clear Chat History"). 'signup' events play the
    * reset; the surviving state is the aggregate of each user's events
    * AFTER their last reset — exactly what Sessionize's
    * flatMapGroupsWithState holds once the log is replayed. Epoch =
    * running reset count (gaps-and-islands); one shuffle on user_id
    * shared by both window passes and the final agg. */
  def stateReset(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wRun = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("user_id")
    val o = Tables.events(spark, dir)
      .withColumn("is_reset", (col("event_type") === "signup").cast("int"))
      .withColumn("epoch", sum(col("is_reset")).over(wRun))
      .withColumn("n_resets", max(col("epoch")).over(wAll))
    val live = col("epoch") === col("n_resets") && col("is_reset") === 0
    o.groupBy(col("user_id"))
      .agg(
        max(col("n_resets")).cast("bigint").as("n_resets"),
        sum(when(live, 1).otherwise(0)).cast("bigint").as("n_live"),
        coalesce(sum(when(live, col("value").cast("decimal(18,2)"))),
          lit(0).cast("decimal(18,2)")).cast("double").as("total_live"))
      .orderBy(col("user_id"))
  }

  val stateResetOracle: String =
    """WITH o AS (
      |  SELECT user_id, event_id, value,
      |         CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS is_reset,
      |         sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
      |           OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS UNBOUNDED PRECEDING) AS epoch
      |  FROM events),
      |  g AS (SELECT user_id, max(epoch) AS nr FROM o GROUP BY user_id)
      |SELECT o.user_id,
      |       CAST(g.nr AS BIGINT) AS n_resets,
      |       CAST(sum(CASE WHEN o.epoch = g.nr AND o.is_reset = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
      |       CAST(coalesce(sum(CASE WHEN o.epoch = g.nr AND o.is_reset = 0
      |                         THEN CAST(o.value AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS total_live
      |FROM o JOIN g ON o.user_id = g.user_id
      |GROUP BY o.user_id, g.nr ORDER BY o.user_id""".stripMargin

  /** Batch form of the stream-stream interval join (S2 family): purchases
    * matched to same-user views in the preceding 10 minutes, conversions
    * rolled up per purchase hour. Identical EventStreams.viewToPurchase
    * runs stream-stream in StreamingSpec. */
  def intervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    EventStreams.viewToPurchase(
      e.filter(col("event_type") === "view"),
      e.filter(col("event_type") === "purchase"))
      .groupBy((unix_micros(date_trunc("hour", col("p_ts")))).as("hour_us"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_converting_purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour_us"))
  }

  val intervalJoinOracle: String =
    """WITH v AS (SELECT user_id AS v_user, ts AS v_ts FROM events WHERE event_type = 'view'),
      |     p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
      |     j AS (SELECT p.p_id, p.user_id, p.p_ts
      |           FROM p JOIN v ON p.user_id = v.v_user
      |             AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - INTERVAL 10 MINUTE)
      |SELECT epoch_us(date_trunc('hour', p_ts)) AS hour_us,
      |       count(*) AS n_pairs,
      |       count(DISTINCT p_id) AS n_converting_purchases,
      |       count(DISTINCT user_id) AS n_users
      |FROM j GROUP BY 1 ORDER BY hour_us""".stripMargin

  /** S2 outer batch form: attribution coverage per hour — every purchase
    * kept, matched ones fanned out per qualifying view, unmatched ones
    * surviving as null-view rows, so the aggregate can report BOTH the
    * conversion pairs and the unattributed purchases the inner join
    * silently drops. Stream≡batch for the outer join (watermark-driven
    * null emission) is asserted in StreamingSpec. */
  def intervalJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    EventStreams.viewToPurchaseOuter(
      e.filter(col("event_type") === "view"),
      e.filter(col("event_type") === "purchase"))
      .groupBy((unix_micros(date_trunc("hour", col("p_ts")))).as("hour_us"))
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col("p_id")).as("n_purchases"),
        countDistinct(when(col("v_ts").isNull, col("p_id"))).as("n_unattributed"))
      .orderBy(col("hour_us"))
  }

  val intervalJoinOuterOracle: String =
    """WITH v AS (SELECT user_id AS v_user, ts AS v_ts FROM events WHERE event_type = 'view'),
      |     p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
      |     j AS (SELECT p.p_id, p.p_ts, v.v_ts
      |           FROM p LEFT JOIN v ON p.user_id = v.v_user
      |             AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - INTERVAL 10 MINUTE)
      |SELECT epoch_us(date_trunc('hour', p_ts)) AS hour_us,
      |       count(*) AS n_rows,
      |       count(DISTINCT p_id) AS n_purchases,
      |       count(DISTINCT CASE WHEN v_ts IS NULL THEN p_id END) AS n_unattributed
      |FROM j GROUP BY 1 ORDER BY hour_us""".stripMargin

  /** S5 batch form: exactly-once recovery from an at-least-once delivery
    * stream. Deliveries = events plus a re-delivery of every 7th event_id
    * 90 seconds later (the retry simulation, constructed identically in
    * the oracle); recovery keeps the FIRST delivery per id. The batch
    * aggregate is deterministic (min ts per id) where a bare
    * dropDuplicates survivor would not be; the STREAMING form —
    * `EventStreams.exactlyOnce`, dropDuplicatesWithinWatermark with
    * watermark-evicted per-id state — is proven equivalent on the same
    * rows in StreamingSpec. */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    val redelivered = e.filter(col("event_id") % 7 === 0)
      .withColumn("ts", col("ts") + expr("INTERVAL 90 SECONDS"))
    e.unionByName(redelivered)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_deliveries"),
        unix_micros(min(col("ts"))).as("first_us"),
        min(col("event_type")).as("event_type"))
      .orderBy(col("event_id"))
  }

  val streamDedupOracle: String =
    """WITH delivered AS (
      |  SELECT event_id, ts, event_type, value FROM events
      |  UNION ALL
      |  SELECT event_id, ts + INTERVAL 90 SECOND AS ts, event_type, value
      |  FROM events WHERE event_id % 7 = 0)
      |SELECT event_id, count(*) AS n_deliveries,
      |       epoch_us(min(ts)) AS first_us,
      |       min(event_type) AS event_type
      |FROM delivered GROUP BY event_id ORDER BY event_id""".stripMargin

  /** S6 batch form: events enriched against the customer dim (broadcast),
    * hourly totals per market segment. Identical EventStreams function
    * runs stream-static in StreamingSpec. */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame =
    EventStreams.enrichedTumbling(Tables.events(spark, dir), Tables.customer(spark, dir))
      .orderBy(col("window_start_us"), col("c_mktsegment"))

  val streamEnrichOracle: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |  c_mktsegment, count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1, 2 ORDER BY window_start_us, c_mktsegment""".stripMargin

  // --- q108: windowed distinct users via KMV sketch state --------------------
  /** Batch form of [[EventStreams.windowedDistinct]] — the streaming
    * distinct-cardinality pattern (count(DISTINCT) is rejected by
    * Structured Streaming; the sketch is the bounded mergeable state
    * that replaces it). k=4096 exceeds every (window, type) user
    * cardinality at all test SFs, so the estimate is EXACT and the
    * DuckDB count(DISTINCT) oracle checks the full sketch path
    * bit-for-bit; stream≡batch asserted in StreamingSpec. */
  def windowedDistinctUsers(spark: SparkSession, dir: String): DataFrame =
    EventStreams.windowedDistinct(Tables.events(spark, dir))
      .orderBy(col("window_start_us"), col("event_type"))

  val windowedDistinctUsersOracle: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |  event_type, count(DISTINCT user_id) AS distinct_users
      |FROM events GROUP BY 1, 2 ORDER BY window_start_us, event_type""".stripMargin

  // --- q113: transformWithState promoted to the oracle board ---------------
  /** [[graft.streaming.SessionizeTws]] promoted from unit tier to the
    * driver's DuckDB gate (the round-12 brief's last unit-tier S-family
    * member). The REAL streaming path runs here — a file-source stream
    * over the events table drives the StatefulProcessor on the RocksDB
    * provider under Trigger.AvailableNow, and the memory-sink rows ARE
    * the result: one running-state update per user from the single data
    * batch, plus a TTL close for every user whose last activity sits
    * TtlMs or more behind the final watermark (fired by the trailing
    * no-data batch).
    *
    * Determinism by construction, so a SQL oracle can exist at all:
    *  - 'signup' plays the reset marker (the q54 convention — the
    *    corpus has no literal "reset" event type);
    *  - values stream as CENTS (round(value*100)), so the processor's
    *    Double accumulation is exact integer arithmetic — order-free
    *    under shuffle, no float-sum ulp to chase across engines;
    *  - the file source under AvailableNow with no per-trigger cap
    *    yields ONE data batch, asserted below (update rows == distinct
    *    users) — a split batch would emit intermediate updates no
    *    batch SQL can reproduce;
    *  - the timer boundary (close iff last_ms + TTL <= watermark_ms,
    *    both floored from µs) is pinned by TwsTimerBoundarySpec.
    *
    * Scale note: state is per-user O(1) on RocksDB (off-heap,
    * SSD-backed, changelog-checkpointed) and the plan is one exchange
    * on user_id; the memory sink holds 2 rows/user on the DRIVER — an
    * oracle-harness cost, not the operator's (a production run sinks
    * to a lake table). */
  /** The events table as a file-source STREAM with a normalized
    * TIMESTAMP `ts` — shared by every real-streaming oracle query (q113,
    * q123). FileStreamSource requires a DIRECTORY basePath ("Option
    * 'basePath' must be a directory"), but the driver corpus's
    * events.parquet is a single FILE. Stage it behind a fingerprint-keyed
    * dir (hard link — zero copy; fallback to copy across filesystems)
    * through Staging.staged: a regenerated source misses the key, a
    * re-run hits it. A directory-shaped events.parquet (other writers)
    * streams directly. The ts handling mirrors Tables.events'
    * footer-adaptive logic (driver corpus is TIMESTAMP(NANOS) parquet →
    * LONG under the legacy conf; other writers surface TIMESTAMP/_NTZ). */
  private[graft] def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = Tables.load(spark, dir, "events")
    val src = new java.io.File(s"$dir/events.parquet")
    val streamPath =
      if (src.isDirectory) src.getAbsolutePath
      else graft.core.Staging.staged("stream_events", dir, "events") { tmp =>
        val link = new java.io.File(tmp, "events.parquet").toPath
        // hard link (zero copy); copy across filesystems
        try java.nio.file.Files.createLink(link, src.toPath)
        catch { case _: java.io.IOException | _: UnsupportedOperationException =>
          java.nio.file.Files.copy(src.toPath, link)
        }
        ()
      }.getAbsolutePath
    val rawStream = spark.readStream.schema(raw.schema).parquet(streamPath)
    raw.schema("ts").dataType match {
      case LongType         => rawStream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => rawStream.withColumn("ts", col("ts").cast("timestamp"))
      case _                => rawStream
    }
  }

  /** Run `body` with the RocksDB state-store provider installed,
    * restoring the previous provider conf afterwards. */
  private[graft] def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None    => spark.conf.unset(key)
    }
  }

  /** Scale-adaptive state-store partition count for the stateful
    * streaming harness (optimization guide §2: derive the partitioning
    * from input size, never a constant tuned for one box — and streaming
    * is the one plan family AQE cannot coalesce, so the session's
    * `spark.sql.shuffle.partitions` lands verbatim on every stateful
    * exchange AND becomes the state-store partition count).
    *
    * Why it matters: each stateful operator opens one state store PER
    * PARTITION per micro-batch (a stream-stream join opens FOUR per
    * partition); on RocksDB every open is a native DB instance with its
    * own commit/snapshot. At the bench's shuffle.partitions=32 the
    * interval joins pay 128 RocksDB instance bring-ups to shuffle ~13 MB
    * of events — the measured r19-baseline cost class (q123 6.97 s /
    * q128 10.10 s while the same join SHAPE in batch, q55/q55b, runs
    * ~0.3 s). State volume tracks source bytes, so with two measured
    * constants — a 64 MB/partition ceiling target (`StateTargetBytes`,
    * the usual shuffle-partition sizing band) and a 256 KB/partition
    * bring-up floor (`StateMinBytes`: below that a partition's per-row
    * put workload costs less than its store's bring-up, so more
    * partitions only add overhead; constants sized by a 1/4/8/32-partition
    * sweep at sf0.1, OPTIMIZATION_r19.md) —
    *   floor = min(cores, ceil(bytes / 256 KB))  // keep cores busy, never
    *                                             // sub-bring-up slices
    *   parts = clamp(ceil(bytes / 64 MB), max(1, floor), 8 × cores)
    * Local sf0.1 (2 MB staged events) → 8; sf0.01 → 1; a 100 TB events
    * source → ~1.6 M by the ratio, clamped to 8 × cluster parallelism —
    * the production operating point, NOT the local one, so the rule is
    * scale-adaptive rather than a local[32] tune. Partition count never
    * changes stateful-aggregation/join RESULTS (hash partitioning is a
    * routing choice), only where state rows live; the oracle gate pins
    * that.
    *
    * Restores the previous conf afterwards — batch queries sharing the
    * bench session keep their own partitioning. */
  /** The pure derivation (unit-tested in StreamStatePartsSpec). */
  private[graft] def adaptiveStateParts(bytes: Long, cores: Int,
                                        target: Long, minBytes: Long): Int = {
    val c = math.max(1, cores)
    val floor = math.max(1L, math.min(c.toLong, (bytes + minBytes - 1) / minBytes))
    val cap = c.toLong * 8
    math.min(cap, math.max(floor, (bytes + target - 1) / target)).toInt
  }

  /** Total bytes under a source path via the Hadoop FileSystem API — the
    * scale-real probe (r20, VERDICT r19 task 2): the r19 `java.io.File`
    * version returned 0 on any non-local filesystem (HDFS/S3 — the very
    * deployments the rule exists for) and on nested Hive-partitioned
    * directories, silently collapsing an arbitrarily large source to
    * 1 state partition. `getContentSummary` walks recursively and works
    * on every Hadoop-visible store. Returns -1 when the path cannot be
    * probed (missing/remote error) so the caller can fall back to a
    * parallelism-preserving default rather than 1. */
  private[graft] def sourceBytes(spark: SparkSession, path: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else -1L
    } catch { case NonFatal(_) => -1L }

  /** Partition decision including the unknown-size branch: an unprobeable
    * source keeps FULL parallelism (cores), never 1 — an unprobeable
    * 100 TB source serialized onto one state store is the failure mode
    * this rule must not have (unit-tested in StreamStatePartsSpec). */
  private[graft] def statePartsFor(bytes: Long, cores: Int,
                                   target: Long, minBytes: Long): Int =
    if (bytes < 0) math.max(1, cores)
    else adaptiveStateParts(bytes, cores, target, minBytes)

  private val StateTargetBytes = 64L * 1024 * 1024
  private val StateMinBytes = 256L * 1024

  private[graft] def withAdaptiveStateParts[T](spark: SparkSession, dir: String)(body: => T): T = {
    val bytes = sourceBytes(spark, s"$dir/events.parquet")
    val parts = statePartsFor(bytes,
      spark.sparkContext.defaultParallelism, StateTargetBytes, StateMinBytes)
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, parts.toString)
    try body
    finally spark.conf.set(key, prev)
  }

  def twsSessionState(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types.LongType
    import graft.streaming.{Sessionize, SessionizeTws}
    import spark.implicits._
    val tsed = eventsFileStream(spark, dir)
    val evs = tsed.select(
        col("ts"), col("user_id"),
        when(col("event_type") === "signup", "reset")
          .otherwise(col("event_type")).as("event_type"),
        round(col("value") * 100).as("value"))
      .withWatermark("ts", "0 seconds")
      .as[Sessionize.Ev]
    // unique per invocation: bench reps re-run the query in one session
    val sinkName = s"q113_tws_${System.nanoTime()}"
    withAdaptiveStateParts(spark, dir) { withRocksDb(spark) {
      SessionizeTws.updates(evs)
        .writeStream.format("memory").queryName(sinkName)
        .outputMode("update").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } }
    val sink = spark.table(sinkName)
    // Materialize off the memory sink, then DROP it: the sink rows are
    // already driver-resident, so the collect adds nothing, and dropping
    // frees the sink table that would otherwise accumulate across bench
    // reps for the life of the session.
    val rows = sink.select(col("user_id"), col("n").as("n_events"),
        col("total").cast("long").as("total_cents"), col("closed"))
      .orderBy(col("user_id"), col("closed"))
      .collect().toSeq
    spark.catalog.dropTempView(sinkName)
    val users = rows.map(_.getLong(0)).distinct.size.toLong
    val updates = rows.count(!_.getBoolean(3)).toLong
    require(updates == users,
      s"q113: $updates update rows for $users users — the file source split " +
        "the corpus into multiple batches; the batch oracle cannot model that")
    import org.apache.spark.sql.types.{StructType, StructField, BooleanType}
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("user_id", LongType), StructField("n_events", LongType),
        StructField("total_cents", LongType), StructField("closed", BooleanType))))
  }

  /** The replay SQL: per user, state = aggregate of non-reset events
    * strictly after the last reset in the processor's (ms, event_type)
    * replay order; a close row exists iff the armed timer
    * (last_ms + 600000) is at or below the final watermark (global max
    * ms) — the non-strict boundary TwsTimerBoundarySpec pins. */
  val twsSessionStateOracle: String =
    """WITH e AS (
      |  SELECT user_id,
      |         CASE WHEN event_type = 'signup' THEN 'reset' ELSE event_type END AS et,
      |         CAST(round(value * 100) AS BIGINT) AS cents,
      |         epoch_us(ts) // 1000 AS ms
      |  FROM events),
      |  lr AS (SELECT user_id, max(ms) AS reset_ms FROM e WHERE et = 'reset' GROUP BY user_id),
      |  f AS (
      |    SELECT e.user_id, et, cents, ms,
      |           (et <> 'reset' AND (lr.reset_ms IS NULL OR ms > lr.reset_ms
      |              OR (ms = lr.reset_ms AND et > 'reset'))) AS live
      |    FROM e LEFT JOIN lr ON e.user_id = lr.user_id),
      |  agg AS (
      |    SELECT user_id,
      |           count(*) FILTER (WHERE live) AS n_events,
      |           CAST(coalesce(sum(cents) FILTER (WHERE live), 0) AS BIGINT) AS total_cents,
      |           max(ms) AS last_ms
      |    FROM f GROUP BY user_id),
      |  wm AS (SELECT max(ms) AS w FROM e)
      |SELECT user_id, n_events, total_cents, FALSE AS closed FROM agg
      |UNION ALL
      |SELECT user_id, n_events, total_cents, TRUE AS closed FROM agg, wm WHERE last_ms + 600000 <= w
      |ORDER BY user_id, closed""".stripMargin

  // --- q123: stream-stream interval join on the RocksDB provider ----------
  /** The q55 purchase-attribution interval join run AS A STREAM (VERDICT
    * r15 task 7): two branches of the staged events file stream —
    * views and purchases — meet in a genuine
    * StreamingSymmetricHashJoin (watermarked both sides, state evicted
    * by the 30 min watermark + 10 min join window) on the RocksDB
    * state-store provider, the same provider q113 exercises for
    * transformWithState. The emitted pairs are then rolled up per
    * purchase hour EXACTLY like the batch q55, so the same DuckDB
    * oracle family checks the full streaming path: source staging,
    * dual watermark propagation, symmetric-hash state, append-mode
    * emission. An inner interval join's pair set is
    * batch-deterministic under AvailableNow (matches emit when both
    * sides have arrived; eviction only drops provably-unmatchable
    * state), so the aggregate is oracle-safe regardless of batching.
    *
    * Scale note: state is bounded by watermark+window per user key and
    * partitioned by user_id across executors (one exchange per side);
    * RocksDB keeps it off-heap/SSD. The memory sink holds only matched
    * PAIRS (not the firehose) — an oracle-harness cost, as in q113. */
  def streamIntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tsed = eventsFileStream(spark, dir)
    val joined = EventStreams.viewToPurchase(
      tsed.filter(col("event_type") === "view"),
      tsed.filter(col("event_type") === "purchase"))
    val sinkName = s"q123_ssj_${System.nanoTime()}"
    withAdaptiveStateParts(spark, dir) { withRocksDb(spark) {
      joined.writeStream.format("memory").queryName(sinkName)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } }
    val sink = spark.table(sinkName)
    // roll up the emitted pairs exactly like batch q55; materialize off
    // the driver-resident sink, then drop it (bench-rep hygiene, q113's
    // discipline)
    val rows = sink
      .groupBy(unix_micros(date_trunc("hour", col("p_ts"))).as("hour_us"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("p_id")).as("n_converting_purchases"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("hour_us"))
      .collect().toSeq
    spark.catalog.dropTempView(sinkName)
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("hour_us", LongType), StructField("n_pairs", LongType),
        StructField("n_converting_purchases", LongType),
        StructField("n_users", LongType))))
  }

  // --- q125: chained stateful operators in ONE streaming query -------------
  /** Two stateful aggregations CHAINED in a single streaming query —
    * the multi-stateful-operator capability (SPARK-40925, 3.4+) run on
    * the RocksDB provider: a 15-minute tumbling count per
    * (window, event_type) feeds a second tumbling aggregation that
    * rolls the finalized cells into hourly (cell count, event total)
    * rows, `window(window, ...)` re-windowing the first operator's
    * window struct directly. Watermark propagates THROUGH the first
    * operator: a cell is emitted (and its state evicted) once the
    * watermark passes its end, and the hour closes once all four of
    * its cells have; with the 0-second watermark both levels finalize
    * against the corpus max event time, so the closed-hour set is
    * batch-deterministic and a two-level DuckDB GROUP BY replays it
    * exactly (hours whose end exceeds the final watermark stay open —
    * the oracle excludes them the same way). This is the production
    * shape for streaming OLAP rollup ladders (minute→hour→day): each
    * level's state is bounded by its own window horizon, no external
    * re-ingestion between levels, one exchange per level on the
    * window key. The memory sink holds only closed HOURS — an
    * oracle-harness cost, as in q113/q123. */
  def streamChainedAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tsed = eventsFileStream(spark, dir)
    val cells = tsed.withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val hours = cells
      .groupBy(window(col("window"), "1 hour"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_events"))
    val sinkName = s"q125_chain_${System.nanoTime()}"
    withAdaptiveStateParts(spark, dir) { withRocksDb(spark) {
      hours.writeStream.format("memory").queryName(sinkName)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } }
    val sink = spark.table(sinkName)
    val rows = sink
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("n_cells"), col("n_events"))
      .orderBy(col("hour_us"))
      .collect().toSeq
    spark.catalog.dropTempView(sinkName)
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("hour_us", LongType), StructField("n_cells", LongType),
        StructField("n_events", LongType))))
  }

  /** Two-level GROUP BY restricted to hours closed by the final
    * watermark (max event time): every 15-min cell of a closed hour is
    * itself closed, so the cascade is exactly this SQL. */
  val streamChainedAggOracle: String =
    """WITH e AS (SELECT epoch_us(ts) AS us, event_type FROM events),
      |  wm AS (SELECT max(us) AS w FROM e),
      |  c AS (SELECT (us // 900000000) * 900000000 AS cell_us, event_type,
      |               count(*) AS n
      |        FROM e GROUP BY 1, 2),
      |  h AS (SELECT (cell_us // 3600000000) * 3600000000 AS hour_us,
      |               count(*) AS n_cells, CAST(sum(n) AS BIGINT) AS n_events
      |        FROM c GROUP BY 1)
      |SELECT hour_us, n_cells, n_events FROM h, wm
      |WHERE hour_us + 3600000000 <= w ORDER BY hour_us""".stripMargin

  // --- q128: stream-stream LEFT OUTER interval join (RocksDB) --------------
  /** The outer form of q123 — and the semantics streaming engines earn
    * the hard way: a MATCHED pair emits as soon as both rows arrive, but
    * an UNMATCHED purchase's null row may only emit once the watermark
    * PROVES no matching view can still arrive, i.e. when its state row
    * is evicted. With the 30-minute watermark delay the final watermark
    * sits 30 minutes behind the corpus max, so purchases in that tail
    * that found no view never close — the emitted set is therefore the
    * batch q55b answer MINUS the unclosed unattributed tail, and the
    * oracle replays exactly that cut: a purchase's null row exists iff
    * floor_ms(p_ts) < W where W = min(branch watermarks) =
    * least(max view ms, max purchase ms) − 1,800,000. The min matters:
    * each withWatermark node tracks ITS branch's max event time and the
    * global watermark is the minimum across nodes — deriving W from the
    * corpus max silently over-closes by however far the slower branch
    * trails (measured 12.9 min at sf0.01: max purchase 23:27 vs max view
    * 23:57). Boundary pinned in StreamOuterJoinSpec the way
    * TwsTimerBoundarySpec pins q113's.
    * State bounded by watermark + 10-min window per user key on RocksDB,
    * one exchange per side; the memory sink holds the per-hour rollup
    * input only (oracle-harness cost, as q113/q123/q125). */
  def streamIntervalJoinOuter(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val tsed = eventsFileStream(spark, dir)
    val joined = EventStreams.viewToPurchaseOuter(
      tsed.filter(col("event_type") === "view"),
      tsed.filter(col("event_type") === "purchase"))
    val sinkName = s"q128_ssjo_${System.nanoTime()}"
    withAdaptiveStateParts(spark, dir) { withRocksDb(spark) {
      joined.writeStream.format("memory").queryName(sinkName)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
        .awaitTermination()
    } }
    val sink = spark.table(sinkName)
    val rows = sink
      .groupBy(unix_micros(date_trunc("hour", col("p_ts"))).as("hour_us"))
      .agg(count(col("v_ts")).as("n_pairs"),
        count(when(col("v_ts").isNull, lit(1))).as("n_null"),
        countDistinct(col("p_id")).as("n_purchases"))
      .orderBy(col("hour_us"))
      .collect().toSeq
    spark.catalog.dropTempView(sinkName)
    import org.apache.spark.sql.types.{StructType, StructField, LongType}
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(
        StructField("hour_us", LongType), StructField("n_pairs", LongType),
        StructField("n_null", LongType), StructField("n_purchases", LongType))))
  }

  /** Batch replay of the emitted set: all matched pairs (inner emission
    * is immediate and complete under AvailableNow), plus a null row per
    * unmatched purchase whose state the final watermark evicted —
    * floor_ms(p_ts) strictly below min(per-branch max event ms) − 30 min
    * (the global watermark is the MIN across the two watermark nodes). */
  val streamIntervalJoinOuterOracle: String =
    """WITH v AS (SELECT user_id AS v_user, ts AS v_ts FROM events WHERE event_type = 'view'),
      |  p AS (SELECT user_id, event_id AS p_id, ts AS p_ts FROM events WHERE event_type = 'purchase'),
      |  wm AS (SELECT least(
      |           (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'view'),
      |           (SELECT max(epoch_us(ts)) FROM events WHERE event_type = 'purchase')
      |         ) // 1000 - 1800000 AS w_ms FROM events LIMIT 1),
      |  pairs AS (SELECT p.p_id, p.p_ts, v.v_ts FROM p JOIN v ON p.user_id = v.v_user
      |            AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - INTERVAL 10 MINUTE),
      |  nulls AS (SELECT p.p_id, p.p_ts FROM p, wm
      |            WHERE epoch_us(p.p_ts) // 1000 < wm.w_ms
      |              AND NOT EXISTS (SELECT 1 FROM v WHERE v.v_user = p.user_id
      |                AND v.v_ts <= p.p_ts AND v.v_ts > p.p_ts - INTERVAL 10 MINUTE)),
      |  em AS (SELECT p_id, p_ts, v_ts FROM pairs
      |         UNION ALL SELECT p_id, p_ts, NULL FROM nulls)
      |SELECT epoch_us(date_trunc('hour', p_ts)) AS hour_us,
      |  count(v_ts) AS n_pairs,
      |  count(CASE WHEN v_ts IS NULL THEN 1 END) AS n_null,
      |  count(DISTINCT p_id) AS n_purchases
      |FROM em GROUP BY 1 ORDER BY hour_us""".stripMargin

  /** Queries that run the REAL streaming harness — writeStream + RocksDB
    * state store + AvailableNow micro-batch machinery. Each pays ~2-7 s of
    * fixed state-store/micro-batch bring-up that no batch query pays
    * (VERDICT r16: ~22 s, 25% of the bench, is this cost class). Bench
    * reports them as a separate subtotal so the 2×-of-baseline comparison
    * can be read per cost class. The q50-q57 family expresses the SAME
    * semantics as batch plans (stream ≡ batch is their point) and stays in
    * the batch subtotal. */
  val streamingHarness: Set[String] = Set(
    "q113_tws_session", "q123_stream_interval_join",
    "q125_stream_chained_agg", "q128_stream_outer_join",
    "q151_stream_lake_sink", "q162_stream_cdc_lww",
    "q167_stream_manifest_commit", "q173_stream_dv_apply")

  // --- q151: exactly-once streaming lake sink ---------------------------------
  /** The landing path every event pipeline starts with: the staged events
    * FILE STREAM written to a real parquet FILE SINK (exactly-once via
    * the sink's _spark_metadata commit log — only files recorded by a
    * committed batch are visible to readers; a crashed batch's orphans
    * are invisible), checkpointed, staged once per corpus fingerprint
    * with the atomic-publish discipline. The query then READS THE LANDED
    * LAKE BACK through the commit log and aggregates hourly — the oracle
    * is the plain batch aggregation over the source table, so a lost,
    * duplicated, or uncommitted-but-visible row breaks the bit-exact
    * match. The sink+checkpoint live at a stable corpus-fingerprinted
    * path (the eventsFileStream staging discipline) — NOT behind the
    * atomic-rename publish, because the commit log records absolute file
    * paths and a rename would orphan them; the commit log itself is the
    * atomicity mechanism here. Every call re-starts the query: a
    * caught-up stream terminates after an empty listing (so the call is
    * an idempotence probe), an interrupted one RESUMES from the
    * checkpoint and completes the landing — restart-exactly-once,
    * exercised on every run.
    *
    * Scale note: the file sink is append-only map-side work (no state
    * store); sink parallelism = source partitions. The read-back is a
    * plain pruned parquet scan. Registered in streamingHarness — it pays
    * the micro-batch bring-up cost class. */
  def streamLakeSink(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val root = graft.core.Staging.stableRoot("stream_sink", dir, "events")
    eventsFileStream(spark, dir)
      .select(col("event_id"), col("ts"), col("event_type"), col("value"))
      .writeStream.format("parquet")
      .option("path", new java.io.File(root, "data").getAbsolutePath)
      .option("checkpointLocation", new java.io.File(root, "chk").getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    spark.read.parquet(new java.io.File(root, "data").getAbsolutePath)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy(col("hour_us"), col("event_type"))
  }

  /** The batch truth the landed lake must reproduce byte-for-byte. */
  val streamLakeSinkOracle: String =
    """SELECT epoch_us(date_trunc('hour', ts)) AS hour_us, event_type,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY hour_us, event_type""".stripMargin

  // --- q162: streaming CDC upsert (merge-on-write LWW sink) -------------------
  /** The streaming MERGE: q159's change log arrives as a FILE STREAM
    * (four staged seq-batches, maxFilesPerTrigger=1 → four genuine
    * micro-batches in arrival order) and foreachBatch merges each batch
    * into a keyed snapshot with last-writer-wins — the merge-on-write
    * loop every streaming lakehouse ingestion runs. Exactly-once without
    * relying on the checkpoint alone: each batch writes state generation
    * `gen_<batchId>` to a temp dir and ATOMIC-RENAMES it into place, so
    * a replayed batch (crash between sink write and checkpoint commit)
    * finds its completed generation and SKIPS the merge — the idempotent-
    * foreachBatch-sink discipline; an interrupted run resumes from the
    * checkpoint and completes the remaining generations. The final
    * answer reads the highest completed generation only; LWW itself is
    * ORDER-independent (seq decides), so the oracle is q159's verbatim.
    *
    * 100 TB shape: each merge is one hash aggregate over
    * state ∪ batch — the state rescan is the price of merge-on-write
    * (real systems amortize it with file-level pruning, q161's
    * machinery); state carries (key, seq, op, text, n_ops), never the
    * corpus twice. Registered in streamingHarness — micro-batch
    * bring-up cost class. */
  def streamCdcLww(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.queries.{OlapQueries => OQ}
    // the staged change-log stream: four seq-ordered parquet files, one
    // per CDC wave (atomic-publish; a regenerated corpus re-stages)
    val logDir = SourceQueries.stagedBlobs(dir, "cdclog") { staging =>
      val log = OQ.cdcChangeLog(OQ.cdcBase(spark, dir))
        .select(col("doc_id"), col("text"), col("seq"), col("op"), col("source"))
      Seq(("upsert-stream", 1), ("priority-upsert-stream", 2),
          ("tombstone-stream", 3), ("insert-stream", 4)).foreach {
        case (src, wave) =>
          graft.core.Staging.writeParquetFile(
            log.filter(col("source") === src).drop("source"),
            new java.io.File(staging, f"wave_$wave%02d.parquet"))
      }
    }
    // checkpoint + state live at a stable fingerprinted path, NOT behind
    // atomic-rename publish (q151's commit-log lesson)
    val root = graft.core.Staging.stableRoot("stream_cdc", dir, "documents")
    val stateRoot = new java.io.File(root, "state")
    stateRoot.mkdirs()
    def gens(): Seq[(Long, java.io.File)] = stateRoot.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen_") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(f => (f.getName.stripPrefix("gen_").toLong, f)).toSeq.sortBy(_._1)
    // a replayed batch finds its generation already merged and skips
    def writeGen(df: DataFrame, id: Long): Unit =
      graft.core.Staging.writeOnce(new java.io.File(stateRoot, s"gen_$id")) { tmp =>
        df.write.parquet(tmp.getAbsolutePath)
      }
    // generation 0: the base snapshot (idempotent)
    if (gens().isEmpty)
      writeGen(OQ.cdcBase(spark, dir)
        .select(col("doc_id"), col("text"), lit(0L).as("seq"),
          lit("U").as("op"), lit(0L).as("n_ops")), 0L)
    val logSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType)))
    spark.readStream.schema(logSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(logDir.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", new java.io.File(root, "chk").getAbsolutePath)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val genId = id + 1 // gen 0 is the base snapshot
        val prev = gens().filter(_._1 < genId).maxBy(_._1)._2
        val state = batch.sparkSession.read.parquet(prev.getAbsolutePath)
        val merged = state
          .unionByName(batch.withColumn("n_ops", lit(1L)))
          .groupBy(col("doc_id"))
          .agg(expr("max_by(struct(seq, op, text), seq)").as("w"),
            sum(col("n_ops")).as("n_ops"))
          .select(col("doc_id"), col("w.text").as("text"),
            col("w.seq").as("seq"), col("w.op").as("op"), col("n_ops"))
        writeGen(merged, genId)
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val finalState = gens().maxBy(_._1)._2
    spark.read.parquet(finalState.getAbsolutePath)
      .filter(col("op") =!= "D")
      .select(col("doc_id"), sha2(col("text"), 256).as("text_sha"), col("n_ops"))
      .orderBy(col("doc_id"))
  }

  /** LWW is order-independent (seq decides), so the streamed apply must
    * land exactly on q159's batch answer. */
  val streamCdcLwwOracle: String = graft.queries.OlapQueries.cdcApplyOracle

  // --- q167: streaming manifest commits (the streaming table-format sink) ----
  /** q151 lands a file stream through Spark's _spark_metadata commit log;
    * this is the TABLE-FORMAT version of the same contract — each
    * micro-batch appends data units AND commits a new MANIFEST GENERATION
    * (q161's Avro artifact), which is how a streaming lakehouse sink
    * (Delta/Iceberg streaming writes) actually makes batches atomically
    * visible: readers plan from the latest committed manifest, so a
    * half-written batch (data on disk, manifest not committed) is
    * invisible by construction. The staged events arrive as four
    * time-quarter waves (maxFilesPerTrigger=1 → four real micro-batches);
    * foreachBatch writes the wave's day-units under `data/w<wave>/`
    * (temp + atomic rename), then commits `manifest_g<n>.avro` =
    * previous generation + the new units (temp + atomic move). A
    * replayed batch finds its committed generation and SKIPS — the
    * idempotent-sink discipline (q162), proven by the spec's
    * delete-checkpoint-and-replay probe. Serving is q161's planner over
    * the LATEST generation with a [t0+10d, t0+20d] window, so manifest
    * pruning spans units from different commits; the oracle re-derives
    * waves, units, pruning counts and the aggregate arithmetically.
    *
    * 100 TB shape: each commit is one map-only unit write plus O(#units)
    * metadata; generations grow by append (real formats compact
    * manifests — q161b's machinery); the serve pays q161's economics.
    * Registered in streamingHarness — micro-batch bring-up cost class. */
  def streamManifestCommit(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import graft.queries.{OlapQueries => OQ}
    // staged wave files: four time-quarter parquet files, wave-tagged so
    // the batch→wave mapping is data-derived, not arrival-order-derived
    val waveDir = SourceQueries.stagedBlobs(dir, "mfstwaves", srcTable = "events") {
      staging =>
        val e = Tables.events(spark, dir)
          .withColumn("us", unix_micros(col("ts")))
        val bounds = e.agg(min(col("us")), max(col("us"))).head()
        require(!bounds.isNullAt(0), "streamManifestCommit: empty events table")
        val (t0, tmax) = (bounds.getLong(0), bounds.getLong(1))
        val waved = e.withColumn("wave",
          expr(s"least(3L, ((us - ${t0}L) * 4) div ${tmax - t0 + 1}L)"))
          .select(col("event_id"), col("ts"), col("event_type"),
            col("us"), col("wave"))
        for (w <- 0L to 3L)
          graft.core.Staging.writeParquetFile(waved.filter(col("wave") === w),
            new java.io.File(staging, f"wave_$w%02d.parquet"))
    }
    // lake + checkpoint at a stable fingerprinted path — the manifest is
    // the atomicity mechanism and records relative paths, but the
    // checkpoint pins absolute source offsets (q151's lesson)
    val root = graft.core.Staging.stableRoot("stream_manifest", dir, "events")
    def genFile(n: Long) = new java.io.File(root, s"manifest_g$n.avro")
    def commitManifest(n: Long, entries: Seq[Seq[Any]]): Unit =
      graft.core.Staging.writeOnce(genFile(n)) { tmp =>
        java.nio.file.Files.write(tmp.toPath, graft.sources.Avro.encode(
          OQ.manifestSchema, entries.toIndexedSeq, "deflate"))
      }
    if (!genFile(0).isFile) commitManifest(0, Seq.empty) // the empty table
    val waveSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("wave",
        org.apache.spark.sql.types.LongType)))
    spark.readStream.schema(waveSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(waveDir.getAbsolutePath)
      .writeStream
      .option("checkpointLocation", new java.io.File(root, "chk").getAbsolutePath)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val genId = id + 1 // g0 is the empty table
        if (!genFile(genId).isFile) {
          val wave = batch.agg(min(col("wave"))).head().getLong(0)
          val withUnit = batch.withColumn("unit", expr("us div 86400000000"))
          // a crashed half-commit (units landed, manifest not) left this
          // wave's complete units in place: they are reused, not rewritten
          graft.core.Staging.writeOnce(new java.io.File(root, s"data/w$wave")) { tmp =>
            withUnit.write.partitionBy("unit").parquet(tmp.getAbsolutePath)
          }
          val added = withUnit.groupBy(col("unit"))
            .agg(count(lit(1)).as("n"), min(col("us")).as("mn"),
              max(col("us")).as("mx"))
            .collect().sortBy(_.getLong(0))
            .map(r => Seq[Any](wave * 100000L + r.getLong(0),
              s"data/w$wave/unit=${r.getLong(0)}",
              r.getLong(1), r.getLong(2), r.getLong(3)))
          val prev = OQ.readManifestFile(root, s"manifest_g${genId - 1}.avro")
          commitManifest(genId, prev ++ added)
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    // serve: q161's planner over the LATEST committed generation
    val nGens = root.listFiles()
      .count(f => f.getName.matches("manifest_g\\d+\\.avro")).toLong
    val entries = OQ.readManifestFile(root, s"manifest_g${nGens - 1}.avro")
    require(entries.nonEmpty, "streamManifestCommit: empty final manifest")
    val t0 = entries.map(_(3).asInstanceOf[Long]).min
    val lo = t0 + 864000000000L  // t0 + 10d
    val hi = t0 + 1728000000000L // t0 + 20d
    val surviving = entries.filter(r =>
      r(4).asInstanceOf[Long] >= lo && r(3).asInstanceOf[Long] <= hi)
    require(surviving.nonEmpty, "streamManifestCommit: range prunes every unit")
    val paths = surviving.map(r =>
      new java.io.File(root, r(1).asInstanceOf[String]).getAbsolutePath)
    spark.read.parquet(paths: _*)
      .filter(col("ts") >= timestamp_micros(lit(lo)) &&
        col("ts") <= timestamp_micros(lit(hi)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("id_sum"))
      .withColumn("n_generations", lit(nGens))
      .withColumn("units_total", lit(entries.length.toLong))
      .withColumn("units_scanned", lit(surviving.length.toLong))
      .orderBy(col("event_type"))
  }

  /** Waves, units, pruning counts and the windowed aggregate re-derived
    * arithmetically: a lost batch, a double-committed unit, or a
    * planner that read a stale generation breaks the witness. */
  val streamManifestCommitOracle: String =
    """WITH b AS (SELECT min(epoch_us(ts)) AS t0, max(epoch_us(ts)) AS tmax
      |           FROM events),
      |w AS (SELECT event_type, event_id, epoch_us(ts) AS us,
      |        least(3, ((epoch_us(ts) - t0) * 4) // (tmax - t0 + 1)) AS wave,
      |        epoch_us(ts) // 86400000000 AS d
      |      FROM events, b),
      |u AS (SELECT wave, d, min(us) AS mn, max(us) AS mx FROM w GROUP BY 1, 2),
      |r AS (SELECT t0 + 864000000000 AS lo, t0 + 1728000000000 AS hi FROM b),
      |agg AS (SELECT event_type, count(*) AS n,
      |          CAST(sum(event_id) AS BIGINT) AS id_sum
      |        FROM w, r WHERE us >= lo AND us <= hi GROUP BY 1)
      |SELECT event_type, n, id_sum,
      |  CAST(5 AS BIGINT) AS n_generations,
      |  (SELECT count(*) FROM u) AS units_total,
      |  (SELECT count(*) FROM u, r WHERE mx >= lo AND mn <= hi)
      |    AS units_scanned
      |FROM agg ORDER BY event_type""".stripMargin

  // --- q173: streaming deletion-vector maintenance ----------------------------
  /** q168's deletion vectors meeting the stream: CDC tombstones arrive
    * as four delete waves (keys only — the equality-delete shape) and
    * each micro-batch must fold them into the table's per-file bitmaps
    * WITHOUT touching data files. Per batch: the wave's keys resolve to
    * (file, ordinal) through a PRE-BUILT position index (one scan at
    * stage time — q134's index-table discipline; a real table keeps this
    * as a key→file index or re-locates per batch), the wave's bitmaps
    * build distributed (one file-keyed shuffle), and the new DV
    * GENERATION = previous generation ∪ wave, OR-merged per file
    * (q168b's mergeable-summary fold). Exactly-once is q162's
    * idempotent-sink discipline verbatim: each generation writes to a
    * temp dir and ATOMIC-RENAMES into place; a replayed batch finds its
    * completed generation and skips, so losing the checkpoint changes
    * nothing (spec-proven). The serve is q168's join-free membership
    * scan over the LATEST generation.
    *
    * 100 TB shape: each batch's work is O(|wave| + #touched-files)
    * — row-proportional only in the wave, never the table; generations
    * supersede (readers load ONE bitmap per file regardless of how many
    * delete waves have landed), and the data lake is never rewritten.
    * Registered in streamingHarness — micro-batch bring-up cost class. */
  def streamDvApply(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.types._
    val lake = SourceQueries.stagedBlobs(dir, "dvstream") { staging =>
      val data = new java.io.File(staging, "data")
      Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), pmod(col("doc_id"), lit(16L)).as("unit"))
        .repartition(16, col("unit"))
        .sortWithinPartitions(col("doc_id"))
        .write.partitionBy("unit").parquet(data.getAbsolutePath)
      // the position index: ONE scan maps CDC keys to (file, ordinal)
      spark.read.parquet(data.getAbsolutePath)
        .select(col("doc_id"),
          regexp_extract(col("_metadata.file_path"), "([^/]+/[^/]+)$", 1)
            .as("fpath"),
          col("_metadata.row_index").as("pos"))
        .write.parquet(new java.io.File(staging, "posmap").getAbsolutePath)
      // four key-only delete waves, one file each, under their own dir
      val wavesDir = new java.io.File(staging, "waves")
      wavesDir.mkdirs()
      Seq((1, "doc_id % 19 = 3"), (2, "doc_id % 13 = 3"),
          (3, "doc_id % 17 = 2"), (4, "doc_id % 29 = 8")).foreach {
        case (w, pred) =>
          graft.core.Staging.writeParquetFile(
            Tables.documents(spark, dir).filter(expr(pred)).select(col("doc_id")),
            new java.io.File(wavesDir, f"wave_$w%02d.parquet"))
      }
    }
    val root = graft.core.Staging.stableRoot("stream_dv", dir, "documents")
    val dvRoot = new java.io.File(root, "dvs")
    dvRoot.mkdirs()
    def gens(): Seq[(Long, java.io.File)] = dvRoot.listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen_") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(f => (f.getName.stripPrefix("gen_").toLong, f)).toSeq.sortBy(_._1)
    // a replayed batch finds its generation already applied and skips
    def writeGen(df: DataFrame, id: Long): Unit =
      graft.core.Staging.writeOnce(new java.io.File(dvRoot, s"gen_$id")) { tmp =>
        df.write.parquet(tmp.getAbsolutePath)
      }
    val dvSchema = StructType(Seq(StructField("fpath", StringType),
      StructField("card", LongType), StructField("dv", BinaryType)))
    val keySchema = StructType(Seq(StructField("doc_id", LongType)))
    spark.readStream.schema(keySchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(new java.io.File(lake, "waves").getAbsolutePath)
      .writeStream
      .option("checkpointLocation", new java.io.File(root, "chk").getAbsolutePath)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val genId = id + 1
        val ss = batch.sparkSession
        import ss.implicits._
        val prev = gens().filter(_._1 < genId).sortBy(_._1).lastOption
          .map(p => ss.read.parquet(p._2.getAbsolutePath))
          .getOrElse(ss.createDataFrame(
            ss.sparkContext.emptyRDD[org.apache.spark.sql.Row], dvSchema))
        val waveDvs = ss.read.parquet(s"$lake/posmap")
          .join(broadcast(batch.select(col("doc_id"))), Seq("doc_id"), "left_semi")
          .groupBy(col("fpath"))
          .agg(collect_list(col("pos")).as("ps"))
          .as[(String, Seq[Long])]
          .map { case (f, ps) =>
            val bm = new org.roaringbitmap.RoaringBitmap()
            ps.foreach { p =>
              require(p >= 0 && p <= Int.MaxValue,
                s"deletion vector: row ordinal $p exceeds int32 position space")
              bm.add(p.toInt)
            }
            bm.runOptimize()
            val bos = new java.io.ByteArrayOutputStream()
            bm.serialize(new java.io.DataOutputStream(bos))
            (f, bm.getLongCardinality, bos.toByteArray)
          }.toDF("fpath", "card", "dv")
        val merged = prev.unionByName(waveDvs)
          .select(col("fpath"), col("dv")).as[(String, Array[Byte])]
          .groupByKey(_._1)
          .mapGroups { (f, it) =>
            val acc = new org.roaringbitmap.RoaringBitmap()
            it.foreach { case (_, bytes) =>
              val bm = new org.roaringbitmap.RoaringBitmap()
              bm.deserialize(new java.io.DataInputStream(
                new java.io.ByteArrayInputStream(bytes)))
              acc.or(bm)
            }
            acc.runOptimize()
            val bos = new java.io.ByteArrayOutputStream()
            acc.serialize(new java.io.DataOutputStream(bos))
            (f, acc.getLongCardinality, bos.toByteArray)
          }.toDF("fpath", "card", "dv")
        writeGen(merged, genId)
        ()
      }
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val (lastGen, lastDir) = gens().maxBy(_._1)
    import spark.implicits._
    val dvMap: Map[String, org.roaringbitmap.RoaringBitmap] =
      spark.read.parquet(lastDir.getAbsolutePath)
        .select(col("fpath"), col("dv")).as[(String, Array[Byte])]
        .collect()
        .map { case (f, bytes) =>
          val bm = new org.roaringbitmap.RoaringBitmap()
          bm.deserialize(new java.io.DataInputStream(
            new java.io.ByteArrayInputStream(bytes)))
          f -> bm
        }.toMap
    val bc = spark.sparkContext.broadcast(dvMap)
    val dvHit = udf { (f: String, pos: Long) =>
      bc.value.get(f).exists(_.contains(pos.toInt))
    }
    spark.read.parquet(s"$lake/data")
      .select(col("doc_id"), col("unit").cast("long").as("unit"),
        regexp_extract(col("_metadata.file_path"), "([^/]+/[^/]+)$", 1)
          .as("fpath"),
        col("_metadata.row_index").as("pos"))
      .withColumn("dvhit", dvHit(col("fpath"), col("pos")))
      .groupBy(col("unit"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("dvhit"), 1L).otherwise(0L)).as("n_dv"),
        sum(when(!col("dvhit"), 1L).otherwise(0L)).as("n_live"),
        sum(when(!col("dvhit"), col("doc_id")).otherwise(0L)).as("live_id_sum"))
      .withColumn("n_gens", lit(lastGen))
      .orderBy(col("unit"))
  }

  /** The union of all four wave predicates, in arithmetic. */
  val streamDvApplyOracle: String =
    """WITH d AS (SELECT doc_id, doc_id % 16 AS unit,
      |    (doc_id % 19 = 3 OR doc_id % 13 = 3 OR doc_id % 17 = 2
      |     OR doc_id % 29 = 8) AS victim
      |  FROM documents)
      |SELECT unit, count(*) AS n_rows,
      |  CAST(count(*) FILTER (victim) AS BIGINT) AS n_dv,
      |  CAST(count(*) FILTER (NOT victim) AS BIGINT) AS n_live,
      |  CAST(coalesce(sum(doc_id) FILTER (NOT victim), 0) AS BIGINT)
      |    AS live_id_sum,
      |  CAST(4 AS BIGINT) AS n_gens
      |FROM d GROUP BY 1 ORDER BY unit""".stripMargin

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q173_stream_dv_apply" -> ((s, d) => streamDvApply(s, d)),
    "q167_stream_manifest_commit" -> ((s, d) => streamManifestCommit(s, d)),
    "q162_stream_cdc_lww" -> ((s, d) => streamCdcLww(s, d)),
    "q151_stream_lake_sink" -> ((s, d) => streamLakeSink(s, d)),
    "q128_stream_outer_join" -> ((s, d) => streamIntervalJoinOuter(s, d)),
    "q125_stream_chained_agg" -> ((s, d) => streamChainedAgg(s, d)),
    "q123_stream_interval_join" -> ((s, d) => streamIntervalJoin(s, d)),
    "q113_tws_session" -> ((s, d) => twsSessionState(s, d)),
    "q108_stream_distinct_kmv" -> ((s, d) => windowedDistinctUsers(s, d)),
    "q57_stream_enrich" -> ((s, d) => streamEnrich(s, d)),
    "q56_stream_dedup" -> ((s, d) => streamDedup(s, d)),
    "q55_interval_join" -> ((s, d) => intervalJoin(s, d)),
    "q55b_interval_join_outer" -> ((s, d) => intervalJoinOuter(s, d)),
    "q50_tumbling_window" -> ((s, d) => tumbling(s, d)),
    "q51_sliding_window" -> ((s, d) => sliding(s, d)),
    "q52_session_window" -> ((s, d) => session(s, d)),
    "q53_ordered_accum" -> ((s, d) => orderedAccum(s, d)),
    "q54_state_reset" -> ((s, d) => stateReset(s, d))
  )

  def oracles: Map[String, String] = Map(
    // the streaming run must reproduce the BATCH interval join's answer —
    // same oracle as q55 (that is the point: stream ≡ batch ≡ DuckDB)
    "q173_stream_dv_apply" -> streamDvApplyOracle,
    "q167_stream_manifest_commit" -> streamManifestCommitOracle,
    "q162_stream_cdc_lww" -> streamCdcLwwOracle,
    "q151_stream_lake_sink" -> streamLakeSinkOracle,
    "q128_stream_outer_join" -> streamIntervalJoinOuterOracle,
    "q125_stream_chained_agg" -> streamChainedAggOracle,
    "q123_stream_interval_join" -> intervalJoinOracle,
    "q113_tws_session" -> twsSessionStateOracle,
    "q108_stream_distinct_kmv" -> windowedDistinctUsersOracle,
    "q57_stream_enrich" -> streamEnrichOracle,
    "q56_stream_dedup" -> streamDedupOracle,
    "q55_interval_join" -> intervalJoinOracle,
    "q55b_interval_join_outer" -> intervalJoinOuterOracle,
    "q50_tumbling_window" -> tumblingOracle,
    "q51_sliding_window" -> slidingOracle,
    "q52_session_window" -> sessionOracle,
    "q53_ordered_accum" -> orderedAccumOracle,
    "q54_state_reset" -> stateResetOracle
  )
}
