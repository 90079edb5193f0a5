package graft

import org.apache.spark.sql.functions._

import graft.core.Sessions
import graft.streaming.{Sessionize, SessionizeTws}

/** Dev tool: scale probe for the two arbitrary-state sessionize paths
  * (SCALING.md's transformWithState/RocksDB evidence rung).
  *
  * Stages the sf events table as `batches` ts-range parquet files, then
  * streams them with maxFilesPerTrigger=1 — the watermark advances
  * monotonically across triggers, so event-time TTL timers genuinely
  * fire mid-run (a single mega-batch would never expire anything).
  * Reports wall time and the final state-operator metrics (rows in
  * store, memory/size bytes) from the query progress.
  *
  * Usage: runMain graft.StreamProbe <sfDir> <tws|fmgws> [batches]
  * Env: SPARK_GRAFT_CPUS (default: all cores). Output: one JSON line.
  */
object StreamProbe {
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val mode = args(1)
    val batches = if (args.length > 2) args(2).toInt else 8
    require(mode == "tws" || mode == "fmgws", s"mode must be tws|fmgws, got $mode")
    val cpus = Sessions.cpus()
    val spark = Sessions.local(cpus, (if (mode == "tws")
      Seq("spark.sql.streaming.stateStore.providerClass" -> RocksDb) else Nil): _*)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    // stage: ts-range files so trigger order ≈ event-time order
    val staged = s"/tmp/streamprobe_src_${java.util.UUID.randomUUID().toString.take(8)}"
    val ev = graft.core.Tables.events(spark, dir)
      .select(col("ts"), col("user_id"), col("event_type"), col("value"))
    ev.repartitionByRange(batches, col("ts")).write.parquet(staged)
    // FileStreamSource orders files by modification time; the parallel
    // write leaves ties, which would let a later ts-range process first
    // and flood earlier ranges' events in as late data. Stamp mtimes in
    // path order (= ts-range order) so trigger order is deterministic.
    val parts = new java.io.File(staged).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val base = System.currentTimeMillis() - parts.length * 2000L
    parts.zipWithIndex.foreach { case (f, i) => f.setLastModified(base + i * 2000L) }

    val stream = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged)
      .as[Sessionize.Ev]
      .withWatermark("ts", "0 seconds")
    val upd =
      if (mode == "tws") SessionizeTws.updates(stream) else Sessionize.updates(stream)

    val t0 = System.nanoTime()
    val q = upd.writeStream.format("noop").outputMode("update").start()
    q.processAllAvailable()
    val sec = (System.nanoTime() - t0) / 1e9
    val so = Option(q.lastProgress).toSeq.flatMap(_.stateOperators.toSeq)
    val stateRows = so.map(_.numRowsTotal).sum
    val stateBytes = so.map(_.memoryUsedBytes).sum
    val nBatches = q.recentProgress.length
    q.stop()
    val inputRows = spark.read.parquet(staged).count()
    println(s"""{"stream_probe":"$mode","sf":"$dir","sec":${f"$sec%.3f"},""" +
      s""""input_rows":$inputRows,"batches":$nBatches,"state_rows":$stateRows,""" +
      s""""state_bytes":$stateBytes,"cpus":"$cpus"}""")
    spark.stop()
  }
}
