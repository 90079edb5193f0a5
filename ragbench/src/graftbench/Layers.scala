package graftbench

import java.util.concurrent.{ConcurrentHashMap, TimeoutException}

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.Collections

/** How the flows call into each layer. The untimed-vs-traced split lives
  * here so both runs execute the same flow code.
  *
  *  - `stage` wraps one layer call that yields a DataFrame;
  *  - `upsert` and `collect` are the caller's materializing actions: a
  *    collection write or collected rows, never `count()`. */
trait Layers {
  def stage(span: String)(df: => DataFrame): DataFrame
  def upsert(span: String, df: DataFrame, path: String): Unit
  def collect(span: String, df: DataFrame): Array[Row]
}

/** The end-to-end run: layer calls chain lazily, as a caller's code would. */
class Direct extends Layers {
  def stage(span: String)(df: => DataFrame): DataFrame = df
  def upsert(span: String, df: DataFrame, path: String): Unit = Collections.upsert(df, path)
  def collect(span: String, df: DataFrame): Array[Row] = df.collect()
}

object Layers {
  val Spans: Seq[String] = Seq("sources.scan", "sources.decode", "text.chunk", "embed.hash",
    "sources.upsert", "vector.mmr", "assemble", "guard", "analytics.minhash", "analytics.pairs",
    "analytics.cc")
  /** Counter name and unit. */
  val Counters: Seq[(String, String)] = Seq(
    "wall_ms" -> "ms", "plan_ms" -> "ms", "tasks" -> "count", "cpu_ms" -> "ms",
    "cpu_util" -> "ratio", "in_bytes" -> "bytes", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "peak_mem_bytes" -> "bytes", "rows_out" -> "count")
  val SpanProperty = "graftbench.span"
}

/** One recorded span: which op caused it, and when it ran. */
final case class SpanRecord(op: Int, name: String, startNs: Long, endNs: Long)

/** The traced run. Each layer call runs inside a span whose jobs carry the
  * span name as a local property; a listener sums task metrics per span and
  * a query-execution listener sums planning time. Each stage's output is
  * written to parquet and read back, so no two layers fuse into one job and
  * each span's counters are its own. */
final class Traced(spark: SparkSession, dir: String) extends Layers {
  private final class Acc {
    var wallNs, planMs, tasks, cpuNs, inBytes, shuffleBytes, spillBytes, peakMem, rows = 0L
  }
  private val sc = spark.sparkContext
  private val accs = Layers.Spans.map(_ -> new Acc).toMap
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  @volatile private var current: Option[String] = None
  private val records = mutable.ArrayBuffer.empty[SpanRecord]
  private var op = 0
  private var outputs = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Layers.SpanProperty)))
        .foreach(s => e.stageIds.foreach(stageSpan.put(_, s)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (s <- Option(stageSpan.get(e.stageId)); m <- Option(e.taskMetrics)) {
        val a = accs(s)
        a.synchronized {
          a.tasks += 1
          a.cpuNs += m.executorCpuTime
          a.inBytes += m.inputMetrics.bytesRead
          a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          a.spillBytes += m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.rows += m.outputMetrics.recordsWritten
        }
      }
  }
  // query-execution events ride the same bus; spans drain it before the
  // current span changes, so `current` is still the span that ran the query
  private val planListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      current.foreach { s =>
        val a = accs(s)
        a.synchronized { a.planMs += qe.tracker.phases.values.map(_.durationMs).sum }
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(planListener)

  def startOp(): Unit = op += 1

  private def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(Layers.SpanProperty, name)
    current = Some(name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      drain()
      val a = accs(name)
      a.synchronized { a.wallNs += t1 - t0 }
      records += SpanRecord(op, name, t0, t1)
      current = None
      sc.setLocalProperty(Layers.SpanProperty, null)
    }
  }

  /** Wait for queued listener events; a backed-up bus costs this span its
    * trailing events, never the run (the bus wait is bounded). */
  private def drain(): Unit =
    try Bridge.waitListenerBusEmpty(sc)
    catch { case e: TimeoutException => System.err.println(s"[trace] listener bus not drained: ${e.getMessage}") }

  def stage(name: String)(df: => DataFrame): DataFrame = span(name) {
    outputs += 1
    val path = s"$dir/out-$outputs"
    df.write.parquet(path)
    spark.read.parquet(path)
  }

  def upsert(name: String, df: DataFrame, path: String): Unit =
    span(name)(Collections.upsert(df, path))

  def collect(name: String, df: DataFrame): Array[Row] = {
    val rows = span(name)(df.collect())
    val a = accs(name)
    a.synchronized { a.rows += rows.length }
    rows
  }

  /** Per-op means of every `<span>.<counter>`. Spans a workload never
    * enters read 0. */
  def table(cores: Int): Seq[(String, Double)] = {
    val n = math.max(1, op).toDouble
    for {
      s <- Layers.Spans
      a = accs(s)
      (c, _) <- Layers.Counters
    } yield {
      val wallMs = a.wallNs / 1e6
      s"$s.$c" -> (c match {
        case "wall_ms"        => wallMs / n
        case "plan_ms"        => a.planMs / n
        case "tasks"          => a.tasks / n
        case "cpu_ms"         => a.cpuNs / 1e6 / n
        case "cpu_util"       => if (wallMs > 0) a.cpuNs / 1e6 / (wallMs * cores) else 0.0
        case "in_bytes"       => a.inBytes / n
        case "shuffle_bytes"  => a.shuffleBytes / n
        case "spill_bytes"    => a.spillBytes / n
        case "peak_mem_bytes" => a.peakMem.toDouble
        case "rows_out"       => a.rows / n
      })
    }
  }

  /** Write the spans kept in memory as JSON lines. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val base = records.headOption.map(_.startNs).getOrElse(0L)
    val lines = records.map(r =>
      s"""{"op": ${r.op}, "span": "${r.name}", "start_us": ${(r.startNs - base) / 1000}, "end_us": ${(r.endNs - base) / 1000}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }
}
