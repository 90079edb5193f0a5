package graftbench

import java.nio.file.Paths

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.DataWritingCommand
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.QueryExecutionListener

/** Test: every timed action of every workload materializes all the columns
  * of the frame the flow hands it. `count()` lets the optimizer prune the
  * frame down to nothing, so a timed `count()` fails here; so does any
  * action whose executed plan lost an output column of the returned plan.
  * Exits 1 on failure.
  *
  *     python3 ragbench/run.py --plan-test */
object PlanCheck {

  /** The columns an executed action actually produced or wrote. */
  def materialized(qe: QueryExecution): Seq[String] = qe.optimizedPlan match {
    case w: DataWritingCommand => w.outputColumnNames
    case w: V2WriteCommand     => w.query.output.map(_.name)
    case p                     => p.output.map(_.name)
  }

  private final class Captured extends QueryExecutionListener {
    val seen = ArrayBuffer.empty[(String, Seq[String])]
    val counts = new java.util.concurrent.atomic.AtomicInteger
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      if (funcName == "count") counts.incrementAndGet()
      seen.synchronized { seen += funcName -> materialized(qe) }
    }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def take(): Seq[(String, Seq[String])] = seen.synchronized { val s = seen.toList; seen.clear(); s }
  }

  /** Runs each sink action alone and compares its executed plan's columns
    * with the frame's. */
  private final class Recording(spark: SparkSession, cap: Captured, problems: ArrayBuffer[String])
      extends Direct {
    var actions = 0
    private def drain(): Unit = Bridge.waitListenerBusEmpty(spark.sparkContext)
    def checked[T](span: String, df: DataFrame)(action: => T): T = {
      drain(); cap.take()
      val r = action
      drain()
      actions += 1
      cap.take().lastOption match {
        case Some((_, cols)) if cols == df.columns.toSeq => ()
        case other => problems += s"$span materialized ${other.map(_._2)} of ${df.columns.mkString(",")}"
      }
      r
    }
    override def upsert(span: String, df: DataFrame, path: String): Unit =
      checked(span, df)(super.upsert(span, df, path))
    override def collect(span: String, df: DataFrame): Array[Row] =
      checked(span, df)(super.collect(span, df))
  }

  def main(argv: Array[String]): Unit = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val root = Paths.get(m("root")).toAbsolutePath
    val a = Main.Args("plan-test", 1, 0, trace = false, root, m("cores").toInt)
    val spark = Main.session(a)
    val cap = new Captured
    spark.listenerManager.register(cap)
    val problems = ArrayBuffer.empty[String]
    try {
      for (name <- Workloads.Names) {
        val dir = root.resolve(name)
        java.nio.file.Files.createDirectories(dir)
        val w = Workloads(name, spark, new Gen(1), dir)
        val rec = new Recording(spark, cap, problems)
        w.setup(0, new Flow(spark, new Direct))
        w.prepare(0)
        Bridge.waitListenerBusEmpty(spark.sparkContext)
        cap.counts.set(0)
        w.run(0, new Flow(spark, rec))
        if (rec.actions == 0) problems += s"$name ran no sink action"
        Bridge.waitListenerBusEmpty(spark.sparkContext)
        if (cap.counts.get > 0) problems += s"$name timed a count()"
        println(s"plan-test $name: ${rec.actions} sink action(s) checked")
      }
      // the check must catch what it guards against: count() keeps none
      // of the frame's columns
      val probe = spark.range(3).selectExpr("id", "id * 2 AS twice")
      val caught = ArrayBuffer.empty[String]
      new Recording(spark, cap, caught).checked("count-probe", probe)(probe.count())
      if (caught.isEmpty) problems += "a timed count() was not caught"
    } finally spark.stop()
    problems.foreach(p => println(s"FAIL $p"))
    println(if (problems.isEmpty) "plan-test passed" else s"plan-test failed: ${problems.length} problem(s)")
    if (problems.nonEmpty) sys.exit(1)
  }
}
