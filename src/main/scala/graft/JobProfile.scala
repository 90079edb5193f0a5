package graft

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.Bridge

import graft.core.Sessions

/** Dev tool, the one query timer: for each named query, in Bench's draw
  * shape (entry() warm-up once, then clearCache + count() per draw),
  * prints its row count, the cold first draw, the median and list of 5
  * warm draws, and per-job wall times and per-stage task-time/byte
  * tables of the last warm draw, so optimization targets the jobs that
  * actually cost. For the plan itself use [[PlanDump]].
  *
  * Usage: runMain graft.JobProfile <sfDir> <name> [name ...]
  * Env: SPARK_GRAFT_CPUS (default: all cores). */
object JobProfile {
  private val WarmDraws = 5

  private case class Stage(id: Int, nameHead: String, tasks: Int, taskTimeMs: Long,
                           inputMB: Double, shufReadMB: Double, shufWriteMB: Double)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: JobProfile <sfDir> <name> [name ...]")
    val dir = args(0)
    val names = args.drop(1).toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val spark = Sessions.local(Sessions.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext

    val jobStart = scala.collection.mutable.Map.empty[Int, (Long, String)]
    val jobs = ArrayBuffer.empty[(Int, Long, String)]
    val stages = ArrayBuffer.empty[Stage]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobStart.synchronized {
          jobStart(e.jobId) = (e.time, Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobStart.synchronized {
          jobStart.get(e.jobId).foreach { case (t0, d) =>
            jobs += ((e.jobId, e.time - t0, d))
          }
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        stages.synchronized {
          stages += Stage(si.stageId, si.name.take(60), si.numTasks,
            m.executorRunTime,
            m.inputMetrics.bytesRead / 1e6,
            m.shuffleReadMetrics.totalBytesRead / 1e6,
            m.shuffleWriteMetrics.bytesWritten / 1e6)
        }
      }
    }
    sc.addSparkListener(listener)
    // pays JVM/codegen/parquet-reader start-up once, as Bench does
    try SparkEntry.entry(spark).count() catch { case NonFatal(_) => () }

    for (name <- names) {
      val fn = SparkEntry.queries(name)
      // one draw: the listener tables keep only this draw's jobs/stages.
      // Events are async, so drain the bus before clearing (the previous
      // draw's trailing events) and after the run (this draw's).
      def draw(): (Long, Double) = {
        spark.catalog.clearCache()
        Bridge.waitListenerBusEmpty(sc)
        jobStart.synchronized { jobStart.clear(); jobs.clear() }
        stages.synchronized(stages.clear())
        val t0 = System.nanoTime()
        val rows = fn(spark, dir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        Bridge.waitListenerBusEmpty(sc)
        (rows, sec)
      }
      val (rows, cold) = draw()
      val warm = Seq.fill(WarmDraws)(draw()._2)
      val median = warm.sorted.apply(warm.length / 2)
      println(f"[jobprofile] $name rows=$rows cold=$cold%.3fs warm_median=$median%.3fs " +
        s"draws=${warm.map(w => f"$w%.3f").mkString(",")} jobs=${jobs.length}")
      jobs.sortBy(-_._2).foreach { case (id, ms, d) =>
        println(f"  job $id%3d ${ms / 1000.0}%7.3fs  $d")
      }
      println("  stages by task time:")
      stages.sortBy(-_.taskTimeMs).take(20).foreach { s =>
        println(f"  stage ${s.id}%4d tasks=${s.tasks}%3d taskTime=${s.taskTimeMs / 1000.0}%8.3fs " +
          f"in=${s.inputMB}%7.1fMB sr=${s.shufReadMB}%7.1fMB sw=${s.shufWriteMB}%7.1fMB  ${s.nameHead}")
      }
    }
    sc.removeSparkListener(listener)
    spark.stop()
  }
}
