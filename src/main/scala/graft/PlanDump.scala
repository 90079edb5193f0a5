package graft

import scala.util.control.NonFatal

import graft.core.Sessions

/** Optimization-round dev tool: dump `.explain("formatted")` for registered
  * queries to files, one per query, without executing them (the static
  * pre-AQE plan — Exchange count, join strategy, PushedFilters, ReadSchema).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> [name ...]
  * With no names, dumps every registered BATCH query. For streamingHarness
  * queries a static explain of the returned frame says nothing (building
  * it RUNS the streaming job and returns a parallelize of collected sink
  * rows), so those instead EXECUTE under a StreamingQueryListener and the
  * dump is each micro-batch's progress JSON — stateOperators carries
  * numShufflePartitions, state rows, and commit durations, which is the
  * plan-shape evidence that matters for a stateful stream. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val out = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(out)
    val spark = Sessions.local(Sessions.cpus())
    spark.sparkContext.setLogLevel("ERROR")
    val streaming = SparkEntry.streamingQueries
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else SparkEntry.queries.keys.toSeq.filterNot(streaming).sorted
    var failed = 0
    names.foreach { name =>
      try {
        val txt =
          if (streaming(name)) {
            val progress = scala.collection.mutable.ArrayBuffer.empty[String]
            val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
              import org.apache.spark.sql.streaming.StreamingQueryListener._
              override def onQueryStarted(e: QueryStartedEvent): Unit = ()
              override def onQueryProgress(e: QueryProgressEvent): Unit =
                progress.synchronized { progress += e.progress.prettyJson }
              override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
            }
            spark.streams.addListener(listener)
            try SparkEntry.queries(name)(spark, dir).count()
            finally spark.streams.removeListener(listener)
            progress.synchronized { progress.mkString("\n---\n") }
          } else
            SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(out.resolve(s"$name.txt"), txt)
      } catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[plandump] $name failed: ${e.getMessage}")
      }
    }
    println(s"[plandump] wrote ${names.length - failed}/${names.length} plans to $out")
    spark.stop()
  }
}
