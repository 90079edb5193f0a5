package graft
import scala.util.control.NonFatal

import graft.core.Sessions

/** Builder-owned BIG-RUNG dump — NOT driver surface (the driver runs
  * [[Verify]] at sf0.01, where its `coalesce(1)` is harmless cosmetics).
  * At the sf100 rung that same coalesce(1) drags each query's FINAL
  * stage — which for the pair-heavy family includes the verify work
  * Spark collapses into it — onto one thread (measured: q33's write sat
  * >20 min at load 1.0 on a 32-thread box). This dump differs from
  * Verify in exactly two builder-local ways:
  *
  *  - results are written WITHOUT coalesce(1) (multi-part parquet — the
  *    sweep reads a `*.parquet` glob under each query dir, so part
  *    count is irrelevant);
  *  - a query whose output dir already carries _SUCCESS is SKIPPED, so
  *    an interrupted multi-hour sweep resumes instead of restarting.
  *
  * Usage: runMain graft.VerifyRung <sfDir> <outDir> */
object VerifyRung {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.cpus())
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // The marker must only ever reflect THIS dump's completion: a stale
    // one from a prior (interrupted or older-board) dump would let the
    // concurrent sweep persist "Verify query threw" for a query dir that
    // merely hasn't been produced yet — the exact failure mode the marker
    // exists to prevent.
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(outDir, "_DUMP_DONE"))
    // oracles first: the concurrent sweep reads oracle_sql.json at start-up
    // and must not wait hours for the dump to finish
    Verify.writeOracleJson(outDir, SparkEntry.oracleSql)
    // Only the oracle-bearing 144: the sweep exists to compare against
    // DuckDB, and the 4 declared rows-only queries (q07/q32/q33/q37 —
    // engine-internal hash families) have nothing to compare; at this
    // rung q33's pair stream alone is >1.1B rows of parquet nobody reads.
    val withOracle = SparkEntry.queries.filter(q => SparkEntry.oracleSql.contains(q._1))
    withOracle.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val dir = new java.io.File(outDir, name)
      if (new java.io.File(dir, "_SUCCESS").exists()) {
        System.err.println(s"[verify-rung] $name: already dumped, skipping")
      } else {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").parquet(dir.getAbsolutePath)
          System.err.println(f"[verify-rung] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
        } catch { case NonFatal(e) =>
          System.err.println(s"[verify-rung] $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache() // rung frames are big; don't stack caches
      }
    }
    // Dump-done marker: the sweep runs CONCURRENTLY with this dump, and
    // a query dir that merely hasn't been created yet is indistinguishable
    // from one whose query threw. Only once this marker exists may the
    // sweep persist "no spark result (Verify query threw)" for a missing
    // dir; before that it must leave the query undecided.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(outDir, "_DUMP_DONE"), "")
    spark.stop()
  }
}
