package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import graft.core.Sessions

/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB comparison (scripts/oracle_check.py).
  *
  * Usage: runMain graft.Verify <sfDir> <outDir> [name,name,…] */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated exact query names, for partial
    // re-dumps; the official correctness run always passes two args
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    val spark = Sessions.local(Sessions.cpus(4))
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query-internal .cache() frames (dsir/ann/dedup paths) are scoped to
      // one query by harness contract — drop them so a 125-query session
      // doesn't accumulate cached RDDs (Bench does the same per rep)
      spark.catalog.clearCache()
    }
    writeOracleJson(outDir,
      SparkEntry.oracleSql.filter { case (k, _) => only.forall(_.contains(k)) })
    spark.stop()
  }

  /** Writes `oracles` to `<outDir>/oracle_sql.json`, keys sorted. The
    * escape covers backslash, quote and ALL control chars (<0x20): a tab
    * or CR in an oracle's SQL would otherwise make json.load fail in the
    * correctness scripts and silently zero the round's correctness. */
  private[graft] def writeOracleJson(outDir: String, oracles: Map[String, String]): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(outDir, "oracle_sql.json"), json)
  }
}
