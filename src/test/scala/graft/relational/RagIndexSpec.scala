package graft.relational

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.queries.RagQueries

/** q111's index-artifact contract: the query-term filter reaches the
  * parquet scan of the postings lake, and the scores equal q81's. */
class RagIndexSpec extends SparkSuite {

  test("query-term IN filter is pushed into the postings parquet scan") {
    val df = RagQueries.bm25FromIndex(spark, sfDir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the postings scan must carry a pushed In(term, ...) — without it a
    // billion-row postings lake would be read wholesale per query batch
    val pushed = formatted.linesIterator.filter(_.contains("PushedFilters")).mkString("\n")
    assert(pushed.contains("In(term") || pushed.contains("EqualTo(term"), formatted.take(2000))
  }

  test("index-path scores equal the corpus-scan path (q81) bit-for-bit") {
    val fromIndex = RagQueries.bm25FromIndex(spark, sfDir).collect().toSeq
    val fromCorpus = RagQueries.bm25(spark, sfDir).collect().toSeq
    assert(fromIndex === fromCorpus)
  }

  // ---- q130: incremental append contract ----------------------------------
  private def fileSnapshot(root: java.io.File): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
  }

  private def rmr(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmr)
    f.delete(): Unit
  }

  test("q130 merged-stats serve over base ∪ delta equals the full rebuild (q81)") {
    val merged = RagQueries.bm25IncrementalAppend(spark, sfDir).collect().toSeq
    val rebuild = RagQueries.bm25(spark, sfDir).collect().toSeq
    assert(merged === rebuild,
      "incremental append + merged-stats serve must be ≡ a full rebuild")
  }

  test("q130 append writes only delta files and pushes the term filter into both scans") {
    RagQueries.bm25IncrementalAppend(spark, sfDir).collect()
    val base = stagedLake("bm25inc")
    val before = fileSnapshot(base)
    // force a FRESH append: drop the delta lake, re-run — the base lake
    // must come through byte-identical
    rmr(stagedLake("bm25incd"))
    val df = RagQueries.bm25IncrementalAppend(spark, sfDir)
    df.collect()
    assert(fileSnapshot(base) === before,
      "the incremental append modified base postings-lake files")
    // the query-term IN filter must reach BOTH postings parquet scans
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    val pushed = formatted.linesIterator
      .filter(_.contains("PushedFilters")).filter(_.contains("In(term")).toSeq
    assert(pushed.size >= 2,
      s"expected the term filter pushed into base AND delta scans, " +
        s"saw ${pushed.size}:\n${formatted.take(3000)}")
  }
}
