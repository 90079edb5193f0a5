package graft.olap

import graft.{SparkEntry, SparkSuite}
import graft.core.Tables

/** q147's contract: the rewrite is complete (every doc in exactly one
  * blob), bounded (no blob exceeds target + largest doc + separators),
  * and idempotent (a second run never rewrites the staged artifact). */
class CompactionExecSpec extends SparkSuite {

  test("rewrite covers the corpus with target-bounded blobs") {
    val rows = SparkEntry.queries("q147_compaction_exec")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val docs = Tables.documents(spark, sfDir)
      .selectExpr("octet_length(text)").collect().map(_.getInt(0).toLong)
    assert(rows.map(_._2).sum == docs.length, "every doc lands in exactly one blob")
    val target = 65536L
    val maxDoc = docs.max
    rows.foreach { case (bin, nDocs, bytes) =>
      assert(bytes < target + maxDoc + nDocs,
        s"bin $bin overfilled: $bytes bytes for $nDocs docs")
    }
    // sequential bins: contiguous ids from 0
    assert(rows.map(_._1).sorted.toSeq == (0L until rows.length).toSeq)
  }

  test("a second run serves from the staged artifact without rewriting") {
    SparkEntry.queries("q147_compaction_exec")(spark, sfDir).collect()
    val root = stagedLake("compacted")
    val before = root.listFiles().map(f => f.getName -> f.lastModified).toMap
    SparkEntry.queries("q147_compaction_exec")(spark, sfDir).collect()
    val after = root.listFiles().map(f => f.getName -> f.lastModified).toMap
    assert(before == after, "re-run must not touch the published artifact")
  }
}
