package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** q133's copy-on-write contract: a delete rewrites ONLY the cells that
  * contain victims — every untouched cell's files in the new generation
  * are the SAME INODE as the base lake's (hard links, not copies), the
  * victim cells' files are new, and the new generation holds exactly
  * corpus − victims. */
class CowDeleteSpec extends SparkSuite {

  // sf0.001's embeddings quantize into a SINGLE cell (bounded-K floor:
  // 50 vectors → 1 centroid), so every cell would be a victim cell and
  // the untouched-inode assertion would be vacuous; sf0.01 has 5 cells
  // of which ~3 carry victims
  override val sfDir = "/root/testdata/sf0.01"

  private def fileKey(f: java.io.File): AnyRef =
    Files.readAttributes(f.toPath,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()

  test("untouched cells share inodes; victim cells rewritten; counts exact") {
    val out = SparkEntry.queries("q133_cow_delete")(spark, sfDir)
    val report = out.collect()
    assert(report.nonEmpty && report.forall(_.getAs[Long]("n_deleted") > 0))
    val affected = report.map(r => s"cell=${r.getAs[Long]("cell")}").toSet

    val base = new java.io.File(stagedLake("ivfidx", "embeddings"), "cells")
    val del = new java.io.File(stagedLake("ivfgdprd", "embeddings"), "cells")
    val baseCells = base.listFiles().filter(_.isDirectory).map(_.getName).toSet
    val delCells = del.listFiles().filter(_.isDirectory).map(_.getName).toSet
    // untouched cells: present, every file the same inode as the base's
    val untouched = baseCells -- affected
    assert(untouched.nonEmpty, "no untouched cells — the COW claim is vacuous")
    for (c <- untouched) {
      assert(delCells(c), s"untouched $c missing from the new generation")
      val bFiles = new java.io.File(base, c).listFiles().filter(_.isFile)
        .map(f => f.getName -> fileKey(f)).toMap
      val dFiles = new java.io.File(del, c).listFiles().filter(_.isFile)
        .map(f => f.getName -> fileKey(f)).toMap
      assert(bFiles === dFiles,
        s"untouched $c was copied or rewritten (inode mismatch)")
    }
    // affected cells that survive: files must be NEW (no shared inode)
    val baseKeys = affected.filter(baseCells).flatMap(c =>
      new java.io.File(base, c).listFiles().filter(_.isFile).map(fileKey).toSet)
    for (c <- affected if delCells(c)) {
      val dKeys = new java.io.File(del, c).listFiles().filter(_.isFile)
        .map(fileKey).toSet
      assert(dKeys.intersect(baseKeys).isEmpty,
        s"victim cell $c still links a base file")
    }
    // the new generation holds exactly corpus − victims
    val total = spark.read.parquet(del.getAbsolutePath).count()
    val corpus = graft.core.Tables.embeddings(spark, sfDir).count()
    val victims = graft.core.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % 97 === 13).count()
    assert(total === corpus - victims,
      s"new generation has $total rows, expected ${corpus - victims}")
  }

  test("the victim-cell rewrite read is partition-pruned") {
    SparkEntry.queries("q133_cow_delete")(spark, sfDir).collect()
    val base = new java.io.File(stagedLake("ivfidx", "embeddings"), "cells")
    // re-create the pruned read q133 performs and assert the partition
    // filter reaches the scan (no full-lake file listing in the rewrite)
    val pruned = spark.read.parquet(base.getAbsolutePath)
      .filter(col("cell").isin(1L, 2L, 3L))
    val formatted = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PartitionFilters: [cell") ||
      formatted.matches("(?s).*PartitionFilters: \\[.*cell.*"),
      formatted.take(2000))
  }
}
