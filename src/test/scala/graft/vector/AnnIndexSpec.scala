package graft.vector

import graft.SparkSuite
import graft.queries.PipelineQueries

/** q35c's persisted-IVF contract: the probe join dynamically prunes the
  * cell-partitioned index scan, and results equal the in-query path. */
class AnnIndexSpec extends SparkSuite {

  test("probe join plants dynamic partition pruning on the cell lake scan") {
    val df = PipelineQueries.annIvfFromIndex(spark, sfDir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the index-side scan must carry a runtime (dynamic) partition filter
    // on cell — without it every cell's files are read per query batch
    assert(formatted.toLowerCase.contains("dynamicpruning"), formatted.take(3000))
  }

  test("index-path results equal the in-query path (q35) bit-for-bit") {
    val fromIndex = PipelineQueries.annIvfFromIndex(spark, sfDir)
    val inQuery = PipelineQueries.annIvf(spark, sfDir)
    // Row equality compares a boxed Int and Long by value: check types too
    assert(fromIndex.schema === inQuery.schema)
    assert(fromIndex.collect().toSeq === inQuery.collect().toSeq)
  }

  // ---- q129: incremental append contract ----------------------------------
  private def fileSnapshot(root: java.io.File): Map[String, (Long, Long)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(root).map(f => f.getAbsolutePath -> (f.length(), f.lastModified())).toMap
  }

  private def rmr(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmr)
    f.delete(): Unit
  }

  test("q129 append writes only delta files — the base index is never touched") {
    import graft.SparkEntry
    val run = SparkEntry.queries("q129_ivf_index_append")
    run(spark, sfDir).collect()
    val base = stagedLake("ivfinc", "embeddings")
    val before = fileSnapshot(base)
    // force a FRESH append: drop the delta lake, re-run — the base index
    // must come through byte-identical (same paths, sizes, mtimes)
    rmr(stagedLake("ivfincd", "embeddings"))
    val out = run(spark, sfDir).collect()
    assert(fileSnapshot(base) === before,
      "the incremental append modified base index files")
    // the re-created delta holds only cell-partitioned invlist dirs whose
    // cells are a subset of the base cells (every centroid owns itself)
    val delta = stagedLake("ivfincd", "embeddings")
    def cells(root: java.io.File): Set[String] =
      new java.io.File(root, "cells").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName).toSet
    val (bc, dc) = (cells(base), cells(delta))
    assert(dc.nonEmpty && dc.subsetOf(bc), s"delta cells $dc vs base $bc")
    assert(out.nonEmpty && out.exists(_.getAs[Long]("n_new") > 0))
  }

  test("serving probe against the appended delta lake still DPP-prunes") {
    import graft.SparkEntry
    import org.apache.spark.sql.functions._
    SparkEntry.queries("q129_ivf_index_append")(spark, sfDir).collect()
    val delta = spark.read.parquet(
      new java.io.File(stagedLake("ivfincd", "embeddings"), "cells").getAbsolutePath)
    val base = spark.read.parquet(
      new java.io.File(stagedLake("ivfinc", "embeddings"), "cells").getAbsolutePath)
    val queries = base.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("n").as("qn"), col("cell"))
    val probe = delta.join(broadcast(queries), Seq("cell"))
    val formatted = probe.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.toLowerCase.contains("dynamicpruning"), formatted.take(3000))
  }
}
