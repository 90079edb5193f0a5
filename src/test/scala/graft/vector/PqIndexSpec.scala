package graft.vector

import graft.SparkSuite
import graft.queries.PipelineQueries

/** q38b/q39b's persisted-PQ contract: serving from the index artifacts
  * (codebook + cell-partitioned invlists) is bit-identical to the
  * in-query training paths, and the IVF serve path dynamically prunes
  * the invlists scan to the probed cells. */
class PqIndexSpec extends SparkSuite {

  test("PQ index path equals the in-query path (q38) bit-for-bit") {
    val fromIndex = PipelineQueries.annPqFromIndex(spark, sfDir)
    val inQuery = PipelineQueries.annPq(spark, sfDir)
    // Row equality compares a boxed Int and Long by value: check types too
    assert(fromIndex.schema === inQuery.schema)
    assert(fromIndex.collect().toSeq === inQuery.collect().toSeq)
  }

  test("IVFADC index path equals the in-query path (q39) bit-for-bit") {
    val fromIndex = PipelineQueries.annIvfPqFromIndex(spark, sfDir)
    val inQuery = PipelineQueries.annIvfPq(spark, sfDir)
    // Row equality compares a boxed Int and Long by value: check types too
    assert(fromIndex.schema === inQuery.schema)
    assert(fromIndex.collect().toSeq === inQuery.collect().toSeq)
  }

  test("IVFADC serve plan prunes the invlists scan by probed cell") {
    val df = PipelineQueries.annIvfPqFromIndex(spark, sfDir)
    val formatted = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the cell-partitioned index scan must carry a runtime partition
    // filter — without it every cell's files are read per query batch
    assert(formatted.toLowerCase.contains("dynamicpruning"), formatted.take(3000))
  }

  test("serve plans contain no Lloyd training: codebook comes from parquet") {
    // the whole point of the artifact: the serving DAG reads the trained
    // codebook instead of re-deriving it. Training requires a join of the
    // subvector explosion against ITSELF across iterations; the serve
    // plan instead scans the tiny codebook file. Assert the optimized
    // plan reads the pqidx artifact paths.
    val plan = PipelineQueries.annPqFromIndex(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("pqidx"), plan.take(2000))
  }
}
