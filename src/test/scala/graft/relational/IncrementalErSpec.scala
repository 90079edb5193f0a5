package graft.relational

import graft.{SparkEntry, SparkSuite}

/** q155's contract: typo arrivals merge into exactly their base entity,
  * reversed-name arrivals resolve as new, and the persisted key index is
  * reused (never rebuilt) across calls. */
class IncrementalErSpec extends SparkSuite {

  private lazy val rows = SparkEntry.queries("q155_incremental_er")(spark, sfDir)
    .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

  // batch ids are re-keyed above the table's own key space (2 × max key),
  // mirroring the engine's collision-proof synthetic-id derivation
  private lazy val maxKey = graft.core.Tables.customer(spark, sfDir)
    .agg(org.apache.spark.sql.functions.max(
      org.apache.spark.sql.functions.col("c_custkey")).cast("long"))
    .head().getLong(0)

  test("every arrival is decided; typos merge to their base, reversals are new") {
    assert(rows.nonEmpty)
    rows.foreach { case (rid, decision, canonical) =>
      val custkey = rid - 2L * (maxKey + 1L)
      if (custkey % 3 == 0) {
        assert(decision == "new" && canonical == -1L,
          s"reversed arrival $rid must be a new entity")
      } else {
        assert(decision == "merged" && canonical == custkey,
          s"typo arrival $rid must merge into its base $custkey, got $canonical")
      }
    }
  }

  test("the persisted key index is served, not rebuilt, on a second call") {
    SparkEntry.queries("q155_incremental_er")(spark, sfDir).collect()
    val root = stagedLake("erindex", "customer")
    def snap = {
      def walk(f: java.io.File): Seq[(String, Long)] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f.getAbsolutePath -> f.lastModified)
      walk(root).toMap
    }
    val before = snap
    SparkEntry.queries("q155_incremental_er")(spark, sfDir).collect()
    assert(snap == before, "re-run must not rewrite the published index")
  }
}
