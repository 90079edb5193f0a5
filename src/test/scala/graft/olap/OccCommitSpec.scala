package graft.olap

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** q169's optimistic-concurrency contract: the commit log records the
  * race faithfully, the rebase preserves writer A's compaction instead
  * of resurrecting pre-compaction files, untouched units are shared by
  * reference across snapshots, and the final content equals an
  * independent recompute of "events minus B's victims". */
class OccCommitSpec extends SparkSuite {

  private def manifest(lake: java.io.File, name: String): Vector[Vector[Any]] = {
    val (_, entries) = graft.sources.Avro.decode(
      java.nio.file.Files.readAllBytes(new java.io.File(lake, name).toPath))
    entries
  }

  test("commit log: three attempts, one true conflict, deleter retried on g2") {
    SparkEntry.queries("q169_commit_conflict")(spark, sfDir).collect()
    val lake = stagedLake("occlake", "events")
    val (_, commits) = graft.sources.Avro.decode(
      java.nio.file.Files.readAllBytes(new java.io.File(lake, "commits.avro").toPath))
    assert(commits.length === 3)
    val outcomes = commits.map(r => (r(1).asInstanceOf[String],
      r(2).asInstanceOf[String], r(3).asInstanceOf[String]))
    assert(outcomes === Vector(
      ("compactor", "g1", "committed"),
      ("deleter", "g1", "conflict"),
      ("deleter", "g2", "committed")))
    assert(commits(1)(4).asInstanceOf[Long] > 0, "conflict row counts no units")
  }

  test("rebase preserves the compaction and shares untouched units by reference") {
    SparkEntry.queries("q169_commit_conflict")(spark, sfDir).collect()
    val lake = stagedLake("occlake", "events")
    val g1 = manifest(lake, "manifest_g1.avro")
    val g2 = manifest(lake, "manifest_g2.avro")
    val g3 = manifest(lake, "manifest_g3.avro")
    val ids = (m: Vector[Vector[Any]]) => m.map(_(0).asInstanceOf[Long]).toSet
    val paths = (m: Vector[Vector[Any]]) => m.map(_(1).asInstanceOf[String]).toSet
    // the compacted unit survives B's rebase (still unit 100000, but its
    // path moved to the rewrite — B had to rewrite it, minus victims)
    assert(ids(g3).contains(100000L), "rebase dropped the compacted unit")
    // g1 units folded by A never reappear in g3
    val folded = ids(g1) -- ids(g2)
    assert(folded.nonEmpty)
    assert((ids(g3) & folded).isEmpty, "rebase resurrected compacted units")
    // snapshots share data files: some g3 entries point at g1's original
    // unit dirs verbatim (reference, not copy)
    assert((paths(g3) & paths(g1)).nonEmpty,
      "no unit shared by reference between g1 and g3")
    // rewritten entries moved out of their old paths
    assert((paths(g3) -- paths(g2)).forall(_.startsWith("rw/")),
      "a new g3 path is not a rewrite")
  }

  test("final content equals events minus the deleter's victims") {
    val out = SparkEntry.queries("q169_commit_conflict")(spark, sfDir)
      .select(col("event_type"), col("n"), col("id_sum")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val e = graft.core.Tables.events(spark, sfDir)
      .withColumn("us", unix_micros(col("ts")))
    val t0 = e.agg(min(col("us"))).head().getLong(0)
    val (lo, hi) = (t0 + 172800000000L, t0 + 385200000000L)
    val expected = e
      .filter(!(col("event_type") === "click" &&
        col("us") >= lo && col("us") <= hi))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("s")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out === expected)
  }
}
