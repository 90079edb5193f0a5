package graft.analytics

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSuite

/** The small-graph driver path of both connected-components entry points
  * against their distributed loops: the driver-path bound passed as 0
  * (always distributed) and as ∞ (every LONG graph on the driver) must
  * give the same schema and the same rows, the same strict error and the
  * same partial labels. */
class ClustersLocalSpec extends SparkSuite {

  private val Unbounded = Int.MaxValue - 1

  private type Cc = (DataFrame, Int, Boolean, Int) => DataFrame
  private val entryPoints: Seq[(String, Cc, Int)] = Seq(
    ("min-label", Clusters.minLabel _, 60),
    ("star contraction", Clusters.starContraction _, 25))

  private lazy val inputs: Seq[(String, DataFrame)] = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val random = Seq.fill(220)((rnd.nextInt(300).toLong, rnd.nextInt(300).toLong))
      .filter { case (a, b) => a != b }
    val lake = java.nio.file.Files.createTempDirectory("cc-pairs").resolve("pairs").toString
    Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)), (Some(3L), Some(2L)),
      (None, Some(7L)), (None, None), (Some(9L), Some(9L)))
      .toDF("id1", "id2").write.parquet(lake)
    Seq(
      "star" -> Seq((10L, 11L), (10L, 12L), (13L, 10L), (10L, 14L)).toDF("id1", "id2"),
      "chain" -> (0L until 12L).map(i => (i, i + 1)).toDF("id1", "id2"),
      "self-loop" -> Seq((5L, 5L), (1L, 2L)).toDF("id1", "id2"),
      "duplicate pair" -> Seq((1L, 2L), (1L, 2L), (2L, 1L), (2L, 3L)).toDF("id1", "id2"),
      "empty" -> Seq.empty[(Long, Long)].toDF("id1", "id2"),
      "parquet, nullable with nulls" -> spark.read.parquet(lake),
      "seeded 300-node random graph" -> random.toDF("id1", "id2"))
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  for ((entry, cc, maxIter) <- entryPoints) {
    test(s"$entry: driver path equals the distributed loop in schema and rows") {
      for ((name, pairs) <- inputs) {
        val local = cc(pairs, maxIter, true, Unbounded)
        val distributed = cc(pairs, maxIter, true, 0)
        assert(local.schema === distributed.schema, name)
        assert(rows(local) === rows(distributed), name)
      }
    }

    test(s"$entry: a chain longer than maxIter throws on both paths, or returns equal partial labels") {
      import spark.implicits._
      val chain = (0L until 60L).map(i => (i, i + 1)).toDF("id1", "id2")
      val errors = Seq(Unbounded, 0).map { bound =>
        intercept[IllegalStateException](cc(chain, 2, true, bound).collect()).getMessage
      }
      assert(errors.distinct.size === 1 && errors.head.contains("did not converge"))
      val partial = cc(chain, 2, false, Unbounded)
      assert(rows(partial) === rows(cc(chain, 2, false, 0)))
      assert(partial.filter(col("canonical_id") =!= 0L).count() > 0) // provably partial
    }
  }

  /** Spark jobs that `body` starts on this thread. */
  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"cc-jobs-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobs-per-call guard")
    try { body; Bridge.waitListenerBusEmpty(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    n.get
  }

  test("a small-graph connectedComponents call runs at most 2 jobs after the pair checkpoint") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L), (6L, 6L)).toDF("id1", "id2")
    val checkpoint = jobs {
      pairs.select(least(col("id1"), col("id2")).as("u"), greatest(col("id1"), col("id2")).as("v"))
        .distinct().localCheckpoint(true)
    }
    val small = jobs(Clusters.connectedComponents(pairs).collect())
    assert(small - checkpoint <= 2, s"checkpoint $checkpoint jobs, whole call $small")
    // the guard bites: the distributed loop runs a job per round and more
    val distributed = jobs(Clusters.minLabel(pairs, 10, true, 0).collect())
    assert(distributed - checkpoint > 2, s"checkpoint $checkpoint jobs, distributed $distributed")
  }
}
