package graft.vector

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.queries.{PipelineQueries, VectorQueries}

class PqSpec extends SparkSuite {

  test("train recovers planted clusters; encode assigns every point to its cluster") {
    import spark.implicits._
    // two subspaces (dsub=2), two well-separated clusters per subspace:
    // k-means from any sane init must land one centroid per cluster and
    // every point must encode to its own cluster's code
    val pts = (0 until 40).map { i =>
      val c = i % 2 // cluster
      val base = if (c == 0) 0.0 else 10.0
      val jit = (i / 2) * 0.01
      (i.toLong, Seq(base + jit, base - jit), Seq(10.0 - base + jit, 10.0 - base))
    }
    val sub = pts.toDF("id", "s0", "s1")
      .select(col("id"), posexplode(array(col("s0"), col("s1"))).as(Seq("m", "sv")))
    // init: first two points (one per cluster) seed the two codes
    val init = sub.filter(col("id") < 2)
      .select(col("m"), col("id").cast("int").as("code"), col("sv").as("cv"))
    val cb = Pq.trainCodebook(sub, init, iters = 5)
    val cents = cb.map { case (m, code, cv) => ((m, code), cv) }.toMap
    assert(cents.size === 4) // 2 subspaces × 2 codes
    // subspace 0: code 0 near (0+,0−), code 1 near (10+,10−)
    assert(math.abs(cents((0, 0)).head - 0.095) < 0.5)
    assert(math.abs(cents((0, 1)).head - 10.095) < 0.5)
    val vecs = pts.toDF("id", "s0", "s1").select(col("id"), concat(col("s0"), col("s1")).as("v"))
    val codes = Pq.encodeV(vecs, cb, m = 2, dsub = 2).collect()
      .map(r => r.getLong(r.fieldIndex("id")) -> r.getSeq[Int](r.fieldIndex("codes"))).toMap
    // code indices follow the SEED points: point 0 (cluster 0) seeds
    // code 0 in both subspaces, point 1 seeds code 1 — so a cluster-c
    // point encodes as (c, c)
    pts.foreach { case (id, _, _) =>
      val expected = (id % 2).toInt
      assert(codes(id) === Seq(expected, expected),
        s"point $id encoded as ${codes(id)}")
    }
  }

  test("empty cells keep their previous centroid (codebook never shrinks)") {
    import spark.implicits._
    val sub = (0 until 10).map(i => (i.toLong, 0, Seq(1.0, 1.0))).toDF("id", "m", "sv")
    // code 1 sits far from every point: it captures nothing and must
    // survive training unchanged
    val init = Seq((0, 0, Seq(0.9, 0.9)), (0, 1, Seq(500.0, 500.0)))
      .toDF("m", "code", "cv")
    val cb = Pq.trainCodebook(sub, init, iters = 3)
      .map { case (_, code, cv) => code -> cv }.toMap
    assert(cb(0) === Seq(1.0, 1.0)) // converged onto the data
    assert(cb(1) === Seq(500.0, 500.0)) // untouched
  }

  test("q38 output is deterministic run-to-run (scaled-long training sums)") {
    val a = PipelineQueries.annPq(spark, sfDir).collect()
    val b = PipelineQueries.annPq(spark, sfDir).collect()
    assert(a.toSeq === b.toSeq)
  }

  test("q38: every query's rank-1 is itself, and recall@5 vs exact ≥ 0.6") {
    val pq = PipelineQueries.annPq(spark, sfDir).cache()
    val self = pq.filter(col("rank") === 1)
      .select(col("query_id"), col("vec_id"), col("cosine")).collect()
    assert(self.length === 3)
    self.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "rank-1 is not the query itself")
      assert(math.abs(r.getDouble(2) - 1.0) < 1e-6)
    }
    val exact = VectorQueries.topkCosine(spark, sfDir)
      .select(col("query_id"), col("vec_id"))
    val hits = pq.select(col("query_id"), col("vec_id"))
      .join(exact, Seq("query_id", "vec_id")).count()
    val total = exact.count()
    assert(total === 15L)
    val recall = hits.toDouble / total
    assert(recall >= 0.6, f"recall@5 $recall%.2f below floor (hits=$hits/$total)")
    pq.unpersist()
  }
}
