package graft.analytics

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge

import graft.SparkSuite

/** The small-input paths of `Blocking.selfPairs` against its task join
  * over the input: the driver-path bounds passed as ∞ (every input with a
  * STRING or integral key and a non-null integral id pairs on the driver),
  * as ∞ rows and -1 pairs (the task join over the collected rows) and as 0
  * (the task join over the input itself) must give the same schema and
  * the same rows; the inputs the driver path must decline take a task
  * join, and the inputs the read must decline start no job. */
class BlockingLocalSpec extends SparkSuite {

  private def pairs(df: DataFrame, block: String, id: String, maxBlock: Int,
                    rows: Int, bound: Long): DataFrame =
    Blocking.selfPairs(df, block, id, maxBlock, rows, bound, bound)

  private def local(df: DataFrame, block: String, id: String, maxBlock: Int = 100) =
    pairs(df, block, id, maxBlock, Int.MaxValue - 1, Long.MaxValue)

  private def collectedJoin(df: DataFrame, block: String, id: String, maxBlock: Int = 100) =
    Blocking.selfPairs(df, block, id, maxBlock, Int.MaxValue - 1, -1L, Long.MaxValue)

  private def distributed(df: DataFrame, block: String, id: String, maxBlock: Int = 100) =
    pairs(df, block, id, maxBlock, 0, 0L)

  /** Which path built `df`: "driver" (the pairs themselves are a local
    * relation), "collected" (the task join reads the collected rows) or
    * "input" (the task join reads the input). */
  private def path(df: DataFrame): String = Bridge.analyzedPlan(df) match {
    case _: LocalRelation => "driver"
    case p if p.collectLeaves().exists(_.output.exists(_.name == "_block_n")) => "collected"
    case _ => "input"
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  /** `BlockingSpec`'s frame: a hot block of 300 (3× the cap at
    * maxBlock 100), a mid block of 60 and a tail of singletons. */
  private lazy val hotMidTail: DataFrame = {
    import spark.implicits._
    ((0L until 300L).map(i => (i, "HOT", i * 2)) ++
      (1000L until 1060L).map(i => (i, "MID", i * 2)) ++
      (5000L until 5050L).map(i => (i, s"b_$i", i * 2))).toDF("id", "block", "payload")
  }

  private lazy val inputs: Seq[(String, DataFrame, String, String)] = {
    import spark.implicits._
    val lake = java.nio.file.Files.createTempDirectory("blocking-pairs").resolve("rows").toString
    Seq[(Long, Option[String], Option[Double], Option[Seq[Long]])](
      (1L, Some("a"), Some(0.5), Some(Seq(1L, 2L))), (2L, Some("a"), None, None),
      (3L, Some("a"), Some(-0.0), Some(Seq.empty)), (4L, None, Some(1.0), Some(Seq(3L))),
      (5L, None, None, None), (6L, Some("b"), Some(Double.NaN), None), (7L, Some("b"), None, Some(Seq(9L))))
      .toDF("id", "block", "score", "sh").write.parquet(lake)
    Seq(
      ("hot/mid/tail at maxBlock 100", hotMidTail, "block", "id"),
      ("duplicate rows and equal ids in one block",
        Seq((1L, "k", "x"), (1L, "k", "x"), (2L, "k", "y"), (2L, "k", "z"), (3L, "k", "x"), (4L, "j", "x"))
          .toDF("id", "block", "payload"), "block", "id"),
      ("null block keys",
        Seq[(Long, Option[String])]((1L, Some("a")), (2L, None), (3L, Some("a")), (4L, None), (5L, None))
          .toDF("id", "block"), "block", "id"),
      ("INT id, STRING key", (0 until 40).map(i => (i, s"k${i % 3}")).toDF("id", "block"), "block", "id"),
      ("INT id, INT key", (0 until 40).map(i => (i, i % 4, i.toString)).toDF("id", "block", "p"), "block", "id"),
      ("INT id, LONG key", (0 until 40).map(i => (i, (i % 5).toLong << 40)).toDF("id", "block"), "block", "id"),
      ("LONG id, INT key", (0L until 40L).map(i => (i, (i % 2).toInt)).toDF("id", "block"), "block", "id"),
      ("LONG id, LONG key, negative ids", (-20L until 20L).map(i => (i, i % 3)).toDF("id", "block"), "block", "id"),
      ("parquet, nullable payload with nulls", spark.read.parquet(lake), "block", "id"),
      ("empty", Seq.empty[(Long, String)].toDF("id", "block"), "block", "id"))
  }

  test("driver path and the task join over collected rows equal the task join over the input") {
    for ((name, df, block, id) <- inputs) {
      val (l, c, d) = (local(df, block, id), collectedJoin(df, block, id), distributed(df, block, id))
      assert(Seq(l, c, d).map(path) === Seq("driver", "collected", "input"), name)
      assert(l.schema === d.schema, name)
      assert(c.schema === d.schema, name)
      val expected = rows(d)
      assert(rows(l) === expected, name)
      assert(rows(c) === expected, name)
    }
  }

  test("task join over the input: exactly the naive pair set, and deterministic under repartitioning") {
    import spark.implicits._
    val got = distributed(hotMidTail, "block", "id")
      .select(col("_1.id"), col("_1.payload"), col("_2.id"), col("_2.payload"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    val naive = hotMidTail.as("a").join(hotMidTail.as("b"),
        col("a.block") === col("b.block") && col("a.id") < col("b.id"))
      .select(col("a.id"), col("a.payload"), col("b.id"), col("b.payload"))
      .as[(Long, Long, Long, Long)].collect().sorted.toSeq
    assert(naive.size === 300 * 299 / 2 + 60 * 59 / 2)
    assert(got === naive) // no pair lost, none twice, lower id first, payloads on their own side
    val df = (0L until 500L).map(i => (i, s"blk_${i % 3}")).toDF("id", "block")
    def ids(in: DataFrame) = distributed(in, "block", "id", maxBlock = 40)
      .select(col("_1.id"), col("_2.id")).as[(Long, Long)].collect().sorted.toSeq
    val one = ids(df)
    assert(one.size === 2 * (167 * 166 / 2) + 166 * 165 / 2)
    assert(ids(df.repartition(17)) === one)
  }

  test("driver path: equal ids never pair, null block keys pair with nothing, lower id first") {
    import spark.implicits._
    val df = Seq[(Long, Option[String])]((2L, Some("a")), (2L, Some("a")), (1L, Some("a")),
      (3L, None), (4L, None)).toDF("id", "block")
    val got = local(df, "block", "id").select(col("_1.id"), col("_2.id")).as[(Long, Long)].collect()
    assert(got.toSeq.sorted === Seq((1L, 2L), (1L, 2L)))
  }

  test("declines: a null id, a DOUBLE key, one row over the row bound, pairs over the byte bound take a task join") {
    import spark.implicits._
    val nullId = Seq[(Option[Long], String)]((Some(1L), "a"), (None, "a"), (Some(2L), "a"), (Some(3L), "a"))
      .toDF("id", "block")
    val n = local(nullId, "block", "id")
    assert(path(n) === "collected")
    assert(rows(n) === rows(distributed(nullId, "block", "id")))
    val doubleKey = Seq((1L, 0.0), (2L, -0.0), (3L, 1.5), (4L, 1.5)).toDF("id", "block")
    val d = local(doubleKey, "block", "id")
    assert(path(d) === "input")
    assert(rows(d) === rows(distributed(doubleKey, "block", "id")))
    val small = (0L until 50L).map(i => (i, s"k${i % 5}")).toDF("id", "block")
    assert(path(pairs(small, "block", "id", 100, 50, Long.MaxValue)) === "driver")
    assert(path(pairs(small, "block", "id", 100, 49, Long.MaxValue)) === "input")
    // q34's shape at the real bounds: one label block of 200 64-d double
    // rows is 19,900 pairs of about 1.1 KB each, over the 16 MB byte bound
    val vectors = (0L until 200L).map(i => (i, "label", Array.tabulate(64)(j => (i * 64 + j).toDouble)))
      .toDF("vec_id", "label", "v")
    val big = Blocking.selfPairs(vectors, "label", "vec_id", 1024)
    assert(path(big) === "collected")
    assert(big.count() === 200L * 199 / 2)
    assert(path(Blocking.selfPairs(vectors.filter(col("vec_id") < 100L), "label", "vec_id", 1024)) === "driver")
  }

  /** The Spark jobs that `body` starts on this thread, and the result
    * bytes their tasks sent to the driver. */
  private def jobs(body: => Unit): (Int, Long) = {
    val sc = spark.sparkContext
    val group = s"pairs-jobs-${java.util.UUID.randomUUID}"
    val n = new AtomicInteger
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val sent = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          n.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null) sent.addAndGet(e.taskMetrics.resultSize)
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobs-per-call guard")
    try { body; Bridge.waitListenerBusEmpty(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    (n.get, sent.get)
  }

  /** 500 rows, 7 blocks, 4 partitions; a range keeps the size estimate
    * known. */
  private def fourParts: DataFrame = spark.range(0, 500, 1, 4)
    .select(col("id"), concat(lit("k"), (col("id") % 7).cast("string")).as("block"), (col("id") * 3).as("payload"))

  test("a small input costs exactly one Spark job at call time and returns a local relation") {
    var out: DataFrame = null
    assert(jobs { out = Blocking.selfPairs(fourParts, "block", "id", 256) }._1 === 1)
    assert(path(out) === "driver")
    // one job over a larger input too: the bounded read is cancelled, the
    // distributed join stays lazy
    assert(jobs { out = pairs(fourParts, "block", "id", 256, 100, Long.MaxValue) }._1 === 1)
    assert(path(out) === "input")
  }

  test("an input estimated over the byte bound, or of unknown size, starts no read") {
    import spark.implicits._
    var out: DataFrame = null
    // the estimate of 500 range rows is about 11 KB
    assert(jobs { out = Blocking.selfPairs(fourParts, "block", "id", 256, Int.MaxValue - 1, Long.MaxValue, 1000L) }
      ._1 === 0)
    assert(path(out) === "input")
    // Spark takes an RDD's size as Long.MaxValue
    val rdd = spark.sparkContext.parallelize((0L until 500L).map(i => (i, s"k${i % 7}")), 4).toDF("id", "block")
    assert(jobs { out = Blocking.selfPairs(rdd, "block", "id", 256) }._1 === 0)
    assert(path(out) === "input")
    assert(rows(out) === rows(local(rdd, "block", "id", 256)))
  }

  test("partitions that pass the byte bound only together send about the bound to the driver") {
    val bound = 1L << 20
    // 8 partitions of 3,900 240-byte rows, about 0.9 MB each and 7.5 MB in
    // all; the estimate takes a string as 20 bytes and stays under the bound
    val df = spark.range(0, 31200, 1, 8).select(col("id"),
      concat(lit("k"), (col("id") % 5).cast("string")).as("block"), repeat(lit("x"), 200).as("payload"))
    assert(Bridge.freshExecution(df).optimizedPlan.stats.sizeInBytes < bound)
    var out: DataFrame = null
    val (n, sent) = jobs { out = Blocking.selfPairs(df, "block", "id", 256, Int.MaxValue - 1, Long.MaxValue, bound) }
    assert(n === 1)
    assert(path(out) === "input")
    // each task stops after its eighth of the bound; a cap of the whole
    // bound per task would send at least two partitions, 1.8 MB
    assert(sent < bound + bound / 4, s"$sent result bytes")
  }

  test("task join over collected rows: the caller's block key is computed once per input row") {
    import spark.implicits._
    val calls = spark.sparkContext.longAccumulator("block key calls")
    val key = udf((i: Long) => { calls.add(1); s"k${i % 4}" })
    val df = (0L until 200L).toDF("id").withColumn("block", key(col("id")))
    val pairs = collectedJoin(df, "block", "id", maxBlock = 20)
    assert(path(pairs) === "collected")
    assert(pairs.count() === 4L * (50 * 49 / 2))
    assert(calls.sum === 200L)
  }
}
