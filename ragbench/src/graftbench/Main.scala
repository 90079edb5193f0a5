package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** What one op produced: problems found by its checks, items it handled
  * (docs or questions), and its share of the workload's recall. */
final case class Outcome(problems: Seq[String], items: Long, hits: Long, of: Long)

/** One workload: a starting state built in set-up, then closed-loop ops. */
abstract class Workload(val spark: SparkSession, val gen: Gen, val root: Path) {
  /** Untimed ops run before the timed window. Op times fall for tens of
    * seconds while the JIT compiles the driver's planning and scheduling
    * code; the warm-up takes the steep part of that fall. A count, not a
    * time, so a slower host does not also start the timed ops less warm. */
  def warmupOps: Int
  protected def path(name: String): String = root.resolve(name).toString
  /** Builds the starting state from scratch; the last build is kept. */
  def setup(i: Int, flow: Flow): Unit
  /** Untimed: make op `k`'s inputs. */
  def prepare(k: Int): Unit = ()
  /** Timed: one caller operation. */
  def run(k: Int, flow: Flow): Unit
  /** Untimed: check op `k`'s outputs. */
  def check(k: Int): Outcome
}

object Workloads {
  val Names = Seq("ingest", "chat", "batch", "reupload")

  // Sizes are this benchmark's choice; the reference publishes none
  // (BASELINE.md). ragbench/README.md gives the reason for each.
  def apply(name: String, spark: SparkSession, gen: Gen, root: Path): Workload = name match {
    case "ingest"   => new Ingest(spark, gen, root)
    case "chat"     => new Ask(spark, gen, root, corpusDocs = 120, perOp = 1, warmupOps = 20)
    case "batch"    => new Ask(spark, gen, root, corpusDocs = 500, perOp = 16, warmupOps = 8)
    case "reupload" => new Reupload(spark, gen, root)
  }

  /** Uploads of fresh docs, each into a fresh collection. Set-up ingests a
    * smaller upload the same way, which also warms the path. */
  final class Ingest(spark: SparkSession, gen: Gen, root: Path) extends Workload(spark, gen, root) {
    private val UploadDocs = 400
    val warmupOps = 20
    private var docs: Seq[Doc] = Nil

    def setup(i: Int, flow: Flow): Unit = {
      if (i == 0) Gen.writeUpload(root.resolve("base"), gen.docs(100, UploadDocs / 2, 1, 0.01))
      flow.ingest(path("base"), path(s"setup-$i"))
    }
    override def prepare(k: Int): Unit = {
      Main.delete(root.resolve(s"up-${k - 1}")); Main.delete(root.resolve(s"coll-${k - 1}"))
      docs = gen.docs(1000L + k, UploadDocs, 1, 0.01)
      Gen.writeUpload(root.resolve(s"up-$k"), docs)
    }
    def run(k: Int, flow: Flow): Unit = flow.ingest(path(s"up-$k"), path(s"coll-$k"))
    def check(k: Int): Outcome = {
      val present = docs.filter(_.text.nonEmpty).map(_.id).toSet
      val (problems, exact) = Check.collection(spark, path(s"coll-$k"), docs, present)
      Outcome(problems, docs.length, exact.size, present.size)
    }
  }

  /** Jobs of `perOp` questions against a collection prebuilt in set-up:
    * `chat` asks one question per turn, `batch` many per job. */
  final class Ask(spark: SparkSession, gen: Gen, root: Path, corpusDocs: Int, perOp: Int,
                  val warmupOps: Int) extends Workload(spark, gen, root) {
    private lazy val corpus = gen.docs(100, corpusDocs, 1, 0.0)
    private lazy val questions = gen.questions(200, corpus, 4096, onTopicShare = 0.8).toIndexedSeq
    private var collection = ""
    private lazy val index = Check.loadIndex(spark, collection)
    private var answers: Array[Row] = Array.empty

    def setup(i: Int, flow: Flow): Unit = {
      if (i == 0) Gen.writeUpload(root.resolve("base"), corpus)
      else Main.delete(Paths.get(collection))
      collection = path(s"setup-$i")
      flow.ingest(path("base"), collection)
    }
    private def asked(k: Int): Seq[Question] =
      (0 until perOp).map(j => questions((k * perOp + j) % questions.length))
    def run(k: Int, flow: Flow): Unit =
      answers = flow.ask(collection, asked(k).map(q => (q.id, q.text)))
    def check(k: Int): Outcome = {
      val checked = asked(k).map { q =>
        answers.find(_.getLong(0) == q.id)
          .map(r => Check.answer(index, q, r))
          .getOrElse((Seq(s"question ${q.id}: no answer"), 0))
      }
      Outcome(checked.flatMap(_._1), perOp, checked.map(_._2.toLong).sum, perOp.toLong * Flow.K)
    }
  }

  /** Second uploads into the collection built in set-up: a share are exact
    * re-uploads, a share are near-duplicates, the rest are new. Each op
    * starts from an untimed copy of the set-up collection, so every op
    * reads and appends the same starting state. */
  final class Reupload(spark: SparkSession, gen: Gen, root: Path) extends Workload(spark, gen, root) {
    private val StoredDocs = 200
    private val BatchDocs = 20
    val warmupOps = 8
    private lazy val stored = gen.docs(100, StoredDocs, 1, 0.0)
    private var collection = ""
    private var batch: ReuploadBatch = _
    var pairs: DataFrame = _

    def setup(i: Int, flow: Flow): Unit = {
      if (i == 0) Gen.writeUpload(root.resolve("base"), stored)
      else Main.delete(Paths.get(collection))
      collection = path(s"setup-$i")
      flow.ingest(path("base"), collection)
    }
    override def prepare(k: Int): Unit = {
      Main.delete(root.resolve(s"re-${k - 1}")); Main.delete(root.resolve(s"work-${k - 1}"))
      Main.copy(Paths.get(collection), root.resolve(s"work-$k"))
      batch = gen.reupload(3000L + k, stored, BatchDocs, 1000000L + k * 10000L, 0.15, 0.15)
      Gen.writeUpload(root.resolve(s"re-$k"), batch.docs)
    }
    def run(k: Int, flow: Flow): Unit = {
      pairs = flow.reupload(path(s"re-$k"), path("base"), path(s"work-$k"))
      // planCache entries live for the session (graft.core.Caching): the
      // caller clears them once the result is written
      spark.catalog.clearCache()
    }
    def check(k: Int): Outcome = {
      val work = path(s"work-$k")
      val unique = batch.unique.map(_.id).toSet
      val (problems, exact) = Check.collection(spark, work, batch.docs, unique)
      val planted = batch.exact ++ batch.near.keySet
      val present = spark.read.parquet(work).select("doc_id")
        .filter(org.apache.spark.sql.functions.col("doc_id").isin(planted.toSeq: _*))
        .distinct().collect().map(_.getLong(0)).toSet
      Outcome(problems ++ unique.diff(exact).toSeq.sorted.map(id => s"unique doc $id dropped or altered"),
        batch.docs.length, planted.size - present.size, planted.size)
    }
    /** Candidate pairs of the last op that are planted (stored, near-dup)
      * pairs, and all candidate pairs. */
    def usefulPairs(): (Long, Long) = {
      val got = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      val planted = batch.near.map { case (n, s) => (s, n) }.toSet
      (got.count(planted).toLong, got.length.toLong)
    }
  }
}

object Main {
  // the first build also pays JVM and Spark warm-up; the median of five
  // is a warm build
  private val SetupRepeats = 5

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: Path, cores: Int)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.root)
    val spark = session(a)
    try run(a, spark) finally spark.stop()
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(Workloads.Names.contains(w), s"unknown workload $w; one of ${Workloads.Names.mkString(", ")}")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("root")).toAbsolutePath, need("cores").toInt)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .appName("ragbench")
      .master(s"local[${a.cores}]")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Copy directory `from` to a new directory `to`. */
  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach(f => Files.copy(f, to.resolve(from.relativize(f).toString)))
    finally s.close()
  }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  private val started = System.nanoTime()
  private def log(what: String): Unit =
    System.err.println(f"[ragbench] ${(System.nanoTime() - started) / 1e9}%.1f s: $what")

  private def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = (s.length - 1) * p / 100.0
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** Peak resident set of this process, from the kernel's high-water mark. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Runtime.getRuntime.totalMemory() / 1048576.0)

  /** One client's closed loop: each op is prepared, timed, then checked. */
  private final class Loop(w: Workload, flow: Flow) {
    val opSeconds = ArrayBuffer.empty[Double]
    var items, hits, of, attempted, failed = 0L

    /** Untimed and unchecked. */
    def warmup(k: Int): Unit = { w.prepare(k); w.run(k, flow) }

    def op(k: Int): Unit = {
      val (_, tp) = seconds(w.prepare(k))
      val (err, t) = seconds(try { w.run(k, flow); None } catch { case NonFatal(e) => Some(e) })
      val (outcome, tc) = seconds(err match {
        case Some(e) => Outcome(Seq(s"op $k threw $e"), 0, 0, 0)
        case None    => try w.check(k) catch { case NonFatal(e) => Outcome(Seq(s"check of op $k threw $e"), 0, 0, 0) }
      })
      attempted += 1
      System.err.println(f"[op] $k ${t * 1000}%.0f ms (untimed: prepare ${tp * 1000}%.0f ms, check ${tc * 1000}%.0f ms)")
      if (outcome.problems.nonEmpty) {
        failed += 1
        outcome.problems.take(5).foreach(p => System.err.println(s"[check] ${w.getClass.getSimpleName} op $k: $p"))
      }
      opSeconds += t
      items += outcome.items; hits += outcome.hits; of += outcome.of
    }
  }

  private def run(a: Args, spark: SparkSession): Unit = {
    val w = Workloads(a.workload, spark, new Gen(a.seed), a.root)
    val direct = new Flow(spark, new Direct)
    log("session up")
    val setup = (0 until SetupRepeats).map(i => seconds(w.setup(i, direct))._2)
    log("set-up done")
    val plain = new Loop(w, direct)
    var k = 0
    while (k < w.warmupOps) { plain.warmup(k); k += 1 }
    log("warm-up done")

    val budget = if (a.trace) a.seconds / 2 else a.seconds
    while (plain.opSeconds.sum < budget) { plain.op(k); k += 1 }

    log("untraced ops done")
    val (metrics, loops) = if (!a.trace) {
      val ms = plain.opSeconds.map(_ * 1000)
      val m = Seq(
        ("items_per_s", "1/s", plain.items / plain.opSeconds.sum),
        ("op_ms_p50", "ms", percentile(ms.toSeq, 50)),
        ("op_ms_p90", "ms", percentile(ms.toSeq, 90)),
        ("recall", "ratio", if (plain.of > 0) plain.hits.toDouble / plain.of else 0.0),
        ("peak_rss_mb", "MB", peakRssMb()),
        ("setup_s", "s", median(setup)))
      System.err.println(f"[ragbench] ${a.workload}: ${plain.opSeconds.length} timed ops, " +
        f"${plain.items} items, setup runs ${setup.map(s => f"$s%.3f").mkString(" ")} s")
      (m, Seq(plain))
    } else {
      val dir = a.root.resolve("spans")
      val tracer = new Traced(spark, dir.toString)
      val traced = new Loop(w, new Flow(spark, tracer))
      while (traced.opSeconds.sum < budget) { tracer.startOp(); traced.op(k); k += 1 }
      tracer.close()
      tracer.writeSpans(a.root.resolve("spans.jsonl"))
      val useful = w match {
        case r: Workloads.Reupload =>
          val (u, n) = r.usefulPairs(); if (n > 0) u.toDouble / n else 0.0
        case _ => 0.0
      }
      val overhead = median(traced.opSeconds.toSeq) / median(plain.opSeconds.toSeq) - 1.0
      val units = Layers.Counters.toMap
      val m = tracer.table(a.cores).map { case (n, v) => (n, units(n.split('.').last), v) } ++ Seq(
        ("analytics.pairs.useful_frac", "ratio", useful),
        ("trace.overhead_frac", "ratio", overhead))
      System.err.println(f"[ragbench] ${a.workload}: ${plain.opSeconds.length} untraced and " +
        f"${traced.opSeconds.length} traced ops")
      (m, Seq(plain, traced))
    }

    val attempted = loops.map(_.attempted).sum
    val failed = loops.map(_.failed).sum
    metrics.foreach { case (n, u, v) => System.err.println(f"  $n%-36s ${v}%14.4f $u") }
    System.err.println(f"  fail_frac ${failed.toDouble / attempted}%.4f ($failed of $attempted ops)")
    def num(v: Double) = if (v.isNaN || v.isInfinite) "0.0" else v.toString
    val body = metrics.map { case (n, u, v) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {${body.mkString(", ")}}}""")
  }
}
