package graft.sources

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The graftblob DSv2 connector: listing-time filter pushdown, byte-level
  * column pruning, size-packed splits — asserted at both the plan level
  * (the optimizer actually pushes) and the listing level (the connector
  * actually skips). */
class BlobDataSourceSpec extends SparkSuite {

  /** A throwaway blob dir with `n` files of `size` bytes each. */
  private def blobDir(n: Int, size: Int = 100, ext: String = "bin"): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory("graftblob_spec").toFile
    (0 until n).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(dir, f"doc_$i%06d.$ext").toPath,
        Array.fill[Byte](size)((i % 251).toByte))
    }
    dir
  }

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec = {
    val plan = df.queryExecution.executedPlan match {
      // aggregates plan through AQE; the scan sits in the inner plan
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    plan.collectFirst { case s: BatchScanExec => s }.get
  }

  test("filters push into the scan and prune the file listing") {
    val dir = blobDir(20)
    val df = spark.read.format("graftblob").load(dir.getAbsolutePath)
      .filter(col("doc_id") < 5)
      .select("doc_id", "length")
    // plan level: the scan itself carries the pushed predicate
    val scan = scanOf(df)
    assert(scan.scan.description().contains("LessThan(doc_id,5)"))
    // listing level: only the 5 accepted files become rows
    assert(df.count() === 5)
    assert(df.agg(sum("length")).first().getLong(0) === 500L)
    // partition planning saw only accepted files too
    assert(scan.inputRDD.getNumPartitions >= 1)
  }

  test("ext equality and doc_id In push; unsupported predicates stay above") {
    val dir = blobDir(10, ext = "wav")
    val hit = spark.read.format("graftblob").load(dir.getAbsolutePath)
      .filter(col("ext") === "wav" && col("doc_id").isin(1L, 3L))
    assert(scanOf(hit).scan.description().contains("EqualTo(ext,wav)"))
    assert(hit.count() === 2)
    val miss = spark.read.format("graftblob").load(dir.getAbsolutePath)
      .filter(col("ext") === "docx")
    assert(miss.count() === 0)
    // a non-pushable predicate (on length) still evaluates correctly above
    val above = spark.read.format("graftblob").load(dir.getAbsolutePath)
      .filter(col("length") > 0)
    assert(scanOf(above).scan.description().contains("PushedFilters: []"))
    assert(above.count() === 10)
  }

  test("column pruning reaches the scan schema; metadata scans read no bytes") {
    val dir = blobDir(8)
    val meta = spark.read.format("graftblob").load(dir.getAbsolutePath)
      .select("doc_id", "ext", "length")
    val desc = scanOf(meta).scan.description()
    assert(desc.contains("ReadSchema: struct<doc_id:bigint,ext:string,length:bigint>"))
    assert(!desc.contains("content"))
    assert(meta.count() === 8)
    // with content projected, the real bytes come back
    val full = spark.read.format("graftblob").load(dir.getAbsolutePath)
      .filter(col("doc_id") === 3).select("content")
    val bytes = full.first().getAs[Array[Byte]](0)
    assert(bytes.length === 100 && bytes(0) === 3.toByte)
  }

  test("splits pack by cumulative size under maxPartitionBytes") {
    val dir = blobDir(10, size = 100)
    def parts(maxBytes: Long): Int =
      scanOf(spark.read.format("graftblob")
        .option("maxPartitionBytes", maxBytes.toString)
        .load(dir.getAbsolutePath).select("doc_id")).inputRDD.getNumPartitions
    assert(parts(1000L) === 1)  // all 10 files fit one split
    assert(parts(300L) === 4)   // 3+3+3+1
    assert(parts(100L) === 10)  // one file per split
  }

  test("non-blob file names are ignored like a parquet scan's _SUCCESS") {
    val dir = blobDir(3)
    java.nio.file.Files.write(new java.io.File(dir, "_SUCCESS").toPath, Array.emptyByteArray)
    java.nio.file.Files.write(new java.io.File(dir, "readme.txt").toPath, "hi".getBytes)
    val df = spark.read.format("graftblob").load(dir.getAbsolutePath)
    assert(df.count() === 3)
  }

  test("write path: two-phase commit publishes blobs atomically") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftblob_write").toFile
    (0L until 6L).map(i => (i, "bin", Array.fill[Byte](10)(i.toByte)))
      .toDF("doc_id", "ext", "content")
      .withColumn("length", length(col("content")).cast("long"))
      .repartition(3) // multiple writer tasks → multiple commit messages
      .write.format("graftblob").mode("append").save(dir.getAbsolutePath)
    // all blobs visible under final names, no temp residue
    assert(dir.listFiles().count(_.getName.endsWith(".tmp")) === 0)
    val back = spark.read.format("graftblob").load(dir.getAbsolutePath)
    assert(back.count() === 6)
    val r = back.filter(col("doc_id") === 4).select("content").first()
    assert(r.getAs[Array[Byte]](0).toSeq === Array.fill[Byte](10)(4.toByte).toSeq)
    // stray temp files (a crashed task's residue) stay invisible to reads
    java.nio.file.Files.write(
      new java.io.File(dir, ".doc_000009.bin.99.tmp").toPath, Array[Byte](1))
    assert(spark.read.format("graftblob").load(dir.getAbsolutePath).count() === 6)
  }

  test("write path: the sink refuses a row whose name its listing cannot read back") {
    import spark.implicits._
    // a negative id formats as doc_-00005 and a dotted ext as doc_<id>.tar.gz:
    // neither matches doc_<digits>.<alnum>, so a committed blob would drop
    // out of every read without an error
    for ((badId, badExt) <- Seq((-5L, "bin"), (7L, "tar.gz"))) {
      val dir = java.nio.file.Files.createTempDirectory("graftblob_badname").toFile
      val rows = (0L until 3L).map(i => (i, "bin", Array.fill[Byte](4)(i.toByte))) :+
        ((badId, badExt, Array[Byte](9)))
      val written = scala.util.Try(
        rows.toDF("doc_id", "ext", "content")
          .withColumn("length", length(col("content")).cast("long"))
          .write.format("graftblob").mode("append").save(dir.getAbsolutePath))
      val back = spark.read.format("graftblob").load(dir.getAbsolutePath).count()
      assert(written.isFailure,
        s"(doc_id=$badId, ext=$badExt): write succeeded but read back $back of ${rows.size} rows")
      val causes = Iterator.iterate(written.failed.get: Throwable)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(e => Option(e.getMessage).exists(_.contains(s"(doc_id=$badId, ext=$badExt)"))),
        written.failed.get.toString)
      assert(back === 0, "a failed write must publish nothing")
    }
  }

  test("runtime filtering: a joined dim's keys re-filter the listing at execution") {
    import spark.implicits._
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // interface level: a runtime In(doc_id, …) delivered via filter()
    // shrinks the planned partitions to exactly the matching files
    val dir = blobDir(10, size = 100)
    def scanWith(runtime: Option[org.apache.spark.sql.sources.Filter]) = {
      val b = new BlobScanBuilder(dir.getAbsolutePath, CaseInsensitiveStringMap.empty())
      b.pruneColumns(BlobDataSource.Schema)
      val s = b.build().asInstanceOf[BlobScan]
      runtime.foreach(f => s.filter(Array(f)))
      s
    }
    val unfiltered = scanWith(None)
    assert(unfiltered.estimateStatistics().numRows().getAsLong === 10L)
    val filtered = scanWith(Some(org.apache.spark.sql.sources.In(
      "doc_id", Array(2L, 5L))))
    assert(filtered.estimateStatistics().numRows().getAsLong === 2L)
    assert(filtered.planInputPartitions()
      .map(_.asInstanceOf[BlobInputPartition].files.length).sum === 2)
    // plan level: joining a file-backed filtered dim on doc_id plants the
    // dynamic-pruning subquery on the v2 scan
    val dimPath = java.nio.file.Files.createTempDirectory("graft_dim").toString
    (0L until 10L).map(i => (i, if (i % 5 == 0) "keep" else "drop"))
      .toDF("doc_id", "verdict").write.mode("overwrite").parquet(dimPath)
    val joined = spark.read.format("graftblob").load(dir.getAbsolutePath)
      .select("doc_id", "length")
      .join(spark.read.parquet(dimPath).filter(col("verdict") === "keep"), Seq("doc_id"))
    assert(joined.queryExecution.executedPlan.toString.contains("dynamicpruning"),
      joined.queryExecution.executedPlan.toString)
    assert(joined.count() === 2)
  }

  test("statistics: the optimizer sees the pruned listing, bytes only with content") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = blobDir(4, size = 1000)
    def stats(prune: Boolean) = {
      val b = new BlobScanBuilder(dir.getAbsolutePath, CaseInsensitiveStringMap.empty())
      if (prune) b.pruneColumns(org.apache.spark.sql.types.StructType(
        BlobDataSource.Schema.filter(_.name != "content")))
      b.build().asInstanceOf[BlobScan].estimateStatistics()
    }
    assert(stats(prune = false).sizeInBytes().getAsLong >= 4000L)
    assert(stats(prune = true).sizeInBytes().getAsLong < 1000L)
  }

  test("aggregate pushdown: listing answers COUNT/MIN/MAX/SUM with zero file reads") {
    val dir = blobDir(6, size = 100, ext = "wav")
    // add a second extension so GROUP BY ext has two groups
    (6 until 10).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(dir, f"doc_$i%06d.png").toPath, Array.fill[Byte](50)(1))
    }
    val blobs = spark.read.format("graftblob").load(dir.getAbsolutePath)

    // global rollup: complete pushdown — one partition, no re-aggregation scan
    val global = blobs.agg(
      count(lit(1)).as("n"), sum("length").as("bytes"),
      min("doc_id").as("lo"), max("doc_id").as("hi"))
    val gScan = scanOf(global)
    assert(gScan.scan.description().contains(
      "PushedAggregates: [COUNT(*), SUM(length), MIN(doc_id), MAX(doc_id)]"),
      gScan.scan.description())
    assert(gScan.inputRDD.getNumPartitions === 1)
    val g = global.first()
    assert(g.getLong(0) === 10L && g.getLong(1) === 800L)
    assert(g.getLong(2) === 0L && g.getLong(3) === 9L)

    // grouped rollup: GROUP BY ext also answered from the listing
    val grouped = blobs.groupBy("ext").agg(count(lit(1)).as("n"), sum("length").as("bytes"))
      .orderBy("ext")
    assert(scanOf(grouped).scan.description().contains("GROUP BY ext"))
    val rows = grouped.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ===
      Seq(("png", 4L, 200L), ("wav", 6L, 600L)))

    // pushed filters compose with pushed aggregates
    val filteredAgg = blobs.filter(col("doc_id") < 3).agg(count(lit(1)))
    assert(scanOf(filteredAgg).scan.description().contains("LessThan(doc_id,3)"))
    assert(filteredAgg.first().getLong(0) === 3L)

    // a non-listing aggregate (over content) falls back to the row scan
    val noPush = blobs.agg(min("ext"))
    assert(!scanOf(noPush).scan.description().contains("PushedAggregates"))
    assert(noPush.first().getString(0) === "png")
  }

  test("streaming read: new blobs arrive exactly once; checkpoint restart resumes") {
    import spark.implicits._
    val dir = blobDir(3, size = 10)
    val ckpt = java.nio.file.Files.createTempDirectory("graftblob_ckpt").toString
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[Long]()

    def runOnce(): Unit = {
      val q = spark.readStream.format("graftblob").load(dir.getAbsolutePath)
        .select("doc_id", "length")
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          batch.collect().foreach(r => sink.add(r.getLong(0)))
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    runOnce()
    assert(sink.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq.sorted === Seq(0L, 1L, 2L))

    // two more blobs arrive; only they enter the next run
    (3 until 5).foreach { i =>
      java.nio.file.Files.write(
        new java.io.File(dir, f"doc_$i%06d.bin").toPath, Array.fill[Byte](10)(i.toByte))
    }
    runOnce()
    assert(sink.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq.sorted === Seq(0L, 1L, 2L, 3L, 4L))

    // nothing new: restart from the checkpoint reprocesses nothing
    runOnce()
    assert(sink.size === 5)
  }

  test("write path: round trip through write → read preserves every byte") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graftblob_rt").toFile
    val rows = (0L until 20L).map(i =>
      (i, "wav", Multimodal.encodeWavPcm16(Array.tabulate(50)(j => ((i * 31 + j) % 200).toInt))))
    rows.toDF("doc_id", "ext", "content")
      .withColumn("length", length(col("content")).cast("long"))
      .write.format("graftblob").mode("append").save(dir.getAbsolutePath)
    val back = spark.read.format("graftblob").load(dir.getAbsolutePath)
      .select("doc_id", "content").as[(Long, Array[Byte])]
      .collect().sortBy(_._1)
    assert(back.length === 20)
    back.foreach { case (id, bytes) =>
      assert(bytes.toSeq === rows(id.toInt)._3.toSeq, s"doc $id")
    }
  }
}
