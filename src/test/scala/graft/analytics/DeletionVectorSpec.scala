package graft.analytics

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** q168's deletion-vector contract: the sidecar is one BITMAP per data
  * file (round-tripping to exactly the victim key set), its byte cost is
  * bitmap-scale not row-record-scale, and the serve plan contains NO
  * join operator — the whole point of DVs over q163's delete files. */
class DeletionVectorSpec extends SparkSuite {

  test("bitmaps round-trip to exactly the victim key set") {
    SparkEntry.queries("q168_deletion_vectors")(spark, sfDir).collect()
    val lake = stagedLake("dvlake")
    // deserialize every sidecar bitmap and expand it back to keys via
    // the (file, ordinal) contract the build wrote it under
    val dvs = spark.read.parquet(s"$lake/dvs")
      .select(col("fpath"), col("card"), col("dv")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Array[Byte]](2)))
    assert(dvs.nonEmpty, "no deletion vectors staged")
    val posSet: Set[(String, Long)] = dvs.flatMap { case (f, card, bytes) =>
      val bm = new org.roaringbitmap.RoaringBitmap()
      bm.deserialize(new java.io.DataInputStream(
        new java.io.ByteArrayInputStream(bytes)))
      assert(bm.getLongCardinality === card,
        s"$f: stored cardinality $card != bitmap ${bm.getLongCardinality}")
      val it = bm.iterator(); val buf = Seq.newBuilder[(String, Long)]
      while (it.hasNext) buf += ((f, it.next().toLong))
      buf.result()
    }.toSet
    val data = spark.read.parquet(s"$lake/data")
      .select(col("doc_id"),
        regexp_extract(col("_metadata.file_path"), "([^/]+/[^/]+)$", 1).as("fpath"),
        col("_metadata.row_index").as("pos"))
      .collect()
    val recovered = data.filter(r =>
      posSet((r.getString(1), r.getLong(2)))).map(_.getLong(0)).toSet
    val expected = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 19 === 3)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(expected.nonEmpty, "victim predicate selected nothing")
    assert(recovered === expected,
      s"bitmap→key round trip diverged: ${recovered.size} vs ${expected.size}")
  }

  test("sidecar bytes are bitmap-scale, not row-record-scale") {
    SparkEntry.queries("q168_deletion_vectors")(spark, sfDir).collect()
    val lake = stagedLake("dvlake")
    val dvs = spark.read.parquet(s"$lake/dvs")
      .select(col("card"), col("dv")).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1).length.toLong))
    // roaring array containers: ~2 bytes/position + bounded per-bitmap
    // header — far under the 8+ bytes/row a (file,pos) record costs
    for ((card, bytes) <- dvs)
      assert(bytes <= 2 * card + 48,
        s"bitmap of $card positions serialized to $bytes bytes")
  }

  test("the serve plan has no join operator") {
    val out = SparkEntry.queries("q168_deletion_vectors")(spark, sfDir)
    val formatted = out.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!formatted.contains("Join"),
      s"DV serve should join nothing:\n${formatted.take(2000)}")
    // and it agrees with a q163-style join read over the same artifacts
    import org.apache.spark.sql.functions.broadcast
    val lake = stagedLake("dvlake")
    val joinRead = {
      val data = spark.read.parquet(s"$lake/data")
        .select(col("doc_id"), col("unit").cast("long").as("unit"),
          regexp_extract(col("_metadata.file_path"), "([^/]+/[^/]+)$", 1).as("fpath"),
          col("_metadata.row_index").as("pos"))
      val victims = spark.read.parquet(s"$lake/data")
        .filter(col("doc_id") % 19 === 3)
        .select(
          regexp_extract(col("_metadata.file_path"), "([^/]+/[^/]+)$", 1).as("fpath"),
          col("_metadata.row_index").as("pos"))
      data.join(broadcast(victims), Seq("fpath", "pos"), "left_anti")
        .groupBy(col("unit")).agg(count(lit(1)).as("n_live"))
    }
    val byJoin = joinRead.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDv = out.collect()
      .map(r => r.getAs[Long]("unit") -> r.getAs[Long]("n_live")).toMap
    assert(byDv === byJoin, "DV membership read diverged from the join read")
  }

  test("q168b: generation merge is a true set union (overlap collapses)") {
    val report = SparkEntry.queries("q168b_dv_merge")(spark, sfDir).collect()
    val (g1, g2, merged) = (
      report.map(_.getAs[Long]("n_g1")).sum,
      report.map(_.getAs[Long]("n_g2")).sum,
      report.map(_.getAs[Long]("n_merged")).sum)
    assert(g1 > 0 && g2 > 0, "a delete generation is empty")
    // doc_id ≡ 3 (mod 247) hits both generations: the union must be
    // strictly smaller than the sum, or the merge double-counted
    val overlap = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 247 === 3).count()
    assert(overlap > 0, "overlap family empty — merge check is vacuous")
    assert(merged === g1 + g2 - overlap,
      s"merged $merged != $g1 + $g2 - $overlap")
    for (r <- report)
      assert(r.getAs[Long]("n_merged") <=
        r.getAs[Long]("n_g1") + r.getAs[Long]("n_g2"))
    // same join-free serve as q168
    val formatted = SparkEntry.queries("q168b_dv_merge")(spark, sfDir)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!formatted.contains("Join"), "merged-DV serve should join nothing")
  }
}
