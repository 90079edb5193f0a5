package graft.streaming

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}
import graft.core.Tables

/** q162's contract: the streamed merge-on-write apply lands exactly on
  * q159's batch answer, the generation ladder is complete and sized by
  * the wave arithmetic, and a lost CHECKPOINT (replay from batch 0 over
  * completed generations) changes nothing — the idempotent-sink
  * discipline, not the checkpoint, carries exactly-once. */
class StreamCdcLwwSpec extends SparkSuite {

  private def stateRoot: java.io.File =
    graft.core.Staging.path("stream_cdc", sfDir, "documents")

  test("streamed LWW apply equals the batch MERGE exactly") {
    val streamed = SparkEntry.queries("q162_stream_cdc_lww")(spark, sfDir)
    val batch = SparkEntry.queries("q159_cdc_apply")(spark, sfDir)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
    assert(streamed.count() > 0)
  }

  test("the generation ladder is complete and wave-arithmetic sized") {
    SparkEntry.queries("q162_stream_cdc_lww")(spark, sfDir).count()
    val gens = new java.io.File(stateRoot, "state").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen_") &&
        new java.io.File(f, "_SUCCESS").isFile)
      .map(_.getName.stripPrefix("gen_").toLong).sorted
    assert(gens.toSeq == Seq(0L, 1L, 2L, 3L, 4L), s"gens: ${gens.mkString(",")}")
    val nDocs = Tables.documents(spark, sfDir).count()
    val nInserts = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 13 === 0).count()
    def rows(g: Long): Long = spark.read.parquet(
      new java.io.File(stateRoot, s"state/gen_$g").getAbsolutePath).count()
    // waves 1-3 touch existing keys; wave 4 (inserts) grows the key space.
    // deletes stay IN state as op=D rows — only the final read filters
    assert(rows(0) == nDocs && rows(3) == nDocs)
    assert(rows(4) == nDocs + nInserts)
  }

  test("losing the checkpoint replays every batch over completed generations — a no-op") {
    val before = SparkEntry.queries("q162_stream_cdc_lww")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val genDir = new java.io.File(stateRoot, "state")
    val mtimes = genDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    // simulate checkpoint loss: the stream restarts from batch 0 and
    // every foreachBatch finds its generation already complete
    org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(stateRoot, "chk"))
    val after = SparkEntry.queries("q162_stream_cdc_lww")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    val mtimes2 = genDir.listFiles().map(f => f.getName -> f.lastModified()).toMap
    assert(mtimes2 == mtimes, "a replayed batch rewrote a completed generation")
  }
}
