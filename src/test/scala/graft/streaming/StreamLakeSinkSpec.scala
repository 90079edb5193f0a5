package graft.streaming

import graft.{SparkEntry, SparkSuite}
import graft.core.Tables
import org.apache.spark.sql.functions._

/** q151's contract: the landed lake reproduces the batch aggregate, the
  * read path honors the sink's commit log (uncommitted orphan files are
  * invisible), and a re-run is an idempotent no-op. */
class StreamLakeSinkSpec extends SparkSuite {

  test("landed lake aggregate equals the batch truth; re-run is idempotent") {
    val first = SparkEntry.queries("q151_stream_lake_sink")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val batch = Tables.events(spark, sfDir)
      .groupBy(unix_micros(date_trunc("hour", col("ts"))).as("hour_us"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("total_value"))
      .orderBy(col("hour_us"), col("event_type"))
      .collect().map(_.toSeq).toSeq
    assert(first.nonEmpty && first == batch, "landed lake diverged from batch truth")
    val second = SparkEntry.queries("q151_stream_lake_sink")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(second == first, "re-running the caught-up sink must change nothing")
  }

  test("uncommitted orphan files are invisible through the commit log") {
    SparkEntry.queries("q151_stream_lake_sink")(spark, sfDir).collect()
    val dataDir = graft.core.Staging.path("stream_sink", sfDir, "events")
    val data = new java.io.File(dataDir, "data")
    // plant an orphan: a valid parquet part NOT recorded by any committed
    // batch — a crashed task's leftovers; readers must never see its rows
    val orphan = new java.io.File(data, "part-99999-orphan.snappy.parquet")
    import spark.implicits._
    val tmp = new java.io.File(data.getParentFile, "orphan_tmp")
    Seq((999999999L, java.sql.Timestamp.valueOf("2030-01-01 00:00:00"), "view", 1.0))
      .toDF("event_id", "ts", "event_type", "value")
      .coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val part = tmp.listFiles().find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.copy(part.toPath, orphan.toPath)
    try {
      val rows = SparkEntry.queries("q151_stream_lake_sink")(spark, sfDir)
        .filter(col("hour_us") >= 1893456000000000L) // year 2030
        .collect()
      assert(rows.isEmpty, "orphan (uncommitted) file leaked into the read")
    } finally {
      orphan.delete()
      tmp.listFiles().foreach(_.delete()); tmp.delete()
    }
  }
}
