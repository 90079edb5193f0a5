package graft.core

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory every main builds from: `local[cpus]`
  * with as many shuffle partitions as cores, session time zone UTC (the
  * zone the DuckDB oracles render timestamps in, so a tool never times or
  * checks a query under the host zone) and no UI. */
object Sessions {
  def local(cpus: Int, conf: (String, String)*): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    builder.getOrCreate()
  }

  /** Core count from `SPARK_GRAFT_CPUS`, else `default`. */
  def cpus(default: Int = Runtime.getRuntime.availableProcessors): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)
}
