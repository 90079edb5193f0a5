package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Sessions

/** Shared local session for specs; mirrors the driver's Verify config. */
trait SparkSuite extends AnyFunSuite with BeforeAndAfterAll {
  // the library's declarative integration path — suites run on an
  // extensions-injected session like an external user's cluster would
  lazy val spark: SparkSession =
    Sessions.local(4, "spark.sql.extensions" -> "graft.functions.GraftExtensions")

  val sfDir = "/root/testdata/sf0.001"

  /** The exact live blob lake `fmt` staged from this suite's corpus. */
  def stagedLake(fmt: String, srcTable: String = "documents"): java.io.File = {
    val lake = graft.queries.SourceQueries.stagedBlobRoot(sfDir, fmt, srcTable)
    assert(lake.isDirectory, s"blob lake $lake not staged")
    lake
  }

  override def afterAll(): Unit = {
    // shared across suites in one forked JVM — do not stop
    super.afterAll()
  }
}
