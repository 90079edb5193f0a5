package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The oracle_sql.json writer shared by Verify and VerifyRung: a bad
  * escape makes the correctness scripts' json.load fail and silently
  * zeroes a round's correctness, so the file must parse back, with a
  * standard JSON parser, to exactly the map that was written. */
class OracleJsonSpec extends AnyFunSuite {
  test("oracle_sql.json parses back to the registered oracles plus every escape class") {
    val synthetic = "zz_escapes" ->
      "SELECT '\"q\"' AS a, 'back\\slash' AS b,\n\r\t'ctl\u0001' AS c"
    val oracles = SparkEntry.oracleSql + synthetic
    val dir = Files.createTempDirectory("oracle-json")
    try {
      Verify.writeOracleJson(dir.toString, oracles)
      val parsed = new ObjectMapper().readValue(
        dir.resolve("oracle_sql.json").toFile, classOf[java.util.Map[String, String]])
      assert(parsed.asScala.toMap == oracles)
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }
}
