package graft.analytics

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite}

/** q163b's compaction contract: untouched units hard-link (same inode),
  * affected units are rewritten fresh, the clean generation carries no
  * delete files, and its plain scan equals base-minus-victims exactly
  * (the serve-equality that lets readers drop the delete joins). */
class MorCompactSpec extends SparkSuite {

  private def fileKey(f: java.io.File): AnyRef =
    Files.readAttributes(f.toPath,
      classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey()

  test("links for untouched units, fresh files for affected, clean serve equality") {
    val report = SparkEntry.queries("q163b_mor_compact")(spark, sfDir).collect()
    assert(report.nonEmpty)
    val affected = report.map(r => s"unit=${r.getAs[Long]("unit")}").toSet
    val base = new java.io.File(stagedLake("morcomp"), "data")
    val comp = new java.io.File(stagedLake("morcompg2"), "data")
    // the clean generation has no delete artifacts at all
    assert(!new java.io.File(comp.getParentFile, "pos_deletes").exists())
    assert(!new java.io.File(comp.getParentFile, "eq_deletes").exists())
    val baseUnits = base.listFiles().filter(_.isDirectory).map(_.getName).toSet
    val untouched = baseUnits -- affected
    assert(untouched.nonEmpty, "every unit affected — the link claim is vacuous")
    for (u <- untouched) {
      val b = new java.io.File(base, u).listFiles().filter(_.isFile)
        .map(f => f.getName -> fileKey(f)).toMap
      val c = new java.io.File(comp, u).listFiles().filter(_.isFile)
        .map(f => f.getName -> fileKey(f)).toMap
      assert(b === c, s"untouched $u was copied or rewritten (inode mismatch)")
    }
    val baseKeys = affected.filter(baseUnits).flatMap(u =>
      new java.io.File(base, u).listFiles().filter(_.isFile).map(fileKey).toSet)
    for (u <- affected if new java.io.File(comp, u).isDirectory) {
      val cKeys = new java.io.File(comp, u).listFiles().filter(_.isFile)
        .map(fileKey).toSet
      assert(cKeys.intersect(baseKeys).isEmpty, s"affected $u still links a base file")
    }
    // serve equality: the PLAIN scan of the clean generation — no delete
    // joins — is exactly base minus both victim families
    val served = spark.read.parquet(comp.getAbsolutePath)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val expected = graft.core.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % 97 =!= 5 && col("doc_id") % 89 =!= 7)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(served === expected, s"${served.size} served vs ${expected.size} expected")
  }
}
