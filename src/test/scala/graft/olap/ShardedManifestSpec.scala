package graft.olap

import graft.{SparkEntry, SparkSuite}

/** q174's contract: the DISTRIBUTED manifest planner (binaryFile scan +
  * executor-side Avro decode) lands exactly on q161's driver-side-planned
  * answer, over a genuinely sharded manifest. */
class ShardedManifestSpec extends SparkSuite {

  test("distributed planning ≡ driver-side planning, bit for bit") {
    val sharded = SparkEntry.queries("q174_sharded_manifest")(spark, sfDir)
    val driver = SparkEntry.queries("q161_manifest_scan")(spark, sfDir)
    assert(sharded.exceptAll(driver).count() === 0)
    assert(driver.exceptAll(sharded).count() === 0)
    assert(sharded.count() > 0)
  }

  test("the manifest is genuinely sharded and every shard decodes strictly") {
    SparkEntry.queries("q174_sharded_manifest")(spark, sfDir).count()
    val lake = stagedLake("shardman", "events")
    val shards = new java.io.File(lake, "manifests").listFiles()
      .filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    assert(shards.length >= 2, s"only ${shards.length} manifest shard(s)")
    // shards partition the unit set: no unit appears twice, none missing
    val units = shards.flatMap { f =>
      val (_, rows) = graft.sources.Avro.decode(
        java.nio.file.Files.readAllBytes(f.toPath))
      rows.map(_(0).asInstanceOf[Long])
    }
    assert(units.distinct.length === units.length, "a unit spans two shards")
    val unitDirs = new java.io.File(lake, "data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("unit=")).length
    assert(units.length === unitDirs,
      s"manifest covers ${units.length} units, lake has $unitDirs")
  }
}
