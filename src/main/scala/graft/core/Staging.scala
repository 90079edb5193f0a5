package graft.core

import java.io.File
import java.nio.file.{FileSystemException, Files, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The one module that decides where and how a staged artifact lives —
  * blob lakes, ANN and BM25 indexes, bucketed metastore tables, stream
  * roots: one root, one canonical source fingerprint key, one atomic
  * temp→rename publish, and one stale-generation sweep so a regenerated
  * corpus leaves exactly ONE live artifact per family (VERDICT r15
  * task 4 — previously old-fingerprint generations accumulated forever).
  *
  * Scale note: the root is the active session's `spark.sql.warehouse.dir`
  * (default `./spark-warehouse`), the same dir the bucketed tables'
  * catalog locations already lived in; move every staged artifact with
  * `-Dspark.sql.warehouse.dir=/some/dir` (or the session builder's
  * `.config`). On a cluster the root would be a DFS path, where the same
  * rename-publish + prefix-sweep pattern is the standard "commit by
  * rename, GC by manifest" lake discipline.
  */
object Staging {

  /** Content-identity fingerprint of a source file or directory tree:
    * name, length and mtime folded per file in sorted order. Cheap
    * (no byte reads), stable across sessions, and changes whenever a
    * corpus is regenerated. */
  private def fingerprint(f: File): Long =
    if (f.isDirectory)
      f.listFiles().sortBy(_.getName)
        .foldLeft(f.getName.hashCode.toLong)((a, c) => a * 1000003L + fingerprint(c))
    else f.getName.hashCode.toLong * 31L + f.length() * 1000003L + f.lastModified()

  private def hexFingerprint(f: File): String =
    java.lang.Long.toHexString(fingerprint(f))

  /** The staging root every artifact family lives under. */
  def root: File = new File(new org.apache.hadoop.fs.Path(
    SparkSession.active.conf.get("spark.sql.warehouse.dir")).toUri.getPath)

  /** `<family>_<corpus>_<fingerprint of the corpus' srcTable>`: the exact
    * name of the live artifact, so audits and specs recompute the path a
    * query used instead of prefix+mtime guessing (ADVICE r15). */
  private def key(family: String, dir: String, srcTable: String): String =
    s"${family}_${new File(dir).getName}_" +
      hexFingerprint(new File(s"$dir/$srcTable.parquet"))

  /** The live artifact's path, WITHOUT staging it. */
  def path(family: String, dir: String, srcTable: String): File =
    new File(root, key(family, dir, srcTable))

  /** Stage an artifact once per source fingerprint: `populate` fills a
    * dot-prefixed temp dir, which is renamed onto the keyed path (a
    * concurrent run that won the rename keeps its copy); then older
    * generations of the family are swept. A regenerated source misses
    * the key, a re-run hits it. */
  def staged(family: String, dir: String, srcTable: String)(
      populate: File => Unit): File = {
    val dest = path(family, dir, srcTable)
    if (!dest.exists()) {
      writeOnce(dest) { tmp => tmp.mkdirs(); populate(tmp) }
      sweep(dest)
    }
    dest
  }

  /** A stable fingerprinted dir that is never renamed — for artifacts
    * whose internals record absolute paths (a stream checkpoint, a file
    * sink's commit log), where their own log is the atomicity mechanism.
    * Creating a new generation sweeps the family's old ones. */
  def stableRoot(family: String, dir: String, srcTable: String): File = {
    val dest = path(family, dir, srcTable)
    if (dest.mkdirs()) sweep(dest)
    dest
  }

  /** A bucketed metastore table staged once per source fingerprint and
    * registered (external, over the staged dir) once per session. The
    * bucketed files are written through a throwaway external table
    * whose drop keeps them; write tasks align to buckets (the same
    * Murmur3 pmod the bucketizer uses), so each bucket is ONE file and a
    * sorted-bucket scan serves a merge join without a re-sort. 8 buckets
    * match these corpora; at scale the bucket count is the knob. */
  def bucketedTable(spark: SparkSession, family: String, dir: String,
      srcTable: String, bucketKey: String, sortBy: Seq[String], ddlCols: String)(
      build: => DataFrame): DataFrame = {
    val tbl = tableName(family, dir, srcTable)
    if (!spark.catalog.tableExists(tbl)) synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        val loc = staged(family, dir, srcTable) { tmp =>
          val tmpTbl = s"${tbl}_stg_${tmp.getName.takeRight(8)}"
          val w = build.repartition(8, col(bucketKey))
            .write.mode("overwrite").option("path", tmp.getAbsolutePath)
            .bucketBy(8, bucketKey)
          sortBy match {
            case Seq() => w.saveAsTable(tmpTbl)
            case s +: rest => w.sortBy(s, rest: _*).saveAsTable(tmpTbl)
          }
          spark.sql(s"DROP TABLE `$tmpTbl`")
        }
        val sorted = if (sortBy.isEmpty) "" else sortBy.mkString("SORTED BY (", ", ", ")")
        spark.sql(
          s"""CREATE TABLE `$tbl` ($ddlCols)
             |USING PARQUET
             |CLUSTERED BY ($bucketKey) $sorted
             |INTO 8 BUCKETS
             |LOCATION '${loc.getAbsolutePath}'""".stripMargin)
      }
    }
    spark.table(tbl)
  }

  /** The catalog name of a bucketedTable: its key, dots made legal. */
  def tableName(family: String, dir: String, srcTable: String): String =
    key(family, dir, srcTable).replace('.', '_')

  /** Publish a file or dir at `dest` once: `write` fills a dot-prefixed
    * temp sibling, which is atomically moved into place. A `dest` that
    * already exists is kept (a replayed or concurrent writer's identical
    * result); the loser of a race deletes its copy. */
  def writeOnce(dest: File)(write: File => Unit): Unit =
    if (!dest.exists()) {
      val tmp = new File(dest.getParentFile,
        s".${dest.getName}_tmp_${java.util.UUID.randomUUID().toString.take(8)}")
      write(tmp)
      try { Files.move(tmp.toPath, dest.toPath, StandardCopyOption.ATOMIC_MOVE); () }
      catch { case _: FileSystemException if dest.exists() => rmTree(tmp); () }
    }

  /** Write `df` as the single parquet file `dest` (one task's part file,
    * renamed) — for file-granular stream inputs, one file per wave. */
  def writeParquetFile(df: DataFrame, dest: File): Unit = {
    val parts = new File(dest.getParentFile, s".${dest.getName}_parts")
    df.coalesce(1).write.parquet(parts.getAbsolutePath)
    val part = parts.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, dest.toPath)
    rmTree(parts): Unit
  }

  /** Recursive delete tolerant of a concurrent racer deleting the same
    * tree (listFiles() → null mid-walk). Returns bytes reclaimed. */
  def rmTree(f: File): Long = {
    val sub =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty[File]).map(rmTree).sum
      else f.length()
    f.delete()
    sub
  }

  /** Stale-generation sweep: delete every sibling of `live` in its family
    * (same name up to the fingerprint) but `live` itself — artifacts keyed
    * by an OLD corpus fingerprint, plus orphaned dot-prefixed temp dirs
    * from crashed runs. Concurrent readers of an old generation are by
    * definition reading a corpus that no longer exists, so reclaiming it
    * is safe — but a temp dir may belong to a concurrent populate still
    * in flight, so those are only reaped once older than 15 min (a
    * crashed run, not a live one). */
  private def sweep(live: File): Unit = {
    val prefix = live.getName.take(live.getName.lastIndexOf('_') + 1)
    val tmpCutoff = System.currentTimeMillis() - 15L * 60 * 1000
    val stale = Option(live.getParentFile.listFiles()).getOrElse(Array.empty[File])
      .filter { f =>
        val n = f.getName
        if (n == live.getName) false
        else if (n.startsWith(prefix)) true
        else n.startsWith("." + prefix) && f.lastModified() < tmpCutoff
      }
    val bytes = stale.map(rmTree).sum
    synchronized { reclaimedDirs += stale.length; reclaimedBytes += bytes }
  }

  @volatile private var reclaimedDirs: Long = 0L
  @volatile private var reclaimedBytes: Long = 0L

  /** (dirs, bytes) reclaimed by sweeps in this JVM — the RungAudit `gc`
    * probe's report. */
  def sweepStats: (Long, Long) = (reclaimedDirs, reclaimedBytes)
}
