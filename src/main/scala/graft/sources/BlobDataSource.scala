package graft.sources

import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for staged blob directories (`graftblob`) —
  * the reference's upload directory (app.py:162-164) as a first-class
  * Spark table instead of a pre-pass that copies bytes into parquet.
  *
  * Table shape: one row per `doc_<id>.<ext>` file with columns
  * `(doc_id LONG, ext STRING, length LONG, content BINARY)`.
  *
  * Designed for the 100 TB listing, not just the local dir:
  *
  *   - '''Filter pushdown at PLANNING time''': `doc_id` comparisons and
  *     `ext` equality are evaluated against the file listing — filtered
  *     files never become input partitions, so a `doc_id < k` probe over
  *     a million-blob directory schedules only the matching files
  *     (`SupportsPushDownFilters`; the pushed set is echoed in the scan
  *     description and re-checked by nothing downstream, so the listing
  *     filter MUST be exact — it is, because both columns derive from
  *     the file name alone).
  *   - '''Column pruning to the byte level''': when `content` is pruned
  *     (`SupportsPushDownRequiredColumns`), the reader never opens the
  *     file — a metadata query (`count`, `doc_id` ranges, size rollups)
  *     over a blob lake does zero data I/O.
  *   - '''Size-packed splits''': files pack into input partitions by
  *     cumulative size (`maxPartitionBytes` option, default 128 MiB) —
  *     many small blobs share a task, a huge blob gets its own, the
  *     per-task work is even without a shuffle.
  *   - '''Two-phase-commit writes''' ([[BlobBatchWrite]]): task output
  *     is invisible until the driver's job commit renames it into
  *     place — failed or speculated tasks never leave observable blobs.
  *   - '''Runtime (join-driven) filtering''' (`SupportsRuntimeFiltering`):
  *     a dynamic-pruning subquery on `doc_id` re-filters the listing at
  *     execution time — the DSv2 cousin of dynamic partition pruning.
  *   - '''Pruned-relation statistics''' (`SupportsReportStatistics`):
  *     row counts from the filtered listing, byte sizes only when
  *     `content` is projected — broadcast decisions see reality.
  *   - '''Aggregate pushdown''' (`SupportsPushDownAggregates`):
  *     COUNT(*), MIN/MAX(doc_id|length) and SUM(length) — optionally
  *     grouped by `ext` — are answered from the LISTING alone, complete
  *     (not partial) pushdown: a "how big is this lake" rollup over a
  *     billion blobs is one metadata pass, zero file opens, one row out.
  *
  * The sink is the one writer of `doc_<id>.<ext>` lakes: every staged
  * doc-blob lake in `queries/` writes through it
  * (`SourceQueries.stagedDocBlobs`), and it refuses a row whose name its
  * own listing could not read back (a negative id, an `ext` outside
  * `[A-Za-z0-9]+`). Those lakes are read back by [[BlobDataSource.docBlobs]],
  * the one parser of their names, which stays on Spark's `binaryFile`
  * source: this scan's size packing puts a lake of KB-sized blobs into
  * one task, while `binaryFile` splits it across the cores.
  */
class BlobDataSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {

  override def shortName(): String = "graftblob"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    BlobDataSource.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty, "graftblob requires a path option")
    new BlobTable(path)
  }
}

object BlobDataSource {

  /** A pushed-down aggregation the listing can answer exactly: an
    * optional GROUP BY ext plus a sequence of per-group functions, each
    * computed from file-name/size metadata alone. */
  sealed trait AggSpec extends Serializable
  case object CountRows extends AggSpec
  final case class MinOf(field: String) extends AggSpec
  final case class MaxOf(field: String) extends AggSpec
  final case class SumOf(field: String) extends AggSpec
  final case class BlobAgg(groupByExt: Boolean, funcs: Seq[AggSpec]) {
    def schema: StructType = {
      val aggFields = funcs.zipWithIndex.map {
        case (CountRows, i)    => StructField(s"agg_${i}_count", LongType, nullable = false)
        case (MinOf(f), i)     => StructField(s"agg_${i}_min_$f", LongType, nullable = true)
        case (MaxOf(f), i)     => StructField(s"agg_${i}_max_$f", LongType, nullable = true)
        case (SumOf(f), i)     => StructField(s"agg_${i}_sum_$f", LongType, nullable = true)
      }
      StructType(
        (if (groupByExt) Seq(StructField("ext", StringType, nullable = false)) else Nil) ++
          aggFields)
    }
    def describe: String = {
      val fs = funcs.map {
        case CountRows => "COUNT(*)"
        case MinOf(f)  => s"MIN($f)"
        case MaxOf(f)  => s"MAX($f)"
        case SumOf(f)  => s"SUM($f)"
      }
      fs.mkString(", ") + (if (groupByExt) " GROUP BY ext" else "")
    }
  }

  /** Parse a connector [[Aggregation]] into a listing-answerable
    * [[BlobAgg]]; None when any piece is outside the exact set. */
  def parseAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Option[BlobAgg] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    def name(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] = e match {
      case r: NamedReference if r.fieldNames.length == 1 => Some(r.fieldNames()(0))
      case _ => None
    }
    val groupByExt = agg.groupByExpressions.toSeq match {
      case Nil => Some(false)
      case Seq(e) if name(e).contains("ext") => Some(true)
      case _ => None
    }
    val numeric = Set("doc_id", "length")
    val funcs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(CountRows)
      // all four columns are non-null by construction, so COUNT(col) = COUNT(*)
      case c: Count if !c.isDistinct && name(c.column).isDefined => Some(CountRows)
      case m: Min => name(m.column).filter(numeric).map(MinOf)
      case m: Max => name(m.column).filter(numeric).map(MaxOf)
      case s: Sum if !s.isDistinct => name(s.column).filter(numeric).map(SumOf)
      case _ => None
    }
    for (g <- groupByExt; fs <- Some(funcs) if fs.forall(_.isDefined))
      yield BlobAgg(g, fs.map(_.get))
  }

  /** Evaluate a [[BlobAgg]] over the accepted listing — one output row
    * per group, values as Long / String (null for empty MIN/MAX/SUM). */
  def evalAggregation(files: Array[BlobFile], agg: BlobAgg): Array[Array[Any]] = {
    def field(f: BlobFile, name: String): Long =
      if (name == "doc_id") f.docId else f.size
    def row(ext: Option[String], fs: Array[BlobFile]): Array[Any] = {
      val aggVals: Seq[Any] = agg.funcs.map {
        case CountRows => fs.length.toLong
        case MinOf(c)  => if (fs.isEmpty) null else fs.iterator.map(field(_, c)).min
        case MaxOf(c)  => if (fs.isEmpty) null else fs.iterator.map(field(_, c)).max
        case SumOf(c)  => if (fs.isEmpty) null else fs.iterator.map(field(_, c)).sum
      }
      (ext.toSeq ++ aggVals).toArray
    }
    if (agg.groupByExt)
      files.groupBy(_.ext).toArray.sortBy(_._1).map { case (e, fs) => row(Some(e), fs) }
    else Array(row(None, files))
  }

  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("ext", StringType, nullable = false),
    StructField("length", LongType, nullable = false),
    StructField("content", BinaryType, nullable = false)))

  private[sources] val FileName = "doc_(\\d+)\\.([A-Za-z0-9]+)".r

  /** A doc-blob lake as `(doc_id LONG, content BINARY)`, one row per
    * `doc_<id>.<ext>` file, `doc_id` parsed from the file name by
    * [[FileName]]. A `binaryFile` read, so the files split across tasks
    * the way Spark splits any file source. */
  def docBlobs(spark: SparkSession, root: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    spark.read.format("binaryFile").load(root)
      .select(
        regexp_extract(col("path"), s"/${FileName.regex}$$", 1).cast("long").as("doc_id"),
        col("content"))
  }

  /** One listed blob; `path` (not a File handle) so partitions serialize. */
  final case class BlobFile(path: String, docId: Long, ext: String, size: Long)

  /** List `doc_*.<ext>` files under `dir`; other names are ignored the
    * way a parquet scan ignores non-data files. */
  def listBlobs(dir: String): Array[BlobFile] = {
    val root = new java.io.File(dir)
    require(root.isDirectory, s"graftblob path $dir is not a directory")
    root.listFiles().iterator.flatMap { f =>
      f.getName match {
        case FileName(id, ext) => Some(BlobFile(f.getAbsolutePath, id.toLong, ext, f.length()))
        case _                 => None
      }
    }.toArray.sortBy(_.docId)
  }

  /** Exact listing-time evaluation of the pushable filter set. */
  def accepts(f: BlobFile, filters: Seq[Filter]): Boolean = filters.forall {
    case sources.EqualTo("doc_id", v: Number)            => f.docId == v.longValue()
    case sources.LessThan("doc_id", v: Number)           => f.docId < v.longValue()
    case sources.LessThanOrEqual("doc_id", v: Number)    => f.docId <= v.longValue()
    case sources.GreaterThan("doc_id", v: Number)        => f.docId > v.longValue()
    case sources.GreaterThanOrEqual("doc_id", v: Number) => f.docId >= v.longValue()
    case sources.In("doc_id", vs)                        => vs.exists(v => f.docId == v.asInstanceOf[Number].longValue())
    case sources.EqualTo("ext", v)                       => f.ext == String.valueOf(v)
    case _                                               => true // not pushed — never reaches here
  }

  /** Size-packed splits: cumulative first-fit in listing (doc_id) order —
    * many small blobs share a task, a huge blob gets its own. Shared by
    * the batch scan and every micro-batch. */
  def packBySize(files: Array[BlobFile], maxBytes: Long): Array[InputPartition] = {
    val parts = Array.newBuilder[InputPartition]
    var bin = Vector.empty[BlobFile]
    var binBytes = 0L
    files.foreach { f =>
      if (bin.nonEmpty && binBytes + f.size > maxBytes) {
        parts += BlobInputPartition(bin.toArray); bin = Vector.empty; binBytes = 0L
      }
      bin :+= f; binBytes += f.size
    }
    if (bin.nonEmpty) parts += BlobInputPartition(bin.toArray)
    parts.result()
  }

  /** True iff the filter is one [[accepts]] evaluates exactly. */
  def pushable(f: Filter): Boolean = f match {
    case sources.EqualTo("doc_id", _: Number) | sources.LessThan("doc_id", _: Number) |
        sources.LessThanOrEqual("doc_id", _: Number) | sources.GreaterThan("doc_id", _: Number) |
        sources.GreaterThanOrEqual("doc_id", _: Number) => true
    case sources.In("doc_id", vs) => vs.forall(_.isInstanceOf[Number])
    case sources.EqualTo("ext", v) => v.isInstanceOf[String]
    case _ => false
  }
}

private[sources] class BlobTable(path: String) extends Table
    with SupportsRead with SupportsWrite {
  override def name(): String = s"graftblob($path)"
  override def schema(): StructType = BlobDataSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new BlobScanBuilder(path, options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new BlobWriteBuilder(path, info.schema())
}

private[sources] class BlobScanBuilder(path: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns
    with SupportsPushDownAggregates {

  private var required: StructType = BlobDataSource.Schema
  private var pushed: Array[Filter] = Array.empty
  private var agg: Option[BlobDataSource.BlobAgg] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, unsup) = filters.partition(BlobDataSource.pushable)
    pushed = sup
    unsup // Spark keeps evaluating these above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // The listing answers these aggregates exactly and globally, so the
  // pushdown is COMPLETE: Spark plans no re-aggregation on top (Spark
  // only attempts this when every filter was pushed, which keeps the
  // listing arithmetic sound).
  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    BlobDataSource.parseAggregation(aggregation).isDefined

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    agg = BlobDataSource.parseAggregation(aggregation)
    agg.isDefined
  }

  override def build(): Scan = {
    val maxBytes = Option(options.get("maxPartitionBytes"))
      .map(_.toLong).getOrElse(128L * 1024 * 1024)
    new BlobScan(path, required, pushed, maxBytes, agg)
  }
}

private[sources] class BlobScan(
    path: String, required: StructType, pushed: Array[Filter], maxBytes: Long,
    agg: Option[BlobDataSource.BlobAgg] = None)
    extends Scan with Batch
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  /** Join-driven runtime filters (the DSv2 cousin of dynamic partition
    * pruning): Spark plants a DynamicPruningSubquery on this scan when
    * it joins a filterable build side on `doc_id`, and delivers the
    * realized key set here BEFORE partitions are planned — so a
    * dim-driven probe of a million-blob lake schedules only the joined
    * files. Arrives as an In/EqualTo over doc_id; evaluated by the same
    * exact listing-time arithmetic as the static pushdown. */
  private var runtimeFilters: Array[Filter] = Array.empty

  private def acceptedFiles: Array[BlobDataSource.BlobFile] =
    BlobDataSource.listBlobs(path).filter(f =>
      BlobDataSource.accepts(f, pushed.toSeq) &&
        BlobDataSource.accepts(f, runtimeFilters.toSeq))

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // an aggregated scan exposes no doc_id column to join on
    if (agg.isDefined) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions.column("doc_id"))

  override def filter(filters: Array[Filter]): Unit =
    runtimeFilters = filters.filter(BlobDataSource.pushable)

  /** Post-pushdown statistics from the listing alone — file count and
    * (only when `content` is actually projected) byte sizes — so the
    * optimizer's broadcast/shuffle decisions see the PRUNED relation,
    * not a format default. */
  override def estimateStatistics(): Statistics = {
    val fs = acceptedFiles
    val nRows = agg match {
      case Some(a) => BlobDataSource.evalAggregation(fs, a).length.toLong
      case None    => fs.length.toLong
    }
    val contentBytes =
      if (agg.isEmpty && required.fieldNames.contains("content")) fs.map(_.size).sum else 0L
    val rowOverhead = 32L * nRows // fixed-width columns + row framing
    new Statistics {
      override def sizeInBytes(): util.OptionalLong =
        util.OptionalLong.of(contentBytes + rowOverhead)
      override def numRows(): util.OptionalLong =
        util.OptionalLong.of(nRows)
    }
  }

  override def readSchema(): StructType = agg.map(_.schema).getOrElse(required)

  override def description(): String =
    s"graftblob $path, PushedFilters: [${pushed.mkString(", ")}], " +
      agg.map(a => s"PushedAggregates: [${a.describe}], ").getOrElse("") +
      s"ReadSchema: ${readSchema().simpleString}"

  override def toBatch: Batch = this

  /** Streaming leg: incremental exactly-once ingest of newly-arriving
    * blobs (the reference's new-file change detection, app.py:162-170,
    * as a real Structured Streaming source). The offset is the highest
    * doc_id DELIVERED so far — the staging convention (`doc_<id>.<ext>`,
    * ids assigned monotonically by the writer) makes doc_id a natural
    * high-watermark, so a micro-batch is exactly the listing slice
    * `lastOffset < doc_id <= latest`: each blob is planned in one batch
    * and never again, and restart from the checkpoint's offset resumes
    * without reprocessing. Pushed filters and column pruning apply to
    * every micro-batch exactly as to a batch scan (same accept/prune
    * path); the two-phase-commit writer guarantees a listed blob is
    * complete, so no half-written file can enter a batch. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new BlobMicroBatchStream(path, required, pushed, maxBytes)

  override def planInputPartitions(): Array[InputPartition] = {
    agg match {
      case Some(a) =>
        // the whole answer comes from the driver-side listing: one
        // metadata pass, zero file opens, one tiny partition out
        return Array(BlobAggPartition(BlobDataSource.evalAggregation(acceptedFiles, a)))
      case None => ()
    }
    BlobDataSource.packBySize(acceptedFiles, maxBytes)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BlobReaderFactory(required)
}

private[sources] case class BlobInputPartition(files: Array[BlobDataSource.BlobFile])
    extends InputPartition

/** Pre-computed aggregate rows (Long / String / null values only). */
private[sources] case class BlobAggPartition(rows: Array[Array[Any]])
    extends InputPartition

/** High-watermark offset: the largest doc_id delivered so far. */
private[sources] case class BlobOffset(maxDocId: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = maxDocId.toString
}

private[sources] class BlobMicroBatchStream(
    path: String, required: StructType, pushed: Array[Filter], maxBytes: Long)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private def accepted: Array[BlobDataSource.BlobFile] =
    BlobDataSource.listBlobs(path).filter(f => BlobDataSource.accepts(f, pushed.toSeq))

  override def initialOffset(): Offset = BlobOffset(-1L)

  override def latestOffset(): Offset = {
    val fs = accepted
    BlobOffset(if (fs.isEmpty) -1L else fs.map(_.docId).max)
  }

  override def deserializeOffset(json: String): Offset = BlobOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val lo = start.asInstanceOf[BlobOffset].maxDocId
    val hi = end.asInstanceOf[BlobOffset].maxDocId
    val batch = accepted.filter(f => f.docId > lo && f.docId <= hi)
    BlobDataSource.packBySize(batch, maxBytes)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new BlobReaderFactory(required)

  override def commit(end: Offset): Unit = () // listing is the source of truth
  override def stop(): Unit = ()
}

/** Blob sink with a real two-phase commit — the reference's temp-file
  * spool (app.py:162-164) done the way a 1000-executor job must: each
  * task writes `.<final>.<uuid>.tmp` files (invisible to concurrent
  * readers, whose listing matches only `doc_*.<ext>`), its commit
  * message lists the temp→final pairs, and only the DRIVER's job commit
  * renames them into place — a failed/speculated task's output is never
  * observed, and abort deletes its temps. Appends carry the full table
  * schema (Spark's output resolver requires it); `length` is accepted
  * and IGNORED — it is file metadata, re-derived from the blob on every
  * read, so a writer passes `length(content)` or a literal. */
private[sources] class BlobWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder {
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new BlobBatchWrite(path, schema)
  }
}

private[sources] case class BlobCommit(pairs: Seq[(String, String)])
    extends WriterCommitMessage

private[sources] class BlobBatchWrite(path: String, schema: StructType)
    extends BatchWrite {
  require(Seq("doc_id", "ext", "content").forall(schema.fieldNames.contains),
    s"graftblob write needs (doc_id, ext, content); got ${schema.simpleString}")

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new BlobWriterFactory(path, schema.fieldIndex("doc_id"),
      schema.fieldIndex("ext"), schema.fieldIndex("content"))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val all = messages.flatMap(_.asInstanceOf[BlobCommit].pairs)
    // Two rows with the same (doc_id, ext) in one batch would race to
    // the same final name and the later rename would silently replace
    // the earlier blob — fail the job instead of losing a row.
    val dups = all.groupBy(_._2).filter(_._2.length > 1).keys
    if (dups.nonEmpty) {
      all.foreach { case (tmp, _) => new java.io.File(path, tmp).delete() }
      sys.error("graftblob commit: duplicate (doc_id, ext) rows map to the same " +
        s"blob name(s) ${dups.take(5).mkString(", ")} — refusing last-writer-wins")
    }
    all.foreach { case (tmp, fin) =>
      val t = new java.io.File(path, tmp)
      if (!t.renameTo(new java.io.File(path, fin)))
        sys.error(s"graftblob commit: could not publish $tmp -> $fin")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.filter(_ != null).foreach {
      case BlobCommit(pairs) =>
        pairs.foreach { case (tmp, _) => new java.io.File(path, tmp).delete() }
      case _ => ()
    }
}

private[sources] class BlobWriterFactory(path: String, idIdx: Int, extIdx: Int, cIdx: Int)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    new DataWriter[InternalRow] {
      private val dir = new java.io.File(path)
      dir.mkdirs()
      private var pairs = Vector.empty[(String, String)]
      override def write(row: InternalRow): Unit = {
        val id = row.getLong(idIdx)
        val ext = row.getUTF8String(extIdx).toString
        val fin = f"doc_$id%06d.$ext"
        // a name the listing does not match would commit and then drop
        // out of every read: fail the task instead
        if (!BlobDataSource.FileName.pattern.matcher(fin).matches())
          throw new IllegalArgumentException(s"graftblob write: (doc_id=$id, ext=$ext) " +
            "gives a blob name the listing cannot read back (doc_id must be >= 0, " +
            "ext must match [A-Za-z0-9]+)")
        // attempt id in the temp name: a speculated twin task never
        // collides, and only one twin's commit message reaches commit()
        val tmp = s".$fin.$taskId.tmp"
        java.nio.file.Files.write(
          new java.io.File(dir, tmp).toPath, row.getBinary(cIdx))
        pairs :+= (tmp, fin)
      }
      override def commit(): WriterCommitMessage = BlobCommit(pairs)
      override def abort(): Unit =
        pairs.foreach { case (tmp, _) => new java.io.File(dir, tmp).delete() }
      override def close(): Unit = ()
    }
  }
}

private[sources] class BlobReaderFactory(required: StructType)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = partition match {
    case BlobAggPartition(rows) =>
      new PartitionReader[InternalRow] {
        private var i = -1
        override def next(): Boolean = { i += 1; i < rows.length }
        override def get(): InternalRow = InternalRow.fromSeq(rows(i).toSeq.map {
          case s: String => UTF8String.fromString(s)
          case v         => v
        })
        override def close(): Unit = ()
      }
    case p: BlobInputPartition => createBlobReader(p)
  }

  private def createBlobReader(partition: BlobInputPartition): PartitionReader[InternalRow] = {
    val files = partition.files
    // byte-level pruning: file bytes load ONLY when content is projected
    val needContent = required.fieldNames.contains("content")
    val fields = required.fieldNames
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < files.length }
      override def get(): InternalRow = {
        val f = files(i)
        InternalRow.fromSeq(fields.toSeq.map {
          case "doc_id"  => f.docId
          case "ext"     => UTF8String.fromString(f.ext)
          case "length"  => f.size
          case "content" =>
            if (needContent) java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f.path))
            else null
        })
      }
      override def close(): Unit = ()
    }
  }
}
