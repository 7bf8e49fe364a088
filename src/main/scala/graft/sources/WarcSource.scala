package graft.sources

import java.util
import scala.jdk.CollectionConverters._

import graft.warc.WarcIO
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** WARC web archives (the Common Crawl container) as a DataSource V2
  * table — `spark.read.format("warc").load(dir)` yields one row per
  * record of every `.warc` / `.warc.gz` file under `dir`.
  *
  * The V2 shape buys the two things a petabyte crawl scan lives on:
  *
  *  - **payload pruning INTO the reader** — a query that never touches
  *    `payload` (type census, URL audit, length stats) reports a pruned
  *    ReadSchema and the reader never ALLOCATES a payload: plain files
  *    forward-skip the bytes, gzip decompress-discards to resync
  *    (inherent to the format), both counter-proven
  *    ([[WarcSource.payloadBytesSkipped]], the TFRecord discipline);
  *  - **record-type + filename pushdown** — `warc_type = 'resource'`
  *    skips non-matching records before payload materialization, and
  *    filename predicates prune the LISTING (filtered-out files never
  *    reach partition planning).
  *
  * Partition planning: files round-robin into defaultParallelism input
  * partitions. At crawl scale one member-aligned file per partition is
  * the natural unit — records inside a `.warc.gz` are one gzip member
  * each, so a future split-by-offset reader can start at any member
  * boundary without decoding the prefix.
  */
final class WarcSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "warc"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    WarcSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new WarcTable(properties.asScala.toMap)
}

object WarcSource {
  val Schema: StructType = StructType(Seq(
    StructField("filename", StringType, nullable = false),
    StructField("warc_type", StringType, nullable = false),
    StructField("target_uri", StringType, nullable = false),
    StructField("warc_date", StringType, nullable = false),
    StructField("content_type", StringType, nullable = false),
    StructField("content_length", LongType, nullable = false),
    StructField("payload", BinaryType)))

  /** Listable corpus files: warc suffixes, excluding dot/underscore
    * prefixes (the Hadoop hidden-file convention) — in-flight or dead
    * task-attempt temps and _SUCCESS-style markers must never be read
    * as records.
    */
  private[sources] val WarcExts: String => Boolean =
    n => (n.endsWith(".warc") || n.endsWith(".warc.gz")) &&
      !n.startsWith(".") && !n.startsWith("_")

  /** Test observability: payload bytes skipped (never allocated) by
    * pruned or type-filtered reads in this JVM.
    */
  val payloadBytesSkipped = new java.util.concurrent.atomic.AtomicLong(0)

  /** Test observability: payloads materialized in this JVM. */
  val payloadsMaterialized = new java.util.concurrent.atomic.AtomicLong(0)

  /** String-predicate compiler for pushed filters on column `column`
    * (`filename` prunes the listing, `warc_type` skips records ahead of
    * payload materialization): Some(pred) only when `f` evaluates EXACTLY
    * on that column's string. Exactness is the safety requirement, not a
    * nicety — a wrongly excluded file or record can never be repaired by
    * the residual Filter Spark re-applies, and under `Not` an
    * over-inclusive approximation would flip into a wrong exclusion.
    * Unknown shapes return None and simply don't prune; the TOP-LEVEL
    * filter array is a conjunction, so the caller may prune with any
    * exact subset of it.
    */
  private[sources] def stringPredicate(column: String)(
      f: org.apache.spark.sql.sources.Filter): Option[String => Boolean] = {
    import org.apache.spark.sql.sources._
    val compile = stringPredicate(column) _
    f match {
      case EqualTo(`column`, v: String) => Some(_ == v)
      case In(`column`, vs) =>
        val set = vs.collect { case s: String => s }.toSet
        if (set.size == vs.length) Some(set) else None
      case StringStartsWith(`column`, p) => Some(_.startsWith(p))
      case StringEndsWith(`column`, s) => Some(_.endsWith(s))
      case StringContains(`column`, s) => Some(_.contains(s))
      case IsNotNull(`column`) => Some(_ => true) // both columns non-null
      case And(l, r) =>
        for (a <- compile(l); b <- compile(r))
          yield (n: String) => a(n) && b(n)
      case Or(l, r) =>
        for (a <- compile(l); b <- compile(r))
          yield (n: String) => a(n) || b(n)
      case Not(inner) => compile(inner).map(p => (n: String) => !p(n))
      case _ => None
    }
  }
}

final class WarcTable(properties: Map[String, String])
    extends Table with SupportsRead {

  override def name(): String =
    s"warc(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = WarcSource.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder = {
    val path = Option(options.get("path"))
      .orElse(properties.get("path"))
      .getOrElse(throw new IllegalArgumentException(
        "warc: .load(<dir>) path is required"))
    // driver-side metadata listing through the Hadoop FileSystem API
    // (any scheme); a missing dir is an error, not an empty scan
    val hadoopConf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(hadoopConf)
    if (!fs.exists(fsPath)) throw new IllegalArgumentException(
      s"warc: path does not exist: $path")
    val listFiles = (keep: String => Boolean) => fs.listStatus(fsPath)
      .filter(s => s.isFile && WarcSource.WarcExts(s.getPath.getName))
      .map { s =>
        val uri = s.getPath.toUri
        if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
        else s.getPath.toString
      }
      .filter(keep).sorted
    new WarcScanBuilder(listFiles)
  }
}

final class WarcScanBuilder(
    listFiles: (String => Boolean) => Array[String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {

  private var required: StructType = WarcSource.Schema
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var keepFile: String => Boolean = _ => true
  private var keepType: String => Boolean = _ => true

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = StructType(
      WarcSource.Schema.filter(f =>
        requiredSchema.fieldNames.contains(f.name)))

  /** Everything is returned as residual: Spark re-applies row-level
    * filters post-scan, so the pushdown can only skip work, never change
    * results.
    */
  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    def compiled(column: String) = filters.flatMap(f =>
      WarcSource.stringPredicate(column)(f).map(f -> _))
    val files = compiled("filename")
    val types = compiled("warc_type")
    pushed = files.map(_._1) ++ types.map(_._1)
    val fp = files.map(_._2); val tp = types.map(_._2)
    keepFile = n => fp.forall(_(n))
    keepType = t => tp.forall(_(t))
    filters
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    pushed

  override def build(): Scan =
    new WarcScan(listFiles(keepFile), required, keepType, pushed,
      relist = () => listFiles(keepFile))
}

/** Offset = `n` name-sorted files fully processed, ANCHORED by the
  * name of the n-th file (`last`). The count alone relied on an
  * unchecked monotonic-naming convention: a late file sorting before a
  * processed position, or a deletion, would silently remap the
  * committed range to DIFFERENT files on the next (re)plan — replayed
  * or skipped data with no error (round-14 ADVICE fix). The anchor
  * makes the convention checkable: planInputPartitions re-lists and
  * fails loudly if the listing's file at position n-1 is no longer
  * `last`, for both endpoints of the batch.
  *
  * `last` is empty for n=0 and for offsets restored from a legacy
  * bare-int checkpoint (which then validates count-only, once, and
  * re-anchors at the next latestOffset).
  */
final case class WarcOffset(n: Int, last: String = "")
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String =
    s"""{"n":$n,"last":"${WarcOffset.escape(last)}"}"""
}

object WarcOffset {
  private[sources] def escape(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"")
  private[sources] def unescape(s: String): String =
    s.replace("\\\"", "\"").replace("\\\\", "\\")

  private val Shape = """\{"n":(\d+),"last":"(.*)"\}""".r

  def parse(json: String): WarcOffset = json.trim match {
    case Shape(n, last) => WarcOffset(n.toInt, unescape(last))
    // legacy bare-int checkpoints (pre-anchor format)
    case bare => WarcOffset(bare.toInt)
  }

  /** The anchored offset for a fully-processed `listing`. */
  def of(listing: Array[String]): WarcOffset =
    WarcOffset(listing.length, if (listing.isEmpty) "" else listing.last)
}

final class WarcMicroBatchStream(relist: () => Array[String],
    fieldNames: Array[String], keepType: String => Boolean)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = WarcOffset(0)

  override def latestOffset(): Offset = WarcOffset.of(relist())

  override def deserializeOffset(json: String): Offset =
    WarcOffset.parse(json)

  /** Committed position `o` must still describe `listing`: enough files,
    * and the same file at position n-1. Throws (fails the query — the
    * honest outcome) instead of silently remapping the range.
    */
  private def validate(listing: Array[String], o: WarcOffset): Unit = {
    if (listing.length < o.n)
      throw new IllegalStateException(
        s"warc stream: committed offset ${o.n} but only " +
          s"${listing.length} files remain in the listing — a processed " +
          "file was deleted; cannot restart without replay/gap")
    if (o.n > 0 && o.last.nonEmpty && listing(o.n - 1) != o.last)
      throw new IllegalStateException(
        s"warc stream: committed offset ${o.n} anchored at '${o.last}' " +
          s"but the listing now has '${listing(o.n - 1)}' at that " +
          "position — a file landed out of name order (or was removed); " +
          "the monotonic-name convention this source documents is " +
          "violated and the committed range no longer maps to the same " +
          "files")
  }

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val (so, eo) = (start.asInstanceOf[WarcOffset],
      end.asInstanceOf[WarcOffset])
    val listing = relist()
    validate(listing, so); validate(listing, eo)
    val (s, e) = (so.n, eo.n)
    val batch = listing.slice(s, e)
    if (batch.isEmpty) Array.empty
    else {
      val slices = math.max(1, math.min(batch.length,
        org.apache.spark.sql.SparkSession.active
          .sparkContext.defaultParallelism))
      (0 until slices).map(i =>
        WarcFilesPartition(batch.zipWithIndex.collect {
          case (f, j) if j % slices == i => f
        }): InputPartition).toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(fieldNames, keepType)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

final class WarcScan(files: Array[String], required: StructType,
    keepType: String => Boolean,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    relist: () => Array[String] = null)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Incremental crawl ingestion: each trigger picks up the files that
    * LANDED since the last one. The offset is the processed count of
    * the name-sorted listing — exactly right for the crawl convention
    * this source targets (monotonically named shards: part-00000,
    * part-00001, …; a late file sorting BEFORE a processed one would be
    * a re-shuffled archive, not a stream). Record-granular semantics
    * are identical to the batch scan — same reader, same pruning, same
    * pushdown; WarcStreamSpec pins stream ≡ batch.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new WarcMicroBatchStream(
      if (relist != null) relist else () => files,
      required.fieldNames, keepType)

  override def description(): String =
    s"warc PushedFilters: [${pushed.mkString(", ")}], " +
      s"files: ${files.length}"

  override def planInputPartitions(): Array[InputPartition] = {
    val slices = math.max(1, math.min(files.length,
      org.apache.spark.sql.SparkSession.active
        .sparkContext.defaultParallelism))
    (0 until slices).map(i =>
      WarcFilesPartition(files.zipWithIndex.collect {
        case (f, j) if j % slices == i => f
      }): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new WarcReaderFactory(required.fieldNames, keepType)
}

final case class WarcFilesPartition(files: Array[String])
    extends InputPartition

final class WarcReaderFactory(fieldNames: Array[String],
    keepType: String => Boolean) extends PartitionReaderFactory {
  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    new WarcReader(
      partition.asInstanceOf[WarcFilesPartition].files, fieldNames, keepType)
}

/** Emits one InternalRow per (type-filter-surviving) record; payload
  * bytes are materialized ONLY when the pruned schema still contains
  * `payload` AND the record passes the pushed type filter.
  */
final class WarcReader(files: Array[String], fieldNames: Array[String],
    keepType: String => Boolean) extends PartitionReader[InternalRow] {

  private val needPayload = fieldNames.contains("payload")
  private var fileIdx = 0
  private var current: InternalRow = _
  private var open: java.io.InputStream = _
  private var recs: Iterator[WarcIO.WarcRecord] = Iterator.empty
  private var curFile: String = _

  private def nextFile(): Boolean = {
    if (open != null) { open.close(); open = null }
    if (fileIdx >= files.length) return false
    curFile = files(fileIdx); fileIdx += 1
    open = WarcIO.openFile(curFile)
    recs = WarcReader.records(open, needPayload, keepType)
    true
  }

  override def next(): Boolean = {
    while (!recs.hasNext) if (!nextFile()) return false
    val r = recs.next()
    val values: Array[Any] = fieldNames.map {
      case "filename" => UTF8String.fromString(curFile)
      case "warc_type" => UTF8String.fromString(r.warcType)
      case "target_uri" => UTF8String.fromString(r.targetUri)
      case "warc_date" => UTF8String.fromString(r.date)
      case "content_type" => UTF8String.fromString(r.contentType)
      case "content_length" => r.payloadLength
      case "payload" => r.payload
    }
    current = new GenericInternalRow(values)
    true
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (open != null) { open.close(); open = null }
}

private object WarcReader {
  /** Record iterator with PER-RECORD payload decision: headers parse
    * first, then the payload either materializes (requested column AND
    * pushed-type match) or skips with the counter credited. Built on
    * WarcIO's primitives rather than its whole-record reader so the
    * skip path never allocates.
    */
  def records(in: java.io.InputStream, needPayload: Boolean,
      keepType: String => Boolean): Iterator[WarcIO.WarcRecord] =
    WarcIO.readStreamSelective(in,
      wantPayload = r => needPayload && keepType(r),
      onSkippedBytes = n => WarcSource.payloadBytesSkipped.addAndGet(n),
      onMaterialized = () => WarcSource.payloadsMaterialized.incrementAndGet())
      .filter(r => keepType(r.warcType))
}
