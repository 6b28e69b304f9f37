package graft.sources

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, StringContains, StringEndsWith, StringStartsWith}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.ebml.{Ebml, EbmlFunctions}

/** Batch DataSourceV2: `spark.read.format("ebml").load(dir)` over a
  * directory of GetMedia payload captures — the archive analog of the
  * reference's live connection (parser.py:272-310). Each payload file
  * holds one or more back-to-back MKV fragments; the source splits them
  * at EBML header boundaries (parser.py:362-375) and emits one row per
  * FRAGMENT with its provenance (file, absolute position), its parsed
  * AWS tag set (parser.py:30-37), and optionally the raw bytes.
  *
  * Scale design:
  *  - files are listed once on the driver and BIN-PACKED into input
  *    partitions of ~`maxPartitionBytes`, so a million-file archive
  *    prefix fans out across executors without one task per tiny file;
  *  - COLUMN PRUNING is real work avoidance, not cosmetics: the tag
  *    walk runs only if a tag column is required, the element walk only
  *    for `n_elements`, and the fragment bytes are copied into the row
  *    only if `blob` is required — a metadata-only query over a media
  *    archive never materializes media bytes into rows;
  *  - readers open files through the Hadoop filesystem API with the
  *    session's Hadoop configuration (serialized into the reader
  *    factory), so the same code reads local disk, HDFS, or an object
  *    store.
  */
class EbmlDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ebml"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    EbmlTable.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "ebml source requires a single directory or file path: .load(dir)")
    // capture the OWNING session's Hadoop conf and file-split settings
    // here, at resolution time (the analyzer resolves the relation
    // inside the reading session) — resolving SparkSession.active later,
    // when a scan is built, can pick up a different thread's session in
    // multi-session applications (round-4 self-review finding)
    val spark = SparkSession.active
    new EbmlTable(path, HadoopConfShip.capture(spark), EbmlSplit.of(spark))
  }
}

object EbmlTable {
  /** One row per fragment. Tag columns are null when a fragment lacks
    * the tag — e.g. non-AWS test media. */
  val Schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("position", LongType, nullable = false),
    StructField("frag_len", LongType, nullable = false),
    StructField("fragment_number", LongType, nullable = true),
    StructField("producer_ts", LongType, nullable = true),
    StructField("user_id", LongType, nullable = true),
    StructField("millis_behind", LongType, nullable = true),
    StructField("continuation_token", StringType, nullable = true),
    StructField("n_elements", LongType, nullable = false),
    StructField("crc_ok", BooleanType, nullable = false),
    StructField("blob", BinaryType, nullable = false)))
}

class EbmlTable(path: String, confEntries: Array[(String, String)],
    split: EbmlSplit) extends Table with SupportsRead {
  override def name(): String = s"ebml:$path"
  override def schema(): StructType = EbmlTable.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  // split sizing (round 21, guide §6): an explicit `maxPartitionBytes`
  // load option keeps the original pure-bytes packing (the documented
  // option contract); otherwise the scan follows the owning session's
  // file split settings exactly like Spark's own FilePartition —
  // including the minPartitionNum ⇒ defaultParallelism floor, so an
  // archive smaller than one default split still fans out across the
  // cores instead of walking every payload in a single task (the
  // bench's 63 MB/1,000-file sf0.1 archive read as ONE task under the
  // old fixed 128 MB default).
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EbmlScanBuilder(path,
      Option(options.get("maxPartitionBytes")).map(_.toLong), split, confEntries)
}

/** Session file-split settings captured with the table — the inputs of
  * Spark's own `FilePartition.maxSplitBytes` formula. */
case class EbmlSplit(maxPartitionBytes: Long, openCostInBytes: Long,
    minPartitionNum: Int)

object EbmlSplit {
  def of(spark: SparkSession): EbmlSplit = {
    val conf = spark.sessionState.conf
    EbmlSplit(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes,
      conf.filesMinPartitionNum.getOrElse(spark.sparkContext.defaultParallelism))
  }
}

class EbmlScanBuilder(path: String, explicitMaxBytes: Option[Long],
    split: EbmlSplit, confEntries: Array[(String, String)])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = EbmlTable.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** FILE-level predicate pushdown — the archive analog of
    * resume_from_token: a predicate on provenance (`path`, `position`)
    * or on the tag ranges the capture manifest records
    * (`fragment_number`, `producer_ts`) skips whole payload files at
    * PLANNING time, before any byte is read or walked. The skip is
    * INEXACT (a kept file may still hold non-matching fragments), so
    * every filter is also returned as residual for Spark to re-apply
    * — pushdown here is pure work avoidance, never a correctness
    * dependency. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(EbmlFileSkip.pushable)
    filters
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new EbmlScan(path, required, pushed, explicitMaxBytes, split, confEntries)
}

/** File-level skip decisions for pushed filters, from listing metadata
  * (every row of a file shares its `path`; `position` ∈ [0, fileLen))
  * and the optional `_MANIFEST` the archive writer drops alongside the
  * payloads (per-file min/max fragment_number and producer_ts — the
  * parquet row-group-stats idea applied to a media archive). Decisions
  * are conservative: unknown filter shapes, columns, or a missing
  * manifest keep the file. */
object EbmlFileSkip {
  /** Test seam: payload files actually opened by readers (local-mode
    * counter — executors share the JVM in tests). */
  private[graft] val filesOpened = new java.util.concurrent.atomic.AtomicLong

  private val TagCols = Set("fragment_number", "producer_ts")
  private def keyed(a: String): Boolean =
    a == "path" || a == "position" || TagCols(a)

  def pushable(f: Filter): Boolean = f match {
    case EqualTo(a, _) => keyed(a)
    case In(a, _) => keyed(a)
    case GreaterThan(a, _) => keyed(a)
    case GreaterThanOrEqual(a, _) => keyed(a)
    case LessThan(a, _) => keyed(a)
    case LessThanOrEqual(a, _) => keyed(a)
    case StringStartsWith("path", _) => true
    case StringEndsWith("path", _) => true
    case StringContains("path", _) => true
    case _ => false
  }

  private def asLong(v: Any): Option[Long] = v match {
    case n: java.lang.Number => Some(n.longValue())
    case _ => None
  }

  /** (minFrag, maxFrag, minTs, maxTs) per payload file NAME. */
  type Manifest = Map[String, (Long, Long, Long, Long)]

  /** May `file` (with byte length `len` and optional manifest row
    * `range`) contain a row matching `f`? */
  def mayMatch(f: Filter, file: String, len: Long,
      range: Option[(Long, Long, Long, Long)]): Boolean = {
    // interval test against a known per-file [lo, hi] column range
    def overlaps(lo: Long, hi: Long): Filter => Boolean = {
      case EqualTo(_, v) => asLong(v).forall(x => x >= lo && x <= hi)
      case In(_, vs) => vs.exists(v => asLong(v).forall(x => x >= lo && x <= hi))
      case GreaterThan(_, v) => asLong(v).forall(_ < hi)
      case GreaterThanOrEqual(_, v) => asLong(v).forall(_ <= hi)
      case LessThan(_, v) => asLong(v).forall(_ > lo)
      case LessThanOrEqual(_, v) => asLong(v).forall(_ >= lo)
      case _ => true
    }
    f match {
      // path: constant per file — decidable exactly
      case EqualTo("path", v) => v == file
      case In("path", vs) => vs.contains(file)
      case GreaterThan("path", v: String) => file > v
      case GreaterThanOrEqual("path", v: String) => file >= v
      case LessThan("path", v: String) => file < v
      case LessThanOrEqual("path", v: String) => file <= v
      case StringStartsWith("path", v) => file.startsWith(v)
      case StringEndsWith("path", v) => file.endsWith(v)
      case StringContains("path", v) => file.contains(v)
      // position: fragment start offsets live in [0, len)
      case g @ (EqualTo("position", _) | In("position", _) |
                GreaterThan("position", _) | GreaterThanOrEqual("position", _) |
                LessThan("position", _) | LessThanOrEqual("position", _)) =>
        overlaps(0L, len - 1)(g)
      // tag columns: decidable only when the manifest covers the file
      case g: Filter if g.references.length == 1 && TagCols(g.references.head) =>
        range.forall { case (minF, maxF, minT, maxT) =>
          if (g.references.head == "fragment_number") overlaps(minF, maxF)(g)
          else overlaps(minT, maxT)(g)
        }
      case _ => true
    }
  }

  /** Loads `dir/_MANIFEST` if present: one `name,minFrag,maxFrag,
    * minTs,maxTs` line per payload file. File-count-sized, read once
    * per scan planning on the driver. */
  def loadManifest(dir: Path, conf: Configuration): Manifest = {
    val p = new Path(dir, "_MANIFEST")
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) Map.empty
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      text.linesIterator.filter(_.nonEmpty).map { line =>
        val Array(name, a, b, c, d) = line.split(",")
        name -> ((a.toLong, b.toLong, c.toLong, d.toLong))
      }.toMap
    }
  }
}

/** A bin-packed slice of the file listing: parallel arrays keep the
  * partition Java-serializable without Hadoop types. */
case class EbmlInputPartition(files: Array[String]) extends InputPartition

class EbmlScan(path: String, required: StructType, pushed: Array[Filter],
    explicitMaxBytes: Option[Long], split: EbmlSplit,
    confEntries: Array[(String, String)])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def description(): String =
    s"ebml $path, ReadSchema: ${required.catalogString}, " +
      s"PushedFilters: [${pushed.mkString(", ")}]"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    // driver-side listing with the OWNING session's Hadoop conf
    // (credentials, endpoints), captured at getTable time; recurses
    // nested capture prefixes
    val conf = HadoopConfShip.rebuild(confEntries)
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val allFiles = ArrayBuffer.empty[(String, Long)]
    def list(p: Path): Unit = fs.listStatus(p).foreach { st =>
      if (st.isDirectory) list(st.getPath)
      else if (!st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
        allFiles += ((st.getPath.toString, st.getLen))
    }
    list(root)
    // pushed-filter file skip: listing metadata decides path/position
    // predicates; the capture manifest's per-file tag ranges decide
    // fragment_number/producer_ts ones. A skipped file is never opened.
    val manifest: EbmlFileSkip.Manifest =
      if (pushed.exists(_.references.exists(
          c => c == "fragment_number" || c == "producer_ts")))
        EbmlFileSkip.loadManifest(root, conf)
      else Map.empty
    val files =
      if (pushed.isEmpty) allFiles
      else allFiles.filter { case (f, len) =>
        val range = manifest.get(new Path(f).getName)
        pushed.forall(EbmlFileSkip.mayMatch(_, f, len, range))
      }
    // split size: an explicit option is the pure byte bound (original
    // contract, no open-cost charge); otherwise mirror Spark's
    // FilePartition.maxSplitBytes — min(session maxPartitionBytes,
    // max(openCost, totalCharged / minPartitionNum)) with each file
    // charged openCostInBytes — so the scan's parallelism follows the
    // session's file-split settings at any archive size (§6): a small
    // archive still fans out across defaultParallelism tasks, a
    // million-file prefix still bounds at ~totalBytes/maxPartitionBytes
    // tasks.
    val openCost = if (explicitMaxBytes.isDefined) 0L else split.openCostInBytes
    val binBound = explicitMaxBytes.getOrElse {
      val totalCharged = files.map(_._2 + openCost).sum
      math.min(split.maxPartitionBytes,
        math.max(openCost, totalCharged / math.max(1, split.minPartitionNum)))
    }
    // greedy SEQUENTIAL fill by descending size: bounds partition bytes
    // while keeping task count ~ totalCharged / binBound — a
    // million-fragment archive does not become a million tasks. A bin
    // closes as soon as the next (no-larger) file doesn't fit, so
    // planning is the O(n log n) sort — the earlier first-fit scanned
    // every open bin per file (O(files × bins) ≈ 1e10 comparisons at
    // the scaladoc's 1e6-file archive: a multi-minute single-threaded
    // driver stall before the first task launched). Oversized single
    // files still get a bin of their own.
    val bins = ArrayBuffer.empty[Array[String]]
    val cur = ArrayBuffer.empty[String]
    var curLen = 0L
    files.sortBy(-_._2).foreach { case (f, len) =>
      val charged = len + openCost
      if (cur.nonEmpty && curLen + charged > binBound) {
        bins += cur.toArray; cur.clear(); curLen = 0L
      }
      cur += f; curLen += charged
    }
    if (cur.nonEmpty) bins += cur.toArray
    bins.map(b => EbmlInputPartition(b): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // executors rebuild the captured conf per task (HadoopConfShip), so
    // they open object-store paths with the same credentials the
    // driver listed them with
    EbmlReaderFactory(required.fieldNames, confEntries)
}

case class EbmlReaderFactory(columns: Array[String],
    confEntries: Array[(String, String)]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new EbmlPartitionReader(partition.asInstanceOf[EbmlInputPartition], columns, confEntries)
}

class EbmlPartitionReader(partition: EbmlInputPartition,
    columns: Array[String], confEntries: Array[(String, String)])
  extends PartitionReader[InternalRow] {

  private lazy val conf: Configuration = HadoopConfShip.rebuild(confEntries)
  // pruning decisions: which walks this scan actually pays for
  private val needTags = columns.exists(Set("fragment_number", "producer_ts",
    "user_id", "millis_behind", "continuation_token"))
  private val needElements = columns.contains("n_elements")
  private val needBlob = columns.contains("blob")

  private var fileIdx = 0
  private var frags: Seq[(Long, Array[Byte])] = Seq.empty
  private var fragIdx = 0
  private var curPath: UTF8String = _
  private var row: InternalRow = _

  private def openNextFile(): Boolean = {
    if (fileIdx >= partition.files.length) return false
    val p = new Path(partition.files(fileIdx))
    fileIdx += 1
    EbmlFileSkip.filesOpened.incrementAndGet()
    val fs = p.getFileSystem(conf)
    val len = fs.getFileStatus(p).getLen
    // whole-payload read: a payload file is seconds of media (the unit
    // GetMedia delivers between continuation tokens), not an archive —
    // multi-GB captures must be re-chunked upstream, as with the
    // streaming FragmentSource. FAIL LOUDLY past the array limit: the
    // old len.toInt would silently truncate a >2 GB payload and drop
    // its tail fragments (round-4 self-review finding)
    require(len <= Int.MaxValue.toLong,
      s"ebml payload file too large to buffer (${len} B > 2 GB): $p — " +
        "re-chunk captures upstream")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    curPath = UTF8String.fromString(p.toString)
    frags = Ebml.splitFragments(buf)
    fragIdx = 0
    true
  }

  override def next(): Boolean = {
    while (fragIdx >= frags.length) if (!openNextFile()) return false
    val (pos, frag) = frags(fragIdx)
    fragIdx += 1
    val tags: Map[String, String] =
      if (needTags) Ebml.tags(frag) else Map.empty
    def tagLong(name: String): Any =
      tags.get(name).map(v => java.lang.Long.valueOf(v.toLong)).orNull
    val values = columns.map {
      case "path" => curPath
      case "position" => pos
      case "frag_len" => frag.length.toLong
      case "fragment_number" => tagLong(EbmlFunctions.FragmentNumber)
      case "producer_ts" => tagLong(EbmlFunctions.ProducerTs)
      case "user_id" => tagLong(EbmlFunctions.UserIdTag)
      case "millis_behind" => tagLong(EbmlFunctions.MillisBehind)
      case "continuation_token" =>
        tags.get(EbmlFunctions.ContinuationToken)
          .map(UTF8String.fromString).orNull
      case "n_elements" =>
        if (needElements) Ebml.elements(frag).length.toLong else 0L
      case "crc_ok" => Ebml.crcValid(frag)
      case "blob" => if (needBlob) frag else null
      case other => throw new IllegalArgumentException(s"unknown column $other")
    }
    row = new GenericInternalRow(values.asInstanceOf[Array[Any]])
    true
  }

  override def get(): InternalRow = row
  override def close(): Unit = ()
}
