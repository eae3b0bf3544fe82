package graft.sources.logfile

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{BlockLocation, FileStatus, GlobPattern, Path}
import org.apache.hadoop.io.compress.{CompressionCodecFactory, SplittableCompressionCodec}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.graftbridge.GraftConfBridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.util.SerializableConfiguration

/** `spark.read.format("logfile")` — a DataSource V2 scan over (possibly
  * gzipped) logfiles whose records span multiple physical lines, delimited by
  * a "first line of a record" regex.
  *
  * Semantics re-expressed from the reference
  * (`LogfileInputFormat.java:46-119`, `LogfileRecordReader.java:140-344`):
  * a line is a record head iff the regex fully matches it; a record belongs
  * to the split where its head line starts; readers realign at split start
  * and read past split end for boundary-spanning records; non-splittable
  * codecs (gzip) get exactly one whole-file split; splittable compressed
  * input is rejected.
  *
  * Tasks: a scan task reads one or more consecutive splits, in order, each
  * through its own [[LogfilePartitionReader]] ([[LogfileChainReader]]).
  * Both planners, batch and micro-batch, pack splits into tasks by Spark's
  * `FilePartition` rule and settings (`spark.sql.files.maxPartitionBytes`,
  * `spark.sql.files.openCostInBytes`, `spark.sql.files.minPartitionNum`),
  * so a directory of small rotated files costs a few core-sized tasks, not
  * one task per file. Splits of `spark.sql.files.maxPartitionBytes` or more
  * stay one per task. The Hadoop conf ships to executors once per scan, as
  * a broadcast. A batch scan carves its files and builds its reader factory
  * once, when it first runs: it states its columnar mode up front
  * (`columnarSupportMode`), so Catalyst's planning never asks for either.
  *
  * Options:
  *   - `pattern` (required): default first-line regex.
  *   - `pattern.<glob>`: per-file override, glob matched against the file
  *     name and full path (reference's per-path dispatch,
  *     `LogfileInputFormat.java:85-101`). Keys are case-insensitive.
  *   - `maxsplitbytes`: split size for uncompressed files (default
  *     `spark.sql.files.maxPartitionBytes`). The split, not the task, is
  *     the unit of record ownership.
  *
  * Emission: a record scan emits `ColumnarBatch`es ([[LogfileColumnarReader]]);
  * the pushed COUNT(*) partial, one row per task, takes the row reader. No
  * option selects the path. A split reader splits lines in its own buffer
  * ([[LineSplitter]], with the reference `LineReader`'s line rules and byte
  * counts), tests each head where the line lies, and copies a line only
  * into its record.
  *
  * Output schema: `file string, offset long, record string`; `offset` is the
  * byte offset of the record's first line in the (decompressed) stream.
  * Column pruning is pushed into the scan.
  *
  * Head matching ([[HeadMatcher]]): a pattern in the byte-level subset
  * (ASCII literals and escaped metacharacters, `\d`, `\s`, positive ASCII
  * bracket classes, `?`/`{n}`/`{n,m}` on one atom, a leading `^`, plain,
  * named and non-capturing groups, alternation, a trailing `.*` after no
  * top-level `|`) compiles to a DFA over each line's UTF-8 bytes; any other
  * pattern decodes the line and runs `java.util.regex`. Both give
  * `Pattern.matches()` results on the decoded line. No option selects the
  * matcher: the pattern does.
  */
final class LogfileDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "logfile"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LogfileTable.Schema

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new LogfileTable(new CaseInsensitiveStringMap(properties))

  override def supportsExternalMetadata(): Boolean = false
}

object LogfileTable {
  val Schema: StructType = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("record", StringType, nullable = false)))
}

final class LogfileTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = s"logfile(${LogfileOptions.paths(options).mkString(",")})"
  override def schema(): StructType = LogfileTable.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveStringMap: CaseInsensitiveStringMap): ScanBuilder =
    new LogfileScanBuilder(options)
}

private object LogfileOptions {
  /** DataFrameReader.load(paths*) passes "path" or a JSON-array "paths". */
  def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val multi = Option(options.get("paths")).toSeq
      .flatMap(js => new ObjectMapper().readValue(js, classOf[Array[String]]).toSeq)
    val single = Option(options.get("path")).toSeq
    (multi ++ single).distinct
  }

  def defaultPattern(options: CaseInsensitiveStringMap): String = {
    val p = options.get("pattern")
    require(p != null && p.nonEmpty,
      "logfile source requires option 'pattern' (first-line regex); " +
        "parity with LogfileRecordReader.java:150-154")
    p
  }

  /** (glob, regex) overrides from `pattern.<glob>` options. */
  def overrides(options: CaseInsensitiveStringMap): Seq[(String, String)] =
    options.asCaseSensitiveMap().asScala.toSeq.collect {
      case (k, v) if k.toLowerCase.startsWith("pattern.") =>
        (k.substring("pattern.".length), v)
    }.sortBy(_._1)

  /** Per-file pattern resolution: first matching glob (against file name,
    * then full path), else the default — the reference's lookup-with-fallback
    * (`LogfileInputFormat.java:98-101`).
    */
  def resolvePattern(options: CaseInsensitiveStringMap, file: Path): String = {
    val name = file.getName
    val full = file.toString
    overrides(options).collectFirst {
      case (glob, re)
          if new GlobPattern(glob).matches(name) || new GlobPattern(glob).matches(full) => re
    }.getOrElse(defaultPattern(options))
  }

  /** The files under the option paths, sorted by path: each glob match, or
    * a directory's files (not its subdirectories). Names starting with `_`
    * or `.` are skipped. `requireMatch` fails a path that matches nothing.
    */
  def listFiles(options: CaseInsensitiveStringMap, conf: Configuration,
      requireMatch: Boolean): Seq[FileStatus] =
    paths(options).flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val globbed = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      require(!requireMatch || globbed.nonEmpty, s"logfile path matches no files: $p")
      globbed.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
      }
    }.filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.sortBy(_.getPath.toString)
}

final class LogfileScanBuilder(options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownLimit
    with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {
  private var required: StructType = LogfileTable.Schema
  private var fileFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var limit: Option[Int] = None
  private var countPushed = false

  /** PARTIAL limit pushdown: each task stops assembling, and opens no
    * further split, after `limit` records, so `df.limit(5)` on a 10 GB file
    * reads a few KB instead of the whole file. Partial because tasks are
    * independent (k tasks can emit up to k*limit rows) -- `isPartiallyPushed`
    * keeps Spark's global limit above the scan for exactness.
    */
  override def pushLimit(l: Int): Boolean = { limit = Some(l); true }
  override def isPartiallyPushed(): Boolean = true

  /** COUNT(*) pushdown (PARTIAL: one partial count per task, Spark
    * sums them). Record COUNTING still requires the multiline head-machine
    * -- a record is "a line matching the pattern plus its continuations",
    * so every line is still read and matched -- but the reader skips
    * assembling record strings and rows entirely: no StringBuilder, no
    * per-record InternalRow, just the counter the metrics already carry.
    * Grouped or non-count aggregates don't push (return false ⇒ Spark
    * plans the normal scan + aggregate).
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    val ok = agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.length == 1 &&
      agg.aggregateExpressions.head
        .isInstanceOf[org.apache.spark.sql.connector.expressions.aggregate.CountStar]
    if (ok) countPushed = true
    ok
  }

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // keep declared order; an empty projection (count(*)) is legal
    required = StructType(
      LogfileTable.Schema.fields.filter(f => requiredSchema.fieldNames.contains(f.name)))
  }

  /** Only predicates over the `file` column push down — they prune whole
    * files at planning time (e.g. selecting the plain twins of a plain+gz
    * corpus never opens a .gz). Predicates on `offset`/`record` depend on
    * record assembly and stay post-scan (SURVEY.md §4.2: filter pushdown on
    * parsed fields is intentionally not useful).
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    val (pushable, rest) = filters.partition(f =>
      f.references.toSeq == Seq("file") && LogfileFileFilter.supported(f))
    fileFilters = pushable
    rest // Spark re-applies these above the scan
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = fileFilters

  override def build(): Scan =
    new LogfileScan(options, required, fileFilters, limit, countPushed)
}

/** Evaluates pushed `file`-column predicates against candidate paths. */
private[logfile] object LogfileFileFilter {
  import org.apache.spark.sql.sources._

  def supported(f: Filter): Boolean = f match {
    case _: EqualTo | _: StringStartsWith | _: StringEndsWith | _: StringContains => true
    case In(_, vs) => vs.forall(_.isInstanceOf[String])
    case Or(a, b) => supported(a) && supported(b)
    case And(a, b) => supported(a) && supported(b)
    case Not(c) => supported(c)
    case _ => false
  }

  def accept(f: Filter, path: String): Boolean = f match {
    case EqualTo(_, v) => path == v
    case StringStartsWith(_, p) => path.startsWith(p)
    case StringEndsWith(_, s) => path.endsWith(s)
    case StringContains(_, s) => path.contains(s)
    case In(_, vs) => vs.contains(path)
    case Or(a, b) => accept(a, path) || accept(b, path)
    case And(a, b) => accept(a, path) && accept(b, path)
    case Not(c) => !accept(c, path)
    case _ => true
  }
}

final class LogfileScan(options: CaseInsensitiveStringMap, required: StructType,
    fileFilters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    limit: Option[Int] = None,
    countPushed: Boolean = false)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType =
    if (countPushed) LogfileScan.CountSchema else required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new LogfileMicroBatchStream(options, required)
  override def description(): String =
    s"LogfileScan(paths=${LogfileOptions.paths(options).mkString(",")}, " +
      s"columns=${required.fieldNames.mkString(",")}, " +
      s"PushedFileFilters=[${fileFilters.mkString(",")}]" +
      limit.map(l => s", PushedLimit=$l").getOrElse("") +
      (if (countPushed) ", PushedAggregation=[COUNT(*)]" else "") + ")"

  /** The (filter-pruned) file listing, made once per scan: statistics and
    * planning both read it.
    */
  private lazy val files: Seq[FileStatus] =
    LogfileOptions.listFiles(options, SparkSession.active.sessionState.newHadoopConf(),
      requireMatch = true)
      .filter(st => fileFilters.forall(LogfileFileFilter.accept(_, st.getPath.toString)))

  /** Byte-size statistics from the file listing, so Catalyst can pick a
    * broadcast side when a logfile relation joins something.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = files.map(_.getLen).sum
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

  /** A record scan is always columnar and the pushed COUNT(*) never is.
    * Saying so keeps Spark from planning the partitions and building the
    * reader factory at planning time, on every plan copy, only to ask them
    * (what its default, `PARTITION_DEFINED`, does).
    */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (countPushed) Scan.ColumnarSupportMode.UNSUPPORTED else Scan.ColumnarSupportMode.SUPPORTED

  // the tasks and the reader factory, each made once per scan, when the
  // scan first runs: one carving of the files, one broadcast of the conf
  private lazy val partitions: Array[InputPartition] = {
    val spark = SparkSession.active
    LogfileSplits.plan(spark, spark.sessionState.newHadoopConf(), options, files)
  }
  private lazy val readerFactory: PartitionReaderFactory = {
    val spark = SparkSession.active
    val conf = GraftConfBridge.broadcast(
      spark.sparkContext, spark.sessionState.newHadoopConf())
    new LogfileReaderFactory(conf, required, limit, countPushed)
  }

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory = readerFactory

  /** Scan observability (bytes read, records assembled, boundary-spanning
    * records) — the `getProgress` parity item
    * (`LogfileRecordReader.java:331-337`); values aggregate per-task via
    * [[LogfileChainReader.currentMetricsValues]].
    */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    LogfileMetrics.supported
}

/** One split: [start, end) byte range of `path` (decompressed-logical for
  * codec'd files, where end is MaxValue ⇒ whole file). A split is the unit
  * of record ownership, not of scheduling: tasks are [[LogfileSplitGroup]]s.
  */
final case class LogfilePartition(path: String, start: Long, end: Long, pattern: String)

/** One scan task of consecutive splits, read in order by a
  * [[LogfileChainReader]]. `locations` are the HDFS block hosts holding the
  * splits' bytes, ranked by overlap summed over the splits, so the
  * scheduler can place the task data-local — what the reference inherits
  * from `FileInputFormat.getSplits` (`LogfileInputFormat.java:112-119`).
  * Empty on filesystems without block topology.
  */
final case class LogfileSplitGroup(splits: Array[LogfilePartition], locations: Array[String])
  extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

/** The one logfile planner, shared by the batch scan and the micro-batch
  * stream, so the same files plan the same tasks in both: the DSv2 analog
  * of `FileInputFormat.getSplits` + `isSplitable`
  * (`LogfileInputFormat.java:112-119`). Uncompressed files become
  * `maxSplit`-byte [start, end) ranges; codec'd files exactly one
  * whole-file split (splittable-compressed is rejected at read); empty
  * files vanish (a 0-byte .gz would EOF in the decompressor). The splits
  * are then packed into tasks.
  */
private[logfile] object LogfileSplits {
  /** A split with what packing needs: the on-disk byte range it covers
    * (the whole file for a codec'd one) and its file's block report.
    */
  final case class Carved(split: LogfilePartition, diskStart: Long, diskBytes: Long,
      blocks: Array[BlockLocation])

  /** Carves `files`, in their given order, each with its resolved pattern
    * and the `maxsplitbytes` option (default
    * `spark.sql.files.maxPartitionBytes`), then packs the splits with the
    * target size Spark's own file scans use. A pure function of the files,
    * their lengths and block reports, and the session conf, so a replayed
    * micro-batch plans the same tasks.
    */
  def plan(spark: SparkSession, conf: Configuration, options: CaseInsensitiveStringMap,
      files: Seq[FileStatus]): Array[InputPartition] = {
    val codecs = new CompressionCodecFactory(conf)
    val maxSplit = Option(options.get("maxsplitbytes")).map(_.toLong)
      .getOrElse(spark.sessionState.conf.filesMaxPartitionBytes)
    val carved = files.flatMap { st =>
      carve(st, LogfileOptions.resolvePattern(options, st.getPath), conf, codecs, maxSplit)
    }
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val target = FilePartition.maxSplitBytes(spark, carved.map(_.diskBytes + openCost).sum)
    pack(carved, target, openCost).toArray
  }

  def carve(st: FileStatus, pattern: String, conf: Configuration,
      codecs: CompressionCodecFactory, maxSplit: Long): Seq[Carved] = {
    require(maxSplit > 0, "maxSplitBytes must be positive")
    if (st.getLen == 0) Seq.empty
    else {
      val path = st.getPath.toString
      val fs = st.getPath.getFileSystem(conf)
      // one block-location RPC per FILE (as FileInputFormat.getSplits
      // does), then slice locally per split — not one RPC per split
      val blocks = Option(fs.getFileBlockLocations(st, 0L, st.getLen))
        .getOrElse(Array.empty)
      def carved(start: Long, end: Long, diskEnd: Long) =
        Carved(LogfilePartition(path, start, end, pattern), start, diskEnd - start, blocks)
      if (codecs.getCodec(st.getPath) != null) Seq(carved(0L, Long.MaxValue, st.getLen))
      else (0L until st.getLen by maxSplit).map { start =>
        val end = math.min(start + maxSplit, st.getLen)
        carved(start, end, end)
      }
    }
  }

  /** Spark's `FilePartition.getFilePartitions` rule over splits kept in
    * their given order (next-fit): a group closes when the next split's
    * bytes would take it past `target`; each split adds its bytes plus
    * `openCost`. Groups never reorder or merge splits, so record ownership
    * stays with the split.
    */
  def pack(carved: Seq[Carved], target: Long, openCost: Long): Seq[LogfileSplitGroup] = {
    val groups = Seq.newBuilder[LogfileSplitGroup]
    val current = scala.collection.mutable.ArrayBuffer.empty[Carved]
    var size = 0L
    def close(): Unit = if (current.nonEmpty) {
      groups += LogfileSplitGroup(current.map(_.split).toArray,
        LogfileLocality.rank(current.map(c => (c.blocks, c.diskStart, c.diskBytes)).toSeq))
      current.clear()
      size = 0L
    }
    carved.foreach { c =>
      if (size + c.diskBytes > target) close()
      size += c.diskBytes + openCost
      current += c
    }
    close()
    groups.result()
  }
}

private[logfile] object LogfileLocality {
  /** Rank hosts by overlap summed over several (blocks, start, len) ranges;
    * ties keep first-seen order (deterministic for a stable block report).
    */
  def rank(ranges: Seq[(Array[BlockLocation], Long, Long)]): Array[String] = {
    val byHost = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    for ((blocks, start, len) <- ranges; b <- blocks) {
      val overlap = math.min(b.getOffset + b.getLength, start + len) - math.max(b.getOffset, start)
      if (overlap > 0)
        b.getHosts.foreach(h => byHost.update(h, byHost.getOrElse(h, 0L) + overlap))
    }
    byHost.toSeq.sortBy(-_._2).map(_._1).toArray
  }
}

object LogfileScan {
  /** Output schema when COUNT(*) is pushed: one partial count per task. */
  val CountSchema: StructType =
    StructType(Seq(StructField("count(*)", LongType, nullable = false)))
}

/** Builds each task's [[LogfileChainReader]] over its splits. The Hadoop
  * conf arrives as one broadcast per scan rather than a copy in every task,
  * and a task's splits share one `CompressionCodecFactory`, which
  * instantiates every codec it knows when it is built.
  */
final class LogfileReaderFactory(conf: Broadcast[SerializableConfiguration],
    required: StructType, limit: Option[Int] = None, countPushed: Boolean = false)
    extends PartitionReaderFactory {
  /** The pushed COUNT(*) partial, the one scan that reads rows. No limit
    * applies: an early-stopped count would silently undercount.
    */
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    require(countPushed, "a logfile record scan is columnar")
    val codecs = new CompressionCodecFactory(conf.value.value)
    new LogfileCountReader(new LogfileChainReader[InternalRow](
      partition.asInstanceOf[LogfileSplitGroup].splits, None, { (split, _) =>
        val r = new LogfilePartitionReader(split, conf.value.value, required, None,
          countOnly = true, codecs)
        (r, r)
      }))
  }

  /** Vectorized path (every record scan; the scan's `columnarSupportMode`
    * tells Spark): record bytes go straight from the assembly buffer into
    * reused column vectors — no per-record row or UTF8String.
    */
  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] = {
    val codecs = new CompressionCodecFactory(conf.value.value)
    new LogfileChainReader[ColumnarBatch](partition.asInstanceOf[LogfileSplitGroup].splits, limit,
      { (split, left) =>
        val r = new LogfilePartitionReader(split, conf.value.value, required, left,
          countOnly = false, codecs)
        (r, new LogfileColumnarReader(r, required, split.path))
      })
  }
}

/** Drains the (string-skipping) inner reader and emits ONE row: this
  * task's record count, summed over its splits -- the partial side of
  * pushed COUNT(*).
  */
final class LogfileCountReader(inner: LogfileChainReader[InternalRow])
    extends PartitionReader[InternalRow] {
  private var emitted = false
  private var count = 0L
  override def next(): Boolean = {
    if (emitted) return false
    while (inner.next()) {}
    count = inner.assembledCount
    emitted = true
    true
  }
  override def get(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](count))
  override def currentMetricsValues(): Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    inner.currentMetricsValues()
  override def close(): Unit = inner.close()
}

private[logfile] object LogfileCodec {
  def forPath(codecs: CompressionCodecFactory, path: Path)
      : Option[org.apache.hadoop.io.compress.CompressionCodec] =
    Option(codecs.getCodec(path)).map { c =>
      if (c.isInstanceOf[SplittableCompressionCodec])
        throw new RuntimeException(
          s"splittable compressed input is not supported: $path " +
            "(parity with LogfileRecordReader.java:163-165)")
      c
    }
}
