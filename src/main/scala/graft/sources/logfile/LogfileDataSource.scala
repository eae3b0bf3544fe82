package graft.sources.logfile

import java.util

import scala.jdk.CollectionConverters._

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
  * The batch planner packs splits into tasks by Spark's `FilePartition`
  * rule and settings (`spark.sql.files.maxPartitionBytes`,
  * `spark.sql.files.openCostInBytes`, `spark.sql.files.minPartitionNum`),
  * so a directory of small rotated files costs a few core-sized tasks, not
  * one task per file. Splits of `spark.sql.files.maxPartitionBytes` or more
  * stay one per task. The Hadoop conf ships to executors once per scan, as
  * a broadcast.
  *
  * Options:
  *   - `pattern` (required): default first-line regex.
  *   - `pattern.<glob>`: per-file override, glob matched against the file
  *     name and full path (reference's per-path dispatch,
  *     `LogfileInputFormat.java:85-101`). Keys are case-insensitive.
  *   - `maxsplitbytes`: split size for uncompressed files (default
  *     `spark.sql.files.maxPartitionBytes`). The split, not the task, is
  *     the unit of record ownership.
  *   - `vectorized` (default true): emit `ColumnarBatch`es from the scan
  *     instead of one `InternalRow` per record (same assembly core either
  *     way; set false only to A/B the row path).
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
    val multi = Option(options.get("paths")).toSeq.flatMap { js =>
      // JSON string-array parse honoring escapes — a naive split(",") would
      // corrupt paths containing commas or quotes
      val m = java.util.regex.Pattern.compile("\"((?:[^\"\\\\]|\\\\.)*)\"").matcher(js)
      val out = Seq.newBuilder[String]
      while (m.find()) out += unescapeJson(m.group(1))
      out.result()
    }
    val single = Option(options.get("path")).toSeq
    (multi ++ single).distinct
  }

  /** Full JSON string-escape decoding (Jackson may emit \t, \n, \uXXXX for
    * control characters in file names, not just \" and \\).
    */
  private def unescapeJson(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => sb.append('"'); i += 2
          case '\\' => sb.append('\\'); i += 2
          case '/' => sb.append('/'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 't' => sb.append('\t'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case 'u' if i + 6 <= s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
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

  /** Byte-size statistics from the (filter-pruned) file listing, so Catalyst
    * can pick a broadcast side when a logfile relation joins something.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val bytes = listFiles().map(_.getLen).sum
      override def sizeInBytes(): java.util.OptionalLong = java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }

  private def listFiles(): Seq[FileStatus] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    LogfileOptions.paths(options).flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      val globbed = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      require(globbed.nonEmpty, s"logfile path matches no files: $p")
      globbed.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile) else Seq(st)
      }
    }.filterNot { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }.filter(st => fileFilters.forall(LogfileFileFilter.accept(_, st.getPath.toString)))
      .sortBy(_.getPath.toString)
  }

  /** Driver-side split planning — the DSv2 analog of
    * `FileInputFormat.getSplits` + `isSplitable` (`LogfileInputFormat.java:112-119`):
    * uncompressed files are carved into `maxSplitBytes` ranges, files with a
    * (non-splittable) codec become exactly one whole-file split. The splits,
    * in (path, start) order, are then packed into tasks
    * ([[LogfileSplits.pack]]) with the target size Spark's own file scans
    * use.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val conf = spark.sessionState.newHadoopConf()
    val codecs = new CompressionCodecFactory(conf)
    val maxSplit = Option(options.get("maxsplitbytes")).map(_.toLong)
      .getOrElse(spark.sessionState.conf.filesMaxPartitionBytes)

    val carved = listFiles().flatMap { st =>
      val pattern = LogfileOptions.resolvePattern(options, st.getPath)
      LogfileSplits.carve(st, pattern, conf, codecs, maxSplit)
    }
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val target = FilePartition.maxSplitBytes(spark, carved.map(_.diskBytes + openCost).sum)
    LogfileSplits.pack(carved, target, openCost).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    val conf = GraftConfBridge.broadcast(
      spark.sparkContext, spark.sessionState.newHadoopConf())
    val vectorized = Option(options.get("vectorized")).forall(_.toBoolean)
    new LogfileReaderFactory(conf, required, limit, countPushed, vectorized)
  }

  /** Scan observability (bytes read, records assembled, boundary-spanning
    * records) — the `getProgress` parity item
    * (`LogfileRecordReader.java:331-337`); values aggregate per-task via
    * [[LogfileChainReader.currentMetricsValues]].
    */
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    LogfileMetrics.supported
}

/** One split: [start, end) byte range of `path` (decompressed-logical for
  * codec'd files, where end is MaxValue ⇒ whole file).
  *
  * `locations` are the HDFS block hosts holding this range, ranked by
  * overlap, so the scheduler can place the task data-local — what the
  * reference inherits from `FileInputFormat.getSplits`
  * (`LogfileInputFormat.java:112-119`). Empty on filesystems without
  * block topology.
  *
  * A bare split is one task (the micro-batch planner emits these); the
  * batch planner packs splits into [[LogfileSplitGroup]]s.
  */
final case class LogfilePartition(path: String, start: Long, end: Long, pattern: String,
    locations: Array[String] = Array.empty)
  extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

/** One scan task of consecutive splits, read in order by a
  * [[LogfileChainReader]]. `locations` rank hosts by their block overlap
  * summed over the splits.
  */
final case class LogfileSplitGroup(splits: Array[LogfilePartition], locations: Array[String])
  extends InputPartition {
  override def preferredLocations(): Array[String] = locations
}

object LogfileSplitGroup {
  /** The splits a task reads: a bare split is a group of one. */
  def splitsOf(p: InputPartition): Array[LogfilePartition] = p match {
    case g: LogfileSplitGroup => g.splits
    case s: LogfilePartition => Array(s)
  }
}

/** The one split-carving rule, shared by the batch planner and the streaming
  * micro-batch planner so a big plain file parallelizes identically in both:
  * uncompressed files become `maxSplit`-byte [start, end) ranges; codec'd
  * files exactly one whole-file split (splittable-compressed is rejected
  * at read); empty files vanish (a 0-byte .gz would EOF in the decompressor).
  */
private[logfile] object LogfileSplits {
  /** A split with what packing needs: the on-disk byte range it covers
    * (the whole file for a codec'd one) and its file's block report.
    */
  final case class Carved(split: LogfilePartition, diskStart: Long, diskBytes: Long,
      blocks: Array[BlockLocation])

  def forFile(st: FileStatus, pattern: String, conf: Configuration,
      codecs: CompressionCodecFactory, maxSplit: Long): Seq[LogfilePartition] =
    carve(st, pattern, conf, codecs, maxSplit).map(_.split)

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
      def carved(start: Long, end: Long, diskEnd: Long) = Carved(
        LogfilePartition(path, start, end, pattern,
          LogfileLocality.rank(blocks, start, diskEnd - start)),
        start, diskEnd - start, blocks)
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
  /** Rank hosts by overlapping byte count with [start, start+len); ties keep
    * block order (deterministic for a stable block report).
    */
  def rank(blocks: Array[BlockLocation], start: Long, len: Long): Array[String] =
    rank(Seq((blocks, start, len)))

  /** Rank hosts by overlap summed over several (blocks, start, len) ranges;
    * ties keep first-seen order.
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
  * conf arrives as one broadcast per scan rather than a copy in every task.
  */
final class LogfileReaderFactory(conf: Broadcast[SerializableConfiguration],
    required: StructType, limit: Option[Int] = None, countPushed: Boolean = false,
    vectorized: Boolean = true)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    // a pushed limit must never cap a pushed COUNT(*): Spark doesn't plan
    // both today (limit stays above the aggregate), but if it ever did,
    // an early-stopped count would silently undercount
    val rows = new LogfileChainReader[InternalRow](LogfileSplitGroup.splitsOf(partition),
      if (countPushed) None else limit, { (split, left) =>
        val r = new LogfilePartitionReader(split, conf.value.value, required, left,
          countOnly = countPushed)
        (r, r)
      })
    if (countPushed) new LogfileCountReader(rows) else rows
  }

  /** Vectorized path (everything except the one-row COUNT(*) partial, where
    * a batch is pointless): record bytes go straight from the assembly
    * buffer into reused column vectors — no per-record row or UTF8String.
    */
  override def supportColumnarReads(partition: InputPartition): Boolean =
    vectorized && !countPushed

  override def createColumnarReader(partition: InputPartition): PartitionReader[ColumnarBatch] =
    new LogfileChainReader[ColumnarBatch](LogfileSplitGroup.splitsOf(partition), limit,
      { (split, left) =>
        val r = new LogfilePartitionReader(split, conf.value.value, required, left)
        (r, new LogfileColumnarReader(r, required, split.path))
      })
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
  def forPath(conf: Configuration, path: Path): Option[org.apache.hadoop.io.compress.CompressionCodec] =
    Option(new CompressionCodecFactory(conf).getCodec(path)).map { c =>
      if (c.isInstanceOf[SplittableCompressionCodec])
        throw new RuntimeException(
          s"splittable compressed input is not supported: $path " +
            "(parity with LogfileRecordReader.java:163-165)")
      c
    }
}
