package graft.tables

import java.util

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.graftbridge.GraftConfBridge
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Structured Streaming READ face of [[GraftTable]] — the table as a
  * micro-batch source, completing the incremental loop the write side
  * already has (`appendIfAbsent` = exactly-once sink):
  * stream → table → stream.
  *
  * Offsets are (TABLE VERSION, files-consumed-into-the-next-commit) — the
  * commit log is already a totally-ordered stream of file actions, so the
  * source needs no listing, no watermark, no boundary set: a batch is
  * exactly the files the commits in `(start, end]` added, and ADMISSION
  * CONTROL (`maxFilesPerTrigger` / `maxBytesPerTrigger`, the Delta surface)
  * can cut a batch mid-commit — the `files` half of the offset records how
  * many add-files of commit `version + 1` are already consumed, so a
  * restart resumes exactly where the cap stopped. Without the options a
  * trigger takes ALL pending commits (the old unbounded behavior — fine
  * for small tables, not for a stream starting against a 100 TB backlog).
  * Append-only contract like the published lakehouse sources: a commit
  * that REMOVES files (overwrite / merge / delete / compaction /
  * replacePartitions) fails the stream loud, or is skipped wholesale with
  * `skipChangeCommits=true` (the Delta option's semantics — downstream
  * sees only whole appended commits either way).
  *
  * Scale: `planInputPartitions` is O(commits in range) driver work reading
  * only log JSON; each added file becomes one input partition read on an
  * executor. Readers decode parquet via parquet-mr's example API —
  * supported for FLAT atomic schemas (integral, string, double/float,
  * boolean, date, binary), which is checked LOUD at stream construction;
  * nested/decimal/timestamp tables use batch `changes()` instead.
  *
  * Usage: `table.readStream` or
  * `spark.readStream.format("graft-table").option("path", loc).load()`.
  * Options: `startingVersion` (default 0 = include the create commit's
  * rows), `skipChangeCommits` (default false), `maxFilesPerTrigger` /
  * `maxBytesPerTrigger` (admission caps; a trigger always admits at least
  * one file so the stream makes progress even past an oversized file).
  */
final class GraftTableStreamSource extends TableProvider with DataSourceRegister
  with org.apache.spark.sql.sources.RelationProvider {
  override def shortName(): String = "graft-table"

  private def location(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "graft-table source needs .option(\"path\", ...)")
    p
  }

  /** BATCH face for non-catalog users: `spark.read.format("graft-table")
    * .option("path", l)` serves the current snapshot, `versionAsOf` /
    * `timestampAsOf` (epoch millis or `yyyy-mm-dd hh:mm:ss`) time-travel.
    * The DataFrameReader tries the V2 table first, sees no BATCH_READ
    * capability and falls back here (the documented V1 route); the
    * relation's scan IS the snapshot plan — physical column resolution,
    * deletion vectors and per-version schema all included, any schema
    * (the stream face's flat-atomic restriction does not apply).
    */
  override def createRelation(ctx: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    val t = GraftTable.at(ctx.sparkSession, params.getOrElse("path",
      throw new IllegalArgumentException(
        "graft-table needs .option(\"path\", ...)")))
    val asOf: Option[Long] = params.get("versionasof").map(_.toLong)
      .orElse(params.get("timestampasof").map { s =>
        val ms = scala.util.Try(s.toLong).getOrElse(
          java.sql.Timestamp.valueOf(s).getTime)
        t.versionAt(ms)
      })
    val df = t.snapshot(asOf)
    new org.apache.spark.sql.sources.BaseRelation
      with org.apache.spark.sql.sources.TableScan {
      override val sqlContext: org.apache.spark.sql.SQLContext = ctx
      override val schema: StructType = df.schema
      override def needConversion: Boolean = false
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftTable.at(SparkSession.active, location(options)).schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftTableStreamTable(location(new CaseInsensitiveStringMap(properties)), schema)

  override def supportsExternalMetadata(): Boolean = false
}

private[tables] final class GraftTableStreamTable(location: String, tableSchema: StructType)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  override def name(): String = s"graft-table($location)"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = tableSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new GraftTableMicroBatchStream(location, tableSchema, options)
        override def description(): String = s"graft-table stream ($location)"
      }
    }
  // `writeStream.format("graft-table").option("path", ...)` — the
  // exactly-once epoch-commit sink, symmetric with the read face
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.Write {
          override def toStreaming
              : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
            val gt = GraftTable.at(SparkSession.active, location)
            require(gt.partitionBy.isEmpty, "streaming writes to a " +
              "PARTITIONED graft table are not supported; use foreachBatch")
            // the stream's schema must be the table's (names + types;
            // nullability free) — a silent column permutation would corrupt
            val in = info.schema()
            require(in.fields.map(f => (f.name, f.dataType)).toSeq ==
              gt.schema.fields.map(f => (f.name, f.dataType)).toSeq,
              s"stream schema ${in.simpleString} does not match table " +
                s"schema ${gt.schema.simpleString}")
            new GraftStreamingWrite(location, gt.schema, info.queryId())
          }
        }
    }
}

private[tables] final class GraftTableMicroBatchStream(
    location: String, schema: StructType, options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  require(!Option(options.get("readchangefeed")).exists(_.toBoolean),
    "readChangeFeed is served by the dedicated change-feed source " +
      "(micro-batches are per-commit diff PLANS, not file lists): use " +
      "spark.readStream.format(\"graft-table-cdf\").option(\"path\", ...) " +
      "or GraftTable.readChangeStream")

  GraftParquetReaderFactory.requireSupported(schema)

  private val spark = SparkSession.active
  private val hadoopConf = spark.sessionState.newHadoopConf()
  // one handle for the stream's lifetime: commit parses memoize, so each
  // trigger replays only the commits landed since the last one
  private val table: GraftTable = GraftTable.at(spark, location)

  // the colmap is ANCHORED with the schema at stream construction: the
  // stream's logical names resolve to physical file names through THIS
  // mapping for its whole run. Resolving through the live colmap instead
  // would silently null-fill after a second rename of an already-renamed
  // column (the logical name captured at start is neither logical nor
  // physical under the new map); a mid-stream colmap change fails the
  // stream loud below (checkColmap), matching the published non-additive-
  // schema-change contract — a restart re-anchors against the new names.
  private val anchoredColmap: Map[String, String] = table.colmapNow

  // the SCHEMA was captured earlier (inferSchema/getTable time) than the
  // colmap anchor above — a RENAME landing in that window would pair the
  // NEW mapping with the OLD logical names, miss the parquet by-name
  // lookup, and silently null-fill. Validate the pairing at anchor time:
  // every logical field the stream will serve must still be a column of
  // the table (a strict subset is fine — ADD COLUMN between capture and
  // anchor is additive and sound).
  locally {
    // NAMES AND TYPES: a drop + re-add with a different type keeps the
    // name but rebinds a fresh physical column of the new type — the old
    // reader schema would decode it wrong
    val live = table.schema.fields.map(f => (f.name, f.dataType)).toSet
    val stale = schema.fields.filterNot(f => live.contains((f.name, f.dataType)))
    require(stale.isEmpty,
      s"stream schema column(s) ${stale.map(_.name).mkString(", ")} no " +
        "longer exist in the table with these types (a RENAME/DROP COLUMN " +
        "landed between defining and starting the stream); re-define the " +
        "readStream against the current schema")
  }

  private def checkColmap(): Unit = {
    val now = table.colmapNow
    if (now != anchoredColmap) throw new IllegalStateException(
      s"the table's column mapping changed mid-stream (RENAME/DROP COLUMN " +
        s"landed after stream start: anchored $anchoredColmap, now $now); " +
        "restart the stream to re-anchor against the new schema")
    // a DROP COLUMN of an identity-mapped column changes the schema but
    // not the colmap — detect it the same loud way (new columns are fine:
    // additive evolution; the anchored reader just never reads them)
    val live = table.schema.fieldNames.toSet
    val gone = schema.fieldNames.filterNot(live.contains)
    if (gone.nonEmpty) throw new IllegalStateException(
      s"column(s) ${gone.mkString(", ")} were dropped mid-stream; the " +
        "table-as-stream contract treats non-additive schema changes as " +
        "loud failures — restart the stream against the new schema")
  }

  private val startingVersion: Long =
    Option(options.get("startingversion")).map(_.toLong).getOrElse(0L)
  private val skipChangeCommits: Boolean =
    Option(options.get("skipchangecommits")).exists(_.toBoolean)
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxfilespertrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxbytespertrigger")).map { v =>
      val n = v.toLong
      require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
      n
    }

  override def initialOffset(): Offset = GraftVersionOffset(startingVersion, 0L)

  override def getDefaultReadLimit: ReadLimit =
    (maxFilesPerTrigger, maxBytesPerTrigger) match {
      case (Some(f), Some(b)) =>
        ReadLimit.compositeLimit(Array(ReadLimit.maxFiles(f), ReadLimit.maxBytes(b)))
      case (Some(f), None) => ReadLimit.maxFiles(f)
      case (None, Some(b)) => ReadLimit.maxBytes(b)
      case _ => ReadLimit.allAvailable()
    }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  /** The files commit `v` offers the stream. A LAYOUT-ONLY commit
    * (compact/optimize, flagged `dataChange=false` — rows unchanged by
    * construction) is skipped SILENTLY: its rewritten files hold only
    * rows earlier commits already delivered, so emitting them would
    * duplicate and failing would kill streams over every maintained
    * table. A genuine change commit is empty under `skipChangeCommits`,
    * LOUD otherwise — the append-only contract.
    */
  private def emittable(v: Long): Seq[GraftTable.AddFile] = {
    val GraftLog.Commit(meta, adds, removes) = table.log.commit(v)
    if (removes.nonEmpty) {
      if (!meta.dataChange) return Seq.empty
      if (!skipChangeCommits) throw new IllegalStateException(
        s"streaming read hit a non-append commit at version $v " +
          s"(op=${meta.op}, ${removes.size} file(s) removed); " +
          "the table-as-stream contract is append-only — restart from a " +
          "later startingVersion, or set skipChangeCommits=true to skip " +
          "such commits wholesale")
      Seq.empty
    } else adds
  }

  // latest full-admission offset from this trigger's log read, for
  // progress reporting (how far behind the admitted offset is)
  @volatile private var lastReported: Offset = GraftVersionOffset(startingVersion, 0L)

  // Trigger.AvailableNow: pin the drain target ONCE at query start, then
  // keep triggering capped batches until the pinned version is reached —
  // so AvailableNow + maxFilesPerTrigger drains a backlog in bounded
  // batches instead of one unbounded one (without this interface Spark
  // falls back to single-batch Trigger.Once semantics and IGNORES limits)
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.version)

  /** Walk the commit log from `start`, admitting add-files in log order
    * until the caps fill — possibly stopping MID-commit (the `files` half
    * of the offset). O(commits-in-range) driver work over log JSON already
    * memoized by the handle; no file listing. At least one file is always
    * admitted when any is pending, so an oversized file cannot stall the
    * stream forever (the file-source/Delta progress rule).
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = GraftVersionOffset.of(start)
    var maxFiles = Int.MaxValue
    var maxBytes = Long.MaxValue
    def absorb(l: ReadLimit): Unit = l match {
      case f: ReadMaxFiles => maxFiles = math.min(maxFiles, f.maxFiles())
      case b: ReadMaxBytes => maxBytes = math.min(maxBytes, b.maxBytes())
      case c: org.apache.spark.sql.connector.read.streaming.CompositeReadLimit =>
        c.getReadLimits.foreach(absorb)
      case _ => ()
    }
    absorb(limit)
    checkColmap()
    val latest = availableNowCap.fold(table.version)(math.min(_, table.version))
    lastReported = GraftVersionOffset(latest, 0L)
    var admFiles = 0
    var admBytes = 0L
    var fullVersion = s.version
    var partial = s.files
    var v = s.version + 1
    var stopped = false
    while (!stopped && v <= latest) {
      val adds = emittable(v)
      val skip = if (v == s.version + 1) s.files.toInt else 0
      var i = skip
      while (!stopped && i < adds.size) {
        val f = adds(i)
        val fits = admFiles + 1 <= maxFiles && admBytes + f.bytes <= maxBytes
        if (fits || admFiles == 0) { // always admit >= 1 pending file
          admFiles += 1; admBytes += f.bytes; i += 1
        } else stopped = true
      }
      if (i >= adds.size) { fullVersion = v; partial = 0L; v += 1 }
      else partial = i.toLong
      if (admFiles >= maxFiles || admBytes >= maxBytes) stopped = true
    }
    // zero files admitted can still mean PROGRESS: under skipChangeCommits
    // a run of change commits (or metadata-only commits) advances
    // fullVersion past them — returning the moved offset lets the
    // checkpoint skip them once (Spark plans the empty batch) instead of
    // re-walking the same commits every trigger from the stale offset
    if (admFiles == 0 && fullVersion == s.version) s
    else GraftVersionOffset(fullVersion, partial)
  }

  override def reportLatestOffset(): Offset = lastReported

  override def deserializeOffset(json: String): Offset = GraftVersionOffset.fromJson(json)

  /** The batch is every file ADDED in `(start, end]` — commits
    * `start.version + 1 .. end.version` (the first minus the `start.files`
    * already consumed) plus the first `end.files` of commit
    * `end.version + 1` when admission cut mid-commit.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = GraftVersionOffset.of(start)
    val e = GraftVersionOffset.of(end)
    val lastV = if (e.files > 0) e.version + 1 else e.version
    (s.version + 1 to lastV).flatMap { v =>
      val adds = emittable(v)
      val from = if (v == s.version + 1) s.files.toInt else 0
      val until = if (e.files > 0 && v == e.version + 1) e.files.toInt else adds.size
      adds.slice(from, until).map(a =>
        GraftFilePartition(new Path(location, a.path).toString): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    // files store PHYSICAL names (stable across renames): look fields up
    // physically — through the ANCHORED colmap, pinned with the schema —
    // and emit rows positionally under the stream's logical schema
    // (one conf broadcast per micro-batch, not a copy in every task)
    new GraftParquetReaderFactory(
      GraftConfBridge.broadcast(spark.sparkContext, hadoopConf),
      table.physicalSchema(schema, anchoredColmap))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** `(version, files)`: commits `<= version` fully consumed, plus the first
  * `files` add-files of commit `version + 1`. Serializes as the bare
  * version number when `files == 0`, so checkpoints written by the
  * pre-admission-control source deserialize unchanged (and an
  * admission-free stream's checkpoints stay readable by it).
  */
private[tables] final case class GraftVersionOffset(version: Long, files: Long = 0L)
    extends Offset {
  override def json(): String =
    if (files == 0L) version.toString
    else s"""{"version":$version,"files":$files}"""
}

private[tables] object GraftVersionOffset {
  def of(o: Offset): GraftVersionOffset = o match {
    case g: GraftVersionOffset => g
    case other => fromJson(other.json())
  }
  private val Partial = """\{"version":(\d+),"files":(\d+)\}""".r
  def fromJson(json: String): GraftVersionOffset = json.trim match {
    case Partial(v, f) => GraftVersionOffset(v.toLong, f.toLong)
    case plain => GraftVersionOffset(plain.toLong, 0L)
  }
}

private[tables] final case class GraftFilePartition(path: String) extends InputPartition

/** Executor-side parquet decode through parquet-mr's Group API, schema
  * columns resolved BY NAME (files written before a schema evolution
  * null-fill the columns they predate — same by-name contract as the batch
  * reads). Flat atomic types only, checked loud at stream construction.
  */
private[tables] final class GraftParquetReaderFactory(
    conf: Broadcast[SerializableConfiguration], schema: StructType)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftFilePartition]
    new PartitionReader[InternalRow] {
      private val reader: ParquetReader[Group] = {
        val support = new GroupReadSupport()
        @annotation.nowarn("cat=deprecation")
        val b = ParquetReader.builder(support, new Path(p.path)).withConf(conf.value.value)
        b.build()
      }
      private var current: Group = _
      override def next(): Boolean = { current = reader.read(); current != null }
      override def get(): InternalRow = GraftParquetReaderFactory.toRow(current, schema)
      override def close(): Unit = reader.close()
    }
  }
}

private[tables] object GraftParquetReaderFactory {

  def requireSupported(schema: StructType): Unit = {
    val bad = schema.fields.filterNot(f => supported(f.dataType))
    require(bad.isEmpty,
      s"graft-table streaming read supports flat atomic schemas only; " +
        s"unsupported column(s): ${bad.map(f => s"${f.name}: ${f.dataType.simpleString}")
          .mkString(", ")} — use batch changes()/snapshot() for this table")
  }

  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | DoubleType |
         FloatType | BooleanType | StringType | DateType | BinaryType => true
    case _ => false
  }

  def toRow(g: Group, schema: StructType): InternalRow = {
    val gt = g.getType
    val values = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema.fields(i)
      values(i) =
        if (!gt.containsField(f.name)) null // pre-evolution file: null-fill
        else {
          val idx = gt.getFieldIndex(f.name)
          if (g.getFieldRepetitionCount(idx) == 0) null
          else f.dataType match {
            case LongType => g.getLong(idx, 0)
            case IntegerType | DateType => g.getInteger(idx, 0)
            case ShortType => g.getInteger(idx, 0).toShort
            case ByteType => g.getInteger(idx, 0).toByte
            case DoubleType => g.getDouble(idx, 0)
            case FloatType => g.getFloat(idx, 0)
            case BooleanType => g.getBoolean(idx, 0)
            case StringType => UTF8String.fromBytes(g.getBinary(idx, 0).getBytes)
            case BinaryType => g.getBinary(idx, 0).getBytes
            case other => throw new IllegalStateException(
              s"unreachable: unsupported type $other passed requireSupported")
          }
        }
      i += 1
    }
    new GenericInternalRow(values)
  }
}
