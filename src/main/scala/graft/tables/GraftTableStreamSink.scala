package graft.tables

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftbridge.GraftConfBridge
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import GraftTable.AddFile

/** Native Structured Streaming SINK into a [[GraftTable]] — the write half
  * of the table-as-stream loop (`writeStream.toTable("graft.ns.t")` or
  * `.format("graft-table").option("path", ...)`), exactly-once without
  * `foreachBatch`:
  *
  *   - executors write each partition straight to an immutable
  *     `part-<uuid>.parquet` in the table root (invisible to every snapshot
  *     until a commit references it — the same invisibility discipline as
  *     the batch `writeData`, and the vacuum retention window keeps
  *     in-flight files safe);
  *   - the driver's epoch `commit` lands ONE log commit tagged
  *     `txn = <queryId>-epoch-<epochId>`, so a replayed epoch after a
  *     checkpoint restart is a no-op, a version race against unrelated
  *     writers rebases until the epoch lands, and one against a constraint
  *     or schema change fails the epoch loud ([[GraftTable.commitFiles]]) —
  *     the `appendIfAbsent` exactly-once contract, natively in the sink;
  *   - `abort` deletes the files the failed epoch wrote.
  *
  * Executor-side rows are encoded through parquet-mr's example API — the
  * same FLAT ATOMIC schema contract as the streaming READ face, checked
  * loud at stream construction. Each writer also tracks running per-column
  * [min, max] + null counts AS IT WRITES (zero extra IO) for the same
  * column kinds the batch path's footer stats cover (integral/date →
  * "long", string → "string"), so stream-written files land in the log
  * WITH zone maps — `scan()` data skipping and merge key-range pruning
  * work on a streamed table immediately, no `compact()` needed first.
  */
private[tables] final class GraftStreamingWrite(
    location: String, schema: StructType, queryId: String)
  extends StreamingWrite {

  GraftParquetReaderFactory.requireSupported(schema)

  // identity assignment needs the commit-time high-water-mark protocol the
  // batch funnel provides; the sink's executor writers can't claim ranges
  // safely — route identity tables through foreachBatch + appendIfAbsent
  require(GraftTable.identityOf(
      GraftTable.at(SparkSession.active, location).schema).isEmpty,
    "streaming writes to a table with IDENTITY columns are not supported; " +
      "use foreachBatch with appendIfAbsent (identity values are assigned " +
      "by the batch write path)")

  // uniqueness needs a pre-commit probe against the snapshot; the sink's
  // executor writers commit files directly — route through foreachBatch +
  // appendIfAbsent, whose batch path enforces the declaration
  require(!GraftTable.at(SparkSession.active, location).uniqueKeyEnforced,
    "streaming writes to a UNIQUE KEY table are not supported; " +
      "use foreachBatch with appendIfAbsent")

  /** CHECK constraints compiled to row-level Catalyst predicates at query
    * start (Delta-invariant semantics for the native sink): each predicate
    * is analyzed against the stream's LOGICAL schema (full coercion, NULL
    * passes via coalesce) and bound to row ordinals on the driver; the
    * serialized bound expression ships to executors, where each writer
    * evaluates it per row BEFORE writing — a violating row fails the task,
    * the epoch aborts (its files deleted), and nothing commits. In
    * micro-batch mode the engine constructs a fresh StreamingWrite per
    * epoch (observed, spec-pinned), so a constraint added mid-run is
    * compiled into the NEXT epoch's checks automatically; the commit-time
    * drift check below additionally covers any engine that reuses one
    * write across epochs.
    */
  private val constraintChecks: Seq[GraftRowCheck] = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit}
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // constraints PLUS the implicit generated-column checks (a stream
    // supplies generated values exactly; writers can't compute-on-null)
    GraftTable.at(spark, location).rowCheckSqls.toSeq.sortBy(_._1).map {
      case (nm, sqlText) =>
        val analyzed = empty.where(coalesce(expr(sqlText), lit(true)))
          .queryExecution.analyzed
        val (cond, childOut) = analyzed.collectFirst {
          case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
            (f.condition, f.child.output)
        }.getOrElse(throw new IllegalStateException(
          s"constraint '$nm' ($sqlText) did not analyze to a filter"))
        GraftRowCheck(nm, sqlText,
          org.apache.spark.sql.catalyst.expressions.BindReferences
            .bindReference(cond, childOut))
    }
  }

  // driver-side only; each epoch's writer factory broadcasts it
  @transient private val hadoopConf = SparkSession.active.sessionState.newHadoopConf()

  // ONE driver-side handle for the whole query run: commit parses memoize
  // per GraftTable instance, so epoch N+1 replays only the commits landed
  // since epoch N (a fresh handle per epoch would re-read the entire log
  // each micro-batch — O(versions) files per epoch, O(n^2) cumulative on a
  // long-running stream). Lazy: built on the streaming thread at first use.
  @transient private lazy val table: GraftTable =
    GraftTable.at(SparkSession.active, location)

  // colmap ANCHORED at the query run's first use, pinned with the schema:
  // executors keep writing the stable physical names this mapping gives;
  // a mid-run colmap change (rename/drop landing under the stream) fails
  // the epoch commit loud below instead of committing files the new
  // mapping would resolve differently — restart re-anchors.
  @transient private lazy val anchoredColmap: Map[String, String] = {
    // the schema was validated against the table at toStreaming time; this
    // anchor is LAZY (first epoch), so a RENAME/DROP landing in between
    // would pair the new mapping with the old names and write columns the
    // new map resolves differently — validate the pairing when it forms.
    // NAMES AND TYPES: a drop + re-add of the same name with a different
    // type in this window keeps the name sequence identical while the
    // fresh physical column's type changed — writing the old type into it
    // would commit files no read can decode
    require(schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      table.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"table columns changed between stream definition and first epoch " +
        s"(stream ${schema.simpleString}, table " +
        s"${table.schema.simpleString}); restart the stream " +
        "against the current schema")
    table.colmapNow
  }

  // the constraint set the per-row checks were compiled from — epoch
  // commits verify it is still the table's live set (see checkColmap)
  @transient private lazy val anchoredConstraints: Map[String, String] =
    constraintChecks.map(c => c.name -> c.sql).toMap

  private def checkColmap(): Unit = {
    val now = table.colmapNow
    if (now != anchoredColmap) throw new IllegalStateException(
      s"the table's column mapping changed under the streaming write " +
        s"(anchored $anchoredColmap, now $now); restart the stream to " +
        "re-anchor against the new schema")
    // a DROP COLUMN of an identity-mapped column changes the schema but
    // not the colmap — same loud contract (the sink writes every table
    // column, so ANY schema change under it is non-additive here)
    if (schema.fields.map(f => (f.name, f.dataType)).toSeq !=
        table.schema.fields.map(f => (f.name, f.dataType)).toSeq)
      throw new IllegalStateException(
        s"the table's columns changed under the streaming write (stream " +
          s"${schema.simpleString}, table " +
          s"${table.schema.simpleString}); restart the stream")
    // CHECK constraints are anchored like the colmap: the per-row
    // predicates were compiled at query start, so a constraint added (or
    // dropped) mid-run must fail the epoch loud — committing rows the new
    // constraint never saw would contradict addConstraint's validated
    // contract; a restart re-compiles against the live set
    val liveCons = table.rowCheckSqls
    if (liveCons != anchoredConstraints) throw new IllegalStateException(
      s"the table's CHECK constraints changed under the streaming write " +
        s"(anchored ${anchoredConstraints.keys.toSeq.sorted.mkString(",")}, " +
        s"now ${liveCons.keys.toSeq.sorted.mkString(",")}); restart the " +
        "stream to re-compile the per-row checks")
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    // executors write files under PHYSICAL names (same contract as the
    // batch writeData path); rows arrive positionally, so only the field
    // names change — the bound constraint checks stay valid (ordinals)
    // (one conf broadcast per epoch, not a copy in every task)
    new GraftStreamWriterFactory(location, table.physicalSchema(schema, anchoredColmap),
      GraftConfBridge.broadcast(SparkSession.active.sparkContext, hadoopConf),
      constraintChecks)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    checkColmap()
    // merge key-range stats ride along when the key column's stats were
    // tracked (same Spark-type gate as the batch path: integral/string)
    val keyed = table.keyCol.filter(k =>
      schema.fields.find(_.name == k).map(_.dataType).exists {
        case LongType | IntegerType | ShortType | ByteType | StringType => true
        case _ => false
      })
    val adds = messages.toIndexedSeq.collect {
      case m: GraftFileCommitMessage if m.rows > 0 =>
        AddFile(m.path, m.rows, keyed.flatMap(m.cs.get), m.bytes, Map.empty, m.cs)
    }
    // an empty epoch commits nothing and records nothing: replaying it
    // writes nothing either, so skipping keeps the log free of no-op
    // versions without weakening exactly-once
    if (adds.nonEmpty)
      table.commitFiles("streamingAppend", adds, Some(s"$queryId-epoch-$epochId"))
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(location).getFileSystem(hadoopConf)
    messages.foreach {
      case m: GraftFileCommitMessage =>
        try fs.delete(new Path(location, m.path), false)
        catch { case _: java.io.IOException => () } // best-effort cleanup
      case _ => ()
    }
  }
}

private[tables] final case class GraftFileCommitMessage(
  path: String, rows: Long, bytes: Long,
  cs: Map[String, GraftTable.KeyStats] = Map.empty) extends WriterCommitMessage

/** One CHECK constraint as a row-ordinal-bound Catalyst expression (the
  * expression tree is Serializable; the codegen'd predicate is compiled
  * lazily on each executor).
  */
private[tables] final case class GraftRowCheck(name: String, sql: String,
  bound: org.apache.spark.sql.catalyst.expressions.Expression)

private[tables] final class GraftStreamWriterFactory(
    location: String, schema: StructType, conf: Broadcast[SerializableConfiguration],
    checks: Seq[GraftRowCheck] = Nil)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftParquetDataWriter(location, schema, conf.value.value, checks)
}

/** One immutable parquet file per (partition, epoch) task attempt; empty
  * partitions still produce a file but the driver drops zero-row adds.
  * Speculative/retried attempts write under fresh UUIDs — losers are never
  * committed and age out through the vacuum retention window.
  */
private[tables] final class GraftParquetDataWriter(
    location: String, schema: StructType, conf: Configuration,
    checks: Seq[GraftRowCheck] = Nil)
  extends DataWriter[InternalRow] {

  // compiled once per writer; evaluated per row BEFORE the row is encoded
  private val predicates = checks.map(c =>
    c -> org.apache.spark.sql.catalyst.expressions.Predicate.create(c.bound))

  private val fileName = s"part-${UUID.randomUUID()}.parquet"
  private val filePath = new Path(location, fileName)
  private val parquetSchema = GraftParquetDataWriter.toParquetSchema(schema)
  private val factory = new SimpleGroupFactory(parquetSchema)
  private var rows = 0L

  // running zone-map stats, updated as rows stream through (no extra IO,
  // no footer re-read): "long" kind for integral/date columns, "string"
  // for strings — the identical kinds the batch path's footer stats emit,
  // so FilePruning treats streamed and batch files uniformly
  private val statKind: Array[String] = schema.fields.map(_.dataType match {
    case LongType | IntegerType | ShortType | ByteType | DateType => "long"
    case StringType => "string"
    case _ => null
  })
  private val lMin = Array.fill(schema.length)(Long.MaxValue)
  private val lMax = Array.fill(schema.length)(Long.MinValue)
  private val sMin = new Array[String](schema.length)
  private val sMax = new Array[String](schema.length)
  private val nulls = new Array[Long](schema.length)

  private val writer = {
    @annotation.nowarn("cat=deprecation")
    val b = ExampleParquetWriter.builder(filePath)
      .withConf(conf)
      .withType(parquetSchema)
    b.build()
  }

  private def trackLong(i: Int, v: Long): Unit = {
    if (v < lMin(i)) lMin(i) = v
    if (v > lMax(i)) lMax(i) = v
  }
  private def trackString(i: Int, v: String): Unit = {
    if (sMin(i) == null || GraftTable.utf8Cmp(v, sMin(i)) < 0) sMin(i) = v
    if (sMax(i) == null || GraftTable.utf8Cmp(v, sMax(i)) > 0) sMax(i) = v
  }

  override def write(row: InternalRow): Unit = {
    // CHECK enforcement: a violating row fails the task -> the epoch
    // aborts and deletes its files -> nothing commits (batch parity)
    predicates.foreach { case (c, p) =>
      if (!p.eval(row)) throw new IllegalArgumentException(
        s"CHECK constraint '${c.name}' (${c.sql}) violated by a streamed " +
          "row; the epoch aborts and nothing is committed")
    }
    val g = factory.newGroup()
    var i = 0
    while (i < schema.length) {
      if (!row.isNullAt(i)) {
        val name = schema.fields(i).name
        schema.fields(i).dataType match {
          case LongType =>
            val v = row.getLong(i); g.append(name, v); trackLong(i, v)
          case IntegerType | DateType =>
            val v = row.getInt(i); g.append(name, v); trackLong(i, v.toLong)
          case ShortType =>
            val v = row.getShort(i).toInt; g.append(name, v); trackLong(i, v.toLong)
          case ByteType =>
            val v = row.getByte(i).toInt; g.append(name, v); trackLong(i, v.toLong)
          case DoubleType => g.append(name, row.getDouble(i))
          case FloatType => g.append(name, row.getFloat(i))
          case BooleanType => g.append(name, row.getBoolean(i))
          case StringType =>
            val v = row.getUTF8String(i).toString
            g.append(name, Binary.fromString(v)); trackString(i, v)
          case BinaryType => g.append(name, Binary.fromReusedByteArray(row.getBinary(i)))
          case other => throw new IllegalStateException(
            s"unreachable: unsupported type $other passed requireSupported")
        }
      } else nulls(i) += 1
      i += 1
    }
    writer.write(g)
    rows += 1
  }

  /** The zone maps this file earned: columns with at least one non-null
    * value and a stat-bearing kind, capped like the batch path.
    */
  private def zoneMaps: Map[String, GraftTable.KeyStats] =
    schema.fields.iterator.zipWithIndex.flatMap { case (f, i) =>
      statKind(i) match {
        case _ if nulls(i) == rows => None // all null: no range, sound
        case "long" => Some(f.name -> GraftTable.KeyStats("long",
          lMin(i).toString, lMax(i).toString, Some(nulls(i)), Some(rows)))
        case "string" => Some(f.name -> GraftTable.KeyStats("string",
          sMin(i), sMax(i), Some(nulls(i)), Some(rows)))
        case _ => None
      }
    }.take(GraftTable.MaxStatsColumns).toMap

  override def commit(): WriterCommitMessage = {
    writer.close()
    val fs = filePath.getFileSystem(conf)
    val bytes = fs.getFileStatus(filePath).getLen
    if (rows == 0L) fs.delete(filePath, false) // nothing to reference
    GraftFileCommitMessage(fileName, rows, bytes,
      if (rows == 0L) Map.empty else zoneMaps)
  }

  override def abort(): Unit = {
    try writer.close() catch { case _: Throwable => () }
    try filePath.getFileSystem(conf).delete(filePath, false)
    catch { case _: java.io.IOException => () }
  }

  override def close(): Unit = ()
}

private[tables] object GraftParquetDataWriter {

  /** Flat atomic Spark schema → parquet message type, with the logical
    * annotations Spark's readers map back to the SAME Spark types (so a
    * stream-written file round-trips through `snapshot()` with the exact
    * table schema — int widths and date-ness preserved, not widened).
    */
  def toParquetSchema(schema: StructType): MessageType = {
    val b = Types.buildMessage()
    schema.fields.foreach { f =>
      val fb = f.dataType match {
        case LongType => Types.optional(PrimitiveTypeName.INT64)
        case IntegerType => Types.optional(PrimitiveTypeName.INT32)
        case ShortType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.intType(16, true))
        case ByteType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.intType(8, true))
        case DateType => Types.optional(PrimitiveTypeName.INT32)
          .as(LogicalTypeAnnotation.dateType())
        case DoubleType => Types.optional(PrimitiveTypeName.DOUBLE)
        case FloatType => Types.optional(PrimitiveTypeName.FLOAT)
        case BooleanType => Types.optional(PrimitiveTypeName.BOOLEAN)
        case StringType => Types.optional(PrimitiveTypeName.BINARY)
          .as(LogicalTypeAnnotation.stringType())
        case BinaryType => Types.optional(PrimitiveTypeName.BINARY)
        case other => throw new IllegalArgumentException(
          s"graft-table streaming write supports flat atomic schemas only, got $other")
      }
      b.addField(fb.named(f.name))
    }
    b.named("graft")
  }
}
