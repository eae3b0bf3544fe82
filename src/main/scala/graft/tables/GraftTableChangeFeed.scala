package graft.tables

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset => V1Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSourceProvider, TableScan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** STREAMING change-data feed of a [[GraftTable]] — the row-level
  * `changes()` feed as a continuous query:
  *
  * {{{
  *   spark.readStream.format("graft-table-cdf").option("path", loc).load()
  *   // columns: <table schema> ++ (_change: insert|delete, _version)
  * }}}
  *
  * Offsets are table VERSIONS; each micro-batch is EXACTLY
  * `changes(startVersion, endVersion)` — the net per-commit row diffs with
  * rewrite survivors cancelled — so a downstream incremental aggregate
  * ([[IncrementalAgg.applyChanges]] in `foreachBatch`) maintained from the
  * stream equals a recompute over the end snapshot, the spec-pinned fold
  * invariant, now continuously. Unlike the append-only table stream
  * (`graft-table`), change commits (merge / delete / overwrite / restore)
  * are first-class here: their net inserts AND deletes flow through.
  *
  * Built on the V1 `Source` face (the FileStreamSource pattern) because a
  * change-feed batch is a PLAN (per-commit exceptAll over the touched
  * files), not a fixed file list — `getBatch` returns the `changes()`
  * DataFrame and Spark executes it as the micro-batch. Batches are commit-
  * granular (a single commit's diff is the atomic unit, bounded by commit
  * size — never the table); `maxCommitsPerTrigger = N` additionally caps
  * each trigger at N commits' diffs, so a stream starting against a deep
  * history drains it in bounded slices instead of one giant batch.
  *
  * Options: `startingVersion` (default 0 — the create commit's rows arrive
  * as the first batch's inserts; `N` starts AFTER commit N, serving
  * `changes(N, …)`), `maxCommitsPerTrigger` (admission cap, above). Schema is anchored at stream start; a mid-stream
  * schema change makes the batch plan's schema diverge and fails the query
  * loud (restart re-anchors), the same non-additive-change contract as the
  * append stream. Like batch `changes()`, the feed needs the referenced
  * files — vacuumed ranges fail loud with the reclaimed names.
  *
  * Scale: planning is O(commits in range) driver metadata; execution reads
  * only the files those commits touched. Compaction/optimize commits DO
  * produce (cancelling) work here — `exceptAll` over the rewritten files —
  * the inherent cost of reconstructing CDC without persisted change files.
  */
final class GraftTableChangeFeedSource extends StreamSourceProvider
  with RelationProvider with DataSourceRegister {

  override def shortName(): String = "graft-table-cdf"

  /** BATCH face of the same feed — `spark.read.format("graft-table-cdf")`
    * with `startingVersion` (exclusive, default 0 = from create) /
    * `endingVersion` (inclusive, default current) / `classifyUpdates`.
    * The relation's scan IS the `changes()` plan (per-commit exceptAll
    * over the touched files, fully distributed — `needConversion = false`
    * hands Spark the internal rows directly, the documented V1 contract),
    * so SQL users get the change feed without the stream machinery:
    * `spark.read.format("graft-table-cdf").option("path", l).load()`.
    */
  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    val t = GraftTable.at(ctx.sparkSession, location(parameters))
    def tsVersion(s: String): Long = t.versionAt(
      scala.util.Try(s.toLong).getOrElse(java.sql.Timestamp.valueOf(s).getTime))
    val from = params.get("startingversion").map(_.toLong)
      .orElse(params.get("startingtimestamp").map(tsVersion)).getOrElse(0L)
    val to = params.get("endingversion").map(_.toLong)
      .orElse(params.get("endingtimestamp").map(tsVersion)).getOrElse(t.version)
    val classify = params.get("classifyupdates").exists(_.toBoolean)
    val df = t.changes(from, to, classify)
    new BaseRelation with TableScan {
      override val sqlContext: SQLContext = ctx
      override val schema: StructType = df.schema
      override def needConversion: Boolean = false
      override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
        df.queryExecution.toRdd
          .asInstanceOf[org.apache.spark.rdd.RDD[org.apache.spark.sql.Row]]
    }
  }

  private def location(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-table-cdf source needs .option(\"path\", ...)"))

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty, "graft-table-cdf derives its schema from the table")
    (shortName(), GraftTableChangeFeedStream.feedSchema(
      GraftTable.at(sqlContext.sparkSession, location(parameters)).schema))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val params = parameters.map { case (k, v) => k.toLowerCase -> v }
    // startingTimestamp (epoch millis or `yyyy-mm-dd hh:mm:ss`): changes
    // AFTER that wall-clock instant — resolved to the newest version
    // at-or-before it, which the exclusive startingVersion then skips
    val startingVersion = params.get("startingversion").map(_.toLong)
      .orElse(params.get("startingtimestamp").map { s =>
        val ms = scala.util.Try(s.toLong).getOrElse(
          java.sql.Timestamp.valueOf(s).getTime)
        GraftTable.at(sqlContext.sparkSession, location(parameters)).versionAt(ms)
      })
      .getOrElse(0L)
    require(startingVersion >= 0, s"startingVersion must be >= 0, got $startingVersion")
    val maxCommits = params.get("maxcommitspertrigger").map(_.toInt)
    maxCommits.foreach(n => require(n > 0,
      s"maxCommitsPerTrigger must be positive, got $n"))
    val classify = params.get("classifyupdates").exists(_.toBoolean)
    new GraftTableChangeFeedStream(sqlContext.sparkSession,
      location(parameters), startingVersion, maxCommits, classify)
  }
}

private[tables] object GraftTableChangeFeedStream {
  /** The feed's output shape: the table schema plus the change tags —
    * identical to batch `changes()` output.
    */
  def feedSchema(table: StructType): StructType =
    StructType(table.fields.toIndexedSeq :+
      StructField("_change", StringType) :+ StructField("_version", LongType))
}

private[tables] final class GraftTableChangeFeedStream(
    spark: SparkSession, location: String, startingVersion: Long,
    maxCommitsPerTrigger: Option[Int] = None,
    classifyUpdates: Boolean = false)
  extends Source
  with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
  with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  // one handle for the stream's lifetime: commit parses memoize, so each
  // trigger replays only the commits landed since the last one
  private val table: GraftTable = GraftTable.at(spark, location)

  // schema anchored at stream start; `changes()` emits under the CURRENT
  // schema, so a mid-stream evolution diverges and the engine fails the
  // batch loud (restart re-anchors) — never a silent misalignment
  private val anchored: StructType =
    GraftTableChangeFeedStream.feedSchema(table.schema)

  override def schema: StructType = anchored

  private def versionOf(o: V1Offset): Long = o match {
    case l: LongOffset => l.offset
    case other => other.json.trim.toLong // SerializedOffset from a checkpoint
  }

  // ADMISSION CONTROL (the V1-source mixins FileStreamSource uses — a
  // plain getOffset cap would be read ONCE by the Trigger.AvailableNow
  // wrapper and become the drain TARGET, stopping the stream early): the
  // commit cap travels as the source's DEFAULT ReadLimit (carried in
  // ReadMaxRows — "rows" = commits for this source) and each trigger
  // honors the limit the ENGINE passes, not the configured option: under
  // Trigger.Once the engine passes allAvailable() and expects ONE batch
  // with everything — applying the option there would silently terminate
  // with backlog unprocessed. AvailableNow pins its drain target here so
  // capped triggers keep firing until the pinned version is reached.
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.version)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    maxCommitsPerTrigger.fold(ReadLimit.allAvailable())(n =>
      ReadLimit.maxRows(n.toLong))
  }

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, ReadMaxRows}
    val s = Option(start).map {
      case l: LongOffset => l.offset
      case o => o.json.trim.toLong
    }.getOrElse(startingVersion)
    var cap = Long.MaxValue
    def absorb(l: org.apache.spark.sql.connector.read.streaming.ReadLimit): Unit =
      l match {
        case r: ReadMaxRows => cap = math.min(cap, r.maxRows())
        case c: CompositeReadLimit => c.getReadLimits.foreach(absorb)
        case _ => ()
      }
    absorb(limit)
    val latest = availableNowCap.fold(table.version)(math.min(_, table.version))
    // only DATA commits count toward the cap: a layout-only commit
    // (dataChange=false) contributes nothing to the feed, so admitting it
    // free keeps a compaction-heavy history from draining in empty batches
    var v = s
    var admitted = 0L
    while (v < latest && admitted < cap) {
      v += 1
      if (table.log.commit(v).meta.dataChange)
        admitted += 1
    }
    // trailing layout-only commits ride along (they would otherwise leave
    // the offset parked before a run of empties)
    while (v < latest &&
        !table.log.commit(v + 1).meta.dataChange)
      v += 1
    if (v <= s) null else LongOffset(v)
  }

  // legacy face (engines without admission control): all pending, uncapped
  // — capping HERE would silently become an AvailableNow drain target
  override def getOffset: Option[V1Offset] = {
    val v = table.version
    if (v <= startingVersion) None else Some(LongOffset(v))
  }

  override def getBatch(start: Option[V1Offset], end: V1Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(startingVersion)
    val to = versionOf(end)
    val feed = table.changes(from, to, classifyUpdates)
    require(feed.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      anchored.fields.map(f => (f.name, f.dataType)).toSeq,
      s"the table's schema changed mid-stream (feed ${feed.schema.simpleString}, " +
        s"anchored ${anchored.simpleString}); restart the stream to re-anchor")
    // the engine requires an isStreaming=true frame; the plan stays lazy
    // and distributed — no driver materialization
    org.apache.spark.sql.graftbridge.GraftPlanBridge.asStreaming(feed)
  }

  override def stop(): Unit = ()

  override def toString: String = s"GraftTableChangeFeed[$location]"
}
