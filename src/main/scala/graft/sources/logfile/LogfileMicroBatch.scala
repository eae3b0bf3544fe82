package graft.sources.logfile

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.JsonNodeFactory
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl}
import org.apache.spark.sql.graftbridge.GraftConfBridge
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Streaming (micro-batch) face of the logfile source: each trigger scans the
  * input paths and emits records from files that are new since the previous
  * offset — the Structured Streaming analog of the batch reader, reusing the
  * exact same [[LogfilePartitionReader]] record-assembly core (SURVEY.md
  * §7.3, "streaming logfile source").
  *
  * Offsets carry a **(modification-time watermark, boundary set)** high-water
  * mark plus the batch's own file list: `watermark` is the largest admitted
  * mtime, `boundary` maps each admitted path within `latenessMs` of it to
  * its mtime, and `files` pins exactly the paths admitted into the batch
  * that ends at this offset — so a replayed batch re-reads precisely the
  * files the original admitted, independent of listing timing. Offset size
  * is O(lateness window + one batch), never O(files ever seen), so a
  * year-long directory stream keeps small checkpoints. Serde is real
  * Jackson JSON (any legal path round-trips).
  *
  * Admission control: `maxFilesPerTrigger` caps each batch; files are
  * admitted in (mtime, path) order so the watermark only ever advances past
  * files that were admitted. `settleTimeMs` (default 0) delays admission
  * until a file's mtime has been stable for that long — a guard for
  * producers that write in place. `latenessMs` (default 5 minutes) is how
  * long a file whose mtime predates the watermark can still become visible
  * and be admitted — it covers the write→rename gap of atomic producers and
  * modest copy-with-preserved-mtime skew; files surfacing with mtimes older
  * than the window are dropped by contract (raise the window for laggier
  * producers, at the cost of a proportionally larger boundary set).
  */
final class LogfileMicroBatchStream(
    options: CaseInsensitiveStringMap,
    required: StructType)
  extends MicroBatchStream with SupportsAdmissionControl {

  private val spark = SparkSession.active
  private val conf = spark.sessionState.newHadoopConf()

  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxfilespertrigger")).map { v =>
      val n = v.toInt
      require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
      n
    }
  private val latenessMs: Long =
    Option(options.get("latenessms")).map(_.toLong).getOrElse(300000L)
  private val settleMs: Long =
    Option(options.get("settletimems")).map(_.toLong).getOrElse(0L)

  override def initialOffset(): Offset = LogfileHwmOffset.Initial

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n)).getOrElse(ReadLimit.allAvailable())

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead (SupportsAdmissionControl)")

  // latest full-admission offset from this trigger's listing, for progress
  // reporting — avoids a second (and third) directory listing per trigger
  @volatile private var lastReported: Offset = LogfileHwmOffset.Initial

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = LogfileHwmOffset.of(start)
    val cap = limit match {
      case m: ReadMaxFiles => m.maxFiles()
      case _ => Int.MaxValue
    }
    val settledBefore = System.currentTimeMillis() - settleMs
    val candidates = LogfileOptions.listFiles(options, conf, requireMatch = false)
      .filter(st => s.isNew(st.getPath.toString, st.getModificationTime, latenessMs))
      .sortBy(st => (st.getModificationTime, st.getPath.toString))
    // settle gate cuts in admission order, never past it: admitting a newer
    // file while an older one is still unsettled would advance the watermark
    // over the gated file and drop it once it settles
    val settled =
      if (settleMs <= 0) candidates
      else candidates.takeWhile(_.getModificationTime <= settledBefore)
    val admitted = settled.take(cap)
    lastReported =
      if (settled.isEmpty) s else s.advance(settled, latenessMs)
    if (admitted.isEmpty) s else s.advance(admitted, latenessMs)
  }

  override def reportLatestOffset(): Offset = lastReported

  override def deserializeOffset(json: String): Offset = LogfileHwmOffset.fromJson(json)

  /** The batch is exactly `end.files` — the paths admitted when `end` was
    * computed, pinned in the offset so replays after a failure rebuild the
    * same batch regardless of what the directory lists by then.
    *
    * The batch scan's planner ([[LogfileSplits.plan]]) carves and packs
    * them: one producer dropping a single 10 GB plain file must not
    * single-thread the whole trigger, and a trigger over many small
    * rotated files costs a few core-sized tasks, not one per file.
    * Planning is a pure function of the (immutable-by-contract) files, so a
    * replayed batch plans the identical tasks.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    LogfileSplits.plan(spark, conf, options, LogfileHwmOffset.of(end).files.sorted.map { p =>
      val path = new Path(p)
      path.getFileSystem(conf).getFileStatus(path)
    })

  /** One conf broadcast per micro-batch, not a copy in every task. */
  override def createReaderFactory(): PartitionReaderFactory =
    new LogfileReaderFactory(GraftConfBridge.broadcast(spark.sparkContext, conf), required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** High-water-mark offset: `watermark` = largest admitted mtime; `boundary` =
  * admitted paths with mtime within the lateness window of the watermark
  * (path → mtime, so the window can be re-pruned as the watermark advances);
  * `files` = the paths admitted into the batch ending at this offset (the
  * batch's replay manifest — O(one batch), not cumulative).
  */
final case class LogfileHwmOffset(
    watermark: Long, boundary: Map[String, Long], files: Seq[String])
    extends Offset {

  /** New = strictly past the watermark, or inside the lateness window and not
    * yet admitted. Older than the window ⇒ dropped by contract.
    */
  def isNew(path: String, mtime: Long, latenessMs: Long): Boolean =
    mtime > watermark || (mtime >= watermark - latenessMs && !boundary.contains(path))

  def advance(admitted: Seq[FileStatus], latenessMs: Long): LogfileHwmOffset = {
    val newWm = math.max(watermark, admitted.map(_.getModificationTime).max)
    val merged = boundary ++ admitted.map(st => st.getPath.toString -> st.getModificationTime)
    // files stored sorted so serde round-trips preserve case-class equality
    LogfileHwmOffset(newWm, merged.filter(_._2 >= newWm - latenessMs),
      admitted.map(_.getPath.toString).sorted)
  }

  override def json(): String = {
    val root = JsonNodeFactory.instance.objectNode()
    root.put("watermark", watermark)
    val b = root.putObject("boundary")
    boundary.toSeq.sortBy(_._1).foreach { case (p, m) => b.put(p, m) }
    val f = root.putArray("files")
    files.sorted.foreach(f.add)
    LogfileHwmOffset.Mapper.writeValueAsString(root)
  }
}

object LogfileHwmOffset {
  private[logfile] val Mapper = new ObjectMapper()

  /** Nothing admitted yet: every listed file is new. */
  val Initial: LogfileHwmOffset = LogfileHwmOffset(Long.MinValue, Map.empty, Seq.empty)

  def of(o: Offset): LogfileHwmOffset = o match {
    case h: LogfileHwmOffset => h
    case other => fromJson(other.json())
  }

  def fromJson(json: String): LogfileHwmOffset = {
    val root = Mapper.readTree(json)
    val wm = root.get("watermark").asLong()
    val boundary = root.get("boundary").properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap
    val files = Option(root.get("files")).map(_.elements().asScala.map(_.asText()).toSeq)
      .getOrElse(Seq.empty)
    LogfileHwmOffset(wm, boundary, files)
  }
}
