package graft.sources.logfile

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.{CodecPool, CompressionCodecFactory, Decompressor}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

/** Executor-side multiline record assembly for one split.
  *
  * Invariants (re-expressed from `LogfileRecordReader.java:200-319`, see
  * SURVEY.md §1.4):
  *   1. a line is a record head iff the regex FULLY matches it (`matches()`,
  *      not `find()` — reference `:272-274`), decided by [[HeadMatcher]]
  *      on the line's bytes;
  *   2. a record is owned by the split in which its head line starts
  *      (`[start, end)`): a reader with `start > 0` seeks to `start-1`,
  *      discards the (possibly partial) line it lands in, then discards
  *      continuation lines up to the first head (reference `:200-206`,
  *      `:285-291`);
  *   3. the reader keeps consuming lines beyond `end` until the next head or
  *      EOF so boundary-spanning records are emitted whole, exactly once
  *      (reference `:236-238` + `:310-314`);
  *   4. codec'd files arrive as one whole-file split (planner) and stream
  *      through a pooled decompressor (reference `:160-172`); offsets are
  *      positions in the decompressed stream;
  *   5. continuation lines re-join with "\n" and records carry no trailing
  *      newline (reference `:311`; we pin "\n" over platform separators).
  *
  * Lines come from a [[LineSplitter]], which keeps the reference's
  * `LineReader` line rules and byte counts, so offsets, [[bytesRead]] and
  * split ownership are the reference's. Each line is tested in the
  * splitter's buffer and copied once, into the record, only if the record
  * is assembled.
  */
final class LogfilePartitionReader private[logfile] (
    split: LogfilePartition,
    conf: Configuration,
    required: StructType,
    limit: Option[Int],
    countOnly: Boolean,
    codecs: CompressionCodecFactory)
  extends PartitionReader[InternalRow] {

  /** A reader with a codec factory of its own. A scan task shares one
    * factory across its splits instead: building one instantiates every
    * codec Hadoop knows.
    */
  def this(split: LogfilePartition, conf: Configuration, required: StructType,
      limit: Option[Int] = None, countOnly: Boolean = false) =
    this(split, conf, required, limit, countOnly, new CompressionCodecFactory(conf))

  private val head = HeadMatcher.compile(split.pattern)
  private[logfile] def headMatcher: HeadMatcher = head
  private val hadoopPath = new Path(split.path)

  private var decompressor: Decompressor = _
  private var pos: Long = 0L // logical (decompressed) offset of the next byte
  private var end: Long = split.end

  private val lines: LineSplitter = {
    val fs = hadoopPath.getFileSystem(conf)
    var in: java.io.InputStream = null
    try {
      LogfileCodec.forPath(codecs, hadoopPath) match {
        case Some(codec) =>
          require(split.start == 0L, "codec'd files must be single whole-file splits")
          end = Long.MaxValue
          decompressor = CodecPool.getDecompressor(codec)
          in = fs.open(hadoopPath)
          new LineSplitter(codec.createInputStream(in, decompressor))
        case None =>
          val raw = fs.open(hadoopPath)
          in = raw
          if (split.start > 0) {
            // the −1 trick (reference :184-196): land one byte early so a line
            // starting exactly at `start` survives the partial-line discard.
            raw.seek(split.start - 1)
            pos = split.start - 1
          }
          new LineSplitter(raw)
      }
    } catch {
      case t: Throwable => // don't leak the stream/decompressor on init failure
        if (in != null) try in.close() catch { case _: Throwable => () }
        if (decompressor != null) CodecPool.returnDecompressor(decompressor)
        throw t
    }
  }

  // logical position before realignment: bytes-read metric counts realignment
  // reads too (must precede the `locally` block below in declaration order)
  private val basePos: Long = pos

  private var finished = false
  // the next record's head is the splitter's current line: it is held in
  // place, and `next()` copies it before it reads another line
  private var hasPendingHead = false
  private var pendingHeadPos: Long = 0L

  private var recordsAssembled = 0L
  private var recordsSpanning = 0L
  private val maxRecords: Long = limit.fold(Long.MaxValue)(_.toLong)

  // --- realignment: discard partial line, then skip continuation lines
  // (they belong to the previous split; for start==0, leading junk before the
  // file's first head is dropped — reference quirk, SURVEY.md §1.4 notes).
  locally {
    if (split.start > 0) readLine()
    advanceToNextHead()
  }

  /** Reads the next line into the splitter; false, and `finished`, at EOF. */
  private def readLine(): Boolean = {
    val n = lines.readLine()
    pos += n
    if (n == 0) finished = true
    n > 0
  }

  /** The head test, the only one in the reader: does the current line fully match? */
  private def lineIsHead: Boolean = head.matches(lines.bytes, lines.start, lines.length)

  /** Holds the current line, starting at `start`, as the next record's head. */
  private def holdHead(start: Long): Unit = {
    hasPendingHead = true
    pendingHeadPos = start
  }

  /** Scan forward to the next head line starting before `end`; holds it or
    * sets `finished`.
    */
  private def advanceToNextHead(): Unit = {
    while (!hasPendingHead && !finished) {
      if (pos >= end) finished = true // next head is the next split's
      else {
        val lineStart = pos
        if (readLine() && lineIsHead) holdHead(lineStart)
      }
    }
  }

  private var curOffset = 0L
  private val fileUtf8 = UTF8String.fromString(split.path)

  // --- record assembly buffer: each line's raw UTF-8 bytes are copied once,
  // straight from the splitter's buffer, so the record column never
  // round-trips through java.lang.String (decode + char copies + re-encode —
  // the per-record CPU tax of the scan at 100 TB). Reused across records;
  // grows geometrically.
  private var recBuf = new Array[Byte](1 << 16)
  private var recLen = 0
  /** Appends the splitter's current line, after a "\n" if `newline`. */
  private def appendLine(newline: Boolean): Unit = {
    val len = lines.length
    val extra = len + (if (newline) 1 else 0)
    if (recLen + extra > recBuf.length) {
      var cap = recBuf.length
      while (recLen + extra > cap) cap <<= 1
      recBuf = java.util.Arrays.copyOf(recBuf, cap)
    }
    if (newline) { recBuf(recLen) = '\n'; recLen += 1 }
    System.arraycopy(lines.bytes, lines.start, recBuf, recLen, len)
    recLen += len
  }

  override def next(): Boolean = {
    // pushed-down (partial) limit: stop assembling -- and stop READING the
    // underlying stream -- once this partition has emitted `limit` records
    if (recordsAssembled >= maxRecords) return false
    if (!hasPendingHead) return false
    curOffset = pendingHeadPos
    recLen = 0
    if (!countOnly) appendLine(newline = false)
    hasPendingHead = false
    var assembling = true
    var spanned = false
    while (assembling) {
      val lineStart = pos
      if (!readLine()) assembling = false
      else if (lineIsHead) {
        if (lineStart < end) holdHead(lineStart) // next record is ours
        else finished = true // head at/past end → next split emits it
        assembling = false
      } else {
        // continuation at/past split end ⇒ this record spans the boundary
        // (invariant 3); MaxValue end (whole-file codec split) never spans
        if (lineStart >= end) spanned = true
        if (!countOnly) appendLine(newline = true)
      }
    }
    recordsAssembled += 1
    if (spanned) recordsSpanning += 1
    true
  }

  // row buffer reused across get() calls (standard DSv2 reader discipline:
  // consumers that buffer copy); field VALUES are fresh immutable objects,
  // the record bytes copied once out of the reused assembly buffer
  private val rowKinds: Array[Int] = required.fields.map(_.name match {
    case "file" => 0
    case "offset" => 1
    case "record" => 2
  })
  private val rowValues = new Array[Any](rowKinds.length)
  private val row = new GenericInternalRow(rowValues)

  override def get(): InternalRow = {
    var i = 0
    while (i < rowKinds.length) {
      rowValues(i) = rowKinds(i) match {
        case 0 => fileUtf8
        case 1 => java.lang.Long.valueOf(curOffset)
        case 2 => UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(recBuf, 0, recLen))
      }
      i += 1
    }
    row
  }

  // --- this split's scan metrics so far; [[LogfileChainReader]] sums them
  // over a task's splits and reports them to Spark
  /** Records assembled -- this split's share of the partial COUNT(*). */
  private[logfile] def assembledCount: Long = recordsAssembled
  /** Logical bytes consumed, realignment reads included. */
  private[logfile] def bytesRead: Long = pos - basePos
  /** Records whose assembly read past the split end. */
  private[logfile] def spanningCount: Long = recordsSpanning

  // --- raw access for the columnar reader: the current record's offset and
  // assembly buffer (valid until the next next() call) — the batch filler
  // copies bytes straight into its column vectors, no row or UTF8String
  // object ever materializes on that path
  private[logfile] def currentOffset: Long = curOffset
  private[logfile] def recordBuffer: Array[Byte] = recBuf
  private[logfile] def recordLength: Int = recLen

  override def close(): Unit = {
    lines.close()
    if (decompressor != null) {
      CodecPool.returnDecompressor(decompressor)
      decompressor = null
    }
  }
}
