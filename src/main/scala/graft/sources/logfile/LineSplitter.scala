package graft.sources.logfile

import java.io.{Closeable, InputStream}
import java.lang.invoke.MethodHandles
import java.nio.ByteOrder

/** Splits a byte stream into lines in place. After [[readLine]], the line
  * is `bytes[start, start + length)` in the splitter's own buffer, valid
  * until the next [[readLine]]; nothing is copied out.
  *
  * The line rules and byte counts are those of Hadoop's `LineReader` with
  * its default delimiters (`LineReader.readDefaultLine`): a line ends at
  * LF, CR or CRLF, the terminator is not part of the line, a CR at the end
  * of the stream ends a line, and a last line without a terminator is still
  * a line. [[readLine]] returns the bytes it consumed, terminator included,
  * and 0 only at the end of the stream, so offsets summed from it are the
  * ones `LineReader.readLine` gives. As there, a read that returns no bytes
  * ends the stream.
  *
  * The buffer holds 64 KiB and doubles only for a line longer than it.
  * Terminators are found eight bytes at a time.
  */
private[logfile] final class LineSplitter(in: InputStream) extends Closeable {
  private var buf = new Array[Byte](64 << 10)
  private var filled = 0 // buf[0, filled) holds the bytes read so far
  private var next = 0 // the first byte not yet handed out in a line
  private var eof = false
  private var lineStart, lineLength = 0

  /** The buffer that holds the current line. */
  def bytes: Array[Byte] = buf
  /** Where the current line starts in [[bytes]]. */
  def start: Int = lineStart
  /** The current line's length, without its terminator. */
  def length: Int = lineLength

  /** Reads the next line; returns the bytes consumed, 0 at the end of the stream. */
  def readLine(): Int = {
    var scan = next
    var consumed = -1
    while (consumed < 0) {
      val t = LineSplitter.terminator(buf, scan, filled)
      // a CR ends its line once the byte after it, or the end of the stream, is known
      if (t < filled && (buf(t) == '\n' || t + 1 < filled || eof))
        consumed = take(t, if (buf(t) == '\r' && t + 1 < filled && buf(t + 1) == '\n') t + 2 else t + 1)
      else if (eof) consumed = if (next == filled) 0 else take(filled, filled)
      else scan = t - fill() // search on from the unmatched tail, or the CR again
    }
    consumed
  }

  /** Hands out `buf[next, lineEnd)` as the line and consumes up to `end`. */
  private def take(lineEnd: Int, end: Int): Int = {
    lineStart = next
    lineLength = lineEnd - next
    val n = end - next
    next = end
    n
  }

  /** Moves the bytes not yet handed out to the front, doubling the buffer
    * if they fill it, then reads more; returns how far the bytes moved.
    */
  private def fill(): Int = {
    val shift = next
    val kept = filled - next
    if (kept == buf.length) buf = java.util.Arrays.copyOf(buf, buf.length * 2)
    else if (shift > 0) System.arraycopy(buf, shift, buf, 0, kept)
    next = 0
    filled = kept
    val n = in.read(buf, filled, buf.length - filled)
    if (n <= 0) eof = true else filled += n
    shift
  }

  override def close(): Unit = in.close()
}

private object LineSplitter {
  private val Longs = MethodHandles.byteArrayViewVarHandle(classOf[Array[Long]], ByteOrder.LITTLE_ENDIAN)
  private val Ones = 0x0101010101010101L
  private val Highs = 0x8080808080808080L
  private val LFs = 0x0A0A0A0A0A0A0A0AL
  private val CRs = 0x0D0D0D0D0D0D0D0DL

  /** The index of the first LF or CR in `b[from, until)`, or `until`. A
    * word's zero-byte test (`(x - Ones) & ~x & Highs`) can flag bytes only
    * above its first zero byte, so the lowest flag is exact.
    */
  def terminator(b: Array[Byte], from: Int, until: Int): Int = {
    var i = from
    while (i + 8 <= until) {
      val w: Long = (Longs.get(b, i): Long)
      val lf = w ^ LFs
      val cr = w ^ CRs
      val hit = ((lf - Ones) & ~lf | (cr - Ones) & ~cr) & Highs
      if (hit != 0) return i + (java.lang.Long.numberOfTrailingZeros(hit) >>> 3)
      i += 8
    }
    while (i < until && b(i) != '\n' && b(i) != '\r') i += 1
    i
  }
}
