package graft.sources.logfile

import java.io.{ByteArrayInputStream, InputStream}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[LineSplitter]] must give exactly the lines and byte counts of Hadoop's
  * `LineReader`, whatever sizes the stream's reads return: record offsets,
  * `bytesRead` and split ownership are all sums of those counts.
  */
class LineSplitterSpec extends AnyFunSuite {

  /** Returns the next of `sizes` bytes per read (at least 1), so a
    * terminator, or half of a CRLF, can land at the end of a read.
    */
  private final class Chunked(data: Array[Byte], sizes: Iterator[Int]) extends InputStream {
    private var pos = 0
    override def read(): Int =
      if (pos < data.length) { pos += 1; data(pos - 1) & 0xff } else -1
    override def read(b: Array[Byte], off: Int, len: Int): Int =
      if (pos >= data.length) -1
      else {
        val n = math.min(math.min(len, sizes.next()), data.length - pos)
        System.arraycopy(data, pos, b, off, n)
        pos += n
        n
      }
  }

  /** Each line's bytes and the count `readLine` returned, then the final 0. */
  private def hadoop(data: Array[Byte]): Seq[(Seq[Byte], Int)] = {
    val r = new LineReader(new ByteArrayInputStream(data))
    val t = new Text
    val out = mutable.ArrayBuffer.empty[(Seq[Byte], Int)]
    var n = -1
    while (n != 0) {
      n = r.readLine(t)
      out += ((t.copyBytes().toSeq, n))
    }
    out.toSeq
  }

  private def split(data: Array[Byte], sizes: Iterator[Int]): Seq[(Seq[Byte], Int)] = {
    val s = new LineSplitter(new Chunked(data, sizes))
    val out = mutable.ArrayBuffer.empty[(Seq[Byte], Int)]
    var n = -1
    while (n != 0) {
      n = s.readLine()
      out += ((if (n == 0) Seq.empty else s.bytes.slice(s.start, s.start + s.length).toSeq, n))
    }
    assert(s.readLine() == 0, "the end of the stream stays the end")
    out.toSeq
  }

  private def reads(k: Int, seed: Long): Iterator[Int] = {
    val rnd = new scala.util.Random(seed)
    Iterator.continually(1 + rnd.nextInt(k))
  }

  private def hex(b: Seq[Byte]): String =
    if (b.length > 64) s"${b.length} bytes" else b.map(x => f"${x & 0xff}%02x").mkString(" ")

  test("fixed cases: lone CR, CRLF, CR at the end of the stream, empty lines, no final terminator") {
    val cases = Seq("", "\n", "\r", "\r\n", "a", "a\n", "a\r", "a\r\n", "a\rb", "a\r\nb\n",
      "\r\r\n\n\r", "\n\n", "ab\r\r", "x\r\ny\rz\n\r\n")
    for (c <- cases; k <- Seq(1, 2, 3, 1 << 20)) {
      val data = c.getBytes(UTF_8)
      assert(split(data, reads(k, 7L)) == hadoop(data), s"[${hex(data.toSeq)}] with reads of 1 to $k")
    }
  }

  private val content: Gen[Array[Byte]] = Gen.frequency(
    3 -> Gen.const(Array.emptyByteArray),
    12 -> Gen.listOf(Gen.oneOf("abc 0123456789-:,.\té".getBytes(UTF_8).toSeq)).map(_.toArray),
    2 -> Gen.listOf(Gen.choose(0, 255).map(_.toByte)).map(_.toArray), // LF and CR inside too
    1 -> Gen.choose((64 << 10) - 9, (64 << 10) * 2 + 9).map(n => Array.tabulate(n)(i => ('a' + i % 26).toByte)))

  private val terminator: Gen[String] = Gen.oneOf("\n", "\r", "\r\n")

  private val streams: Gen[Array[Byte]] = for {
    lines <- Gen.listOf(Gen.zip(content, terminator))
    dropLast <- Gen.oneOf(true, false)
  } yield {
    val parts = lines.flatMap { case (c, t) => Seq(c, t.getBytes(UTF_8)) }
    (if (dropLast && parts.nonEmpty) parts.init else parts).toArray.flatten
  }

  test("random mixes of LF, CR, CRLF, empty and long lines split as LineReader splits them") {
    val cases = for {
      data <- streams
      k <- Gen.oneOf(1, 2, 3, 7, 64, 4096, 1 << 20)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (data, k, seed)
    val prop = Prop.forAllNoShrink(cases) { case (data, k, seed) =>
      val want = hadoop(data)
      val got = split(data, reads(k, seed))
      val diff = want.zipAll(got, null, null).indexWhere { case (a, b) => a != b }
      (got == want) :| (s"${data.length} bytes, reads of 1 to $k (seed $seed): line $diff " +
        s"LineReader ${Option(want.lift(diff).orNull).map(l => (hex(l._1), l._2))} vs " +
        s"splitter ${Option(got.lift(diff).orNull).map(l => (hex(l._1), l._2))}")
    }
    val params = Check.Parameters.default.withMinSuccessfulTests(300).withInitialSeed(Seed(1031L))
    val result = Check.check(params, prop)
    assert(result.passed, result.status.toString)
  }
}
