package graft.sources.logfile

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.hadoop.io.Text
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** [[HeadMatcher]] must decide every line exactly as `java.util.regex`
  * decides the line decoded by `Text.toString`, on both of its paths.
  */
class HeadMatcherSpec extends AnyFunSuite {

  /** Patterns in the byte-level subset, each with lines it should match. */
  private val Compiled: Seq[(String, Seq[String])] = Seq(
    LogfileFixture.PatternA -> Seq(
      "2017-01-01 00:00:00,005 INFO [worker-3] com.example.App - request handled id=42",
      "2017-01-01 00:00:00,010 ERROR [worker-0] com.example.App - flush retry id=7"),
    LogfileFixture.PatternB -> Seq("WARN 2017-01-01 00:00:00,005 [worker-3] queue flush id=1"),
    LogParsers.Log4jDefault.headPattern -> Seq("2017-01-02 03:04:05,678 DEBUG [t] x.Y - msg"),
    LogParsers.LevelFirst.headPattern -> Seq("FATAL 2017-01-02 03:04:05,678 [t] msg"),
    LogParsers.Iso8601.headPattern -> Seq("2017-01-02T03:04:05.678Z INFO msg"),
    """(INFO|WARN|ERROR) \d{4}.*""" -> Seq("INFO 2017-01-01 00:00:00,002 fmtB"),
    """\{""" -> Seq("{"),
    // the shape of the benchmark corpus's two layouts: ^, named groups, \s, \|
    """^(?<timestamp>[0-9]{4}-[0-9]{2}-[0-9]{2}\s[0-2][0-9]:[0-5][0-9]:[0-5][0-9],[0-9]{3})\s\|\s(?<loglevel>INFO|WARN|ERROR)\s\|\s.*""" ->
      Seq("2026-07-01 00:00:00,005 | INFO | de.comdirect.hadoop.logfile.inputformat.test.A | customer #12345 logged in."),
    """^(?<loglevel>INFO|WARN|ERROR)\s\|\s(?<timestamp>[0-9]{4}-[0-9]{2}-[0-9]{2}\s[0-2][0-9]:[0-5][0-9]:[0-5][0-9],[0-9]{3})\s\|\s.*""" ->
      Seq("ERROR | 2026-07-01 00:00:00,005 | de.comdirect.hadoop.logfile.inputformat.test.B | java.io.IOException"),
    // alternation that must backtrack, optional atoms, bounded repeats, classes
    """(?:a|ab)(c|bcd)e?[x-z_\d\s-]{1,3}\.""" -> Seq("abcdx.", "acz_.", "abc 9-.", "ace_."),
    """^.*""" -> Seq("", "anything"),
    "" -> Seq(""))

  /** Patterns outside the subset: they must take the regex fallback. */
  private val Fallback: Seq[(String, Seq[String])] = Seq(
    """(?i)info.*""" -> Seq("INFO x", "info"),
    """[^#].*""" -> Seq("x # not a comment"),
    """\w+ .*""" -> Seq("word rest"),
    """a.*$""" -> Seq("abc"),
    """(a)\1.*""" -> Seq("aab"),
    """(?=x).*""" -> Seq("xyz"),
    "\u00e9.*" -> Seq("\u00e9a"))

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val Specials: Seq[Array[Byte]] =
    Seq("\r", "\n", "\r\n", "\u000B", "\f", "\u0085", "\u2028", "\u2029",
      "\u00e9", "\u65e5\u672c", "\ud83d\ude00", "\ufffd").map(bytes) ++
      Seq(Seq(0xC3), Seq(0xFF), Seq(0x80), Seq(0xC2), Seq(0xE2), Seq(0xE2, 0x80),
        Seq(0xED, 0xA0, 0x80), Seq(0xF0, 0x9F), Seq(0xC0, 0x80), Seq(0xC2, 0xC2, 0x85))
        .map(_.map(_.toByte).toArray)

  private val asciiByte: Gen[Byte] =
    Gen.oneOf("0123456789-:,. |{}[]TZINFOWARERRDBUGab_\t".getBytes(UTF_8).toSeq)
  private val anyByte: Gen[Byte] = Gen.choose(0, 255).map(_.toByte)
  private val someByte: Gen[Byte] = Gen.frequency(3 -> asciiByte, 1 -> anyByte)

  /** One byte changed, truncated, extended, or a special sequence inserted. */
  private def mutate(b: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
    for (i <- Gen.choose(0, b.length); v <- someByte)
      yield if (i == b.length) b :+ v else b.updated(i, v),
    Gen.choose(0, b.length).map(b.take),
    Gen.listOf(someByte).map(b ++ _),
    for (i <- Gen.choose(0, b.length); s <- Gen.oneOf(Specials))
      yield b.take(i) ++ s ++ b.drop(i))

  private def lines(examples: Seq[String]): Gen[Array[Byte]] = {
    val base = Gen.frequency(
      4 -> Gen.oneOf(examples).map(bytes),
      1 -> Gen.listOf(someByte).map(_.toArray))
    def times(k: Int, g: Gen[Array[Byte]]): Gen[Array[Byte]] =
      if (k == 0) g else times(k - 1, g.flatMap(mutate))
    Gen.choose(0, 3).flatMap(times(_, base))
  }

  private def expected(pattern: String, line: Array[Byte]): Boolean =
    Pattern.compile(pattern).matcher(new Text(line).toString).matches()

  /** The matcher reads only `bytes[0, len)`: trailing junk in the buffer must not count. */
  private def actual(m: HeadMatcher, line: Array[Byte]): Boolean =
    m.matches(line ++ bytes(" junk"), 0, line.length)

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString(" ")

  private def agree(pattern: String, examples: Seq[String]): Unit = {
    val m = HeadMatcher.compile(pattern)
    examples.foreach(e => assert(actual(m, bytes(e)), s"$pattern should match '$e'"))
    val prop = Prop.forAll(lines(examples)) { line =>
      (actual(m, line) == expected(pattern, line)) :| s"pattern $pattern, line [${hex(line)}]"
    }
    val params = Check.Parameters.default
      .withMinSuccessfulTests(2000).withInitialSeed(Seed(pattern.hashCode.toLong))
    val result = Check.check(params, prop)
    assert(result.passed, result.status.toString)
  }

  for ((pattern, examples) <- Compiled) test(s"byte DFA agrees with java.util.regex: $pattern") {
    assert(HeadMatcher.compile(pattern).isInstanceOf[DfaHeadMatcher], "expected the byte path")
    agree(pattern, examples)
  }

  for ((pattern, examples) <- Fallback) test(s"fallback agrees with java.util.regex: $pattern") {
    assert(HeadMatcher.compile(pattern).isInstanceOf[RegexHeadMatcher], "expected the fallback")
    agree(pattern, examples)
  }

  test("the DFA and the regex fallback agree on lines at nonzero offsets in a larger buffer") {
    // a line sits in the line splitter's buffer between other bytes, at any
    // alignment of the DFA's 8-byte skip
    for ((pattern, examples) <- Compiled) {
      val dfa = HeadMatcher.compile(pattern)
      assert(dfa.isInstanceOf[DfaHeadMatcher], "expected the byte path")
      val fallback = new RegexHeadMatcher(Pattern.compile(pattern))
      val placed = for {
        line <- lines(examples)
        before <- Gen.listOf(someByte)
        after <- Gen.listOf(someByte)
      } yield (before.toArray ++ line ++ after, before.length, line.length)
      val prop = Prop.forAll(placed) { case (buf, off, len) =>
        val d = dfa.matches(buf, off, len)
        (d == fallback.matches(buf, off, len) &&
          d == expected(pattern, buf.slice(off, off + len))) :|
          s"pattern $pattern, buffer [${hex(buf)}], line at $off, $len bytes"
      }
      val params = Check.Parameters.default
        .withMinSuccessfulTests(500).withInitialSeed(Seed(pattern.hashCode.toLong + 1))
      val result = Check.check(params, prop)
      assert(result.passed, result.status.toString)
    }
  }

  test("trailing .* rejects exactly Java's line terminators, over every short byte tail") {
    // terminator bytes and their parts, bounds of the 8-byte skip's 0x0E..0x7F range
    val alphabet = Seq(0x0A, 0x0D, 0xC2, 0xE2, 0x80, 0x85, 0xA8, 0xA9, 0xAA, 0x41, 0xFF,
      0xC3, 0xED, 0xA0, 0xF0, 0x90, 0x09, 0x0B, 0x0C, 0x0E, 0x7F).map(_.toByte)
    val m = HeadMatcher.compile("a.*")
    assert(m.isInstanceOf[DfaHeadMatcher])
    val tails = (0 to 3).flatMap(n => Seq.fill(n)(alphabet).foldLeft(Seq(Seq.empty[Byte])) {
      (acc, as) => for (t <- acc; x <- as) yield t :+ x
    })
    // the tail at every offset of an 8-byte word, in lines long enough to skip words
    for (t <- tails; k <- 0 until 8; end <- Seq("", "y" * 12)) {
      val line = bytes("a" + "x" * k) ++ t ++ bytes(end)
      assert(actual(m, line) == expected("a.*", line), s"tail [${hex(t.toArray)}] at ${k + 1}")
    }
  }

  test("readers of one pattern share its DFA; readers of a fallback pattern own their Matcher") {
    val f = java.io.File.createTempFile("head-memo", ".log")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes("INFO 2017-01-01 00:00:00,002 x\n"))
    val conf = new org.apache.hadoop.conf.Configuration()
    def readers(pattern: String): Seq[HeadMatcher] = (1 to 2).map { _ =>
      val r = new LogfilePartitionReader(
        LogfilePartition(f.getAbsolutePath, 0L, f.length, pattern), conf, LogfileTable.Schema)
      try r.headMatcher finally r.close()
    }
    val Seq(d1, d2) = readers(LogfileFixture.PatternB)
    assert(d1.isInstanceOf[DfaHeadMatcher] && (d1 eq d2), "one DFA per pattern and JVM")
    val Seq(r1, r2) = readers("(?i)info.*")
    (r1, r2) match {
      case (a: RegexHeadMatcher, b: RegexHeadMatcher) =>
        assert(a ne b)
        assert(a.matcher ne b.matcher, "a Matcher is per reader")
      case other => fail(s"expected the fallback: $other")
    }
  }

  test("invalid patterns fail as Pattern.compile fails") {
    intercept[java.util.regex.PatternSyntaxException](HeadMatcher.compile("(a"))
    intercept[java.util.regex.PatternSyntaxException](HeadMatcher.compile("a{2"))
  }
}
