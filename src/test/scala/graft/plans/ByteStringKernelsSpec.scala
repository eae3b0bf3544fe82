package graft.plans

import java.nio.charset.StandardCharsets.UTF_8
import java.util.regex.Pattern

import org.apache.spark.{SparkEnv, SparkThrowable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, BindReferences,
  BoundReference, Expression, Literal, RegExpExtract, SubstringIndex}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed

import graft.SparkTestBase
import graft.functions.expressions.{ByteRegExpExtract, ByteRegex, ByteSubstringIndex}
import graft.sources.logfile.{LogParsers, LogfileFixture}

/** [[ByteStringKernels]] must give Spark's results and errors: its byte
  * kernels agree with Spark's own `SubstringIndex` and `RegExpExtract` on
  * every input, and it leaves alone what it cannot take. Its plans are
  * checked in `PlanPropertiesSpec`.
  */
class ByteStringKernelsSpec extends SparkTestBase {

  /** A session on the same context without the graft extensions, so
    * without the rule: Spark's own expressions.
    */
  private lazy val plain: SparkSession = {
    val s = SparkSession.builder().create()
    SparkSession.setActiveSession(spark)
    SparkSession.setDefaultSession(spark)
    s
  }

  private val Level = """\b(INFO|WARN|ERROR)\b"""
  private val BenchA = """^(?<timestamp>[0-9]{4}-[0-9]{2}-[0-9]{2}\s[0-2][0-9]:[0-5][0-9]:[0-5][0-9],[0-9]{3})\s\|\s(?<loglevel>INFO|WARN|ERROR)\s\|\s.*"""
  private val BenchB = """^(?<loglevel>INFO|WARN|ERROR)\s\|\s(?<timestamp>[0-9]{4}-[0-9]{2}-[0-9]{2}\s[0-2][0-9]:[0-5][0-9]:[0-5][0-9],[0-9]{3})\s\|\s.*"""

  /** Every pattern the engine's queries, layouts and fixtures extract with,
    * plus shapes that exercise backtracking, unset groups and `$`.
    */
  private val Patterns: Seq[String] = (Seq(Level, "Brand#(\\d+)", "#(\\d+)",
    LogfileFixture.PatternA, LogfileFixture.PatternB, BenchA, BenchB) ++
    Seq(LogParsers.Log4jDefault, LogParsers.LevelFirst, LogParsers.Iso8601).flatMap(l =>
      Seq(l.headPattern, l.tsRegex, l.levelRegex, l.msgRegex)) ++ Seq(
    """(?:(a)x|ay)""", """(a|ab)(c|bcd)(d*)""", """a*$""", """x?""", """\d+\.?\d*$""",
    """([A-Za-z_0-9]?)""", """(.)(.{2,})b""", """[a-c]{2,}|(Z)""", """$""",
    """\b""", """^$""")).distinct

  private val Examples: Seq[String] = Seq(
    "2017-01-01 00:00:00,005 INFO [worker-3] com.example.App - request handled id=42",
    "WARN 2017-01-01 00:00:00,005 [worker-3] queue flush id=1",
    "2017-01-02T03:04:05.678Z ERROR boom - x",
    "2026-07-01 00:00:00,005 | INFO | de.comdirect.hadoop.logfile.inputformat.test.A | customer #12345 logged in.",
    "ERROR | 2026-07-01 00:00:00,005 | x.B | java.io.IOException",
    "Brand#23", "#7 Brand#1", "ayx", "abcdd", "abc", "aaab", "1.5", "xINFOx INFO_ WARN",
    "FATAL 2017-01-02 03:04:05,678 [t] msg", "")

  private def bytes(s: String): Array[Byte] = s.getBytes(UTF_8)

  private val Specials: Seq[Array[Byte]] =
    Seq("\r", "\n", "\r\n", "\u000B", "\u0085", "\u2028", "\u2029", "\u00e9", "\u65e5",
      "\ud83d\ude00", "\ufffd", " - ", "\t", "_").map(bytes) ++
      Seq(Seq(0xC3), Seq(0xFF), Seq(0x80), Seq(0xE2, 0x80), Seq(0xED, 0xA0, 0x80))
        .map(_.map(_.toByte).toArray)

  private val asciiByte: Gen[Byte] =
    Gen.oneOf("0123456789-:,. |#[]TZINFOWARERRDBUGabcdxyz_\t\n\r".getBytes(UTF_8).toSeq)
  private val someByte: Gen[Byte] =
    Gen.frequency(4 -> asciiByte, 1 -> Gen.choose(0, 255).map(_.toByte))

  /** One byte changed, truncated, extended, or a special sequence inserted. */
  private def mutate(b: Array[Byte]): Gen[Array[Byte]] = Gen.oneOf(
    for (i <- Gen.choose(0, b.length); v <- someByte)
      yield if (i == b.length) b :+ v else b.updated(i, v),
    Gen.choose(0, b.length).map(b.take),
    Gen.choose(0, b.length).map(b.drop),
    Gen.listOf(someByte).map(b ++ _),
    for (i <- Gen.choose(0, b.length); s <- Gen.oneOf(Specials))
      yield b.take(i) ++ s ++ b.drop(i))

  /** Examples, their near misses, multi-line joins and byte noise. */
  private val inputs: Gen[Array[Byte]] = {
    val base = Gen.frequency(
      4 -> Gen.oneOf(Examples).map(bytes),
      1 -> Gen.listOf(someByte).map(_.toArray),
      1 -> Gen.listOfN(3, Gen.oneOf(Examples)).map(l => bytes(l.mkString("\n"))))
    def times(k: Int, g: Gen[Array[Byte]]): Gen[Array[Byte]] =
      if (k == 0) g else times(k - 1, g.flatMap(mutate))
    Gen.choose(0, 3).flatMap(times(_, base))
  }

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString(" ")

  private def check(name: String, prop: Prop, n: Int = 1500): Unit = {
    val params = Check.Parameters.default
      .withMinSuccessfulTests(n).withInitialSeed(Seed(name.hashCode.toLong))
    val result = Check.check(params, prop)
    assert(result.passed, s"$name: ${result.status}")
  }

  private val Input = BoundReference(0, StringType, nullable = true)

  /** `expr` interpreted and generated, over `b` placed inside a larger
    * buffer; both results must survive that buffer being overwritten.
    */
  private def both(expr: Expression, b: Array[Byte]): (String, String) = {
    val buf = bytes("<<") ++ b ++ bytes(">>junk")
    val s = UTF8String.fromBytes(buf, 2, b.length)
    val row = InternalRow(s)
    val interpreted = expr.eval(row).asInstanceOf[UTF8String]
    val generated = GenerateUnsafeProjection.generate(Seq(expr)).apply(row).getUTF8String(0)
    val (i, g) = (hex(interpreted.getBytes), hex(generated.copy().getBytes))
    java.util.Arrays.fill(buf, 'Q'.toByte)
    assert(hex(interpreted.getBytes) == i, "an interpreted result views its input")
    (i, g)
  }

  private def spark(expr: Expression, b: Array[Byte]): String =
    hex(expr.eval(InternalRow.empty).asInstanceOf[UTF8String].getBytes)

  private def strLit(b: Array[Byte]): Literal = Literal(UTF8String.fromBytes(b), StringType)

  test("substring_index: byte kernel agrees with Spark for counts -3..3, 1-3 byte delimiters") {
    val delims = Seq("\n", "/", "a", "\r\n", "ab", "aa", "é", "日", "--x").map(bytes) ++
      Seq(Array(0xFF.toByte), Array(0xE2, 0x80).map(_.toByte))
    val cases = for {
      in <- Gen.frequency(3 -> inputs, 1 -> Gen.listOf(Gen.oneOf("aab\n/-x\r".getBytes(UTF_8).toSeq))
        .map(_.toArray))
      d <- Gen.oneOf(delims)
      c <- Gen.choose(-3, 3)
    } yield (in, d, c)
    check("substring_index", Prop.forAll(cases) { case (in, d, c) =>
      val expected = spark(SubstringIndex(strLit(in), strLit(d), Literal(c)), in)
      val (i, g) = both(ByteSubstringIndex(Input, UTF8String.fromBytes(d), c), in)
      (i == expected && g == expected) :|
        s"input [${hex(in)}] delim [${hex(d)}] count $c: spark [$expected] interpreted [$i] generated [$g]"
    }, n = 6000)
  }

  for (p <- Patterns) test(s"regexp_extract: byte program agrees with Spark: $p") {
    val groups = Pattern.compile(p).matcher("").groupCount()
    for (idx <- 0 to groups) assert(ByteRegex.compile(p, idx).isDefined, s"expected the byte path, group $idx")
    val cases = for (in <- inputs; idx <- Gen.choose(0, groups)) yield (in, idx)
    check(p, Prop.forAll(cases) { case (in, idx) =>
      val expected = spark(RegExpExtract(strLit(in), Literal(p), Literal(idx)), in)
      val (i, g) = both(ByteRegExpExtract(Input, p, idx), in)
      (i == expected && g == expected) :|
        s"input [${hex(in)}] group $idx: spark [$expected] interpreted [$i] generated [$g]"
    })
  }

  /** A string column over raw bytes (valid UTF-8 or not), from an RDD so
    * no projection folds on the driver.
    */
  private def frame(s: SparkSession, rows: Seq[Array[Byte]]): DataFrame =
    s.createDataFrame(s.sparkContext.parallelize(rows.map(Row(_)), 3),
      StructType(Seq(StructField("b", BinaryType)))).select(col("b").cast("string").as("s"))

  private def byteExprs(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: ByteSubstringIndex => e
      case e: ByteRegExpExtract => e
    }))

  private def sparkExprs(df: DataFrame): Seq[Expression] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case e: SubstringIndex => e
      case e: RegExpExtract => e
    }))

  test("end to end the rule fires and matches a session without it") {
    val rows = Gen.listOfN(400, inputs).pureApply(Gen.Parameters.default, Seed(47L)) ++
      Examples.map(bytes)
    val levels = (s: SparkSession) => frame(s, rows).select(
      regexp_extract(substring_index(col("s"), "\n", 1), Level, 1).as("level"),
      substring_index(col("s"), "\n", -2).as("tail"),
      regexp_extract(col("s"), LogParsers.Log4jDefault.msgRegex, 1).as("msg"),
      regexp_extract(col("s"), "#(\\d+)", 0).as("num"))
    val (graft, ref) = (levels(spark), levels(plain))
    assert(byteExprs(graft).size == 5, graft.queryExecution.optimizedPlan)
    assert(byteExprs(ref).isEmpty && sparkExprs(ref).size == 5)
    def bag(df: DataFrame) = df.collect().map(_.toSeq.map(v => hex(bytes(v.toString)))).toSeq
    assert(bag(graft) == bag(ref))
    val counts = (s: SparkSession) => levels(s).groupBy("level").count()
      .orderBy("level").collect().toSeq
    assert(counts(spark) == counts(plain))
  }

  test("guards: collations, non-literal arguments and patterns outside the subset keep Spark's expression") {
    val rows = Seq("xBy12", "b1 B2", "ab\nAB", "a/b/c", "aab", "éB3").map(bytes)
    def both(f: DataFrame => DataFrame): Unit = {
      val (g, r) = (f(frame(spark, rows)), f(frame(plain, rows)))
      assert(byteExprs(g).isEmpty, g.queryExecution.optimizedPlan)
      assert(sparkExprs(g).nonEmpty, g.queryExecution.optimizedPlan)
      assert(g.collect().toSeq == r.collect().toSeq)
    }
    // UTF8_LCASE: case-insensitive delimiter search and regex
    both(_.select(substring_index(collate(col("s"), "UTF8_LCASE"), "B", 1)))
    both(_.select(regexp_extract(collate(col("s"), "UTF8_LCASE"), "b(\\d)", 1)))
    // pattern, delimiter and count from columns
    both(_.withColumn("p", lit("b(\\d)")).withColumn("d", lit("/")).withColumn("c", lit(1))
      .select(expr("regexp_extract(s, concat(p, s, ''), 1)"),
        expr("substring_index(s, concat(d, substr(s, 9, 1)), 1)"),
        expr("substring_index(s, '/', c + length(s) - length(s))")))
    // lookahead, backreference, negated class, \w, lazy and possessive quantifiers
    for (p <- Seq("(?=a)(a)", "(a)\\1", "[^a](b)", "(\\w+)", "(a+?)", "(a*+)b", "(?i)(b)"))
      both(_.select(regexp_extract(col("s"), p, 1)))
  }

  test("regexp_extract compiles its pattern once: the rule's program serves every copy") {
    val p = "compile-once-(\\d+)-(x?)"
    val s = AttributeReference("s", StringType)()
    val plan = Project(Seq(Alias(RegExpExtract(s, Literal(p), Literal(1)), "n")()), LocalRelation(s))
    val rewritten = ByteStringKernels(plan).expressions.flatMap(_.collect {
      case e: ByteRegExpExtract => e
    })
    assert(rewritten.size == 1, plan)
    val e = rewritten.head
    // copies: bound to the input row, a new child, Spark's reflective copy,
    // and each of those serialized as a task ships it
    val bound = BindReferences.bindReference(e, Seq(s))
    val ser = SparkEnv.get.closureSerializer.newInstance()
    def shipped(x: ByteRegExpExtract) = ser.deserialize[ByteRegExpExtract](ser.serialize(x))
    val copies = Seq(bound, bound.withNewChildren(Seq(Input)),
      bound.makeCopy(Array(Input, p, Integer.valueOf(1)))).map(_.asInstanceOf[ByteRegExpExtract])
    val row = InternalRow(UTF8String.fromString("a compile-once-42-x b"))
    for (c <- copies ++ copies.map(shipped)) {
      assert(c.eval(row).toString == "42")
      assert(c.program eq e.program, "a copy compiled its own program")
    }
    assert(ByteRegex.compile(p, 1).exists(_ eq e.program), "the rule's program was dropped")
  }

  test("guards: a group index past the group count fails as Spark fails") {
    def error(s: SparkSession): String = {
      val df = frame(s, Seq(bytes("ab"))).select(regexp_extract(col("s"), "a(b)", 2))
      if (s eq spark) assert(byteExprs(df).isEmpty)
      val e = intercept[Exception](df.collect())
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).collectFirst {
        case t: SparkThrowable if t.getCondition != null => t.getCondition
      }.getOrElse(e.toString)
    }
    val (g, r) = (error(spark), error(plain))
    assert(g == r && g.contains("REGEX_GROUP_INDEX"), s"$g vs $r")
  }
}
