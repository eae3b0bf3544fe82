package graft.sources.logfile

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the five split/record invariants of SURVEY.md §1.4 — the content the
  * reference couldn't unit-test (`README.md:85-86`); we can.
  */
class LogfileSourceSpec extends SparkTestBase {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def write(dir: String, name: String, content: String): Unit =
    Files.write(new File(dir, name).toPath, content.getBytes(StandardCharsets.UTF_8))

  private val TsPat = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*"""

  private def read(dir: String, pattern: String = TsPat, maxSplit: Long = 0,
      extra: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.read.format("logfile").option("pattern", pattern)
    if (maxSplit > 0) r = r.option("maxsplitbytes", maxSplit.toString)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    r.load(dir)
  }

  /** Every split the scan planned, across its tasks, in task order. */
  private def plannedSplits(df: DataFrame): Seq[LogfilePartition] =
    scanOf(df).inputPartitions.flatMap(_.asInstanceOf[LogfileSplitGroup].splits).toSeq

  private def scanOf(df: DataFrame) =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))

  // ---- invariant 1: full-match head detection, multiline assembly ----

  test("multiline records assemble; continuation lines never split records") {
    val dir = tmpDir("logfile-basic")
    write(dir, "a.log",
      """2017-01-01 00:00:00,001 INFO ok
        |2017-01-01 00:00:00,002 ERROR boom
        |java.lang.IllegalStateException: x
        |	at com.example.A.f(A.java:1)
        |	at com.example.B.g(B.java:2)
        |2017-01-01 00:00:00,003 INFO done
        |""".stripMargin)
    val rows = read(dir).orderBy("offset").collect()
    assert(rows.length == 3)
    val rec2 = rows(1).getAs[String]("record")
    assert(rec2.startsWith("2017-01-01 00:00:00,002 ERROR boom\njava.lang"))
    assert(rec2.split("\n").length == 4)
    assert(!rec2.endsWith("\n"), "no trailing newline (reference :311)")
    // a line that merely CONTAINS a timestamp mid-line is not a head
    val dir2 = tmpDir("logfile-fullmatch")
    write(dir2, "b.log",
      "2017-01-01 00:00:00,001 INFO head\nnoise 2017-01-01 00:00:00,002 INFO not-a-head\n")
    val r2 = read(dir2).collect()
    assert(r2.length == 1 && r2(0).getAs[String]("record").contains("not-a-head"))
  }

  test("scan is columnar; its records are bit-identical to LogfilePartitionReader driven split by split") {
    val dir = tmpDir("logfile-columnar")
    // >4096 records per split forces multiple ColumnarBatches from one reader
    val truth = LogfileFixture.ensure(dir, files = 1, recordsPerFile = 6000, seed = 23L)
    val df = spark.read.format("logfile").option("pattern", LogfileFixture.PatternA).load(dir)
    // the columnar reader path must actually engage (LogfileColumnarReader)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ColumnarToRow"), s"expected a columnar scan (ColumnarToRow) in:\n$plan")
    // A/B: every (file, offset, record) triple identical to the row reader's,
    // each planned split read on its own
    val conf = spark.sessionState.newHadoopConf()
    val direct = plannedSplits(df).flatMap { split =>
      val r = new LogfilePartitionReader(split, conf, LogfileTable.Schema)
      val out = Seq.newBuilder[(String, Long, String)]
      try while (r.next()) {
        val row = r.get()
        out += ((row.getUTF8String(0).toString, row.getLong(1), row.getUTF8String(2).toString))
      } finally r.close()
      out.result()
    }.sortBy(t => (t._1, t._2))
    val col = df.collect()
      .map(r => (r.getAs[String]("file"), r.getAs[Long]("offset"), r.getAs[String]("record")))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(col.size == truth.total * 2, s"plain+gz twins: ${col.size} vs ${truth.total * 2}")
    assert(col == direct)
    // COUNT(*) pushdown bypasses the columnar path (single-row partial)
    val countPlan = df.groupBy().count().queryExecution.executedPlan.toString
    assert(!countPlan.contains("ColumnarToRow"), s"expected a row scan for COUNT(*) in:\n$countPlan")
    assert(df.count() == truth.total * 2)
  }

  test("offsets are byte positions of the head line") {
    val dir = tmpDir("logfile-offsets")
    val l1 = "2017-01-01 00:00:00,001 INFO first"
    val l2 = "2017-01-01 00:00:00,002 INFO second"
    write(dir, "a.log", s"$l1\n$l2\n")
    val offs = read(dir).orderBy("offset").select("offset").collect().map(_.getLong(0))
    assert(offs.toSeq == Seq(0L, l1.length + 1L))
  }

  test("leading continuation lines before a file's first head are dropped") {
    val dir = tmpDir("logfile-leading")
    write(dir, "a.log",
      "orphan continuation\nanother orphan\n2017-01-01 00:00:00,001 INFO real\n")
    val rows = read(dir).collect()
    assert(rows.length == 1 && rows(0).getAs[String]("record").endsWith("real"))
  }

  // ---- invariants 2+3: split ownership, read-past-end; the ScalaCheck-style
  // sweep: every split size must agree with the single-split read ----

  test("read(k splits) == read(1 split) for every tiny split size") {
    val dir = tmpDir("logfile-splits")
    val truth = LogfileFixture.ensure(dir, files = 1, recordsPerFile = 500, seed = 11L)
    // drop the gz twin: this test wants many splits of the plain file
    new File(dir).listFiles().filter(_.getName.endsWith(".gz")).foreach(_.delete())
    val single = read(dir, LogfileFixture.PatternA, maxSplit = 1L << 30)
      .select("offset", "record").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(single.length == truth.total)
    for (splitBytes <- Seq(64L, 97L, 128L, 1000L, 4096L)) {
      val multi = read(dir, LogfileFixture.PatternA, maxSplit = splitBytes)
        .select("offset", "record").collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(multi.toSeq == single.toSeq,
        s"splitBytes=$splitBytes: ${multi.length} records vs ${single.length}")
    }
  }

  test("record head exactly at a split boundary is emitted exactly once") {
    val dir = tmpDir("logfile-boundary")
    val l1 = "2017-01-01 00:00:00,001 INFO aa" // head of record 1
    val l2 = "2017-01-01 00:00:00,002 INFO bb"
    write(dir, "a.log", s"$l1\n$l2\n")
    val headPos = l1.length + 1 // l2 starts exactly here
    for (splitBytes <- Seq(headPos.toLong, headPos - 1L, headPos + 1L)) {
      val rows = read(dir, maxSplit = splitBytes).select("offset").collect()
      assert(rows.length == 2, s"splitBytes=$splitBytes")
    }
  }

  // ---- invariant 4: gzip single-split, plain == gz, codec offsets ----

  test("plain and gz twins agree with generator truth (reference Test parity)") {
    val dir = tmpDir("logfile-gz")
    val truth = LogfileFixture.ensure(dir, files = 2, recordsPerFile = 3000, seed = 42L)
    val df = read(dir, LogfileFixture.PatternA,
      maxSplit = 8192,
      extra = Map("pattern.*_1.log*" -> LogfileFixture.PatternB))
      .withColumn("kind", when(col("file").endsWith(".gz"), "gz").otherwise("plain"))
      .withColumn("level", regexp_extract(
        substring_index(col("record"), "\n", 1), "\\b(INFO|WARN|ERROR)\\b", 1))
    val counts = df.groupBy("kind", "level").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (kind <- Seq("plain", "gz")) {
      assert(counts.getOrElse((kind, "INFO"), 0L) == truth.info, s"$kind INFO")
      assert(counts.getOrElse((kind, "WARN"), 0L) == truth.warn, s"$kind WARN")
      assert(counts.getOrElse((kind, "ERROR"), 0L) == truth.error, s"$kind ERROR")
    }
    // offsets inside the gz stream are decompressed-logical ⇒ identical to plain
    val plainOffs = df.filter(col("kind") === "plain").select("offset")
      .collect().map(_.getLong(0)).sorted
    val gzOffs = df.filter(col("kind") === "gz").select("offset")
      .collect().map(_.getLong(0)).sorted
    assert(plainOffs.toSeq == gzOffs.toSeq)
  }

  test("gz file is exactly one partition; plain file splits") {
    val dir = tmpDir("logfile-parts")
    LogfileFixture.ensure(dir, files = 1, recordsPerFile = 2000, seed = 5L)
    val plainLen = new File(dir).listFiles().filter(_.getName.endsWith(".log")).head.length
    // asserted over the planned splits, not the task count: packing puts
    // several splits in one task, and how many depends on the core count
    val splits = plannedSplits(read(dir, LogfileFixture.PatternA, maxSplit = 4096))
    val (gz, plain) = splits.partition(_.path.endsWith(".gz"))
    assert(gz.map(s => (s.start, s.end)) == Seq((0L, Long.MaxValue)), s"gz splits: $gz")
    assert(plain.map(_.start) == (0L until plainLen by 4096L), s"plain splits: $plain")
    assert(plain.length > 1)
    val gzOnly = {
      new File(dir).listFiles().filter(_.getName.endsWith(".log")).foreach(_.delete())
      read(dir, LogfileFixture.PatternA, maxSplit = 4096)
    }
    assert(plannedSplits(gzOnly).map(s => (s.start, s.end)) == Seq((0L, Long.MaxValue)))
    assert(gzOnly.rdd.getNumPartitions == 1)
  }

  // ---- per-path dispatch + error parity ----

  test("per-path pattern override resolves by glob with default fallback") {
    val dir = tmpDir("logfile-perpath")
    write(dir, "a.log", "2017-01-01 00:00:00,001 INFO fmtA\ncont A\n")
    write(dir, "b.log", "INFO 2017-01-01 00:00:00,002 fmtB\ncont B\n")
    val df = read(dir, TsPat, extra = Map("pattern.b.log" -> """(INFO|WARN|ERROR) \d{4}.*"""))
    val recs = df.orderBy("file").collect().map(_.getAs[String]("record"))
    assert(recs.length == 2)
    assert(recs(0) == "2017-01-01 00:00:00,001 INFO fmtA\ncont A")
    assert(recs(1) == "INFO 2017-01-01 00:00:00,002 fmtB\ncont B")
  }

  test("missing pattern option fails (reference :150-154 parity)") {
    val dir = tmpDir("logfile-nopattern")
    write(dir, "a.log", "x\n")
    val e = intercept[Exception] {
      spark.read.format("logfile").load(dir).collect()
    }
    assert(e.getMessage.contains("pattern") || e.getCause != null)
  }

  // ---- column pruning reaches the scan ----

  test("column pruning: offset-only projection plans a pruned scan") {
    val dir = tmpDir("logfile-prune")
    write(dir, "a.log", "2017-01-01 00:00:00,001 INFO x\n")
    val df = read(dir).select("offset")
    val scanLine = df.queryExecution.executedPlan.toString()
      .linesIterator.find(_.contains("LogfileScan")).getOrElse("")
    assert(scanLine.contains("columns=offset"), s"plan: $scanLine")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(0L))
  }

  // property-style sweep: random corpora × random split sizes must all agree
  // with the single-split read (the §7.4 "bug farm" mitigation)
  test("property: read(k splits) == read(1 split) over random corpora") {
    val rnd = new scala.util.Random(1234)
    for (iter <- 0 until 5) {
      val dir = tmpDir(s"logfile-prop$iter")
      val sb = new StringBuilder
      var expected = 0
      for (_ <- 0 until 50 + rnd.nextInt(200)) {
        sb.append(f"2017-01-01 00:00:${rnd.nextInt(60)}%02d,${rnd.nextInt(1000)}%03d INFO m${rnd.nextInt(10)}\n")
        expected += 1
        for (_ <- 0 until rnd.nextInt(4)) // 0-3 continuation lines, some empty
          sb.append(if (rnd.nextBoolean()) s"\tat x.Y.z(Y.java:${rnd.nextInt(99)})\n" else "\n")
      }
      write(dir, "p.log", sb.toString)
      // gz twin of the same bytes: whole-file path must agree with every
      // split size of the plain path
      val gz = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new File(dir, "p.log.gz")))
      try gz.write(sb.toString.getBytes(StandardCharsets.UTF_8)) finally gz.close()

      val one = read(dir + "/p.log").select("offset", "record").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(one.length == expected)
      val viaGz = read(dir + "/p.log.gz").select("offset", "record").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
      assert(viaGz == one, s"iter=$iter gz twin diverged")
      for (_ <- 0 until 4) {
        val splitBytes = 16 + rnd.nextInt(500)
        val multi = read(dir + "/p.log", maxSplit = splitBytes).select("offset", "record")
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
        assert(multi == one, s"iter=$iter splitBytes=$splitBytes")
      }
    }
  }

  test("edge cases: empty file, CRLF terminators, head as last line, blank continuations") {
    val dir = tmpDir("logfile-edge")
    write(dir, "empty.log", "")
    val e = read(dir + "/empty.log")
    assert(e.count() == 0)

    val dir2 = tmpDir("logfile-crlf")
    write(dir2, "crlf.log",
      "2017-01-01 00:00:00,001 INFO a\r\ncont\r\n2017-01-01 00:00:00,002 INFO b\r\n")
    val crlf = read(dir2).orderBy("offset").collect()
    assert(crlf.length == 2)
    assert(crlf(0).getAs[String]("record") == "2017-01-01 00:00:00,001 INFO a\ncont",
      "CRLF strips like the LineReader contract; joins stay \\n")
    // multi-split CRLF read must agree too
    for (split <- Seq(5L, 33L, 34L, 35L)) {
      assert(read(dir2, maxSplit = split).count() == 2, s"split=$split")
    }

    val dir3 = tmpDir("logfile-lasthead")
    write(dir3, "last.log", "2017-01-01 00:00:00,001 INFO only-head-no-newline")
    val last = read(dir3).collect()
    assert(last.length == 1 &&
      last(0).getAs[String]("record").endsWith("only-head-no-newline"))

    val dir4 = tmpDir("logfile-blanks")
    write(dir4, "blank.log",
      "2017-01-01 00:00:00,001 INFO x\n\n\n2017-01-01 00:00:00,002 INFO y\n")
    val blanks = read(dir4).orderBy("offset").collect()
    assert(blanks.length == 2)
    assert(blanks(0).getAs[String]("record") == "2017-01-01 00:00:00,001 INFO x\n\n",
      "empty lines are continuations of the open record")
  }

  test("hostile lines: invalid UTF-8, U+0085, U+2028/9 and lone CR decide heads as Pattern.matches") {
    val dir = tmpDir("logfile-hostile")
    def utf(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
    val bad = Array(0xC3, 0x28, 0xFF, 0xE2, 0x80).map(_.toByte)
    val content = Array.concat(
      utf("junk before the first head \u2028\n"),
      utf("2017-01-01 00:00:00,001 INFO plain\n"),
      utf("2017-01-01 00:00:00,002 INFO invalid "), bad, utf("\n"),
      utf("continuation "), bad, utf("\r"),
      utf("2017-01-01 00:00:00,003 INFO next line \u0085 inside\n"),
      utf("2017-01-01 00:00:00,004 INFO line separator \u2028 inside\r"),
      utf("2017-01-01 00:00:00,005 INFO paragraph separator \u2029 inside\r\n"),
      bad, utf("2017-01-01 00:00:00,006 INFO after invalid bytes\n"),
      utf("2017-01-01 00:00:00,007 INFO \u00e9\u65e5\ud83d\ude00\r"),
      utf("\u0085\r\r\n"),
      utf("2017-01-01 00:00:00,008 INFO cut by a lone\rCR\n"),
      utf("2017-01-01 00:00:00,009 INFO last"), bad)
    Files.write(new File(dir, "h.log").toPath, content)

    // lines as Hadoop's LineReader cuts them: at \r\n, \r or \n
    val lines = {
      val out = Seq.newBuilder[(Long, Array[Byte])]
      var from = 0
      var i = 0
      while (i < content.length) {
        val b = content(i)
        if (b == '\n' || b == '\r') {
          out += from.toLong -> content.slice(from, i)
          if (b == '\r' && i + 1 < content.length && content(i + 1) == '\n') i += 1
          from = i + 1
        }
        i += 1
      }
      if (from < content.length) out += from.toLong -> content.drop(from)
      out.result()
    }
    // one byte-level pattern and one that takes the regex fallback ($)
    for (pattern <- Seq(TsPat, TsPat + "$")) {
      val regex = java.util.regex.Pattern.compile(pattern)
      val expected = lines.foldLeft(Vector.empty[(Long, Seq[Byte])]) { case (recs, (off, l)) =>
        if (regex.matcher(new org.apache.hadoop.io.Text(l).toString).matches()) recs :+ (off -> l.toSeq)
        else if (recs.isEmpty) recs
        else recs.init :+ (recs.last._1 -> (recs.last._2 ++ Seq('\n'.toByte) ++ l))
      }
      assert(expected.length == 5, s"$pattern: ${expected.map(_._1)}")
      for (split <- Seq(0L, 37L)) {
        val got = read(dir, pattern, maxSplit = split)
          .select(col("offset"), col("record").cast("binary")).collect()
          .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1).toSeq).sortBy(_._1).toSeq
        assert(got == expected, s"pattern=$pattern split=$split")
      }
    }
  }

  test("zero-byte files (plain AND gz) are skipped at planning, not EOF-crashed") {
    val dir = tmpDir("logfile-empty-gz")
    write(dir, "real.log", "2017-01-01 00:00:00,001 INFO x\n")
    write(dir, "empty.log", "")
    Files.write(new File(dir, "empty.log.gz").toPath, Array.empty[Byte])
    val rows = read(dir).collect()
    assert(rows.length == 1, "empty plain and gz files contribute nothing")
  }

  test("multi-path load with escaped-JSON paths resolves each path") {
    val dir1 = tmpDir("logfile-multi1")
    val dir2 = tmpDir("logfile-multi2")
    write(dir1, "a.log", "2017-01-01 00:00:00,001 INFO one\n")
    write(dir2, "b.log", "2017-01-01 00:00:00,002 INFO two\n")
    val df = spark.read.format("logfile").option("pattern", TsPat)
      .load(s"$dir1/a.log", s"$dir2/b.log")
    assert(df.count() == 2)
    // a comma inside a path must survive the JSON paths round-trip
    val dir3 = tmpDir("logfile-comma, dir")
    write(dir3, "c.log", "2017-01-01 00:00:00,003 INFO three\n")
    val df2 = spark.read.format("logfile").option("pattern", TsPat)
      .load(s"$dir1/a.log", s"$dir3/c.log")
    assert(df2.count() == 2, "path containing a comma was corrupted")
    // and so must a quote and a tab, which JSON escapes
    val dir4 = tmpDir("logfile-quote\"tab\tdir")
    write(dir4, "d.log", "2017-01-01 00:00:00,004 INFO four\n")
    val df3 = spark.read.format("logfile").option("pattern", TsPat)
      .load(s"$dir1/a.log", s"$dir4/d.log")
    assert(df3.count() == 2, "path containing a quote and a tab was corrupted")
  }

  test("splittable compressed input (bzip2) is rejected — reference :163-165 parity") {
    val dir = tmpDir("logfile-bzip2")
    val conf = new org.apache.hadoop.conf.Configuration()
    val codec = new org.apache.hadoop.io.compress.BZip2Codec()
    codec.setConf(conf)
    val f = new File(dir, "a.log.bz2")
    val os = codec.createOutputStream(new java.io.FileOutputStream(f))
    os.write("2017-01-01 00:00:00,001 INFO x\n".getBytes(StandardCharsets.UTF_8))
    os.close()
    val e = intercept[org.apache.spark.SparkException] {
      read(dir).collect()
    }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("splittable compressed")), messages(e).mkString(" | "))
  }

  test("file-column filters push down and prune whole files at planning") {
    val dir = tmpDir("logfile-filepush")
    LogfileFixture.ensure(dir, files = 2, recordsPerFile = 300, seed = 21L)
    val all = read(dir, LogfileFixture.PatternA,
      extra = Map("pattern.*_1.log*" -> LogfileFixture.PatternB))
    val plainOnly = all.filter(col("file").endsWith(".log"))
    // planner must not plan a split of the .gz twins
    val plainSplits = plannedSplits(plainOnly)
    assert(plainSplits.nonEmpty && plainSplits.forall(_.path.endsWith(".log")), plainSplits)
    assert(plannedSplits(all).count(_.path.endsWith(".gz")) == 2)
    val scanDesc = plainOnly.queryExecution.executedPlan.toString()
    assert(scanDesc.contains("PushedFileFilters=[StringEndsWith(file,.log)]"), scanDesc)
    // and results equal the post-scan-filter semantics
    assert(plainOnly.count() == all.count() / 2)
    // unsupported filters (on record) stay above the scan and still work
    val recs = all.filter(col("record").contains("ERROR"))
    assert(recs.queryExecution.executedPlan.toString()
      .contains("PushedFileFilters=[]"))
    assert(recs.count() > 0)
  }

  test("count(*) over empty projection works") {
    val dir = tmpDir("logfile-count")
    LogfileFixture.ensure(dir, files = 1, recordsPerFile = 100, seed = 3L)
    val n = read(dir, LogfileFixture.PatternA).count()
    assert(n > 0)
  }

  test("generality: multiline pretty-printed JSON records assemble and parse via from_json") {
    val dir = tmpDir("logfile-json")
    // a record starts at a lone '{' — everything else is continuation
    write(dir, "a.jsonl",
      """{
        |  "level": "ERROR",
        |  "msg": "boom",
        |  "stack": ["a", "b"]
        |}
        |{
        |  "level": "INFO",
        |  "msg": "ok"
        |}
        |""".stripMargin)
    val df = read(dir, pattern = """\{""")
    val rows = df.orderBy("offset").collect()
    assert(rows.length == 2, "one record per top-level JSON object")
    assert(rows(0).getAs[String]("record").split("\n").length == 5)
    import org.apache.spark.sql.functions.{col, from_json}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("level", StringType), StructField("msg", StringType),
      StructField("stack", ArrayType(StringType))))
    val parsed = df.select(from_json(col("record"), schema).as("j"))
      .select(col("j.level"), col("j.msg"), col("j.stack"))
      .orderBy("level").collect()
    assert(parsed(0).getString(0) == "ERROR" && parsed(0).getString(1) == "boom")
    assert(parsed(0).getSeq[String](2) == Seq("a", "b"))
    assert(parsed(1).getString(0) == "INFO" && parsed(1).isNullAt(2))
  }

  test("custom scan metrics: bytes read, records assembled, split-spanning records") {
    val dir = tmpDir("logfile-metrics")
    // two records, the first multiline so tiny splits force boundary spans
    val content =
      """2017-01-01 00:00:00,001 ERROR boom
        |java.lang.IllegalStateException: x
        |	at com.example.A.f(A.java:1)
        |2017-01-01 00:00:00,002 INFO done
        |""".stripMargin
    write(dir, "a.log", content)
    val df = read(dir, maxSplit = 16)
    // collect() (not count()) so THIS QueryExecution's scan node runs — its
    // SQL-metric accumulators are the ones asserted below
    assert(df.collect().length == 2)
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))
    // metric values flow task → driver through the SQL-metric accumulators
    // (the same channel the SQL UI reads); df.count() above populated them
    val m = scan.metrics
    assert(m.contains(LogfileMetrics.BytesRead)
      && m.contains(LogfileMetrics.RecordsAssembled)
      && m.contains(LogfileMetrics.RecordsSpanningSplits), m.keys.mkString(","))
    assert(m(LogfileMetrics.RecordsAssembled).value == 2, m.toString)
    // realignment re-reads make bytesRead ≥ file size under tiny splits
    assert(m(LogfileMetrics.BytesRead).value >= content.getBytes.length, m.toString)
    assert(m(LogfileMetrics.RecordsSpanningSplits).value >= 1,
      "a 3-line record over 16-byte splits must span at least one boundary")
  }

  test("preferred locations: block hosts ranked by overlap; populated from local FS") {
    import org.apache.hadoop.fs.BlockLocation
    val blocks = Array(
      new BlockLocation(Array("h1:1", "h2:1"), Array("h1", "h2"), 0L, 100L),
      new BlockLocation(Array("h2:1", "h3:1"), Array("h2", "h3"), 100L, 100L))
    // split [80, 180): 20 bytes from block 1, 80 from block 2 → h2 first
    assert(LogfileLocality.rank(Seq((blocks, 80L, 100L))).toSeq == Seq("h2", "h3", "h1"))
    // no overlap → empty
    assert(LogfileLocality.rank(Seq((blocks, 200L, 50L))).isEmpty)
    // a task of several splits sums overlap over them: [80, 180) above
    // gives h1 20, h2 100, h3 80; [0, 100) of another file on h4/h1 adds
    // h4 100 and h1 100 → h1 120, then the h2/h4 tie in first-seen order
    val other = Array(new BlockLocation(Array("h4:1", "h1:1"), Array("h4", "h1"), 0L, 150L))
    assert(LogfileLocality.rank(Seq((blocks, 80L, 100L), (other, 0L, 100L))).toSeq ==
      Seq("h1", "h2", "h4", "h3"))

    // end-to-end: local FS reports localhost for every block; the planner
    // must attach it to each task of splits (the FileInputFormat.getSplits
    // parity)
    val dir = tmpDir("logfile-locality")
    LogfileFixture.ensure(dir, files = 1, recordsPerFile = 200, seed = 9L)
    val df = read(dir, LogfileFixture.PatternA, maxSplit = 4096)
    val parts = scanOf(df).inputPartitions
    val splits = parts.flatMap(_.asInstanceOf[LogfileSplitGroup].splits)
    assert(splits.length > 1, "expected a multi-split plan")
    parts.foreach { p =>
      assert(p.preferredLocations().contains("localhost"),
        s"partition $p missing local-FS block host")
    }
  }

  // ---- limit pushdown: a peek must not read the whole corpus ----

  test("pushed-down limit stops the partition reader early") {
    val dir = tmpDir("logfile-limit")
    val lines = (1 to 5000).map(i =>
      f"2017-01-01 00:00:$i%02d,001 INFO record number $i").mkString("", "\n", "\n")
    write(dir, "big.log", lines)

    // direct reader: limit=3 emits exactly 3 records and then refuses,
    // even though thousands more follow in the stream
    val conf = spark.sessionState.newHadoopConf()
    val split = LogfilePartition(new File(dir, "big.log").getAbsolutePath,
      0L, Long.MaxValue, TsPat)
    val reader = new LogfilePartitionReader(split, conf,
      LogfileTable.Schema, limit = Some(3))
    var n = 0
    while (reader.next()) n += 1
    reader.close()
    assert(n == 3, s"reader must stop at the pushed limit, emitted $n")

    // end-to-end: the scan carries the limit (visible in its description)
    // and the query still returns exactly `limit` correct records
    val df = read(dir).limit(3)
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[String]("record").contains("record number")))
    val scan = df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("PushedLimit=3"),
      s"limit must reach the scan: ${scan.scan.description()}")
  }

  test("COUNT(*) pushes into the scan and matches the row-by-row count") {
    val dir = tmpDir("logfile-countagg")
    LogfileFixture.ensure(dir, files = 2, recordsPerFile = 250, seed = 33L)
    val df = read(dir, LogfileFixture.PatternA, maxSplit = 4096)
    val full = df.collect().length.toLong

    val counted = df.groupBy().count()
    assert(counted.collect().head.getLong(0) == full,
      "pushed count must equal the assembled-record count")
    // the aggregate sits under AQE — assert on the final executed plan text
    val p = counted.queryExecution.executedPlan.toString()
    assert(p.contains("PushedAggregation=[COUNT(*)]"),
      s"count must reach the scan:\n$p")
    // multiline assembly semantics survive the pushdown: ERROR records with
    // continuation lines count as ONE record, not one per line
    assert(df.count() == full)
  }

  test("grouped and non-count aggregates do NOT push; results stay correct") {
    val dir = tmpDir("logfile-countagg2")
    LogfileFixture.ensure(dir, files = 1, recordsPerFile = 100, seed = 34L)
    val df = read(dir, LogfileFixture.PatternA)
    val grouped = df.groupBy(col("file")).count()
    assert(grouped.collect().map(_.getLong(1)).sum == df.count())
    val p = grouped.queryExecution.executedPlan.toString()
    assert(!p.contains("PushedAggregation"),
      s"grouped count must plan the normal scan:\n$p")
    val maxOff = df.agg(max(col("offset"))).collect().head.getLong(0)
    assert(maxOff > 0, "non-count aggregate computes over real rows")
  }

  test("limit pushdown is PARTIAL: multi-split plans still return exact rows") {
    val dir = tmpDir("logfile-limit-splits")
    LogfileFixture.ensure(dir, files = 2, recordsPerFile = 300, seed = 21L)
    val full = read(dir, LogfileFixture.PatternA, maxSplit = 4096)
    val total = full.count()
    // global limit above the scan keeps exactness even though each of the
    // many partitions may emit up to `limit` rows
    assert(full.limit(7).count() == 7)
    assert(full.limit(total.toInt + 50).count() == total,
      "limit larger than the corpus returns every record exactly once")
  }
}
