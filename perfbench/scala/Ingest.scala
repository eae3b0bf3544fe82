package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.SplittableRandom
import java.util.regex.Pattern
import java.util.zip.GZIPOutputStream

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.Text
import org.apache.hadoop.util.LineReader
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.logfile.{LogfilePartition, LogfilePartitionReader,
  LogfileScanBuilder, LogfileTable}

/** The benchmark's own logfile corpus: the reference's shape (layouts A and
  * B alternating by file, INFO:WARN:ERROR = 500:500:1, every ERROR a
  * multiline stack trace, one record per 5 simulated ms), each file written
  * plain and as a byte-identical gzip twin. Everything derives from the
  * seed; a finished corpus is cached per (seed, size) and reused.
  */
object Corpus {
  /** First-line regexes of the reference's two layouts. */
  val PatternA: String = """^(?<timestamp>[0-9]{4}-[0-9]{2}-[0-9]{2}\s[0-2][0-9]:[0-5][0-9]:[0-5][0-9],[0-9]{3})\s\|\s(?<loglevel>INFO|WARN|ERROR)\s\|\s.*"""
  val PatternB: String = """^(?<loglevel>INFO|WARN|ERROR)\s\|\s(?<timestamp>[0-9]{4}-[0-9]{2}-[0-9]{2}\s[0-2][0-9]:[0-5][0-9]:[0-5][0-9],[0-9]{3})\s\|\s.*"""

  final case class Truth(total: Long, info: Long, warn: Long, error: Long, lines: Long) {
    def byLevel: Map[String, Long] = Map("INFO" -> info, "WARN" -> warn, "ERROR" -> error)
  }

  def fileName(i: Int): String = s"app-$i.log"
  def patternOf(i: Int): String = if (i % 2 == 0) PatternA else PatternB

  private val Classes = Array("A", "B", "C", "D", "E")
    .map(c => s"de.comdirect.hadoop.logfile.inputformat.test.$c")
  private val Messages = Array("customer #%05d logged in.", "customer #%05d logged out.",
    "customer #%05d failed password attempt.", "order %d accepted.", "payment %d settled.")
  private val Exceptions = Array("java.lang.NullPointerException",
    "java.lang.IllegalStateException: invalid state", "java.io.IOException: connection reset")
  private val DayMs = 86400000L
  private val Start = java.time.LocalDate.of(2026, 7, 1).toEpochDay * DayMs

  /** Ensure `files` file pairs of `perFile` records for `seed` under `root`;
    * returns the directory, the generator's truth and the generation time
    * (0 when the cached copy was reused). Older seeds are evicted so the
    * cache holds at most three corpora.
    */
  def ensure(root: String, seed: Long, files: Int, perFile: Int): (File, Truth, Double) = {
    val dir = new File(root, s"seed-$seed-${files}x$perFile")
    val marker = new File(dir, "_truth")
    if (marker.exists()) {
      val v = new String(Files.readAllBytes(marker.toPath), UTF_8).trim.split(",").map(_.toLong)
      return (dir, Truth(v(0), v(1), v(2), v(3), v(4)), 0.0)
    }
    evict(new File(root), keep = 2)
    deleteTree(dir)
    dir.mkdirs()
    val (truths, secs) = Timing.secs {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(4, Runtime.getRuntime.availableProcessors())))
      try {
        val fs = (0 until files).map(i => pool.submit(() => writePair(dir, seed, i, perFile)))
        fs.map(_.get())
      } finally pool.shutdown()
    }
    val t = truths.reduce((a, b) => Truth(a.total + b.total, a.info + b.info,
      a.warn + b.warn, a.error + b.error, a.lines + b.lines))
    Files.write(marker.toPath,
      Seq(t.total, t.info, t.warn, t.error, t.lines).mkString(",").getBytes(UTF_8))
    (dir, t, secs)
  }

  private def writePair(dir: File, seed: Long, i: Int, perFile: Int): Truth = {
    val rng = new SplittableRandom(seed * 1000003L + i)
    val sb = new java.lang.StringBuilder(perFile * 110)
    var info, warn, error, lines = 0L
    val dayBase = Start + i * DayMs
    val date = java.time.LocalDate.ofEpochDay(dayBase / DayMs).toString
    def two(n: Long): Unit = { if (n < 10) sb.append('0'); sb.append(n) }
    for (k <- 0 until perFile) {
      val ms = k * 5L
      val r = rng.nextInt(1001)
      val level = if (r < 500) { info += 1; "INFO" } else if (r < 1000) { warn += 1; "WARN" }
        else { error += 1; "ERROR" }
      val cls = Classes(rng.nextInt(Classes.length))
      val msg =
        if (level == "ERROR") Exceptions(rng.nextInt(Exceptions.length))
        else Messages(rng.nextInt(Messages.length)).format(rng.nextInt(100000))
      def ts(): Unit = {
        sb.append(date).append(' ')
        two(ms / 3600000L); sb.append(':'); two(ms / 60000L % 60); sb.append(':')
        two(ms / 1000L % 60); sb.append(',')
        val milli = ms % 1000
        if (milli < 100) sb.append('0'); if (milli < 10) sb.append('0'); sb.append(milli)
      }
      if (i % 2 == 0) { ts(); sb.append(" | ").append(level) }
      else { sb.append(level).append(" | "); ts() }
      sb.append(" | ").append(cls).append(" | ").append(msg).append('\n')
      lines += 1
      if (level == "ERROR") {
        val depth = 3 + rng.nextInt(6)
        for (d <- 0 until depth) {
          sb.append("\tat de.comdirect.hadoop.logfile.inputformat.test.Layer").append(d)
            .append(".invoke(Layer").append(d).append(".java:").append(10 + rng.nextInt(90))
            .append(")\n")
          lines += 1
        }
      }
    }
    val bytes = sb.toString.getBytes(UTF_8)
    val plain = new BufferedOutputStream(new FileOutputStream(new File(dir, fileName(i))))
    try plain.write(bytes) finally plain.close()
    val gz = new GZIPOutputStream(new FileOutputStream(new File(dir, fileName(i) + ".gz")), 1 << 16)
    try gz.write(bytes) finally gz.close()
    Truth(perFile, info, warn, error, lines)
  }

  private def evict(root: File, keep: Int): Unit =
    Option(root.listFiles()).map(_.toSeq).getOrElse(Nil)
      .filter(_.isDirectory).sortBy(-_.lastModified()).drop(keep).foreach(deleteTree)

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The `ingest` workload: the paper's pipeline over the seeded corpus,
  * three timed passes per round — count by level over the plain files,
  * the same over the gzip twins, and the reference's 1% `Sample` export.
  */
object Ingest {
  val Files = 8
  val PerFile = 80000
  /** Plain files span several splits at this size. */
  val SplitBytes: Long = 2L << 20
  /** Files in the small corpus the kernel probes use on other workloads. */
  val ProbeFiles = 2

  def reader(spark: SparkSession, dir: File, files: Int): DataFrame = {
    var r = spark.read.format("logfile")
      .option("pattern", Corpus.PatternA)
      .option("maxsplitbytes", SplitBytes.toString)
    for (i <- 1 until files by 2)
      r = r.option(s"pattern.${Corpus.fileName(i)}*", Corpus.PatternB)
    r.load(dir.getPath)
  }

  def countByLevel(spark: SparkSession, dir: File, files: Int, suffix: String)
      : (Map[String, Long], Map[String, Long]) = {
    val df = reader(spark, dir, files)
      .where(col("file").endsWith(suffix))
      .select(regexp_extract(substring_index(col("record"), "\n", 1),
        "\\b(INFO|WARN|ERROR)\\b", 1).as("level"))
      .groupBy("level").count()
    val counts = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (counts, scanMetrics(df))
  }

  /** Summed SQL metrics of every logfile scan node in `df`'s executed plan. */
  def scanMetrics(df: DataFrame): Map[String, Long] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case other => other +: other.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan).collect { case b: BatchScanExec => b }
      .flatMap(_.metrics.toSeq).groupBy(_._1).map { case (k, v) => k -> v.map(_._2.value).sum }
  }

  private def bytesOf(dir: File, suffix: String): Long =
    dir.listFiles().filter(_.getName.endsWith(suffix)).map(_.length).sum

  def run(spark: SparkSession, o: Opts, res: Result, tracer: Tracer): Unit = {
    val (dir, truth, genS) = Corpus.ensure(o.corpus, o.seed, Files, PerFile)
    res.info("gen_s") = genS
    val plainBytes = bytesOf(dir, ".log")
    val gzBytes = bytesOf(dir, ".log.gz")
    res.info("corpus") = Map("files" -> Files, "records_per_kind" -> truth.total,
      "plain_mb" -> plainBytes / 1e6, "gz_mb" -> gzBytes / 1e6, "split_bytes" -> SplitBytes)
    val sampleOut = new File(o.work, "sample")

    def checkCounts(kind: String, counts: Map[String, Long], m: Map[String, Long]): Unit = {
      res.check(counts == truth.byLevel, s"$kind counts $counts != truth ${truth.byLevel}")
      val assembled = m.getOrElse("logfileRecordsAssembled", -1L)
      res.check(assembled == truth.total,
        s"$kind records_assembled $assembled != truth ${truth.total}")
    }

    var lastPlainMetrics = Map.empty[String, Long]
    /** One pass; returns its wall seconds (None when it failed). */
    def pass(kind: String, round: Int): Option[Double] = kind match {
      case "plain" | "gz" =>
        val suffix = if (kind == "plain") ".log" else ".log.gz"
        res.attempt(s"$kind pass")(tracer.op(s"ingest $kind")(
          countByLevel(spark, dir, Files, suffix))).map { case ((counts, m), t) =>
          checkCounts(kind, counts, m)
          if (kind == "plain") lastPlainMetrics = m
          t
        }
      case "sample" =>
        res.attempt("sample pass")(tracer.op("ingest sample")(
          reader(spark, dir, Files).where(col("file").endsWith(".log"))
            .sample(withReplacement = false, 0.01, o.seed * 7919L + round)
            .select(concat(substring_index(col("file"), "/", -1), lit("\t"), col("record")))
            .write.mode("overwrite").text(sampleOut.getPath))).map { case (_, t) =>
          checkSample(sampleOut, truth, res)
          t
        }
    }

    val kinds = Seq("plain", "gz", "sample")
    type Round = Map[String, Double]
    def rounds(budget: Double, min: Int, first: Int): Seq[Round] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[Round]
      var n = 0
      while (n < min || (System.nanoTime() - t0) / 1e9 < budget) {
        out += kinds.flatMap(k => pass(k, first + n).map(k -> _)).toMap
        n += 1
      }
      out.result()
    }

    rounds(0, 2, -2) // warm-up: JIT, codegen, page cache
    val (untraced, traced) =
      if (!o.trace) (rounds(o.seconds, 3, 1), Nil)
      else {
        val from = Clock.nowMs
        val r = tracer.alternate(o.seconds, 2)(i => rounds(0, 1, 1 + i).head)
        tracer.drain()
        tracer.layerMetrics(from, Clock.nowMs, r._2.size, o.cores, res)
        r
      }
    Corpus.deleteTree(sampleOut)

    def rates(rs: Seq[Round], k: String): Seq[Double] = rs.flatMap(_.get(k)).map(truth.total / _)
    def full(rs: Seq[Round]): Seq[Double] = rs.filter(_.size == kinds.size).map(_.values.sum)
    kinds.foreach { k =>
      val rec = rates(untraced, k)
      if (rec.nonEmpty) {
        val r = Stats.median(rec)
        res.e2e(s"ingest_${k}_rec_s") = (r, "rec/s")
        // every kind reads the plain files' logical bytes
        res.info(s"ingest_${k}_mb_s") = r * plainBytes / truth.total / 1e6
        res.info(s"ingest_${k}_passes") = rec.size
      }
    }
    if (kinds.forall(k => untraced.exists(_.contains(k))))
      res.e2e("pass_s") = (kinds.map(k => Stats.median(untraced.flatMap(_.get(k)))).sum, "s")
    val allTimes = untraced.flatMap(_.values)
    if (allTimes.nonEmpty)
      res.e2e("throughput_per_s") = (allTimes.size * truth.total / allTimes.sum, "1/s")
    if (o.trace) {
      if (full(traced).nonEmpty && full(untraced).nonEmpty)
        res.layers("trace.overhead_frac") =
          (Stats.median(full(traced)) / Stats.median(full(untraced)) - 1.0, "ratio")
      putScanCounters(lastPlainMetrics, plainBytes, res)
    }
  }

  private def putScanCounters(m: Map[String, Long], bytes: Long, res: Result): Unit = {
    res.layers("logfile.records_assembled") = (m.getOrElse("logfileRecordsAssembled", 0L).toDouble, "count")
    res.layers("logfile.records_spanning") = (m.getOrElse("logfileRecordsSpanningSplits", 0L).toDouble, "count")
    res.layers("logfile.bytes_read_ratio") =
      (m.getOrElse("logfileBytesRead", 0L).toDouble / math.max(1L, bytes), "ratio")
  }

  /** Every exported record's first line must fully match its file's
    * pattern; every other line must be a stack-trace continuation; the
    * record count must be a plausible 1% Bernoulli sample.
    */
  private def checkSample(out: File, truth: Corpus.Truth, res: Result): Unit = {
    val patterns = Seq(Pattern.compile(Corpus.PatternA), Pattern.compile(Corpus.PatternB))
    var records, bad = 0L
    Option(out.listFiles()).getOrElse(Array.empty).filter(_.getName.startsWith("part-")).foreach { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().foreach { line =>
        val tab = line.indexOf('\t')
        if (line.startsWith("app-") && tab > 0) {
          val i = line.substring(4, tab).stripSuffix(".log").toInt
          if (patterns(i % 2).matcher(line.substring(tab + 1)).matches()) records += 1 else bad += 1
        } else if (!line.startsWith("\tat ")) bad += 1
      } finally src.close()
    }
    val mean = truth.total * 0.01
    val sigma = math.sqrt(truth.total * 0.01 * 0.99)
    res.check(records > 0 && bad == 0 && math.abs(records - mean) <= 6 * sigma + 5,
      s"sample export: $records records, $bad malformed lines (expected about ${mean.toLong})")
  }

  private def columnarReader = scala.util.Try(
    Class.forName("graft.sources.logfile.LogfileColumnarReader").getConstructor(
      classOf[LogfilePartitionReader], classOf[StructType], classOf[String], Integer.TYPE)
  ).toOption.map(_.asInstanceOf[java.lang.reflect.Constructor[
    org.apache.spark.sql.connector.read.PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch]]])

  /** Single-thread kernel rates, warm, driven directly on one plain split
    * and one gzip file of the corpus; plus the planner on the whole corpus.
    */
  def kernelProbes(spark: SparkSession, o: Opts, res: Result, tracer: Tracer): Unit = {
    val files = if (o.workload == "ingest") Files else ProbeFiles
    val (dir, _, _) = Corpus.ensure(o.corpus, o.seed, files, PerFile)
    val opts = new CaseInsensitiveStringMap((Map(
      "path" -> dir.getPath, "pattern" -> Corpus.PatternA,
      "maxsplitbytes" -> SplitBytes.toString) ++
      (1 until files by 2).map(i => s"pattern.${Corpus.fileName(i)}*" -> Corpus.PatternB)).asJava)
    /** One warm call, then at least five timed calls and half a second. */
    def timedMedian[T](name: String)(f: => T): (T, Double) = {
      val (r, _) = tracer.op(name, "kernel")(f)
      val ts = mutable.ArrayBuffer.empty[Double]
      while (ts.size < 5 || ts.sum < 0.5) ts += tracer.op(name, "kernel")(f)._2
      (r, Stats.median(ts))
    }
    val (parts, planS) = timedMedian("logfile plan")(
      new LogfileScanBuilder(opts).build().toBatch.planInputPartitions())
    res.layers("logfile.plan_s") = (planS, "s")
    res.layers("logfile.splits") = (parts.length.toDouble, "count")

    val conf = spark.sessionState.newHadoopConf()
    val plain = new File(dir, Corpus.fileName(0))
    // one large split that starts mid-line, so realignment is included
    val split = LogfilePartition("file:" + plain.getAbsolutePath, 1024L, plain.length, Corpus.PatternA)
    val (lines, readS) = timedMedian("logfile readline") {
      val path = new Path(split.path)
      val in = path.getFileSystem(conf).open(path)
      in.seek(split.start)
      val lr = new LineReader(in, conf)
      val t = new Text
      var pos = split.start
      var n = 0L
      var k = 1
      while (pos < split.end && k > 0) { k = lr.readLine(t); pos += k; if (k > 0) n += 1 }
      lr.close()
      n
    }
    res.layers("logfile.readline_lines_s") = (lines / readS, "lines/s")
    val (_, matchS) = timedMedian("logfile match") {
      val r = new LogfilePartitionReader(split, conf, new StructType(), None, countOnly = true)
      try while (r.next()) {} finally r.close()
    }
    res.layers("logfile.match_lines_s") = (lines / matchS, "lines/s")
    def rowRate(p: LogfilePartition, name: String): Double = {
      val (n, s) = timedMedian(name) {
        val r = new LogfilePartitionReader(p, conf, LogfileTable.Schema)
        var n = 0L
        try while (r.next()) { r.get(); n += 1 } finally r.close()
        n
      }
      n / s
    }
    res.layers("logfile.row_rec_s") = (rowRate(split, "logfile row"), "rec/s")
    // looked up by name: the columnar emission path may be deleted (its
    // rate is then simply not reported) without breaking this build
    columnarReader.foreach { ctor =>
      val (cn, colS) = timedMedian("logfile columnar") {
        val r = ctor.newInstance(new LogfilePartitionReader(split, conf, LogfileTable.Schema),
          LogfileTable.Schema, split.path, Integer.valueOf(4096))
        var n = 0L
        try while (r.next()) n += r.get().numRows() finally r.close()
        n
      }
      res.layers("logfile.columnar_rec_s") = (cn / colS, "rec/s")
    }
    val gz = LogfilePartition("file:" + new File(dir, Corpus.fileName(0) + ".gz").getAbsolutePath,
      0L, Long.MaxValue, Corpus.PatternA)
    res.layers("logfile.gz_rec_s") = (rowRate(gz, "logfile gz"), "rec/s")
  }

  /** Scan counters for workloads that do not read logfiles themselves: one
    * count-by-level pass over the probe corpus, checked against its truth.
    */
  def probeScanCounters(spark: SparkSession, o: Opts, res: Result, tracer: Tracer): Unit = {
    val (dir, truth, _) = Corpus.ensure(o.corpus, o.seed, ProbeFiles, PerFile)
    res.attempt("probe scan")(tracer.op("probe scan")(
      countByLevel(spark, dir, ProbeFiles, ".log"))).foreach { case ((counts, m), _) =>
      res.check(counts == truth.byLevel, s"probe counts $counts != truth ${truth.byLevel}")
      putScanCounters(m, bytesOf(dir, ".log"), res)
    }
  }
}
