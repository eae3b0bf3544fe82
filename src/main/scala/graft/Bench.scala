package graft
import com.fasterxml.jackson.core.io.JsonStringEncoder
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** The one timing harness over [[SparkEntry.queries]]. Every mode shares
  * one core: build the session (`local[SPARK_GRAFT_CPUS]`, default 4), warm
  * the tables, time a query as one noop-sink write, read the load average.
  * The first argument picks the mode:
  *   - none: the suite over `SPARK_GRAFT_SF_DIR` (default sf0.1). Prints
  *     the full per-query JSON line, then a compact total line, and writes
  *     the full line to `SPARK_GRAFT_BENCH_OUT` (default `bench_out.json`).
  *   - `ab <sfDir> <q1,q2,...> [reps]`: each query's per-rep wall and min
  *     in one session (4 reps; rep 1 ≈ cold planning and codegen, min ≈
  *     warm steady state). `SPARK_GRAFT_NO_EXTRAS=1` registers only the SQL
  *     functions and skips the optimizer rules and strategy that
  *     [[GraftSession.attach]] installs; `SPARK_GRAFT_RDD_STATS=1` prints
  *     persisted RDDs and storage used after each rep.
  *   - `profile <sfDir> <q> [reps]`: `ab` of one query (2 reps), plus the
  *     last rep's Spark jobs with their stages, tasks, input and shuffle
  *     bytes — `ab` says how slow, this says where.
  *   - `cold-warm [sfDir]`: every query twice in one session, as
  *     `QWARM,name,cold,warm` CSV — one-time cost (planning, codegen
  *     compile, JIT) apart from steady-state compute.
  *   - `explain <sfDir> [q ...]`: `explain("formatted")` per query (default
  *     a scale-critical subset), to eyeball pushdown, broadcast, codegen.
  * Static Spark confs reach every mode as system properties, e.g.
  * `-Dspark.sql.codegen.cache.maxEntries=N`. Bad arguments print usage and
  * exit 2 before any session starts.
  */
object Bench {
  sealed trait Mode { def sfDir: String }
  final case class Suite(sfDir: String) extends Mode
  final case class AB(sfDir: String, queries: Seq[String], reps: Int,
      profile: Boolean = false) extends Mode
  final case class ColdWarm(sfDir: String) extends Mode
  final case class Explain(sfDir: String, queries: Seq[String]) extends Mode

  private val Usage: String =
    """usage: graft.Bench
      |       graft.Bench ab <sfDir> <q1,q2,...> [reps]
      |       graft.Bench profile <sfDir> <q> [reps]
      |       graft.Bench cold-warm [sfDir]
      |       graft.Bench explain <sfDir> [q ...]""".stripMargin

  val ExplainDefault: Seq[String] = Seq("q01_agg_pricing_summary",
    "q03_join_broadcast_revenue_by_brand", "q04_join_shuffle_orders",
    "q05_join_star_revenue_by_region", "q10_asof_join_latest_order_before_event",
    "q19_topk_orders")

  /** The mode `args` name, or what is wrong with them; `known` holds the
    * declared query names, `sfDir` is the suite's and `cold-warm`'s default.
    */
  def parse(args: Seq[String], known: String => Boolean, sfDir: String): Either[String, Mode] = {
    def queries(names: Seq[String]): Either[String, Seq[String]] =
      names.find(!known(_)) match {
        case Some(q) => Left(s"unknown query: $q")
        case None if names.isEmpty => Left("no query named")
        case None => Right(names)
      }
    def reps(arg: Option[String], default: Int): Either[String, Int] =
      arg.fold[Either[String, Int]](Right(default)) { r =>
        r.toIntOption.filter(_ > 0).toRight(s"reps must be a positive integer: $r")
      }
    args match {
      case Seq() => Right(Suite(sfDir))
      case "ab" +: sf +: qs +: rest if rest.size <= 1 =>
        for (ns <- queries(qs.split(",").map(_.trim).filter(_.nonEmpty).toSeq);
             n <- reps(rest.headOption, 4)) yield AB(sf, ns, n)
      case "profile" +: sf +: q +: rest if rest.size <= 1 =>
        for (ns <- queries(Seq(q)); n <- reps(rest.headOption, 2)) yield AB(sf, ns, n, profile = true)
      case "cold-warm" +: rest if rest.size <= 1 => Right(ColdWarm(rest.headOption.getOrElse(sfDir)))
      case "explain" +: sf +: qs => queries(if (qs.isEmpty) ExplainDefault else qs).map(Explain(sf, _))
      case _ => Left(s"bad arguments: ${args.mkString(" ")}")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mode = parse(args.toSeq, SparkEntry.queries.keySet, sfDir) match {
      case Right(m) => m
      case Left(err) =>
        System.err.println(s"$err\n$Usage")
        sys.exit(2)
    }
    val noExtras = mode.isInstanceOf[AB] && sys.env.get("SPARK_GRAFT_NO_EXTRAS").contains("1")
    val spark = session(attach = !noExtras)
    // CONTENTION CONTEXT: the host's 1-min load average at start and end
    // rides the artifact, so an n_retimed drift across rounds is
    // attributable — a re-time burst with load >> bench CPUs is neighbor
    // contention, with idle load it is a real plan change worth chasing
    val loadStart = loadAvg
    warmTables(spark, mode.sfDir)
    try mode match {
      case Suite(sf) => suite(spark, sf, loadStart)
      case m: AB => ab(spark, m, f"cpus=$cpus noExtras=$noExtras load=$loadStart%.2f")
      case ColdWarm(sf) =>
        println("QWARM,name,cold,warm")
        SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
          val Seq(c, w) = Seq.fill(2)(timeOnce(spark, sf, fn)).map { case (t, err) =>
            err.foreach(e => println(s"ERR $e"))
            t
          }
          println(f"QWARM,$name,$c%.3f,$w%.3f")
        }
      case Explain(sf, names) => names.foreach { n =>
        println(s"\n========== $n ==========")
        SparkEntry.queries(n)(spark, sf).explain("formatted")
      }
    } finally spark.stop()
  }

  /** Local cores of every main's session: `SPARK_GRAFT_CPUS`, else 4. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The engine's own session factory (UTC + AQE + nanos-parquet +
    * GraftExtensions) on [[cpus]] cores, the session shape users get.
    * Without `attach` only the graft SQL functions are registered.
    */
  private[graft] def session(attach: Boolean = true): SparkSession = {
    val spark = GraftSession.builder(s"local[$cpus]", cpus.toInt)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (attach) GraftSession.attach(spark)
    else {
      graft.functions.expressions.HammingDistance.register(spark)
      graft.functions.expressions.CosineSimilarity.register(spark)
      spark
    }
  }

  /** Warm-up: JIT/codegen paths and parquet footers, so per-query numbers
    * measure the query, not first-use costs of the shared machinery.
    */
  private def warmTables(spark: SparkSession, sfDir: String): Unit =
    Tables.all.foreach { t =>
      try Tables(spark, sfDir, t).count() catch { case _: Throwable => () }
    }

  /** Time a noop-sink write, not .count(): under a bare count Catalyst
    * prunes every projection and drops top-level sorts, so select/sort-heavy
    * queries would under-measure. The noop sink consumes every row of the
    * declared plan. A failure is returned with its time (never swallowed
    * into a plausible-looking time).
    */
  private def timeOnce(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
    val t0 = System.nanoTime()
    val err = try {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      None
    } catch { case t: Throwable =>
      Some(t.getClass.getSimpleName + ": " +
        Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString.take(160))
    }
    ((System.nanoTime() - t0) / 1e9, err)
  }

  /** The host's 1-min load average; -1.0 where unsupported. */
  private def loadAvg: Double = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean.getSystemLoadAverage

  private def suite(spark: SparkSession, sfDir: String, loadStart: Double): Unit = {
    // UNTIMED warm pass over the first dozen queries in run order: the JVM
    // JIT, Janino codegen cache, and shuffle machinery warm across a
    // spread of plan shapes, not just one. Three rounds of bench artifacts
    // showed the suite's early positions (q01..q10, then the q10x block)
    // reporting 2-5x their isolated warm cost — this, plus the end-of-run
    // re-time below, keeps the artifact's slowest-five within the
    // documented 2x band of isolated `ab` reps.
    val inOrder = SparkEntry.queries.toSeq.sortBy(_._1)
    inOrder.take(12).foreach { case (_, fn) => timeOnce(spark, sfDir, fn) }
    // SPIKE RESISTANCE: single-shot timing on a contended host can report
    // 60x a query's true cost (a neighbor's load spike lands inside the
    // sample). Any sample exceeding 2.5x the running median of completed
    // queries (and a 3 s floor, so cheap-surface jitter is never re-run)
    // is re-timed twice and the MIN of the three kept — a spike can only
    // inflate a sample, never deflate it, and a surviving spike needs three
    // consecutive contended samples, which the load_avg fields would show.
    // Retries are counted in the artifact so it self-documents how
    // contended the run was.
    var retried = 0
    val done = scala.collection.mutable.ArrayBuffer.empty[Double]
    val firstPass = inOrder.map { case (name, fn) =>
      val (t1, e1) = timeOnce(spark, sfDir, fn)
      val median =
        if (done.isEmpty) t1
        else { val s = done.sorted; s(s.length / 2) }
      val (t, e) =
        if (e1.isEmpty && t1 > 3.0 && t1 > 2.5 * median) {
          retried += 1
          val samples = t1 +: Seq.fill(2)(timeOnce(spark, sfDir, fn))
            .collect { case (tn, None) => tn }
          (samples.min, e1)
        } else (t1, e1)
      if (e.isEmpty) done += t
      (name, t, e)
    }
    // COLD-START CORRECTION: the suite's slowest five are re-timed once at
    // the END of the run — fully warm JVM, same session — and the per-query
    // MIN kept. A genuinely heavy query re-times within noise; a sample
    // that was only "slow" because it ran early in the JIT curve collapses
    // to its warm cost, comparable to isolated `ab` reps (which showed
    // early-position samples at 2-5x warm cost). Counted SEPARATELY from
    // the spike retries: n_retimed stays the contention signal
    // (spike-triggered only), n_warm_retimed counts this pass.
    var warmRetimed = 0
    val slowestNames = firstPass.filter(_._3.isEmpty).sortBy(-_._2).take(5).map(_._1).toSet
    val results = firstPass.map {
      case (name, t, None) if slowestNames.contains(name) =>
        warmRetimed += 1
        val (t2, e2) = timeOnce(spark, sfDir, SparkEntry.queries(name))
        if (e2.isEmpty) (name, math.min(t, t2), None) else (name, t, None)
      case other => other
    }
    val (fullJson, compactJson) = suiteLines(results, retried, warmRetimed, loadStart, loadAvg, sfDir)
    println(fullJson)
    // the full per-query line ALSO lands in a file: the driver keeps only a
    // bounded stdout tail, and three rounds of BENCH_r*.json carried
    // "parsed": null because this line lost its head to that truncation —
    // a file survives verbatim regardless of how much the queries log
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try {
      val w = new java.io.PrintWriter(outFile, "UTF-8")
      try w.println(fullJson) finally w.close()
    } catch { case t: Throwable =>
      System.err.println(s"bench_out write failed ($outFile): $t")
    }
    // compact summary as the LAST line: the driver keeps only the tail of
    // stdout, and with 100+ queries the full line above loses its head
    // (metric/value) to truncation — this one always survives intact
    println(compactJson)
  }

  private def ab(spark: SparkSession, mode: AB, setting: String): Unit = {
    println(s"== ${if (mode.profile) "profile" else "ab"} $setting")
    val rddStats = sys.env.get("SPARK_GRAFT_RDD_STATS").contains("1")
    val results = mode.queries.map { name =>
      val fn = SparkEntry.queries(name)
      val runs = (1 to mode.reps).map { i =>
        val profile = Option.when(mode.profile && i == mode.reps)(new JobProfile)
        profile.foreach(spark.sparkContext.addSparkListener)
        val (t, err) = timeOnce(spark, mode.sfDir, fn)
        println(f"== $name rep $i: $t%.2f s" + err.fold("")(" ERR " + _))
        if (rddStats) {
          val pr = spark.sparkContext.getPersistentRDDs
          val mem = spark.sparkContext.getExecutorMemoryStatus.values
            .map { case (max, free) => max - free }.sum
          println(f"   persistentRDDs=${pr.size} storageUsed=${mem / 1e6}%.1fMB")
        }
        profile.foreach { p =>
          Thread.sleep(300) // let listener drain
          p.print()
        }
        t
      }
      println(f"$name%-36s min=${runs.min}%.3f  " + runs.map(t => f"$t%.3f").mkString(" "))
      name -> runs.min
    }
    println(f"== sum_min=${results.map(_._2).sum}%.3f load_end=$loadAvg%.2f")
  }

  /** The suite's two JSON lines: every query's time and error, then the
    * compact total that survives a truncated stdout tail.
    */
  private[graft] def suiteLines(results: Seq[(String, Double, Option[String])], retried: Int,
      warmRetimed: Int, loadStart: Double, loadEnd: Double, sfDir: String): (String, String) = {
    val total = results.map(_._2).sum
    // the MXBean returns -1.0 where load average is unsupported — emit
    // null rather than a misleading -1.00 "load"
    def loadField(k: String, v: Double) =
      if (v < 0) s""""$k":null""" else f""""$k":$v%.2f"""
    val loadJson = loadField("load_avg_start", loadStart) + "," +
      loadField("load_avg_end", loadEnd) + s""","bench_cpus":$cpus"""
    val qs = results.map { case (k, v, e) =>
      "\"" + k + "\":" + (if (e.isDefined) -v else v)
    }.mkString("{", ",", "}")
    val errs = results.collect { case (k, _, Some(e)) =>
      "\"" + k + "\":\"" + new String(JsonStringEncoder.getInstance.quoteAsString(e)) + "\""
    }.mkString("{", ",", "}")
    val slowest = results.sortBy(-_._2).take(5)
      .map { case (k, v, _) => "\"" + k + f"""\":$v%.2f""" }.mkString("{", ",", "}")
    (s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"n_retimed":$retried,"n_warm_retimed":$warmRetimed,$loadJson,"sf":"$sfDir"}""",
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","n_queries":${results.size},"n_errors":${results.count(_._3.isDefined)},"n_retimed":$retried,"n_warm_retimed":$warmRetimed,$loadJson%s,"slowest":$slowest,"sf":"$sfDir"}""")
  }

  /** Per-job breakdown of what ran while attached: which Spark jobs a query
    * launches, how long each takes, and the stage-level input/shuffle
    * volumes. Stages are attributed by the job that declared them.
    */
  private final class JobProfile extends SparkListener {
    private case class J(id: Int, var desc: String = "", var t0: Long = 0L, var t1: Long = 0L,
      var stages: Int = 0, var tasks: Int = 0, var inBytes: Long = 0L,
      var shWrite: Long = 0L, var shRead: Long = 0L)
    private val jobs = mutable.LinkedHashMap.empty[Int, J]
    private val stageToJob = mutable.HashMap.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val j = J(e.jobId); j.t0 = e.time
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // description when set, else a best-effort graft frame from the
      // submitting thread's stack (it is blocked in runJob while the job
      // runs, so the listener usually catches it mid-action) — the only
      // way to tell 15 anonymous ~40 ms table-op jobs apart
      def graftFrame: Option[String] = {
        import scala.jdk.CollectionConverters._
        Thread.getAllStackTraces.asScala.values.flatMap { st =>
          st.find { f =>
            f.getClassName.startsWith("graft.") &&
              !f.getClassName.startsWith("graft.Bench")
          }
        }.headOption.map(f =>
          s"@${f.getClassName.stripPrefix("graft.")}.${f.getMethodName}:${f.getLineNumber}")
      }
      j.desc = prop("spark.job.description")
        .orElse(prop("callSite.short")).orElse(graftFrame).getOrElse("").take(90)
      jobs(e.jobId) = j
      // jobStart carries the job's stage ids: exact attribution even when
      // jobs overlap (AQE re-optimization, broadcast jobs)
      e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
      val si = e.stageInfo
      stageToJob.get(si.stageId).flatMap(jobs.get)
        .orElse(jobs.values.lastOption).foreach { j =>
        j.stages += 1; j.tasks += si.numTasks
        j.inBytes += si.taskMetrics.inputMetrics.bytesRead
        j.shWrite += si.taskMetrics.shuffleWriteMetrics.bytesWritten
        j.shRead += si.taskMetrics.shuffleReadMetrics.remoteBytesRead +
          si.taskMetrics.shuffleReadMetrics.localBytesRead
      }
    }

    def print(): Unit = jobs.synchronized {
      val tot = jobs.values.map(j => j.t1 - j.t0).sum / 1e3
      println(f"   jobs=${jobs.size} sum_job_time=$tot%.2f s")
      jobs.values.toSeq.sortBy(j => -(j.t1 - j.t0)).take(25).foreach { j =>
        println(f"   job ${j.id}%3d ${(j.t1 - j.t0) / 1e3}%6.2f s stages=${j.stages}%2d tasks=${j.tasks}%4d in=${j.inBytes / 1e6}%8.1fMB shW=${j.shWrite / 1e6}%7.1fMB shR=${j.shRead / 1e6}%7.1fMB  ${j.desc}")
      }
    }
  }
}
