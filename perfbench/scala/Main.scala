package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** Options `run.py` passes to the workload JVM. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    cores: Int,
    bench: String,    // the benchmark's own directory (expected results)
    data: String,     // parquet tables (queries, tables)
    corpus: String,   // cached logfile corpus root (ingest, kernel probes)
    work: String,     // per-run scratch: table roots, sample output
    sparkLocal: String,
    out: String,      // result JSON
    traceOut: String, // span file (traced runs)
    launchNs: Long)   // wall-clock ns when run.py launched this JVM

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def s(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(s("workload"), s("seed").toLong, s("seconds").toDouble, s("trace") == "1",
      s("cores").toInt, s("bench"), s("data"), s("corpus"), s("work"), s("spark-local"), s("out"),
      m.getOrElse("trace-out", ""), s("launch-ns").toLong)
  }
}

object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    val spark = readySession(o)
    val nowNs = { val i = java.time.Instant.now(); i.getEpochSecond * 1000000000L + i.getNano }
    val setupS = (nowNs - o.launchNs) / 1e9
    val res = new Result
    res.e2e("setup_s") = (setupS, "s")
    res.info("spark_version") = spark.version
    res.info("java_version") = System.getProperty("java.version")
    try {
      runWorkload(spark, o, res)
    } catch { case t: Throwable =>
      res.attempted += 1
      res.failed += 1
      res.failures += s"workload aborted: $t"
      t.printStackTrace()
    }
    res.e2e("peak_rss_mb") = (peakRssMb, "MB")
    Files.write(new File(o.out).toPath, res.toJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Parquet tables whose schemas a workload needs before its first op. */
  private def tablesFor(workload: String): Seq[String] = workload match {
    case "queries" => graft.Tables.all
    case "tables" => Seq("orders")
    case _ => Nil
  }

  /** JVM start to a ready session: session build, `GraftSession.attach`
    * and the schema warm-up of the parquet tables the workload reads.
    */
  def readySession(o: Opts): SparkSession = {
    val spark = graft.GraftSession.attach(
      graft.GraftSession.builder(s"local[${o.cores}]", o.cores)
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", o.sparkLocal)
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    tablesFor(o.workload).foreach(t => graft.Tables(spark, o.data, t).schema)
    spark
  }

  private def runWorkload(spark: SparkSession, o: Opts, res: Result): Unit = {
    val tracer = new Tracer(spark)
    o.workload match {
      case "ingest" => Ingest.run(spark, o, res, tracer)
      case "queries" => Queries.run(spark, o, res, tracer)
      case "tables" => TableOps.run(spark, o, res, tracer)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (o.trace) {
      // layers the workload itself does not exercise are still reported,
      // from a fixed probe of that layer's public calls
      Ingest.kernelProbes(spark, o, res, tracer)
      if (o.workload != "ingest") Ingest.probeScanCounters(spark, o, res, tracer)
      if (o.workload != "tables") TableOps.probeEpisode(spark, o, res, tracer)
      tracer.pause()
      val extra = res.layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
      Files.write(new File(o.traceOut).toPath,
        tracer.toJson(o.workload, extra.toMap).getBytes(StandardCharsets.UTF_8))
    }
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double = {
    val st = new String(Files.readAllBytes(new File("/proc/self/status").toPath))
    st.linesIterator.collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Runtime.getRuntime.totalMemory / 1e6)
  }
}
