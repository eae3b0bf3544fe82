package graft
import org.apache.spark.sql.functions._
/** Scaled replica of the reference's integration workload (README.md:92-100:
  * 172.8M records, plain+gz, count-by-level vs generator truth) — run with
  * `runMain graft.ThroughputDemo [recordsPerFile] [files]`, on the
  * harness's session ([[Bench]]: `local[SPARK_GRAFT_CPUS]`, default 4).
  */
object ThroughputDemo {
  def main(args: Array[String]): Unit = {
    val perFile = args.headOption.map(_.toInt).getOrElse(1350000)
    val files = args.drop(1).headOption.map(_.toInt).getOrElse(16)
    val spark = Bench.session()
    val dir = "/tmp/graft_throughput"
    val t0 = System.nanoTime()
    val truth = sources.logfile.LogfileFixture.ensure(dir, files, perFile, seed = 99L)
    println(f"TIMER generate: ${(System.nanoTime()-t0)/1e9}%.1f s for ${truth.total} records x2 (plain+gz)")
    val plainBytes = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".log")).map(_.length).sum
    val gzBytes = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".gz")).map(_.length).sum
    println(f"TIMER corpus: plain ${plainBytes/1e9}%.2f GB, gz ${gzBytes/1e9}%.2f GB")

    def read() = {
      var r = spark.read.format("logfile")
        .option("pattern", sources.logfile.LogfileFixture.PatternA)
      for (i <- 1 until files by 2)
        r = r.option(s"pattern.*_$i.log*", sources.logfile.LogfileFixture.PatternB)
      r.load(dir)
    }
    // reference Test pipeline: count by level over plain+gz, compare to truth;
    // run twice in the same JVM — the first pass is JIT/page-cache cold, the
    // second warm
    def runOnce(pass: String): Map[(String, String), Long] = {
      val t1 = System.nanoTime()
      val counts = read()
        .withColumn("kind", when(col("file").endsWith(".gz"), "gz").otherwise("plain"))
        .withColumn("level", regexp_extract(
          substring_index(col("record"), "\n", 1), "\\b(INFO|WARN|ERROR)\\b", 1))
        .groupBy("kind", "level").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val secs = (System.nanoTime()-t1)/1e9
      println(f"TIMER read+count plain+gz [$pass]: $secs%.1f s = ${2*truth.total/secs/1e6}%.2f M rec/s, ${(plainBytes*2)/1e6/secs}%.0f MB/s logical")
      counts
    }
    try {
    val passes = Seq(runOnce("cold"), runOnce("warm"))
    // every pass must agree with generator truth
    val ok = passes.zipWithIndex.forall { case (counts, i) =>
      def got(k: String, l: String): Long = counts.getOrElse((k, l), 0L)
      val pass = Seq("plain", "gz").forall { k =>
        got(k, "INFO") == truth.info && got(k, "WARN") == truth.warn &&
          got(k, "ERROR") == truth.error }
      if (!pass) println(s"TIMER pass ${i + 1} diverges from truth: $counts")
      pass
    }
    println(s"TIMER correctness vs generator truth (both passes): ${if (ok) "SUCCESS" else "FAILURE"}")
    if (!ok) sys.exit(1)
    } finally {
      // always clean the big corpus, even when the read/verify throws
      Option(new java.io.File(dir).listFiles()).foreach(_.foreach(_.delete()))
      spark.stop()
    }
  }
}
