package perfbench

import java.io.File
import java.math.MathContext
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

/** The `queries` workload: a fixed, hand-picked summary of the declared
  * query log — twelve queries from eleven packs, chosen for distinct engine
  * paths — each timed through a noop sink, as `graft.Bench` times them. An untimed pass first collects every result
  * and checks it against the stored row count and hash; it also warms the
  * JIT and the code-generation cache.
  */
object Queries {
  val List: Seq[String] = Seq(
    "q01_agg_pricing_summary", "q16_window_running_revenue", "q29_json_extract_props",
    "q32_sessionize_30m_gap", "q33_text_wordcount_top20", "q40_dedup_minhash_lsh",
    "q43_similarity_neardup_pairs", "q72_dedup_jaccard_prefix", "q103_pagerank_trade",
    "q116_triangle_count", "q218_ks_two_sample", "q256_apriori_triples")

  /** Expected (rows, hash) per query, stored beside the benchmark. */
  def expected(dir: String): Map[String, (Long, Long)] = {
    val f = new File(dir, "queries_expected.tsv")
    if (!f.exists()) return Map.empty
    new String(Files.readAllBytes(f.toPath), UTF_8).linesIterator
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(n, rows, h) = l.split("\t")
        n -> (rows.toLong, h.toLong)
      }.toMap
  }

  private val Digits = new MathContext(6)

  /** Canonical text of a value: doubles rounded to 6 significant digits,
    * maps sorted, so the hash ignores float noise and map order.
    */
  def canon(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else if (d == 0.0) "0"
      else new java.math.BigDecimal(d).round(Digits).stripTrailingZeros.toPlainString
    case f: Float => canon(f.toDouble)
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "->" + canon(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Order-insensitive result hash: the sum of per-row hashes. */
  def hash(rows: Array[Row]): Long =
    rows.map(r => scala.util.hashing.MurmurHash3.stringHash(canon(r)).toLong).sum

  def run(spark: SparkSession, o: Opts, res: Result, tracer: Tracer): Unit = {
    val all = graft.SparkEntry.queries
    val want = expected(o.bench)
    val results = mutable.LinkedHashMap.empty[String, Seq[Long]]
    List.foreach { q =>
      res.attempt(s"$q check")(all(q)(spark, o.data).collect()).foreach { rows =>
        val got = (rows.length.toLong, hash(rows))
        results(q) = Seq(got._1, got._2)
        res.check(want.get(q).contains(got), s"$q: got (rows, hash) $got, expected ${want.get(q)}")
      }
    }
    res.info("results") = results
    val perQuery = mutable.LinkedHashMap.empty[String, Seq[Double]]
    def timeQuery(q: String): Option[Double] =
      res.attempt(q)(tracer.op(q)(
        all(q)(spark, o.data).write.format("noop").mode("overwrite").save())).map { case (_, t) =>
        perQuery(q) = perQuery.getOrElse(q, Nil) :+ t
        t
      }

    def passes(budget: Double, min: Int): Seq[Seq[Double]] = {
      val t0 = System.nanoTime()
      val out = Seq.newBuilder[Seq[Double]]
      var n = 0
      while (n < min || (System.nanoTime() - t0) / 1e9 < budget) {
        out += List.flatMap(timeQuery)
        n += 1
      }
      out.result()
    }

    val (untraced, traced) =
      if (!o.trace) (passes(o.seconds, 1), Nil)
      else {
        val from = Clock.nowMs
        val r = tracer.alternate(o.seconds, 1)(_ => List.flatMap(timeQuery))
        tracer.drain()
        tracer.layerMetrics(from, Clock.nowMs, r._2.size, o.cores, res)
        r
      }
    val medians = perQuery.map { case (q, ts) => q -> Stats.median(ts) }
    res.info("query_median_s") = medians
    if (medians.size == List.size) res.e2e("pass_s") = (medians.values.sum, "s")
    val full = untraced.filter(_.size == List.size).map(_.sum)
    val times = untraced.flatten
    if (times.nonEmpty) {
      res.e2e("throughput_per_s") = (times.size / times.sum, "1/s")
      res.e2e("query_p50_s") = (Stats.median(times), "s")
      res.e2e("query_p90_s") = (Stats.quantile(times, 0.9), "s")
      res.info("query_samples") = times.size
    }
    if (full.nonEmpty) res.e2e("queries_pass_s") = (Stats.median(full), "s")
    val tFull = traced.filter(_.size == List.size).map(_.sum)
    if (o.trace && tFull.nonEmpty && full.nonEmpty)
      res.layers("trace.overhead_frac") = (Stats.median(tFull) / Stats.median(full) - 1.0, "ratio")
  }
}
