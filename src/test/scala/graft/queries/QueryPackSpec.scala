package graft.queries

import graft.{SparkTestBase, SparkEntry, Tables}
import graft.multimodal.MediaPipeline
import org.apache.spark.sql.functions._

/** Semantics pins for the rows-only queries (no DuckDB oracle) plus
  * whole-surface sanity on the sf0.001 tables.
  */
class QueryPackSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("every declared query executes and returns rows at sf0.001") {
    val qs = SparkEntry.queries
    assert(qs.size >= 48)
    // run against a fresh java.io.tmpdir, so any scratch root a query leaves
    // behind shows up there (the logfile fixture is shared, not scratch)
    val tmp = java.nio.file.Files.createTempDirectory("querypack-tmpdir").toFile
    val prevTmp = sys.props("java.io.tmpdir")
    sys.props("java.io.tmpdir") = tmp.getAbsolutePath
    try {
      qs.foreach { case (name, fn) =>
        val n = fn(spark, sf).count()
        assert(n > 0, s"$name returned 0 rows")
      }
      val left = Option(tmp.list()).toSeq.flatten
        .filter(f => f.startsWith("graft_") && f != "graft_logfile_fixture")
      assert(left.isEmpty, s"scratch roots left behind: ${left.sorted.mkString(", ")}")
    } finally {
      sys.props("java.io.tmpdir") = prevTmp
      org.apache.hadoop.fs.FileUtil.fullyDelete(tmp)
    }
  }

  test("every oracle key has a query; oracle SQL is non-empty") {
    val qs = SparkEntry.queries.keySet
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(qs.contains(k), s"oracle for undeclared query $k")
      assert(sql.trim.nonEmpty)
    }
  }

  test("q331 runs twice in one session with the same answer") {
    val fn = SparkEntry.queries("q331_table_analyze_ndv")
    val a = fn(spark, sf).collect().map(_.toString).toSeq
    val b = fn(spark, sf).collect().map(_.toString).toSeq
    assert(a == b)
    assert(a.size == 1 && a.head.startsWith("[true,true,true,"), a)
  }

  test("q23 Bernoulli sample: deterministic under fixed seed, fraction ≈ 0.01") {
    val fn = SparkEntry.queries("q23_sample_bernoulli")
    val a = fn(spark, sf).collect()
    val b = fn(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq, "same seed ⇒ same sample")
    val total = Tables(spark, sf, "lineitem").count().toDouble
    assert(a.length > 0 && a.length < total * 0.05, s"sample size ${a.length} of $total")
  }

  test("q24 approx distinct within tolerance; exact scaffolding matches direct math") {
    val rows = SparkEntry.queries("q24_approx_count_distinct")(spark, sf)
      .collect().map(r =>
        r.getString(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    val exact = Tables(spark, sf, "events")
      .groupBy(col("event_type")).agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet == exact.keySet)
    exact.foreach { case (k, ex) =>
      val (exactCol, _, withinTol) = rows(k)
      assert(exactCol == ex, s"$k exact_users=$exactCol direct=$ex")
      assert(withinTol, s"$k: HLL estimate escaped its 10% tolerance")
    }
  }

  test("q44 LSH ANN: bucketed neighbors are a subset of brute-force candidates with sane sims") {
    val ann = SparkEntry.queries("q44_similarity_ann_lsh")(spark, sf).collect()
    assert(ann.nonEmpty)
    // every (query, neighbor, sim) must match the brute-force sim for that pair
    val brute = SparkEntry.queries("q42_similarity_cosine_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bruteAll = brute // topk only has top5; check sims where pair overlaps
    ann.foreach { r =>
      val (q, n, sim) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      assert(sim >= -1.0001 && sim <= 1.0001)
      bruteAll.get((q, n)).foreach(bs => assert(math.abs(bs - sim) < 1e-9,
        s"pair ($q,$n) ann=$sim brute=$bs"))
    }
    // multi-probe (bucket + hamming-1 neighbors) should recover a healthy
    // fraction of the true top-5 sets
    val annPairs = ann.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = brute.keySet.count(annPairs.contains).toDouble / brute.size
    assert(recall >= 0.4, s"multi-probe recall $recall below floor")
  }

  test("q40 MinHash-LSH candidates: est_sim ≈ exact Jaccard on sf docs (within 0.3)") {
    val est = SparkEntry.queries("q40_dedup_minhash_lsh")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(est.nonEmpty, "expect at least one near-dup candidate in documents")
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh(s: String): Set[String] = s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    est.foreach { case ((d1, d2), e) =>
      val (a, b) = (sh(docs(d1)), sh(docs(d2)))
      val exact = a.intersect(b).size.toDouble / a.union(b).size
      assert(math.abs(e - exact) <= 0.3, s"($d1,$d2) est=$e exact=$exact")
    }
  }

  test("q46 media features: mean_byte matches direct byte math; decode is deterministic") {
    implicit val s = spark
    val feats = MediaPipeline.extractFeatures(
      MediaPipeline.fromDocuments(Tables(spark, sf, "documents")))
      .collect().map(f => f.media_id -> f).toMap
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    docs.take(20).foreach { case (id, text) =>
      val bytes = text.getBytes("UTF-8")
      val mean = bytes.map(_ & 0xff).map(_.toLong).sum.toDouble / bytes.length
      val f = feats(id)
      assert(f.n_bytes == bytes.length)
      assert(math.abs(f.mean_byte - mean) < 1e-9)
      assert(f.width == bytes.length % 512 + 16)
    }
  }

  test("q64 stratified sample: deterministic, per-stratum fraction within 3x") {
    val fn = SparkEntry.queries("q64_sample_stratified")
    val a = fn(spark, sf).collect()
    val b = fn(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    val totals = Tables(spark, sf, "orders").groupBy("o_orderpriority").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val sampled = a.groupBy(_.getString(1)).view.mapValues(_.length.toLong)
    val fractions = Map("1-URGENT" -> 0.02, "2-HIGH" -> 0.02, "3-MEDIUM" -> 0.01,
      "4-NOT SPECIFIED" -> 0.01, "5-LOW" -> 0.005)
    sampled.foreach { case (k, n) =>
      val expected = totals(k) * fractions(k)
      assert(n <= expected * 3 + 5, s"$k sampled $n of expected ~$expected")
    }
  }

  test("cache: reused plan reads from InMemoryTableScan (reference X3)") {
    val df = Tables(spark, sf, "lineitem")
      .groupBy(col("l_returnflag")).count()
    df.cache()
    try {
      df.count() // materialize
      val plan = df.filter(col("l_returnflag") === "A")
        .queryExecution.executedPlan.toString()
      assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
        s"expected cached scan: $plan")
    } finally df.unpersist()
  }

  test("flagship entry returns TPC-H Q1 shape with rows") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.contains("sum_qty"))
    assert(df.count() > 0)
  }

  test("q145 binaryFile ingest decodes the authored PNG dimensions exactly") {
    val rows = SparkEntry.queries("q145_binaryfile_ingest")(spark, sf)
      .collect().sortBy(_.getString(0))
    assert(rows.length == 6)
    rows.zipWithIndex.foreach { case (r, idx) =>
      val i = idx + 1
      assert(r.getString(0) == f"img$i%02d.png")
      assert(r.getBoolean(1),
        "binaryFile length must match the delivered content bytes")
      assert(r.getLong(2) == 8L * i && r.getLong(3) == 4L * i,
        s"decoded dims for img$i: ${r.getLong(2)}x${r.getLong(3)}")
      assert(r.getLong(4) == 3L, "RGB channel count from the real decoder")
    }
  }

  test("q146 linear attribution conserves purchase value up to floor remainders") {
    val ev = Tables(spark, sf, "events")
    val buys = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
    val touched = buys.join(clicks,
        col("p_user") === col("c_user") && col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - lit(600000000000L))
      .groupBy("p_id").agg(first("cents").as("cents"), count(lit(1)).as("n"))
      .collect()
    val expected = touched.map(r => (r.getLong(1) * 1000000L / r.getLong(2)) * r.getLong(2)).sum
    val got = SparkEntry.queries("q146_multitouch_attribution")(spark, sf)
      .agg(sum("attributed_ucents")).collect().head.getLong(0)
    assert(got == expected,
      s"floor-share totals must reassemble exactly: got $got expected $expected")
    // and floors lose strictly less than one cent (1e6 ucents) per touch
    val full = touched.map(r => r.getLong(1) * 1000000L).sum
    assert(full - got < touched.map(_.getLong(2)).sum)
  }
}
