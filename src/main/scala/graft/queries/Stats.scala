package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Round-7 surface: statistical profiling and principled sampling — the
  * pairwise correlation matrix (feature redundancy screening before a
  * training run), a chi-square independence audit between two categorical
  * dimensions (the workhorse drift / association test), and deterministic
  * weighted sampling without replacement (Efraimidis–Spirakis exponential
  * keys over a content-derived uniform — the reproducible "sample 20 docs
  * proportional to length" a curation pipeline needs).
  *
  * Determinism playbook (same as q117): every cross-row moment is an exact
  * BIGINT / DECIMAL sum; floating point enters only in per-row or per-group
  * scalar arithmetic over those exact sums, which both engines evaluate as
  * the same IEEE-754 operations on the same inputs. The E-S sample key is
  * derived from md5 hex digits via instr arithmetic (the q73/q92 portable
  * subset) — no RNG, both engines draw the identical "uniform".
  *
  * Scale notes:
  *   - q127: ONE scan computes all 4 column moments + 6 pairwise product
  *     sums (partial+final aggregate, 15 numbers per task through the
  *     shuffle); the 6-row matrix never touches row-level data again.
  *   - q128: the contingency table is one groupBy; marginals re-aggregate
  *     the 15-cell table (no second scan); per-cell contributions are
  *     emitted as rows — there is no cross-row float sum anywhere.
  *   - q129: the key is computed in a narrow projection and the top-20 is
  *     a TakeOrderedAndProject — k rows per task reach the driver-side
  *     merge, the corpus never collects or fully sorts.
  */
object Stats extends QueryPack {

  private val hexpos = graft.queries.hexDigitVal _

  def queries: Seq[GraftQuery] = Seq(

    // Pairwise Pearson correlation among the 4 lineitem measures. The
    // measures are exactly 2-decimal, so the scan projects them to cent
    // LONGs and every moment is a plain Long sum (codegen'd) — product
    // sums are split hi/lo around 10⁹ so Σ(a·b) stays overflow-free to
    // ~10⁹ rows per aggregation (div/mod are exact; the halves reassemble
    // in DECIMAL(38,0) afterwards). Correlation is scale-invariant, and
    // the reassembled moments are bit-identical to the oracle's HUGEINT
    // sums, so the final double arithmetic agrees exactly. ONE scan, 25
    // Long aggregates through the shuffle.
    GraftQuery(
      "q127_correlation_matrix",
      (s, dir) => {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = (cols.map(c => (c, c)) ++
          cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq)
        val li = Tables(s, dir, "lineitem").select(
          cols.map(c => expr(s"CAST(round($c * 100) AS BIGINT)").as(c)): _*)
        val momentAggs =
          cols.map(c => sum(col(c)).as(s"s_$c")) ++
            pairs.flatMap { case (a, b) =>
              Seq(sum(expr(s"($a * $b) div 1000000000")).as(s"hi_${a}_$b"),
                sum(expr(s"($a * $b) % 1000000000")).as(s"lo_${a}_$b"))
            }
        val m = li.agg(count(lit(1)).as("n"), momentAggs: _*)
        def mom(a: String, b: String) = expr(
          s"CAST(CAST(hi_${a}_$b AS DECIMAL(38,0)) * 1000000000 + lo_${a}_$b AS DOUBLE)")
        // corr(a,b) = (n·sab − sa·sb) / sqrt((n·saa − sa²)(n·sbb − sb²)),
        // double ops over the exact moments — bit-identical cross-engine
        val pairRows = cols.combinations(2).map { case Seq(a, b) =>
          val n = col("n").cast("double")
          val sa = col(s"s_$a").cast("double")
          val sb = col(s"s_$b").cast("double")
          val num = n * mom(a, b) - sa * sb
          val den = sqrt((n * mom(a, a) - sa * sa) * (n * mom(b, b) - sb * sb))
          struct(lit(a).as("var_a"), lit(b).as("var_b"),
            round(num / den, 6).as("corr_r"))
        }.toSeq
        m.select(explode(array(pairRows: _*)).as("p"))
          .select(col("p.var_a").as("var_a"), col("p.var_b").as("var_b"),
            col("p.corr_r").as("corr_r"))
          .orderBy("var_a", "var_b")
      },
      Some {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val scaled = cols.map(c => s"CAST(round($c * 100) AS BIGINT) AS $c")
        val moments =
          cols.map(c => s"CAST(SUM($c) AS DOUBLE) AS s_$c") ++
            cols.map(c => s"CAST(SUM(CAST($c AS HUGEINT) * $c) AS DOUBLE) AS ss_$c") ++
            cols.combinations(2).map { case Seq(a, b) =>
              s"CAST(SUM(CAST($a AS HUGEINT) * $b) AS DOUBLE) AS sp_${a}_$b"
            }
        val selects = cols.combinations(2).map { case Seq(a, b) =>
          s"""SELECT '$a' AS var_a, '$b' AS var_b,
             round((CAST(n AS DOUBLE) * sp_${a}_$b - s_$a * s_$b)
                   / sqrt((CAST(n AS DOUBLE) * ss_$a - s_$a * s_$a)
                          * (CAST(n AS DOUBLE) * ss_$b - s_$b * s_$b)), 6)
               AS corr_r FROM m"""
        }
        s"""WITH sc AS (SELECT ${scaled.mkString(", ")} FROM lineitem),
           m AS (SELECT count(*) AS n, ${moments.mkString(", ")} FROM sc)
           SELECT var_a, var_b, corr_r FROM (${selects.mkString(" UNION ALL ")})
           ORDER BY var_a, var_b"""
      }),

    // Chi-square independence audit: order status × priority contingency
    // cells with observed counts, expected counts, and per-cell chi²
    // contributions. Marginals come from re-aggregating the 15-cell table.
    GraftQuery(
      "q128_chi2_cells",
      (s, dir) => {
        val obs = Tables(s, dir, "orders")
          .groupBy(col("o_orderstatus").as("status"), col("o_orderpriority").as("prio"))
          .agg(count(lit(1)).as("o"))
        val rowTot = obs.groupBy("status").agg(sum(col("o")).as("r"))
        val colTot = obs.groupBy("prio").agg(sum(col("o")).as("c"))
        val tot = obs.agg(sum(col("o")).as("t"))
        val e = col("r").cast("double") * col("c").cast("double") / col("t").cast("double")
        obs.join(broadcast(rowTot), "status")
          .join(broadcast(colTot), "prio")
          .crossJoin(broadcast(tot))
          .select(col("status"), col("prio"), col("o"),
            round(e, 4).as("expected"),
            round((col("o").cast("double") - e) * (col("o").cast("double") - e) / e, 6)
              .as("chi2_contrib"))
          .orderBy("status", "prio")
      },
      Some("""WITH obs AS (
        |  SELECT o_orderstatus AS status, o_orderpriority AS prio, count(*) AS o
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT status, SUM(o) AS r FROM obs GROUP BY 1),
        |ct AS (SELECT prio, SUM(o) AS c FROM obs GROUP BY 1),
        |t AS (SELECT SUM(o) AS t FROM obs)
        |SELECT obs.status, obs.prio, CAST(obs.o AS BIGINT) AS o,
        |  round(CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE) / CAST(t.t AS DOUBLE), 4)
        |    AS expected,
        |  round((CAST(obs.o AS DOUBLE)
        |          - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE) / CAST(t.t AS DOUBLE))
        |        * (CAST(obs.o AS DOUBLE)
        |          - CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE) / CAST(t.t AS DOUBLE))
        |        / (CAST(rt.r AS DOUBLE) * CAST(ct.c AS DOUBLE) / CAST(t.t AS DOUBLE)), 6)
        |    AS chi2_contrib
        |FROM obs JOIN rt ON obs.status = rt.status
        |JOIN ct ON obs.prio = ct.prio CROSS JOIN t
        |ORDER BY 1, 2""".stripMargin)),

    // Weighted sampling without replacement (Efraimidis–Spirakis '06):
    // key = −ln(u)/w with u a content-derived uniform from 6 md5 hex
    // digits; the 20 smallest keys are the sample, drawn ∝ n_chars.
    // Fully deterministic and engine-portable — no RNG.
    GraftQuery(
      "q129_weighted_sample",
      (s, dir) => {
        val h = md5(concat(lit("ws:"), col("doc_id").cast("string")))
        val hv = (1 to 6).map(i => hexpos(substring(h, i, 1)) *
          lit(math.pow(16, 6 - i).toLong)).reduce(_ + _)
        val u = (hv.cast("double") + lit(0.5)) / lit(16777216.0) // 16^6
        val key = -log(u) / col("n_chars").cast("double")
        Tables(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("n_chars"),
            round(key, 10).as("es_key"))
          .orderBy(col("es_key"), col("doc_id"))
          .limit(20)
      },
      Some("""WITH k AS (
        |  SELECT doc_id, source, n_chars,
        |    round(-ln((
        |      (instr('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 1048576 +
        |      (instr('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 65536 +
        |      (instr('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 4096 +
        |      (instr('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 4, 1)) - 1) * 256 +
        |      (instr('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 5, 1)) - 1) * 16 +
        |      (instr('0123456789abcdef', substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 6, 1)) - 1)
        |      + 0.5) / 16777216.0) / CAST(n_chars AS DOUBLE), 10) AS es_key
        |  FROM documents)
        |SELECT doc_id, source, n_chars, es_key
        |FROM k ORDER BY es_key, doc_id LIMIT 20""".stripMargin)),

    // Monthly VWAP (volume-weighted average price) on lineitem — the
    // time-bucketed weighted mean every market/metering pipeline runs. Both
    // measures are exactly 2-decimal, so the weighted sum Σ(price·qty) runs
    // as cent-Long products split hi/lo around 10⁹ (q127's recipe — exact
    // and overflow-safe to ~10⁹ rows per month) and the final divide is the
    // only float op, over bit-identical exact moments.
    GraftQuery(
      "q150_vwap_monthly",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .select(
            date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
            expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_c"))
          .groupBy(col("ship_month"))
          .agg(
            sum(expr("(price_c * qty_c) div 1000000000")).as("hi"),
            sum(expr("(price_c * qty_c) % 1000000000")).as("lo"),
            sum(col("qty_c")).as("sq"),
            count(lit(1)).as("n_lines"))
          .select(col("ship_month"),
            round(expr("CAST(CAST(hi AS DECIMAL(38,0)) * 1000000000 + lo AS DOUBLE)")
              / lit(100.0) / col("sq").cast("double"), 6).as("vwap"),
            (col("sq").cast("double") / 100.0).as("volume"),
            col("n_lines"))
          .orderBy("ship_month")
      },
      Some("""WITH sc AS (
        |  SELECT strftime(l_shipdate, '%Y-%m') AS ship_month,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c
        |  FROM lineitem)
        |SELECT ship_month,
        |  round(CAST(SUM(CAST(price_c AS HUGEINT) * qty_c) AS DOUBLE)
        |        / 100.0 / CAST(SUM(qty_c) AS DOUBLE), 6) AS vwap,
        |  CAST(SUM(qty_c) AS DOUBLE) / 100.0 AS volume,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM sc GROUP BY ship_month ORDER BY ship_month""".stripMargin)),

    // Join-skew audit — the diagnosis a 100 TB self-join runs FIRST: exact
    // per-key output cardinality (Σ n² for a self equi-join) from the
    // key-count frame alone (never materializing the join), the 5 heaviest
    // keys, and the salt factor q85's SaltedJoin would need to cap ~1000
    // rows per (key, shard). One row per hot key plus a 'total' row; all
    // arithmetic on Longs.
    GraftQuery(
      "q157_selfjoin_skew_audit",
      (s, dir) => {
        val c = Tables(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
          .select(col("user_id"), col("n_rows"),
            (col("n_rows") * col("n_rows")).as("self_pairs"),
            expr("(n_rows + 999) div 1000").as("salt_factor"))
        val top5 = c.orderBy(col("self_pairs").desc, col("user_id"))
          .limit(5).withColumn("scope", lit("key"))
        val total = c.agg(
            sum(col("n_rows")).as("n_rows"),
            sum(col("self_pairs")).as("self_pairs"),
            max(col("salt_factor")).as("salt_factor"))
          .select(lit(null).cast("long").as("user_id"), col("n_rows"),
            col("self_pairs"), col("salt_factor"), lit("total").as("scope"))
        top5.unionAll(total)
          .select(col("scope"), col("user_id"), col("n_rows"),
            col("self_pairs"), col("salt_factor"))
          .orderBy(col("scope"), col("self_pairs").desc, col("user_id"))
      },
      Some("""WITH c AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) * CAST(COUNT(*) AS BIGINT) AS self_pairs,
        |    (CAST(COUNT(*) AS BIGINT) + 999) // 1000 AS salt_factor
        |  FROM events GROUP BY user_id),
        |t5 AS (
        |  SELECT 'key' AS scope, user_id, n_rows, self_pairs, salt_factor
        |  FROM c ORDER BY self_pairs DESC, user_id LIMIT 5),
        |tot AS (
        |  SELECT 'total' AS scope, CAST(NULL AS BIGINT) AS user_id,
        |    CAST(SUM(n_rows) AS BIGINT) AS n_rows,
        |    CAST(SUM(self_pairs) AS BIGINT) AS self_pairs,
        |    CAST(MAX(salt_factor) AS BIGINT) AS salt_factor
        |  FROM c)
        |SELECT scope, user_id, n_rows, self_pairs, salt_factor
        |FROM (SELECT * FROM t5 UNION ALL SELECT * FROM tot)
        |ORDER BY scope, self_pairs DESC, user_id""".stripMargin)),

    // QQ comparison grid — distribution drift between two segments without
    // assuming a family: paired quantiles of o_totalprice for URGENT vs LOW
    // priority at a 5%-step grid (q57's interpolation parity), plus the
    // gap. The two-sample check a curation pipeline runs when a source
    // changes upstream.
    GraftQuery(
      "q165_qq_grid",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val grid = (1 to 19).map(_ * 0.05)
        def qs(pri: String, alias: String) = o
          .filter(col("o_orderpriority") === pri)
          .agg(expr(s"percentile(o_totalprice, array(${grid.mkString(",")}))").as("qv"))
          .select(posexplode(col("qv")).as(Seq("i", alias)))
        qs("1-URGENT", "q_urgent").join(qs("5-LOW", "q_low"), "i")
          .select(((col("i") + 1).cast("long") * 5).as("pct"),
            round(col("q_urgent"), 4).as("q_urgent"),
            round(col("q_low"), 4).as("q_low"),
            round(col("q_urgent") - col("q_low"), 4).as("gap"))
          .orderBy("pct")
      },
      Some {
        val grid = (1 to 19).map(_ * 0.05)
        s"""WITH u AS (
           SELECT unnest(quantile_cont(o_totalprice, [${grid.mkString(",")}])) AS q,
             generate_subscripts(quantile_cont(o_totalprice, [${grid.mkString(",")}]), 1) AS i
           FROM orders WHERE o_orderpriority = '1-URGENT'),
           l AS (
           SELECT unnest(quantile_cont(o_totalprice, [${grid.mkString(",")}])) AS q,
             generate_subscripts(quantile_cont(o_totalprice, [${grid.mkString(",")}]), 1) AS i
           FROM orders WHERE o_orderpriority = '5-LOW')
           SELECT CAST(u.i * 5 AS BIGINT) AS pct,
             round(u.q, 4) AS q_urgent, round(l.q, 4) AS q_low,
             round(u.q - l.q, 4) AS gap
           FROM u JOIN l ON u.i = l.i ORDER BY pct"""
      }),

    // Per-label embedding separation — cluster quality without k-means:
    // per-dimension centroids from EXACT scaled-integer sums (round(x·10⁶)
    // as Long through the explode shuffle — float summation never crosses
    // rows), centroids rebuilt as broadcast ARRAYS, then each vector's
    // squared distance to its own label centroid vs the global centroid is
    // a ROW-LOCAL zip_with fold in fixed array order (q84's discipline).
    // Cross-row averaging of the distances runs in DECIMAL(28,8).
    GraftQuery(
      "q166_label_separation",
      (s, dir) => {
        val e = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"),
            posexplode(expr(
              "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"))
              .as(Seq("dim", "v")))
        def centroid(df: org.apache.spark.sql.DataFrame, keys: Seq[String], out: String) = df
          .groupBy((keys.map(col) :+ col("dim")): _*)
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .withColumn("c", col("sv").cast("double") / col("n") / 1e6)
          .groupBy(keys.map(col): _*)
          .agg(expr("transform(array_sort(collect_list(struct(dim, c))), s -> s.c)").as(out))
        val byLabel = centroid(e, Seq("label"), "cent_lab")
        val global = centroid(e.withColumn("g", lit(1)), Seq("g"), "cent_all")
        def sqdist(emb: String, cent: String) = expr(
          s"""aggregate(zip_with($emb, $cent, (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),
             CAST(0.0 AS DOUBLE), (a, y) -> a + y)""")
        val dists = Tables(s, dir, "embeddings")
          .select(col("vec_id"), col("label").cast("long").as("label"), col("embedding"))
          .join(broadcast(byLabel), Seq("label"))
          .crossJoin(broadcast(global.select(col("cent_all"))))
          .select(col("label"),
            sqdist("embedding", "cent_lab").as("d_within"),
            sqdist("embedding", "cent_all").as("d_between"))
        dists.groupBy(col("label"))
          .agg(count(lit(1)).as("n_vecs"),
            round(sum(col("d_within").cast("decimal(28,8)")).cast("double")
              / count(lit(1)), 6).as("avg_within"),
            round(sum(col("d_between").cast("decimal(28,8)")).cast("double")
              / count(lit(1)), 6).as("avg_between"),
            round((sum(col("d_between").cast("decimal(28,8)")).cast("double") / count(lit(1)))
              / (sum(col("d_within").cast("decimal(28,8)")).cast("double") / count(lit(1))), 6)
              .as("separation"))
          .orderBy("label")
      },
      Some("""WITH e AS (
        |  SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    CAST(u.i AS INT) AS dim,
        |    CAST(round(CAST(u.x AS DOUBLE) * 1000000) AS BIGINT) AS v
        |  FROM embeddings,
        |    LATERAL (SELECT unnest(embedding) AS x,
        |             generate_subscripts(embedding, 1) AS i) u),
        |bl AS (
        |  SELECT label, list(c ORDER BY dim) AS cent_lab FROM (
        |    SELECT label, dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) / 1e6 AS c
        |    FROM e GROUP BY 1, 2) GROUP BY label),
        |g AS (
        |  SELECT list(c ORDER BY dim) AS cent_all FROM (
        |    SELECT dim, CAST(SUM(v) AS DOUBLE) / COUNT(*) / 1e6 AS c
        |    FROM e GROUP BY 1) ),
        |d AS (
        |  SELECT em.label,
        |    list_reduce(list_transform(generate_series(1, len(em.embedding)),
        |      i -> (CAST(em.embedding[i] AS DOUBLE) - bl.cent_lab[i])
        |         * (CAST(em.embedding[i] AS DOUBLE) - bl.cent_lab[i])),
        |      (a, y) -> a + y) AS d_within,
        |    list_reduce(list_transform(generate_series(1, len(em.embedding)),
        |      i -> (CAST(em.embedding[i] AS DOUBLE) - g.cent_all[i])
        |         * (CAST(em.embedding[i] AS DOUBLE) - g.cent_all[i])),
        |      (a, y) -> a + y) AS d_between
        |  FROM (SELECT vec_id, CAST(label AS BIGINT) AS label, embedding
        |        FROM embeddings) em
        |  JOIN bl ON em.label = bl.label CROSS JOIN g)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
        |  round(CAST(SUM(CAST(d_within AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_within,
        |  round(CAST(SUM(CAST(d_between AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*), 6)
        |    AS avg_between,
        |  round((CAST(SUM(CAST(d_between AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*))
        |      / (CAST(SUM(CAST(d_within AS DECIMAL(28,8))) AS DOUBLE) / COUNT(*)), 6)
        |    AS separation
        |FROM d GROUP BY label ORDER BY label""".stripMargin)),

    // Pareto concentration — revenue 80/20 report: customers ranked by
    // exact cent totals, and the "how many customers cover 50% / 80%"
    // cutoffs decided by INTEGER cross-multiplication (cum·5 ≥ total·4),
    // so no float ever picks a boundary; only the reported top-1% share
    // is a rounded double. Rank + running sum + grand total all come from
    // ONE DistributedPrefixSum range shuffle (desc order via negated
    // cents) — no single-partition window anywhere.
    GraftQuery(
      "q176_pareto_concentration",
      (s, dir) => {
        val totals = Tables(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
          .withColumn("neg_cents", -col("cents"))
        val res = graft.operators.DistributedPrefixSum.scanWithTotals(
          totals, Seq("neg_cents", "o_custkey"), Seq("cents"),
          idxName = "rnk", runPrefix = "cum_")
        res.df
          .withColumn("cum", col("cum_cents"))
          .withColumn("total", lit(res.totalSums("cents")))
          .agg(
            count(lit(1)).as("n_customers"),
            max(col("cum")).as("total_cents"),
            min(when(col("cum") * 2 >= col("total"), col("rnk"))).as("k50"),
            min(when(col("cum") * 5 >= col("total") * 4, col("rnk"))).as("k80"))
          .select(col("n_customers"),
            (col("total_cents").cast("double") / 100.0).as("revenue"),
            col("k50"), col("k80"),
            round(col("k50").cast("double") / col("n_customers"), 6).as("k50_frac"),
            round(col("k80").cast("double") / col("n_customers"), 6).as("k80_frac"))
      },
      Some("""WITH t AS (
        |  SELECT o_custkey,
        |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1),
        |r AS (
        |  SELECT o_custkey, cents,
        |    CAST(row_number() OVER (ORDER BY cents DESC, o_custkey) AS BIGINT) AS rnk,
        |    SUM(cents) OVER (ORDER BY cents DESC, o_custkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    SUM(cents) OVER () AS total
        |  FROM t)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(MAX(cum) AS DOUBLE) / 100.0 AS revenue,
        |  CAST(MIN(CASE WHEN cum * 2 >= total THEN rnk END) AS BIGINT) AS k50,
        |  CAST(MIN(CASE WHEN cum * 5 >= total * 4 THEN rnk END) AS BIGINT) AS k80,
        |  round(CAST(MIN(CASE WHEN cum * 2 >= total THEN rnk END) AS DOUBLE)
        |        / COUNT(*), 6) AS k50_frac,
        |  round(CAST(MIN(CASE WHEN cum * 5 >= total * 4 THEN rnk END) AS DOUBLE)
        |        / COUNT(*), 6) AS k80_frac
        |FROM r""".stripMargin)),

    // Length–token correlation per source — q127's exact-moment Pearson
    // machinery applied to two INTEGER text features (chars, whitespace
    // tokens): hi/lo-split product sums keep everything Long-exact to
    // ~10⁹ docs per source; one scan, five Long aggregates per source.
    GraftQuery(
      "q211_length_token_corr",
      (s, dir) => {
        val d = Tables.spread(Tables(s, dir, "documents"), "doc_id")
          .select(col("source"), col("n_chars").as("a"),
            expr("CAST(size(filter(split(text, ' '), t -> t <> '')) AS BIGINT)")
              .as("b"))
        val m = d.groupBy(col("source"))
          .agg(count(lit(1)).as("n"),
            sum(col("a")).as("sa"), sum(col("b")).as("sb"),
            sum(expr("(a * a) div 1000000000")).as("haa"),
            sum(expr("(a * a) % 1000000000")).as("laa"),
            sum(expr("(b * b) div 1000000000")).as("hbb"),
            sum(expr("(b * b) % 1000000000")).as("lbb"),
            sum(expr("(a * b) div 1000000000")).as("hab"),
            sum(expr("(a * b) % 1000000000")).as("lab"))
        def mom(h: String, l: String) = expr(
          s"CAST(CAST($h AS DECIMAL(38,0)) * 1000000000 + $l AS DOUBLE)")
        val n = col("n").cast("double")
        val sa = col("sa").cast("double")
        val sb = col("sb").cast("double")
        val num = n * mom("hab", "lab") - sa * sb
        val den = sqrt((n * mom("haa", "laa") - sa * sa)
          * (n * mom("hbb", "lbb") - sb * sb))
        m.select(col("source"), col("n").as("n_docs"),
            round(num / den, 6).as("corr_len_tokens"))
          .orderBy("source")
      },
      Some("""WITH d AS (
        |  SELECT source, CAST(n_chars AS BIGINT) AS a,
        |    CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
        |      AS b
        |  FROM documents),
        |m AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(b) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(a AS HUGEINT) * a) AS DOUBLE) AS saa,
        |    CAST(SUM(CAST(b AS HUGEINT) * b) AS DOUBLE) AS sbb,
        |    CAST(SUM(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab
        |  FROM d GROUP BY 1)
        |SELECT source, n AS n_docs,
        |  round((CAST(n AS DOUBLE) * sab - sa * sb)
        |        / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)
        |               * (CAST(n AS DOUBLE) * sbb - sb * sb)), 6)
        |    AS corr_len_tokens
        |FROM m ORDER BY source""".stripMargin)),

    // Exact CUSUM change-point — where the event-value level shifts: the
    // centered cumulative sum max |Σ_{≤i}(x−mean)| located WITHOUT floats
    // by cross-multiplying (n·prefix_i − i·total is exact cent-Longs,
    // overflow-safe via DECIMAL(38,0) products). Per event type: the
    // change position (event index) and normalized CUSUM height.
    GraftQuery(
      "q212_cusum_changepoint",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir, "events")
          .select(col("event_type"), expr("ts div 1000").as("us"), col("event_id"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val w = Window.partitionBy("event_type").orderBy("us", "event_id")
        val marked = e
          .withColumn("i", row_number().over(w).cast("long"))
          .withColumn("prefix", sum(col("cents"))
            .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("event_type")))
          .withColumn("total", sum(col("cents")).over(Window.partitionBy("event_type")))
          // dev_i = n·prefix_i − i·total (exact; DECIMAL(38,0) products)
          .withColumn("dev", expr(
            "CAST(n AS DECIMAL(38,0)) * prefix - CAST(i AS DECIMAL(38,0)) * total"))
        marked
          .withColumn("rnk", row_number().over(Window.partitionBy("event_type")
            .orderBy(abs(col("dev")).desc, col("i"))))
          .filter(col("rnk") === 1)
          .select(col("event_type"), col("n").as("n_events"),
            col("i").as("change_idx"),
            round(abs(col("dev")).cast("double")
              / (col("n").cast("double") * 100.0), 4).as("cusum_height"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
        |  SELECT event_type, epoch_us(ts) AS us, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |m AS (
        |  SELECT event_type, us, event_id, cents,
        |    CAST(row_number() OVER w AS BIGINT) AS i,
        |    SUM(cents) OVER (PARTITION BY event_type ORDER BY us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n,
        |    SUM(cents) OVER (PARTITION BY event_type) AS total
        |  FROM e WINDOW w AS (PARTITION BY event_type ORDER BY us, event_id)),
        |d AS (
        |  SELECT *, CAST(n AS HUGEINT) * prefix - CAST(i AS HUGEINT) * total AS dev
        |  FROM m),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY event_type
        |    ORDER BY abs(dev) DESC, i) AS rnk
        |  FROM d)
        |SELECT event_type, CAST(n AS BIGINT) AS n_events,
        |  CAST(i AS BIGINT) AS change_idx,
        |  round(CAST(abs(dev) AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0), 4)
        |    AS cusum_height
        |FROM r WHERE rnk = 1 ORDER BY event_type""".stripMargin)),

    // Benford first-digit audit — the classic forensic screen on monetary
    // amounts: per order priority, the observed first-significant-digit
    // distribution of o_totalprice vs Benford's law log10(1+1/d), with the
    // per-digit chi-square contribution. Digit extraction is exact (first
    // char of the cent-Long's decimal rendering); floats enter only in the
    // final per-digit scalar arithmetic over exact counts. One scan, one
    // 9×5-cell aggregate — nothing here grows with data volume.
    GraftQuery(
      "q217_benford_audit",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables(s, dir, "orders")
          .select(col("o_orderpriority").as("priority"),
            expr("CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)" +
              " AS STRING), 1, 1) AS INT)").as("digit"))
        val agg = o.groupBy(col("priority"), col("digit"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("n", sum(col("cnt")).over(Window.partitionBy("priority")))
        val expShare = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
        val expCnt = col("n").cast("double") * expShare
        agg.select(col("priority"), col("digit"), col("cnt"),
            round(col("cnt").cast("double") / col("n").cast("double"), 6)
              .as("obs_share"),
            round(expShare, 6).as("exp_share"),
            round(pow(col("cnt").cast("double") - expCnt, 2) / expCnt, 4)
              .as("chi2_term"))
          .orderBy("priority", "digit")
      },
      Some("""WITH o AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit
        |  FROM orders),
        |a AS (
        |  SELECT priority, digit, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM o GROUP BY 1, 2),
        |w AS (
        |  SELECT *, SUM(cnt) OVER (PARTITION BY priority) AS n FROM a)
        |SELECT priority, digit, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE), 6) AS obs_share,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6) AS exp_share,
        |  round(pow(CAST(cnt AS DOUBLE)
        |          - CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 2)
        |        / (CAST(n AS DOUBLE) * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 4)
        |    AS chi2_term
        |FROM w ORDER BY priority, digit""".stripMargin)),

    // Exact two-sample Kolmogorov–Smirnov — D = max_x |F_R(x) − F_A(x)|
    // between returned (R) and accepted (A) line-item price distributions.
    // The CDF scan runs on the DISTINCT-value level through
    // [[graft.operators.DistributedPrefixSum]] — range-partitioned two-phase
    // prefix sums, NOT a single-partition window — and the max deviation is
    // integer-exact via the cross-product |r1·n2 − r2·n1| in DECIMAL(38,0)
    // (no float CDFs compared). Argmax is a TakeOrderedAndProject (k=1).
    GraftQuery(
      "q218_ks_two_sample",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .filter(col("l_returnflag").isin("R", "A"))
          .select(expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("f1"),
            when(col("l_returnflag") === "A", 1L).otherwise(0L).as("f2"))
        val byVal = li.groupBy(col("cents"))
          .agg(sum(col("f1")).as("c1"), sum(col("f2")).as("c2"))
        // scanWithTotals hands back Σc1/Σc2 from the scan's own pass-1
        // driver collect — the former separate `byVal.agg(...)` total frame
        // re-evaluated the whole lineitem aggregation a second time
        val res = graft.operators.DistributedPrefixSum
          .scanWithTotals(byVal, Seq("cents"), Seq("c1", "c2"))
        val (n1, n2) = (res.totalSums("c1"), res.totalSums("c2"))
        res.df
          .withColumn("dev", expr(
            s"abs(CAST(run_c1 AS DECIMAL(38,0)) * ${n2}L - " +
              s"CAST(run_c2 AS DECIMAL(38,0)) * ${n1}L)"))
          .orderBy(col("dev").desc, col("cents").asc)
          .limit(1)
          .select(lit(n1).as("n1"), lit(n2).as("n2"),
            round(col("dev").cast("double")
              / (lit(n1).cast("double") * lit(n2).cast("double")), 6).as("ks_d"),
            (col("cents").cast("double") / 100.0).as("at_value"))
      },
      Some("""WITH li AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS f1,
        |    CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS f2
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |v AS (
        |  SELECT cents, CAST(SUM(f1) AS BIGINT) AS c1,
        |    CAST(SUM(f2) AS BIGINT) AS c2
        |  FROM li GROUP BY 1),
        |r AS (
        |  SELECT cents,
        |    SUM(c1) OVER (ORDER BY cents) AS r1,
        |    SUM(c2) OVER (ORDER BY cents) AS r2
        |  FROM v),
        |t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
        |             CAST(SUM(c2) AS BIGINT) AS n2 FROM v),
        |d AS (
        |  SELECT cents,
        |    abs(CAST(r1 AS HUGEINT) * n2 - CAST(r2 AS HUGEINT) * n1) AS dev
        |  FROM r, t)
        |SELECT t.n1, t.n2,
        |  round(CAST(d.dev AS DOUBLE)
        |        / (CAST(t.n1 AS DOUBLE) * CAST(t.n2 AS DOUBLE)), 6) AS ks_d,
        |  CAST(d.cents AS DOUBLE) / 100.0 AS at_value
        |FROM d, t ORDER BY d.dev DESC, d.cents LIMIT 1""".stripMargin)),

    // Exact Mann–Whitney U with tie correction — rank-sum test on the
    // (heavily tied, 50-value) quantity distributions of returned vs
    // accepted lines. Average tie ranks are kept integer by working in
    // DOUBLED rank units: a tied block of size t starting after `start`
    // rows contributes 2·avgRank = 2·start + t + 1 per member. Everything
    // through 2U₁ and the tie term Σ(t³−t) is an exact BIGINT/DECIMAL(38,0)
    // aggregate at the distinct-VALUE level (≤50 rows here); the z-score is
    // the single final float expression. Prefix sums over the value table
    // again go through DistributedPrefixSum — no single-partition window.
    GraftQuery(
      "q219_mann_whitney",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .filter(col("l_returnflag").isin("R", "A"))
          .select(expr("CAST(l_quantity AS BIGINT)").as("qty"),
            when(col("l_returnflag") === "R", 1L).otherwise(0L).as("f1"),
            when(col("l_returnflag") === "A", 1L).otherwise(0L).as("f2"))
        val byVal = li.groupBy(col("qty"))
          .agg(sum(col("f1")).as("c1"), sum(col("f2")).as("c2"))
          .withColumn("t", col("c1") + col("c2"))
        val scanned = graft.operators.DistributedPrefixSum
          .scan(byVal, Seq("qty"), Seq("c1", "c2"))
        val stats = scanned
          .withColumn("start", col("run_c1") + col("run_c2") - col("t"))
          .agg(
            sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
            // 2·R1 = Σ_values c1 · (2·start + t + 1), exact in DECIMAL(38,0)
            sum(expr("CAST(c1 AS DECIMAL(38,0)) * (2 * start + t + 1)")).as("two_r1"),
            sum(expr("CAST(t AS DECIMAL(38,0)) * t * t - t")).as("tie_term"))
        stats.select(col("n1"), col("n2"),
            expr("CAST((two_r1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) AS DOUBLE) / 2.0")
              .as("u1"),
            round(
              expr("CAST((two_r1 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1)) AS DOUBLE)"
                + " - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)")
                / (lit(2.0) * sqrt(
                  expr("CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0")
                    * (expr("CAST(n1 + n2 + 1 AS DOUBLE)")
                       - expr("CAST(tie_term AS DOUBLE)")
                         / expr("CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE)")))),
              4).as("z_score"))
      },
      Some("""WITH li AS (
        |  SELECT CAST(l_quantity AS BIGINT) AS qty,
        |    CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS f1,
        |    CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END AS f2
        |  FROM lineitem WHERE l_returnflag IN ('R', 'A')),
        |v AS (
        |  SELECT qty, CAST(SUM(f1) AS BIGINT) AS c1,
        |    CAST(SUM(f2) AS BIGINT) AS c2,
        |    CAST(SUM(f1) + SUM(f2) AS BIGINT) AS t
        |  FROM li GROUP BY 1),
        |r AS (
        |  SELECT *, SUM(c1) OVER (ORDER BY qty) AS run_c1,
        |    SUM(c2) OVER (ORDER BY qty) AS run_c2
        |  FROM v),
        |st AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n1, CAST(SUM(c2) AS BIGINT) AS n2,
        |    SUM(CAST(c1 AS HUGEINT)
        |        * (2 * (run_c1 + run_c2 - t) + t + 1)) AS two_r1,
        |    SUM(CAST(t AS HUGEINT) * t * t - t) AS tie_term
        |  FROM r)
        |SELECT n1, n2,
        |  CAST(two_r1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
        |  round(
        |    (CAST(two_r1 - CAST(n1 AS HUGEINT) * (n1 + 1) AS DOUBLE)
        |     - CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
        |    / (2.0 * sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE) / 12.0
        |        * (CAST(n1 + n2 + 1 AS DOUBLE)
        |           - CAST(tie_term AS DOUBLE)
        |             / (CAST(n1 + n2 AS DOUBLE) * CAST(n1 + n2 - 1 AS DOUBLE))))),
        |    4) AS z_score
        |FROM st""".stripMargin)),

    // Exact weighted median — quantity-weighted median extended price per
    // return flag: the smallest price whose cumulative weight reaches half
    // the total. The scan collapses to the distinct-(flag, price) level
    // first (one hash aggregate), then a window PARTITIONED by flag (3
    // partitions, each parallel-safe: per-flag distinct prices, not rows)
    // does the cumulative weight; everything is exact Longs.
    GraftQuery(
      "q223_weighted_median",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val v = Tables(s, dir, "lineitem")
          .select(col("l_returnflag").as("flag"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"),
            expr("CAST(l_quantity AS BIGINT)").as("w"))
          .groupBy(col("flag"), col("cents"))
          .agg(sum(col("w")).as("w"))
        val win = Window.partitionBy("flag").orderBy("cents")
        v.withColumn("cumw",
            sum(col("w")).over(win.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("totw", sum(col("w")).over(Window.partitionBy("flag")))
          .filter(col("cumw") * 2 >= col("totw"))
          .groupBy(col("flag"))
          .agg(min(col("cents")).as("med_cents"), max(col("totw")).as("total_weight"))
          .select(col("flag"), col("total_weight"),
            (col("med_cents").cast("double") / 100.0).as("weighted_median_price"))
          .orderBy("flag")
      },
      Some("""WITH v AS (
        |  SELECT l_returnflag AS flag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT flag, cents, w,
        |    SUM(w) OVER (PARTITION BY flag ORDER BY cents) AS cumw,
        |    SUM(w) OVER (PARTITION BY flag) AS totw
        |  FROM v)
        |SELECT flag, CAST(MAX(totw) AS BIGINT) AS total_weight,
        |  CAST(MIN(cents) AS DOUBLE) / 100.0 AS weighted_median_price
        |FROM c WHERE cumw * 2 >= totw
        |GROUP BY flag ORDER BY flag""".stripMargin)),

    // Mutual information between two categorical columns (return flag ×
    // line status) — the feature-association screen: per-cell pointwise MI
    // ln(p(x,y)/(p(x)p(y))) and the cell's MI contribution. The joint table
    // is one groupBy (6 cells); marginals re-aggregate the CELL table via
    // windows, never the rows; floats only in the per-cell final scalar
    // over exact Long counts (ln is the round(6)-safe case).
    GraftQuery(
      "q224_mutual_information",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val joint = Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag").as("flag"), col("l_linestatus").as("status"))
          .agg(count(lit(1)).as("n_xy"))
        val withM = joint
          .withColumn("n_x", sum(col("n_xy")).over(Window.partitionBy("flag")))
          .withColumn("n_y", sum(col("n_xy")).over(Window.partitionBy("status")))
          .withColumn("n", sum(col("n_xy")).over(Window.partitionBy()))
        withM.select(col("flag"), col("status"), col("n_xy"),
            round(log(col("n_xy").cast("double") * col("n").cast("double")
              / (col("n_x").cast("double") * col("n_y").cast("double"))), 6)
              .as("pmi_nats"),
            round((col("n_xy").cast("double") / col("n").cast("double"))
              * log(col("n_xy").cast("double") * col("n").cast("double")
                / (col("n_x").cast("double") * col("n_y").cast("double"))), 6)
              .as("mi_term"))
          .orderBy("flag", "status")
      },
      Some("""WITH joint AS (
        |  SELECT l_returnflag AS flag, l_linestatus AS status,
        |    CAST(COUNT(*) AS BIGINT) AS n_xy
        |  FROM lineitem GROUP BY 1, 2),
        |m AS (
        |  SELECT *,
        |    SUM(n_xy) OVER (PARTITION BY flag) AS n_x,
        |    SUM(n_xy) OVER (PARTITION BY status) AS n_y,
        |    SUM(n_xy) OVER () AS n
        |  FROM joint)
        |SELECT flag, status, n_xy,
        |  round(ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
        |           / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6) AS pmi_nats,
        |  round((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
        |        * ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
        |             / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE))), 6) AS mi_term
        |FROM m ORDER BY flag, status""".stripMargin)),

    // Gini mean difference — the expected |price gap| between two random
    // orders, via the sorted-index identity GMD = 2/(n(n−1))·Σ(2i−n−1)xᵢ:
    // an O(n log n) global scan replaces the O(n²) pairwise join. The
    // global index i comes from [[graft.operators.DistributedPrefixSum]]
    // (no single-partition window); the weighted sum (2i−n−1)·cents is
    // exact in DECIMAL(38,0) (the Long product would overflow near 10⁹
    // rows); one float division at the end.
    GraftQuery(
      "q242_gini_mean_difference",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey").as("ok"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
        val ranked = graft.operators.DistributedPrefixSum
          .scan(o, Seq("cents", "ok"), Nil, idxName = "i")
        ranked
          .agg(count(lit(1)).as("n"),
            sum(col("cents")).as("sx"),
            sum(expr("CAST(2 * i - 1 AS DECIMAL(38,0)) * cents")).as("wsum_part"))
          // Σ(2i−n−1)x = Σ(2i−1)x − n·Σx, so n needn't be known per-row
          .select(col("n"),
            (col("sx").cast("double") / 100.0).as("revenue"),
            round(
              expr("CAST(wsum_part - CAST(n AS DECIMAL(38,0)) * sx AS DOUBLE)")
                * 2.0
                / (col("n").cast("double") * (col("n") - 1).cast("double") * 100.0),
              4).as("gmd_dollars"),
            round(
              expr("CAST(wsum_part - CAST(n AS DECIMAL(38,0)) * sx AS DOUBLE)")
                / ((col("n") - 1).cast("double") * col("sx").cast("double")),
              6).as("gini"))
      },
      Some("""WITH o AS (
        |  SELECT o_orderkey AS ok,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |r AS (
        |  SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents, ok) AS BIGINT) AS i
        |  FROM o),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(cents) AS BIGINT) AS sx,
        |    SUM(CAST(2 * i - 1 AS HUGEINT) * cents) AS wsum_part
        |  FROM r)
        |SELECT n, CAST(sx AS DOUBLE) / 100.0 AS revenue,
        |  round(CAST(wsum_part - CAST(n AS HUGEINT) * sx AS DOUBLE) * 2.0
        |        / (CAST(n AS DOUBLE) * (n - 1) * 100.0), 4) AS gmd_dollars,
        |  round(CAST(wsum_part - CAST(n AS HUGEINT) * sx AS DOUBLE)
        |        / (CAST(n - 1 AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS gini
        |FROM m""".stripMargin)),

    // Kaplan–Meier retention curve — customer lifetime in months (first to
    // last order), churn observed only when the last order predates the
    // data horizon minus 6 months (later customers are CENSORED, the
    // distinction naive retention math gets wrong). The product-limit
    // estimator Π(1 − dᵢ/nᵢ) is computed as exp of a RUNNING SUM of
    // per-month ln-terms scaled to exact BIGINT micro-nats — the float
    // product never crosses rows — with a saturation flag for the d = n
    // (survival hits zero) edge. All windows run at the ≤84-row DURATION
    // level.
    GraftQuery(
      "q244_kaplan_meier",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val life = Tables(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(
            expr("min(CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT))")
              .as("m0"),
            expr("max(CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1 AS BIGINT))")
              .as("m1"))
          .select(col("o_custkey"), (col("m1") - col("m0") + 1).as("t"), col("m1"))
        val horizon = life.agg((max(col("m1")) - 6).as("cutoff"))
        val perT = life.crossJoin(broadcast(horizon))
          .withColumn("event", when(col("m1") < col("cutoff"), 1L).otherwise(0L))
          .groupBy(col("t"))
          .agg(count(lit(1)).as("leaving"), sum(col("event")).as("d"))
        val w = Window.orderBy("t")
        val grid = perT
          .withColumn("gone_before",
            coalesce(sum(col("leaving"))
              .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
          .withColumn("n_risk",
            sum(col("leaving")).over(Window.partitionBy()) - col("gone_before"))
          .withColumn("lnterm",
            when(col("d") < col("n_risk"),
              expr("CAST(round(ln(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))"
                + " * 1000000) AS BIGINT)")).otherwise(lit(0L)))
          .withColumn("hit_zero",
            max(when(col("d") === col("n_risk"), 1L).otherwise(0L))
              .over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("cumln",
            sum(col("lnterm")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
        grid.select(col("t").as("months"), col("n_risk"), col("d").as("churned"),
            (col("leaving") - col("d")).as("censored"),
            when(col("hit_zero") === 1, lit(0.0))
              .otherwise(round(exp(col("cumln").cast("double") / 1e6), 6))
              .as("survival"))
          .orderBy("months")
      },
      Some("""WITH life AS (
        |  SELECT o_custkey,
        |    MIN(CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
        |      AS BIGINT)) AS m0,
        |    MAX(CAST((year(o_orderdate) - 1995) * 12 + month(o_orderdate) - 1
        |      AS BIGINT)) AS m1
        |  FROM orders GROUP BY 1),
        |l2 AS (SELECT m1 - m0 + 1 AS t, m1 FROM life),
        |h AS (SELECT MAX(m1) - 6 AS cutoff FROM l2),
        |pt AS (
        |  SELECT t, CAST(COUNT(*) AS BIGINT) AS leaving,
        |    CAST(SUM(CASE WHEN m1 < cutoff THEN 1 ELSE 0 END) AS BIGINT) AS d
        |  FROM l2, h GROUP BY t),
        |g AS (
        |  SELECT t, leaving, d,
        |    COALESCE(SUM(leaving) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS gone_before,
        |    SUM(leaving) OVER () AS total
        |  FROM pt),
        |g2 AS (
        |  SELECT t, leaving, d, total - gone_before AS n_risk,
        |    CASE WHEN d < total - gone_before THEN
        |      CAST(round(ln(1.0 - CAST(d AS DOUBLE)
        |        / CAST(total - gone_before AS DOUBLE)) * 1000000) AS BIGINT)
        |    ELSE 0 END AS lnterm,
        |    CASE WHEN d = total - gone_before THEN 1 ELSE 0 END AS zero_here
        |  FROM g),
        |g3 AS (
        |  SELECT t, leaving, d, n_risk,
        |    MAX(zero_here) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero,
        |    SUM(lnterm) OVER (ORDER BY t
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumln
        |  FROM g2)
        |SELECT t AS months, CAST(n_risk AS BIGINT) AS n_risk, d AS churned,
        |  CAST(leaving - d AS BIGINT) AS censored,
        |  CASE WHEN hit_zero = 1 THEN 0.0
        |       ELSE round(exp(CAST(cumln AS DOUBLE) / 1e6), 6) END AS survival
        |FROM g3 ORDER BY months""".stripMargin)),

    // Discount × tax interaction grid — the two-factor pricing surface:
    // per (discount%, tax%) cell, line count, exact revenue, and the
    // cell's share of total revenue. Both factors are exactly 2-decimal
    // in the data, so the cell keys are exact integer percents and every
    // money number is an exact cent sum; one scan, ~99 cells.
    GraftQuery(
      "q254_discount_tax_grid",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        Tables(s, dir, "lineitem")
          .groupBy(expr("CAST(round(l_discount * 100) AS INT)").as("disc_pct"),
            expr("CAST(round(l_tax * 100) AS INT)").as("tax_pct"))
          .agg(count(lit(1)).as("n_lines"),
            sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"))
          .withColumn("share", round(col("cents").cast("double")
            / sum(col("cents")).over(Window.partitionBy()), 6))
          .select(col("disc_pct"), col("tax_pct"), col("n_lines"),
            (col("cents").cast("double") / 100.0).as("revenue"), col("share"))
          .orderBy("disc_pct", "tax_pct")
      },
      Some("""WITH g AS (
        |  SELECT CAST(round(l_discount * 100) AS INT) AS disc_pct,
        |    CAST(round(l_tax * 100) AS INT) AS tax_pct,
        |    CAST(COUNT(*) AS BIGINT) AS n_lines,
        |    CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |      AS cents
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT disc_pct, tax_pct, n_lines,
        |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |  round(CAST(cents AS DOUBLE) / CAST(SUM(cents) OVER () AS DOUBLE), 6)
        |    AS share
        |FROM g ORDER BY disc_pct, tax_pct""".stripMargin)),

    // Median customer's median order — nested robust location: each
    // customer's LOWER-median order value (rank (n+1) div 2 in their own
    // history — exact, no interpolation), then the lower median ACROSS
    // customers, located by DistributedPrefixSum's global index rather
    // than a single-partition window. Doubly outlier-proof where
    // mean-of-means is doubly fragile; everything integer until the final
    // /100.
    GraftQuery(
      "q257_median_of_medians",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables(s, dir, "orders")
          .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        val w = Window.partitionBy("ck").orderBy("c", "ok")
        val perCust = o
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(Window.partitionBy("ck")))
          .filter(col("rn") === expr("(n + 1) div 2"))
          .select(col("ck"), col("c").as("med"))
        // the scan's pass-1 collect already totals the frame — the former
        // separate `perCust.agg(...)` re-ran the whole per-customer median
        // window a second time just for (count, sum)
        val res = graft.operators.DistributedPrefixSum
          .scanWithTotals(perCust, Seq("med", "ck"), Seq("med"), idxName = "idx")
        val (nc, sm) = (res.totalCount, res.totalSums("med"))
        res.df
          .filter(col("idx") === lit((nc + 1) / 2))
          .select(lit(nc).as("n_customers"),
            (col("med").cast("double") / 100.0).as("median_customer_median"),
            round(lit(sm).cast("double") / lit(nc).cast("double") / 100.0, 4)
              .as("mean_customer_median"))
      },
      Some("""WITH o AS (
        |  SELECT o_custkey AS ck, o_orderkey AS ok,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |r AS (
        |  SELECT ck, c,
        |    CAST(row_number() OVER (PARTITION BY ck ORDER BY c, ok) AS BIGINT)
        |      AS rn,
        |    COUNT(*) OVER (PARTITION BY ck) AS n
        |  FROM o),
        |pc AS (SELECT ck, c AS med FROM r WHERE rn = (n + 1) // 2),
        |g AS (
        |  SELECT ck, med,
        |    CAST(row_number() OVER (ORDER BY med, ck) AS BIGINT) AS idx,
        |    COUNT(*) OVER () AS nc, SUM(med) OVER () AS sm
        |  FROM pc)
        |SELECT CAST(nc AS BIGINT) AS n_customers,
        |  CAST(med AS DOUBLE) / 100.0 AS median_customer_median,
        |  round(CAST(sm AS DOUBLE) / CAST(nc AS DOUBLE) / 100.0, 4)
        |    AS mean_customer_median
        |FROM g WHERE idx = (nc + 1) // 2""".stripMargin)),

    // Spearman rank correlation (tie-corrected) between part size and
    // retail price — the monotone-association screen Pearson (q127)
    // can't give. Average tie ranks stay integer in DOUBLED units (the
    // q219 trick) at the distinct-VALUE level — value tables come from
    // one groupBy each, cumulative starts from DistributedPrefixSum, and
    // Pearson on the doubled ranks uses DECIMAL(38,0) product sums. One
    // float at the end.
    GraftQuery(
      "q268_spearman_size_price",
      (s, dir) => {
        val p = Tables(s, dir, "part")
          .select(col("p_partkey"),
            col("p_size").cast("long").as("a"),
            expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("b"))
        def doubledRanks(c: String) = {
          val byVal = p.groupBy(col(c)).agg(count(lit(1)).as("t"))
          graft.operators.DistributedPrefixSum
            .scan(byVal, Seq(c), Seq("t"), idxName = s"__i_$c", runPrefix = s"run_${c}_")
            // doubled average rank of a tied block: 2·start + t + 1
            .select(col(c), (lit(2) * (col(s"run_${c}_t") - col("t"))
              + col("t") + 1).as(s"r2_$c"))
        }
        val j = p.join(doubledRanks("a"), Seq("a")).join(doubledRanks("b"), Seq("b"))
        val m = j.agg(count(lit(1)).as("n"),
          sum(col("r2_a")).as("sa"), sum(col("r2_b")).as("sb"),
          sum(expr("CAST(r2_a AS DECIMAL(38,0)) * r2_b")).as("sab"),
          sum(expr("CAST(r2_a AS DECIMAL(38,0)) * r2_a")).as("saa"),
          sum(expr("CAST(r2_b AS DECIMAL(38,0)) * r2_b")).as("sbb"))
        m.select(col("n").as("n_parts"),
          round((col("n").cast("double") * col("sab").cast("double")
            - col("sa").cast("double") * col("sb").cast("double"))
            / sqrt((col("n").cast("double") * col("saa").cast("double")
              - col("sa").cast("double") * col("sa").cast("double"))
              * (col("n").cast("double") * col("sbb").cast("double")
                - col("sb").cast("double") * col("sb").cast("double"))), 6)
            .as("spearman_rho"))
      },
      Some("""WITH p AS (
        |  SELECT p_partkey, CAST(p_size AS BIGINT) AS a,
        |    CAST(round(p_retailprice * 100) AS BIGINT) AS b
        |  FROM part),
        |va AS (
        |  SELECT a, CAST(COUNT(*) AS BIGINT) AS t FROM p GROUP BY 1),
        |ra AS (
        |  SELECT a, 2 * (SUM(t) OVER (ORDER BY a) - t) + t + 1 AS r2_a FROM va),
        |vb AS (
        |  SELECT b, CAST(COUNT(*) AS BIGINT) AS t FROM p GROUP BY 1),
        |rb AS (
        |  SELECT b, 2 * (SUM(t) OVER (ORDER BY b) - t) + t + 1 AS r2_b FROM vb),
        |j AS (
        |  SELECT r2_a, r2_b FROM p JOIN ra USING (a) JOIN rb USING (b)),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(r2_a) AS BIGINT) AS sa, CAST(SUM(r2_b) AS BIGINT) AS sb,
        |    SUM(CAST(r2_a AS HUGEINT) * r2_b) AS sab,
        |    SUM(CAST(r2_a AS HUGEINT) * r2_a) AS saa,
        |    SUM(CAST(r2_b AS HUGEINT) * r2_b) AS sbb
        |  FROM j)
        |SELECT n AS n_parts,
        |  round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
        |         - CAST(sa AS DOUBLE) * sb)
        |        / sqrt((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
        |                - CAST(sa AS DOUBLE) * sa)
        |               * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
        |                  - CAST(sb AS DOUBLE) * sb)), 6) AS spearman_rho
        |FROM m""".stripMargin)),

    // Revenue volatility across aggregation granularities — the same
    // series summed daily / weekly / monthly, each with its coefficient
    // of variation: how much apparent volatility is just aggregation
    // level (the scale-of-fluctuation profile behind alerting
    // thresholds). Period sums are exact cents; second moments go through
    // DECIMAL(38,0) at the PERIOD level (a monthly cent sum squared
    // overflows a Long); one float pair per granularity.
    GraftQuery(
      "q278_granularity_volatility",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .select(expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long")
            .as("day"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        def level(bucket: String, name: String) = o
          .groupBy(expr(bucket).as("p"))
          .agg(sum(col("c")).as("pc"))
          .agg(count(lit(1)).as("n"),
            sum(col("pc")).as("s"),
            sum(expr("CAST(pc AS DECIMAL(38,0)) * pc")).as("ss"))
          .withColumn("granularity", lit(name))
        val all = level("day", "1_daily")
          .unionByName(level("day div 7", "2_weekly"))
          .unionByName(level("day div 30", "3_monthly30"))
        val n = col("n").cast("double")
        val mean = col("s").cast("double") / n
        val variance = (n * col("ss").cast("double")
          - col("s").cast("double") * col("s").cast("double")) / (n * (n - 1))
        all.select(col("granularity"), col("n").as("n_periods"),
            round(mean / 100.0, 2).as("mean_revenue"),
            round(sqrt(variance) / mean, 6).as("cv"))
          .orderBy("granularity")
      },
      Some("""WITH o AS (
        |  SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |    AS day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |lv AS (
        |  SELECT '1_daily' AS granularity, day AS p, SUM(c) AS pc
        |  FROM o GROUP BY 2
        |  UNION ALL
        |  SELECT '2_weekly', day // 7, SUM(c) FROM o GROUP BY 2
        |  UNION ALL
        |  SELECT '3_monthly30', day // 30, SUM(c) FROM o GROUP BY 2),
        |m AS (
        |  SELECT granularity, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(pc) AS BIGINT) AS s,
        |    SUM(CAST(pc AS HUGEINT) * pc) AS ss
        |  FROM lv GROUP BY 1)
        |SELECT granularity, n AS n_periods,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 2)
        |    AS mean_revenue,
        |  round(sqrt((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |              - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1)))
        |        / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv
        |FROM m ORDER BY granularity""".stripMargin)),

    // Return-count overdispersion — do returns CLUSTER within customers
    // (dissatisfied customers keep returning) or scatter like independent
    // coin flips? The variance-to-mean dispersion index of per-customer
    // return counts, with its z-score against the Poisson null
    // (VMR−1 ≈ N(0, 2/(n−1))). All moments are exact Longs; two floats at
    // the end. VMR ≫ 1 says churn-risk concentrates — the signal a
    // retention model trains on.
    GraftQuery(
      "q284_return_overdispersion",
      (s, dir) => {
        val per = Tables(s, dir, "lineitem")
          .join(Tables(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_custkey"))
          .agg(sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)).as("r"))
        val m = per.agg(count(lit(1)).as("n"), sum(col("r")).as("s"),
          sum(expr("CAST(r AS DECIMAL(38,0)) * r")).as("ss"))
        val n = col("n").cast("double")
        val mean = col("s").cast("double") / n
        val variance = (n * col("ss").cast("double")
          - col("s").cast("double") * col("s").cast("double")) / (n * (n - 1))
        m.select(col("n").as("n_customers"),
            round(mean, 4).as("mean_returns"),
            round(variance / mean, 4).as("dispersion_index"),
            round((variance / mean - 1.0) / sqrt(lit(2.0) / (n - 1)), 4)
              .as("z_vs_poisson"))
      },
      Some("""WITH per AS (
        |  SELECT o_custkey,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS r
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(r) AS BIGINT) AS s,
        |    SUM(CAST(r AS HUGEINT) * r) AS ss
        |  FROM per)
        |SELECT n AS n_customers,
        |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_returns,
        |  round(((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |          - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1)))
        |        / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 4)
        |    AS dispersion_index,
        |  round((((CAST(n AS DOUBLE) * CAST(ss AS DOUBLE)
        |           - CAST(s AS DOUBLE) * s) / (CAST(n AS DOUBLE) * (n - 1)))
        |         / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) - 1.0)
        |        / sqrt(2.0 / (CAST(n AS DOUBLE) - 1)), 4) AS z_vs_poisson
        |FROM m""".stripMargin)))
}
