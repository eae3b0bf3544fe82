package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Window functions (ranking, analytic, frames), global sort/top-k, set
  * operations, sampling (reference `cli/Sample.java:99`). Running/moving sums
  * go through DECIMAL so window accumulation is bit-identical to the oracle.
  */
object Analytics extends QueryPack {

  private def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q15_window_rank_top3_per_brand",
      (s, dir) => {
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        Tables(s, dir, "part")
          .withColumn("rnk", row_number().over(w))
          .filter(col("rnk") <= 3)
          .select(col("p_brand"), col("p_partkey"), col("p_retailprice"),
            col("rnk").cast("long").as("rnk"))
          .orderBy("p_brand", "rnk")
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT p_brand, p_partkey, p_retailprice,
        |        row_number() OVER (PARTITION BY p_brand
        |                           ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |      FROM part) t
        |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin)),

    // q15's semantics via the bounded-heap TopKAgg aggregator instead of a
    // window: partial aggregation keeps ≤3 rows per (brand, map task) so the
    // shuffle never carries the full table — the 100 TB top-k-per-group
    // plan. Shares q15's oracle; results must be bit-identical.
    GraftQuery(
      "q76_topk_per_group_agg",
      (s, dir) => {
        val topk = udaf(graft.functions.TopKAgg(3))
        Tables(s, dir, "part")
          .groupBy(col("p_brand"))
          .agg(topk(col("p_retailprice"), col("p_partkey")).as("top"))
          .select(col("p_brand"), posexplode(col("top")))
          .select(col("p_brand"), col("col._2").as("p_partkey"),
            col("col._1").as("p_retailprice"), (col("pos") + 1).cast("long").as("rnk"))
          .orderBy("p_brand", "rnk")
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT p_brand, p_partkey, p_retailprice,
        |        row_number() OVER (PARTITION BY p_brand
        |                           ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |      FROM part) t
        |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin)),

    // q15's semantics a THIRD way: the custom physical operator
    // (plans.TopKPerGroupExec — bounded per-partition heaps around the group
    // exchange, tier-(c) LogicalPlan+Strategy+SparkPlan). The shuffle carries
    // ≤ k rows per (group, map partition) and nothing is ever sorted beyond
    // the k survivors; rnk is reconstructed by a window over the tiny
    // (k·groups)-row result. Shares q15's oracle; must be bit-identical.
    GraftQuery(
      "q147_topk_custom_plan",
      (s, dir) => {
        val base = Tables(s, dir, "part")
          .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
        val top = graft.plans.TopKPerGroup(
          base, Seq("p_brand"), Seq(("p_retailprice", false), ("p_partkey", true)), 3)
        val w = Window.partitionBy(col("p_brand"))
          .orderBy(col("p_retailprice").desc, col("p_partkey").asc)
        top.withColumn("rnk", row_number().over(w).cast("long"))
          .orderBy("p_brand", "rnk")
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice, CAST(rnk AS BIGINT) AS rnk
        |FROM (SELECT p_brand, p_partkey, p_retailprice,
        |        row_number() OVER (PARTITION BY p_brand
        |                           ORDER BY p_retailprice DESC, p_partkey) AS rnk
        |      FROM part) t
        |WHERE rnk <= 3 ORDER BY p_brand, rnk""".stripMargin)),

    GraftQuery(
      "q16_window_running_revenue",
      (s, dir) => {
        val w = Window.partitionBy(col("l_suppkey"))
          .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "lineitem")
          .filter(col("l_suppkey") < 10)
          .withColumn("running_rev", sum(dec2(col("l_extendedprice"))).over(w).cast("double"))
          .select(col("l_suppkey"), col("l_orderkey"),
            col("l_linenumber").cast("long").as("l_linenumber"),
            date_format(col("l_shipdate"), "yyyy-MM-dd").as("ship_date"),
            col("running_rev"))
          .orderBy("l_suppkey", "ship_date", "l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_suppkey, l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  strftime(l_shipdate, '%Y-%m-%d') AS ship_date,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |       OVER (PARTITION BY l_suppkey
        |             ORDER BY l_shipdate, l_orderkey, l_linenumber
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_rev
        |FROM lineitem WHERE l_suppkey < 10
        |ORDER BY l_suppkey, ship_date, l_orderkey, l_linenumber""".stripMargin)),

    GraftQuery(
      "q17_window_moving_avg",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
          .rowsBetween(-4, Window.currentRow)
        Tables(s, dir, "orders")
          .filter(col("o_custkey") < 100)
          .withColumn("mov_sum", sum(dec2(col("o_totalprice"))).over(w).cast("double"))
          .withColumn("mov_n", count(lit(1)).over(w))
          .select(col("o_custkey"), col("o_orderkey"),
            (col("mov_sum") / col("mov_n")).as("mov_avg_price"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
        |       OVER w AS DOUBLE) / COUNT(*) OVER w AS mov_avg_price
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    GraftQuery(
      "q18_window_lag_lead",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        Tables(s, dir, "orders")
          .filter(col("o_custkey") < 100)
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
            lag(col("o_totalprice"), 1).over(w).as("prev_price"),
            lead(col("o_totalprice"), 1).over(w).as("next_price"),
            (col("o_totalprice") - lag(col("o_totalprice"), 1).over(w)).as("price_delta"))
          .orderBy("o_custkey", "o_orderkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice,
        |  lag(o_totalprice, 1) OVER w AS prev_price,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  o_totalprice - lag(o_totalprice, 1) OVER w AS price_delta
        |FROM orders WHERE o_custkey < 100
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin)),

    GraftQuery(
      "q19_topk_orders",
      (s, dir) => {
        Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    GraftQuery(
      "q20_set_union_segments",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
          .union(c.filter(col("c_mktsegment") === "AUTOMOBILE").select(col("c_custkey")))
          .distinct()
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
        |ORDER BY c_custkey""".stripMargin)),

    GraftQuery(
      "q21_set_intersect_repeat_buyers",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        o.filter(year(col("o_orderdate")) === 1995).select(col("o_custkey"))
          .intersect(o.filter(year(col("o_orderdate")) === 1996).select(col("o_custkey")))
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1996
        |ORDER BY o_custkey""".stripMargin)),

    GraftQuery(
      "q22_set_except_no_1995_order",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders")
        c.select(col("c_custkey"))
          .except(o.filter(year(col("o_orderdate")) === 1995)
            .select(col("o_custkey").as("c_custkey")))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey FROM customer
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE YEAR(o_orderdate) = 1995
        |ORDER BY c_custkey""".stripMargin)),

    // Bernoulli sample (reference `cli/Sample.java:99`), content-addressed:
    // each line is kept iff its md5 bucket falls under round(0.01·4096) —
    // the same inclusion probability as an RNG draw but a pure function of
    // the row key, so the sample is reproducible across engines, runs, and
    // corpus regrowth AND hash-checkable against the SQL oracle. The seeded
    // RNG sampler (engine-dependent draw) stays available as
    // Sampling.bernoulli for reference parity.
    GraftQuery(
      "q23_sample_bernoulli",
      (s, dir) => {
        graft.operators.Sampling.bernoulliByHash(
          Tables(s, dir, "lineitem"), fraction = 0.01,
          key = concat_ws("-", col("l_orderkey"), col("l_linenumber")))
          .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
            col("l_quantity"))
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""WITH b AS (
        |  SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |    l_quantity,
        |    (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 256 +
        |    (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16 +
        |    (instr('0123456789abcdef', substr(h, 3, 1)) - 1) AS bucket
        |  FROM (SELECT *, md5(l_orderkey || '-' || l_linenumber) AS h
        |        FROM lineitem))
        |SELECT l_orderkey, l_linenumber, l_quantity FROM b WHERE bucket < 41
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // Stratified sample (per-stratum Bernoulli fractions) — the
    // class-balancing primitive for training-data curation. Same
    // content-addressed draw as q23 with a per-stratum threshold, so the
    // balance is reproducible and oracle-checkable.
    GraftQuery(
      "q64_sample_stratified",
      (s, dir) => {
        // round(frac·4096): 0.02→82, 0.01→41, 0.005→20
        val thr = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 82)
          .when(col("o_orderpriority").isin("3-MEDIUM", "4-NOT SPECIFIED"), 41)
          .otherwise(20)
        Tables(s, dir, "orders")
          .filter(graft.operators.Sampling.hashBucket(col("o_orderkey")) < thr)
          .select(col("o_orderkey"), col("o_orderpriority"))
          .orderBy("o_orderkey")
      },
      Some("""WITH b AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    (instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 256 +
        |    (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * 16 +
        |    (instr('0123456789abcdef', substr(h, 3, 1)) - 1) AS bucket
        |  FROM (SELECT *, md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders))
        |SELECT o_orderkey, o_orderpriority FROM b
        |WHERE bucket < CASE o_orderpriority
        |  WHEN '1-URGENT' THEN 82 WHEN '2-HIGH' THEN 82
        |  WHEN '3-MEDIUM' THEN 41 WHEN '4-NOT SPECIFIED' THEN 41
        |  ELSE 20 END
        |ORDER BY o_orderkey""".stripMargin)),

    // HLL approximate distinct: approximate by construction → rows-only check.
    GraftQuery(
      "q24_approx_count_distinct",
      (s, dir) => {
        // the HLL sketch value is engine-specific by definition — the
        // oracle-checkable surface is the EXACT scaffolding plus the
        // published-error-bound contract (default rsd 0.05; a 10% pin
        // leaves 2x headroom), the q331 pattern
        Tables(s, dir, "events")
          .groupBy(col("event_type"))
          .agg(
            approx_count_distinct(col("user_id")).as("approx_users"),
            countDistinct(col("user_id")).as("exact_users"),
            count(lit(1)).as("n_events"))
          .select(col("event_type"), col("exact_users"), col("n_events"),
            (abs(col("approx_users") - col("exact_users")) <=
              greatest(lit(1L), col("exact_users") / 10)).as("approx_within_tol"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  TRUE AS approx_within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Clamped (non-negative) running stock — inventory semantics
    // `s_t = max(0, s_{t−1} + δ_t)` WITHOUT a sequential fold, via the
    // prefix-min identity `s_t = prefix_t − min(0, min_{j≤t} prefix_j)`:
    // two per-key windows (running sum + running min) turn the non-linear
    // recurrence into plain parallel scans. Deltas are exact quantity
    // Longs (+qty on returned lines, −qty otherwise, in shipdate order);
    // final stock even reduces to aggregates only (total − min(0, global
    // min prefix)). Per-supplier partitions — no global window anywhere.
    GraftQuery(
      "q234_clamped_running_stock",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val li = Tables(s, dir, "lineitem")
          .select(col("l_suppkey").as("supp"),
            expr("datediff(l_shipdate, DATE '1970-01-01')").cast("long").as("day"),
            col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
            when(col("l_returnflag") === "R",
              expr("CAST(l_quantity AS BIGINT)"))
              .otherwise(expr("-CAST(l_quantity AS BIGINT)")).as("delta"))
        val w = Window.partitionBy("supp").orderBy("day", "ok", "ln")
        li
          .withColumn("prefix",
            sum(col("delta")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("runmin",
            min(col("prefix")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
          .withColumn("clamped", col("prefix") - least(lit(0L), col("runmin")))
          .groupBy(col("supp"))
          .agg(count(lit(1)).as("n_moves"),
            (sum(col("delta")) - least(lit(0L), min(col("prefix"))))
              .as("final_stock"),
            max(col("clamped")).as("peak_stock"))
          .orderBy("supp")
      },
      Some("""WITH li AS (
        |  SELECT l_suppkey AS supp,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    l_orderkey AS ok, l_linenumber AS ln,
        |    CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT)
        |         ELSE -CAST(l_quantity AS BIGINT) END AS delta
        |  FROM lineitem),
        |pre AS (
        |  SELECT supp, day, ok, ln, delta,
        |    SUM(delta) OVER (PARTITION BY supp ORDER BY day, ok, ln
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prefix
        |  FROM li),
        |p AS (
        |  SELECT supp, delta, prefix,
        |    MIN(prefix) OVER (PARTITION BY supp ORDER BY day, ok, ln
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
        |  FROM pre)
        |SELECT supp, CAST(COUNT(*) AS BIGINT) AS n_moves,
        |  CAST(SUM(delta) - LEAST(0, MIN(prefix)) AS BIGINT) AS final_stock,
        |  CAST(MAX(prefix - LEAST(0, runmin)) AS BIGINT) AS peak_stock
        |FROM p GROUP BY supp ORDER BY supp""".stripMargin)),

    // Purchase-cadence histogram — customers bucketed by their average
    // inter-order gap, compared EXACTLY: the bucket predicate cross-
    // multiplies (Σgaps < bound·n_gaps) so no per-customer float average
    // exists; the pooled average per bucket divides two exact Long totals
    // once at the end. One lag window per customer + two aggregations.
    GraftQuery(
      "q235_purchase_cadence",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("ck").orderBy("day", "ok")
        val gaps = Tables(s, dir, "orders")
          .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
            expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long").as("day"))
          .withColumn("gap", col("day") - lag(col("day"), 1).over(w))
          .filter(col("gap").isNotNull)
          .groupBy(col("ck"))
          .agg(sum(col("gap")).as("sg"), count(lit(1)).as("ng"))
        gaps
          .withColumn("bucket",
            when(col("sg") < col("ng") * 60, "fast_lt60d")
              .when(col("sg") < col("ng") * 120, "mid_60_120d")
              .otherwise("slow_ge120d"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("sg")).as("total_gap_days"), sum(col("ng")).as("total_gaps"))
          .select(col("bucket"), col("n_customers"),
            round(col("total_gap_days").cast("double")
              / col("total_gaps").cast("double"), 4).as("pooled_avg_gap_days"))
          .orderBy("bucket")
      },
      Some("""WITH o AS (
        |  SELECT o_custkey AS ck, o_orderkey AS ok,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM orders),
        |g AS (
        |  SELECT ck, day - lag(day) OVER (PARTITION BY ck ORDER BY day, ok) AS gap
        |  FROM o),
        |c AS (
        |  SELECT ck, CAST(SUM(gap) AS BIGINT) AS sg,
        |    CAST(COUNT(*) AS BIGINT) AS ng
        |  FROM g WHERE gap IS NOT NULL GROUP BY ck),
        |b AS (
        |  SELECT CASE WHEN sg < ng * 60 THEN 'fast_lt60d'
        |              WHEN sg < ng * 120 THEN 'mid_60_120d'
        |              ELSE 'slow_ge120d' END AS bucket,
        |    sg, ng
        |  FROM c)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  round(CAST(SUM(sg) AS DOUBLE) / CAST(SUM(ng) AS DOUBLE), 4)
        |    AS pooled_avg_gap_days
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Fulfilment SLA per priority — ship-delay (line ship date minus order
    // date, integer days) p50/p90 plus the exact within-60-days share.
    // One orderkey-partitioned join feeds a grouped percentile aggregate
    // (5 groups); the delay stays an exact integer until the interpolating
    // percentile, and the SLA share is a cross-multiplied Long predicate.
    GraftQuery(
      "q243_fill_time_sla",
      (s, dir) => {
        val d = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"),
            expr("datediff(l_shipdate, DATE '1970-01-01')").cast("long").as("sd"))
          .join(Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_orderpriority").as("priority"),
              expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long").as("od")),
            col("l_orderkey") === col("o_orderkey"))
          .select(col("priority"), (col("sd") - col("od")).cast("double").as("delay"))
        d.groupBy(col("priority"))
          .agg(count(lit(1)).as("n_lines"),
            round(expr("percentile(delay, 0.5)"), 4).as("p50_days"),
            round(expr("percentile(delay, 0.9)"), 4).as("p90_days"),
            round(sum(when(col("delay") <= 60, 1L).otherwise(0L)).cast("double")
              / count(lit(1)).cast("double"), 6).as("within_60d"))
          .orderBy("priority")
      },
      Some("""WITH d AS (
        |  SELECT o_orderpriority AS priority,
        |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE)
        |      AS DOUBLE) AS delay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT priority, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  round(quantile_cont(delay, 0.5), 4) AS p50_days,
        |  round(quantile_cont(delay, 0.9), 4) AS p90_days,
        |  round(CAST(SUM(CASE WHEN delay <= 60 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 6) AS within_60d
        |FROM d GROUP BY priority ORDER BY priority""".stripMargin)),

    // Runner-up analysis — the SECOND-richest customer per nation via
    // nth_value over the full partition frame, with their cume_dist in the
    // nation's ascending balance order (how far up the distribution the
    // runner-up sits). Completes the window-function surface (nth_value,
    // cume_dist) the q15/q16/q60/q168 family doesn't exercise; every
    // window is nation-partitioned, and the total order carries a name
    // tiebreaker so peers are single rows and cume_dist = rank/n exactly.
    GraftQuery(
      "q249_runner_up_profile",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val c = Tables(s, dir, "customer")
          .join(broadcast(Tables(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .select(col("n_name"), col("c_name"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
        val desc = Window.partitionBy("n_name")
          .orderBy(col("bal_cents").desc, col("c_name").asc)
        val asc = Window.partitionBy("n_name")
          .orderBy(col("bal_cents").asc, col("c_name").desc)
        c.withColumn("rn", row_number().over(desc))
          .withColumn("cd", cume_dist().over(asc))
          .withColumn("top_name", first(col("c_name")).over(
            desc.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
          .filter(col("rn") === 2)
          .select(col("n_name"), col("top_name"),
            col("c_name").as("runner_up"), col("bal_cents"),
            round(col("cd"), 6).as("runner_up_cume_dist"))
          .orderBy("n_name")
      },
      Some("""WITH c AS (
        |  SELECT n_name, c_name,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |w AS (
        |  SELECT n_name, c_name, bal_cents,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY bal_cents DESC, c_name) AS rn,
        |    cume_dist() OVER (PARTITION BY n_name
        |      ORDER BY bal_cents ASC, c_name DESC) AS cd,
        |    first_value(c_name) OVER (PARTITION BY n_name
        |      ORDER BY bal_cents DESC, c_name
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |      AS top_name
        |  FROM c)
        |SELECT n_name, top_name, c_name AS runner_up, bal_cents,
        |  round(cd, 6) AS runner_up_cume_dist
        |FROM w WHERE rn = 2 ORDER BY n_name""".stripMargin)),

    // Distribution-transfer bucketing — 1998+ orders classified against
    // the quartile boundaries of the 1995–1997 baseline (the drift check
    // "are this year's order values bigger than history's"). Boundaries
    // are ONE interpolated-percentile aggregate (3 doubles, broadcast);
    // the new cohort never sorts globally — each row compares against the
    // broadcast scalars. Both engines interpolate percentiles with the
    // same IEEE arithmetic on the same exact inputs.
    GraftQuery(
      "q250_quartile_transfer",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice").as("v"),
            expr("year(o_orderdate)").as("yr"))
        val bounds = o.filter(col("yr") <= 1997)
          .agg(expr("percentile(v, 0.25)").as("b1"),
            expr("percentile(v, 0.5)").as("b2"),
            expr("percentile(v, 0.75)").as("b3"))
        o.filter(col("yr") >= 1998)
          .crossJoin(broadcast(bounds))
          .withColumn("bucket",
            when(col("v") < col("b1"), "Q1_low")
              .when(col("v") < col("b2"), "Q2")
              .when(col("v") < col("b3"), "Q3")
              .otherwise("Q4_high"))
          .groupBy(col("bucket"))
          .agg(count(lit(1)).as("n_orders"))
          .withColumn("share", round(col("n_orders").cast("double")
            / sum(col("n_orders")).over(
              org.apache.spark.sql.expressions.Window.partitionBy()), 6))
          .orderBy("bucket")
      },
      Some("""WITH o AS (
        |  SELECT o_orderkey, o_totalprice AS v, year(o_orderdate) AS yr
        |  FROM orders),
        |b AS (
        |  SELECT quantile_cont(v, 0.25) AS b1, quantile_cont(v, 0.5) AS b2,
        |    quantile_cont(v, 0.75) AS b3
        |  FROM o WHERE yr <= 1997),
        |n AS (
        |  SELECT CASE WHEN v < b1 THEN 'Q1_low'
        |              WHEN v < b2 THEN 'Q2'
        |              WHEN v < b3 THEN 'Q3'
        |              ELSE 'Q4_high' END AS bucket
        |  FROM o, b WHERE yr >= 1998)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  round(CAST(COUNT(*) AS DOUBLE)
        |        / CAST(SUM(COUNT(*)) OVER () AS DOUBLE), 6) AS share
        |FROM n GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Late-shipment trend — the share of lines shipping more than 90 days
    // after their order, per ship month: the operational SLA trend line.
    // One orderkey join, exact integer day gaps and cross-multiplied
    // shares; the month rollup is a 84-row frame.
    GraftQuery(
      "q264_late_shipment_trend",
      (s, dir) => {
        val d = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"),
            expr("CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1 AS BIGINT)")
              .as("m"),
            expr("datediff(l_shipdate, DATE '1970-01-01')").cast("long").as("sd"))
          .join(Tables(s, dir, "orders")
            .select(col("o_orderkey"),
              expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long").as("od")),
            col("l_orderkey") === col("o_orderkey"))
        d.groupBy(col("m"))
          .agg(count(lit(1)).as("n_lines"),
            sum(when(col("sd") - col("od") > 90, 1L).otherwise(0L)).as("n_late"))
          .withColumn("late_share", round(col("n_late").cast("double")
            / col("n_lines").cast("double"), 6))
          .orderBy("m")
      },
      Some("""WITH d AS (
        |  SELECT CAST((year(l_shipdate) - 1995) * 12 + month(l_shipdate) - 1
        |      AS BIGINT) AS m,
        |    CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS BIGINT)
        |      AS gap
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT m, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CASE WHEN gap > 90 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  round(CAST(SUM(CASE WHEN gap > 90 THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 6) AS late_share
        |FROM d GROUP BY m ORDER BY m""".stripMargin)),

    // Chi-square uniformity test on the quantity distribution — is
    // l_quantity uniform over 1..50 (as TPC-H specifies)? Expected count
    // = n/50 per cell; per-cell chi² terms from exact Long counts with a
    // single final float each, plus the grand statistic. q217's Benford
    // screen tests a LAW, this tests a SPEC — both are the
    // generator-regression gates a data platform runs on every refresh.
    GraftQuery(
      "q265_quantity_uniformity",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val g = Tables(s, dir, "lineitem")
          .groupBy(expr("CAST(l_quantity AS INT)").as("qty"))
          .agg(count(lit(1)).as("obs"))
          .withColumn("n", sum(col("obs")).over(Window.partitionBy()))
        val e = col("n").cast("double") / 50.0
        // grand statistic via the exact-moment identity
        // Σ(obs−n/50)²/(n/50) = 50·Σobs²/n − n — the float never sums
        // across rows (Σobs² is an exact Long window sum)
        g.withColumn("sumsq",
            sum(col("obs") * col("obs")).over(Window.partitionBy()))
          .select(col("qty"), col("obs"),
            round(pow(col("obs").cast("double") - e, 2) / e, 4).as("chi2_term"),
            round(lit(50.0) * col("sumsq").cast("double")
              / col("n").cast("double") - col("n").cast("double"), 4)
              .as("chi2_total"))
          .orderBy("qty")
      },
      Some("""WITH g AS (
        |  SELECT CAST(l_quantity AS INT) AS qty, CAST(COUNT(*) AS BIGINT) AS obs
        |  FROM lineitem GROUP BY 1),
        |w AS (SELECT *, SUM(obs) OVER () AS n,
        |        SUM(CAST(obs AS HUGEINT) * obs) OVER () AS sumsq FROM g)
        |SELECT qty, obs,
        |  round(pow(CAST(obs AS DOUBLE) - CAST(n AS DOUBLE) / 50.0, 2)
        |        / (CAST(n AS DOUBLE) / 50.0), 4) AS chi2_term,
        |  round(50.0 * CAST(sumsq AS DOUBLE) / CAST(n AS DOUBLE)
        |        - CAST(n AS DOUBLE), 4) AS chi2_total
        |FROM w ORDER BY qty""".stripMargin)),

    // RFM segmentation — recency / frequency / monetary terciles per
    // customer (each with a custkey tiebreaker so the cut is
    // deterministic), rolled up to the 27-cell segment grid with pooled
    // exact monetary averages. The classic CRM propensity base table.
    // Each tercile is rank arithmetic over a DistributedPrefixSum global
    // index (desc order via negated metric) — three range shuffles of the
    // per-customer rollup, zero single-partition ntile windows.
    GraftQuery(
      "q279_rfm_segments",
      (s, dir) => {
        import graft.operators.DistributedPrefixSum
        val o = Tables(s, dir, "orders")
          .select(col("o_custkey").as("ck"),
            expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long").as("day"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("c"))
        val per = o.groupBy(col("ck"))
          .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
            sum(col("c")).as("money"))
          .withColumn("neg_last", -col("last_day"))
          .withColumn("neg_freq", -col("freq"))
          .withColumn("neg_money", -col("money"))
        val byR = DistributedPrefixSum.scanWithTotals(
          per, Seq("neg_last", "ck"), Nil, idxName = "ri")
        val byF = DistributedPrefixSum.scan(
          byR.df, Seq("neg_freq", "ck"), Nil, idxName = "fi")
        val byM = DistributedPrefixSum.scan(
          byF, Seq("neg_money", "ck"), Nil, idxName = "mi")
        val n = byR.totalCount
        val scored = byM
          .withColumn("r", DistributedPrefixSum.ntileFromIndex(3, "ri", n))
          .withColumn("f", DistributedPrefixSum.ntileFromIndex(3, "fi", n))
          .withColumn("m", DistributedPrefixSum.ntileFromIndex(3, "mi", n))
        scored.groupBy(concat(col("r"), lit("-"), col("f"), lit("-"), col("m"))
            .as("segment"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("money")).as("mc"), sum(col("freq")).as("orders"))
          .select(col("segment"), col("n_customers"), col("orders"),
            round(col("mc").cast("double") / col("n_customers").cast("double")
              / 100.0, 2).as("avg_monetary"))
          .orderBy("segment")
      },
      Some("""WITH o AS (
        |  SELECT o_custkey AS ck,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c
        |  FROM orders),
        |p AS (
        |  SELECT ck, MAX(day) AS last_day, CAST(COUNT(*) AS BIGINT) AS freq,
        |    CAST(SUM(c) AS BIGINT) AS money
        |  FROM o GROUP BY 1),
        |sc AS (
        |  SELECT *,
        |    ntile(3) OVER (ORDER BY last_day DESC, ck) AS r,
        |    ntile(3) OVER (ORDER BY freq DESC, ck) AS f,
        |    ntile(3) OVER (ORDER BY money DESC, ck) AS m
        |  FROM p)
        |SELECT r || '-' || f || '-' || m AS segment,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(freq) AS BIGINT) AS orders,
        |  round(CAST(SUM(money) AS DOUBLE) / COUNT(*) / 100.0, 2)
        |    AS avg_monetary
        |FROM sc GROUP BY 1 ORDER BY segment""".stripMargin)),

    // Peak order concurrency — how many orders are simultaneously OPEN
    // (order date through last line ship date) at the worst moment: the
    // interval max-overlap problem by sweep line, NOT an interval join:
    // ±1 deltas at start/end+1, one day-level aggregate, then a running
    // sum through DistributedPrefixSum whose max is the peak. Exact, two
    // shuffles, no pair blowup — the capacity number a fulfilment
    // simulation starts from.
    GraftQuery(
      "q282_peak_open_orders",
      (s, dir) => {
        val span = Tables(s, dir, "lineitem")
          .groupBy(col("l_orderkey"))
          .agg(max(expr("datediff(l_shipdate, DATE '1970-01-01')")).cast("long")
            .as("close_day"))
          .join(Tables(s, dir, "orders")
            .select(col("o_orderkey"),
              expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long")
                .as("open_day")),
            col("l_orderkey") === col("o_orderkey"))
        val deltas = span.select(col("open_day").as("day"), lit(1L).as("d"))
          .unionByName(span.select((col("close_day") + 1).as("day"),
            lit(-1L).as("d")))
          .groupBy(col("day")).agg(sum(col("d")).as("d"))
        val swept = graft.operators.DistributedPrefixSum
          .scan(deltas, Seq("day"), Seq("d"))
        val nOrders = span.agg(count(lit(1)).as("n_orders"))
        swept.crossJoin(broadcast(nOrders))
          .orderBy(col("run_d").desc, col("day").asc)
          .limit(1)
          .select(col("n_orders"), col("run_d").as("peak_open"),
            col("day").as("peak_day"))
      },
      Some("""WITH span AS (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS open_day,
        |    (SELECT CAST(MAX(CAST(l_shipdate AS DATE) - DATE '1970-01-01')
        |       AS BIGINT)
        |     FROM lineitem WHERE l_orderkey = o_orderkey) AS close_day
        |  FROM orders
        |  WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey)),
        |d AS (
        |  SELECT day, CAST(SUM(dd) AS BIGINT) AS d FROM (
        |    SELECT open_day AS day, 1 AS dd FROM span
        |    UNION ALL
        |    SELECT close_day + 1, -1 FROM span) GROUP BY 1),
        |r AS (
        |  SELECT day, SUM(d) OVER (ORDER BY day) AS run_d FROM d),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_orders FROM span)
        |SELECT n.n_orders, CAST(r.run_d AS BIGINT) AS peak_open,
        |  CAST(r.day AS BIGINT) AS peak_day
        |FROM r, n ORDER BY r.run_d DESC, r.day LIMIT 1""".stripMargin))
  )
}
