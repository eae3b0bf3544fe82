package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import graft.operators.AsOfJoin
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Relational core: scan/filter/project, every join shape, hash aggregation,
  * rollup/cube/grouping sets. Mirrors the reference's filter/count idiom
  * (reference `cli/Test.java:119-133`) collapsed into Catalyst-native
  * groupBy/agg, widened to the declared engine surface (SURVEY.md §2.2).
  *
  * Money sums are exact cross-engine two ways: full-scan aggregations
  * (q01/q05/q12/q13/q14) project the 2-decimal measures to cent LONGs so
  * the sums stay on the codegen'd Long path (DECIMAL(18,2) sums promote to
  * DECIMAL(28,2) — the ~6× slower BigDecimal path); join-reduced
  * aggregations keep the simpler DECIMAL(18,2|4)-then-double form where
  * the decimal agg is off the critical path.
  */
object Relational extends QueryPack {

  private def dsum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")
  private def dsum4(c: Column): Column = sum(c.cast(DecimalType(18, 4))).cast("double")

  def queries: Seq[GraftQuery] = Seq(
    // The measures are exactly 2-decimal, so the scan projects them to cent
    // LONGs and every sum stays on the codegen'd Long path (a DECIMAL(18,2)
    // sum would promote to DECIMAL(28,2) — the ~6× slower BigDecimal path;
    // same lesson as q127). The discounted-price product sum is split hi/lo
    // around 10⁹ so it stays overflow-free to ~10⁹ rows per group, then
    // reassembles in DECIMAL(38,0) — bit-identical to the oracle's HUGEINT
    // sums after the shared int→double→÷ tail.
    GraftQuery(
      "q01_agg_pricing_summary",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .filter(col("l_shipdate") <= lit("2001-09-01"))
          .select(col("l_returnflag"), col("l_linestatus"),
            expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_c"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("price_c"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("disc_c"))
          .groupBy(col("l_returnflag"), col("l_linestatus"))
          .agg(
            sum(col("qty_c")).as("sq"),
            sum(col("price_c")).as("sp"),
            sum(expr("(price_c * (100 - disc_c)) div 1000000000")).as("hi"),
            sum(expr("(price_c * (100 - disc_c)) % 1000000000")).as("lo"),
            count(lit(1)).as("count_order"))
          .select(col("l_returnflag"), col("l_linestatus"),
            (col("sq").cast("double") / 100.0).as("sum_qty"),
            (col("sp").cast("double") / 100.0).as("sum_base_price"),
            (expr("CAST(CAST(hi AS DECIMAL(38,0)) * 1000000000 + lo AS DOUBLE)") / 10000.0)
              .as("sum_disc_price"),
            (col("sq").cast("double") / 100.0 / col("count_order")).as("avg_qty"),
            col("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""WITH sc AS (
        |  SELECT l_returnflag, l_linestatus,
        |    CAST(round(l_quantity * 100) AS BIGINT) AS qty_c,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(round(l_discount * 100) AS BIGINT) AS disc_c
        |  FROM lineitem
        |  WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00')
        |SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(qty_c) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(SUM(price_c) AS DOUBLE) / 100.0 AS sum_base_price,
        |  CAST(SUM(price_c * (100 - disc_c)) AS DOUBLE) / 10000.0 AS sum_disc_price,
        |  CAST(SUM(qty_c) AS DOUBLE) / 100.0 / COUNT(*) AS avg_qty,
        |  CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM sc GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    GraftQuery(
      "q02_filter_predicates",
      (s, dir) => {
        Tables(s, dir, "part")
          .filter(
            col("p_size").isin(5, 15, 25, 35, 45) &&
            col("p_type").isin("ECONOMY", "STANDARD") &&
            col("p_name").like("%e%") &&
            regexp_extract(col("p_brand"), "Brand#(\\d+)", 1).cast("int") % 2 === 1)
          .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_type"),
            col("p_size").cast("long").as("p_size"), col("p_retailprice"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, p_name, p_brand, p_type,
        |  CAST(p_size AS BIGINT) AS p_size, p_retailprice
        |FROM part
        |WHERE p_size IN (5,15,25,35,45) AND p_type IN ('ECONOMY','STANDARD')
        |  AND p_name LIKE '%e%'
        |  AND CAST(regexp_extract(p_brand, 'Brand#(\d+)', 1) AS INTEGER) % 2 = 1
        |ORDER BY p_partkey""".stripMargin)),

    GraftQuery(
      "q03_join_broadcast_revenue_by_brand",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val p = Tables(s, dir, "part")
        li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
          .groupBy(col("p_brand"))
          .agg(
            dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    GraftQuery(
      "q04_join_shuffle_orders",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
        val o = Tables(s, dir, "orders")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(
            count(lit(1)).as("n_items"),
            dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority,
        |  CAST(COUNT(*) AS BIGINT) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    GraftQuery(
      "q05_join_star_revenue_by_region",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        val r = Tables(s, dir, "region")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .withColumn("price_c", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .groupBy(col("r_name"), col("n_name"))
          .agg((sum(col("price_c")).cast("double") / 100.0).as("turnover"),
            count(lit(1)).as("n_orders"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS turnover,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin)),

    GraftQuery(
      "q06_left_join_customers_per_nation",
      (s, dir) => {
        val n = Tables(s, dir, "nation")
        val c = Tables(s, dir, "customer")
        n.join(c, n("n_nationkey") === c("c_nationkey"), "left")
          .groupBy(col("n_name"))
          .agg(count(col("c_custkey")).as("n_customers"), dsum2(col("c_acctbal")).as("total_bal"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name,
        |  CAST(COUNT(c_custkey) AS BIGINT) AS n_customers,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM nation LEFT JOIN customer ON n_nationkey = c_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    GraftQuery(
      "q07_semi_join_big_quantity_orders",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val li = Tables(s, dir, "lineitem").filter(col("l_quantity") >= 48)
        o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("turnover"))
          .orderBy("o_orderstatus")
      },
      Some("""SELECT o_orderstatus,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS turnover
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    GraftQuery(
      "q08_anti_join_customers_without_urgent_orders",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
        val o = Tables(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .groupBy(col("c_mktsegment"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("c_mktsegment")
      },
      Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    GraftQuery(
      "q09_theta_join_price_bands",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val bands = s.createDataFrame(Seq(
          ("small", 0.0, 50000.0),
          ("medium", 50000.0, 200000.0),
          ("large", 200000.0, 600000.0))).toDF("band", "lo", "hi")
        o.join(broadcast(bands), col("o_totalprice") >= col("lo") && col("o_totalprice") < col("hi"))
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_orders"), dsum2(col("o_totalprice")).as("turnover"))
          .orderBy("band")
      },
      Some("""SELECT band,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS turnover
        |FROM orders JOIN (VALUES ('small',0.0,50000.0),('medium',50000.0,200000.0),
        |                         ('large',200000.0,600000.0)) AS b(band,lo,hi)
        |  ON o_totalprice >= lo AND o_totalprice < hi
        |GROUP BY band ORDER BY band""".stripMargin)),

    GraftQuery(
      "q10_asof_join_latest_order_before_event",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
        val o = Tables(s, dir, "orders")
        AsOfJoin(
          left = e,
          leftKey = col("user_id"),
          leftTime = col("ts_us"),
          right = o,
          rightKey = col("o_custkey"),
          rightTime = unix_micros(col("o_orderdate").cast("timestamp")),
          tiebreak = col("o_orderkey"),
          payload = Seq("o_orderkey", "o_totalprice"))
          .select(col("event_id"), col("ts_us"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, epoch_us(e.ts) AS ts_us, l.o_orderkey, l.o_totalprice
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = e.user_id AND o.o_orderdate <= e.ts
        |  ORDER BY o.o_orderdate DESC, o.o_orderkey DESC LIMIT 1
        |) l ON true
        |ORDER BY e.event_id""".stripMargin)),

    // Salted skew-join, oracle-proven: revenue by brand through
    // SaltedJoin's (key, shard) rewrite must hash-match the plain-join SQL —
    // salting redistributes rows, never changes them. The declared proof
    // that the skew tool is semantics-preserving.
    GraftQuery(
      "q85_salted_join_revenue",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
        val p = Tables(s, dir, "part").select(col("p_partkey"), col("p_brand"))
        graft.operators.SaltedJoin(li, col("l_partkey"), p, col("p_partkey"), salts = 8)
          .groupBy(col("p_brand"))
          .agg(
            dsum4(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin)),

    // Nearest as-of: the closest order in either direction per event,
    // equidistant ties to backward; tie-break inside a date is max orderkey
    // on the backward side, min on the forward side (the window's carry
    // order), which the oracle mirrors with a signed-key CASE.
    GraftQuery(
      "q86_asof_nearest",
      (s, dir) => {
        import graft.operators.AsOfJoin
        val e = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
        val o = Tables(s, dir, "orders")
        AsOfJoin(
          left = e,
          leftKey = col("user_id"),
          leftTime = col("ts_us"),
          right = o,
          rightKey = col("o_custkey"),
          rightTime = unix_micros(col("o_orderdate").cast("timestamp")),
          tiebreak = col("o_orderkey"),
          payload = Seq("o_orderkey", "o_totalprice"),
          direction = "nearest")
          .select(col("event_id"), col("ts_us"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, epoch_us(e.ts) AS ts_us, l.o_orderkey, l.o_totalprice
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = e.user_id
        |  ORDER BY abs(epoch_us(o.o_orderdate::TIMESTAMP) - epoch_us(e.ts)) ASC,
        |    o.o_orderdate ASC,
        |    CASE WHEN epoch_us(o.o_orderdate::TIMESTAMP) <= epoch_us(e.ts)
        |         THEN -o.o_orderkey ELSE o.o_orderkey END ASC
        |  LIMIT 1
        |) l ON true
        |ORDER BY e.event_id""".stripMargin)),

    // Forward as-of with tolerance: q10's mirror — the EARLIEST order at or
    // after each event, but only within 30 days (the merge_asof
    // direction+tolerance surface). Same one-shuffle union+window plan.
    GraftQuery(
      "q79_asof_forward_tolerance",
      (s, dir) => {
        import graft.operators.AsOfJoin
        val e = Tables(s, dir, "events")
          .select(col("event_id"), col("user_id"), expr("ts div 1000").as("ts_us"))
        val o = Tables(s, dir, "orders")
        val tolUs = 30L * 86400L * 1000000L
        AsOfJoin(
          left = e,
          leftKey = col("user_id"),
          leftTime = col("ts_us"),
          right = o,
          rightKey = col("o_custkey"),
          rightTime = unix_micros(col("o_orderdate").cast("timestamp")),
          tiebreak = col("o_orderkey"),
          payload = Seq("o_orderkey", "o_totalprice"),
          direction = "forward",
          within = Some((lt, mt) => mt - lt <= lit(tolUs)))
          .select(col("event_id"), col("ts_us"), col("o_orderkey"), col("o_totalprice"))
          .orderBy("event_id")
      },
      Some("""SELECT e.event_id, epoch_us(e.ts) AS ts_us, l.o_orderkey, l.o_totalprice
        |FROM events e LEFT JOIN LATERAL (
        |  SELECT o_orderkey, o_totalprice FROM orders o
        |  WHERE o.o_custkey = e.user_id AND o.o_orderdate >= e.ts
        |    AND epoch_us(o.o_orderdate::TIMESTAMP) - epoch_us(e.ts) <= 2592000000000
        |  ORDER BY o.o_orderdate ASC, o.o_orderkey ASC LIMIT 1
        |) l ON true
        |ORDER BY e.event_id""".stripMargin)),

    GraftQuery(
      "q11_agg_distinct_counts",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .groupBy(col("l_returnflag"))
          .agg(
            countDistinct(col("l_partkey")).as("n_parts"),
            countDistinct(col("l_suppkey")).as("n_supps"),
            count(lit(1)).as("n_rows"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
        |  CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |  CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    GraftQuery(
      "q12_rollup_nation_year",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val c = Tables(s, dir, "customer")
        val n = Tables(s, dir, "nation")
        o.join(c, o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .withColumn("price_c", expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
          .rollup(col("n_name"), year(col("o_orderdate")).as("o_year"))
          .agg((sum(col("price_c")).cast("double") / 100.0).as("turnover"),
            count(lit(1)).as("n_orders"))
          .select(
            coalesce(col("n_name"), lit("ALL")).as("nation"),
            coalesce(col("o_year"), lit(-1)).cast("long").as("o_year"),
            col("turnover"), col("n_orders"))
          .orderBy("nation", "o_year")
      },
      Some("""SELECT COALESCE(n_name, 'ALL') AS nation,
        |  CAST(COALESCE(YEAR(o_orderdate), -1) AS BIGINT) AS o_year,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS turnover,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP(n_name, YEAR(o_orderdate))
        |ORDER BY nation, o_year""".stripMargin)),

    GraftQuery(
      "q13_cube_flag_status",
      (s, dir) => {
        Tables(s, dir, "lineitem")
          .select(col("l_returnflag"), col("l_linestatus"),
            expr("CAST(round(l_quantity * 100) AS BIGINT)").as("qty_c"))
          .cube(col("l_returnflag"), col("l_linestatus"))
          .agg((sum(col("qty_c")).cast("double") / 100.0).as("sum_qty"),
            count(lit(1)).as("n_rows"))
          .select(
            coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("sum_qty"), col("n_rows"))
          .orderBy("rf", "ls")
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin)),

    GraftQuery(
      "q14_grouping_sets_sql",
      (s, dir) => {
        Tables(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
          |  COALESCE(l_linestatus, 'ALL') AS ls,
          |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
          |  COUNT(*) AS n_rows
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY rf, ls""".stripMargin)
      },
      Some("""SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |  COALESCE(l_linestatus, 'ALL') AS ls,
        |  CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_qty,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY rf, ls""".stripMargin)),

    // Relational DIVISION — universal quantification ("customers whose
    // EVERY order is urgent", ≥1 order required): the FOR-ALL operator
    // classic SQL lacks, expressed as the exact-count equality
    // n_total = n_matching per key (one aggregation — no double anti-join
    // pass over the big table). The last textbook-algebra operator the
    // surface was missing.
    GraftQuery(
      "q208_relational_division",
      (s, dir) => {
        Tables(s, dir, "orders")
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
              .as("n_urgent"))
          .select(
            when(col("n_orders") === col("n_urgent"), "all_urgent")
              .when(col("n_urgent") === 0, "none_urgent")
              .otherwise("mixed").as("outcome"),
            col("o_custkey"), col("n_orders"))
          .groupBy(col("outcome"))
          .agg(count(lit(1)).as("n_customers"),
            sum(col("n_orders")).as("n_orders"),
            min(col("o_custkey")).as("example_custkey"))
          .orderBy("outcome")
      },
      Some("""WITH per AS (
        |  SELECT o_custkey, COUNT(*) AS n_orders,
        |    SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
        |      AS n_urgent
        |  FROM orders GROUP BY 1)
        |SELECT CASE WHEN n_orders = n_urgent THEN 'all_urgent'
        |            WHEN n_urgent = 0 THEN 'none_urgent'
        |            ELSE 'mixed' END AS outcome,
        |  CAST(COUNT(*) AS BIGINT) AS n_customers,
        |  CAST(SUM(n_orders) AS BIGINT) AS n_orders,
        |  min(o_custkey) AS example_custkey
        |FROM per GROUP BY 1 ORDER BY outcome""".stripMargin)),

    // Median absolute deviation — the robust spread companion to q155's
    // winsorized mean: MAD = median(|x − median(x)|) per priority, two
    // percentile passes with the group median broadcast back between them
    // (q57 interpolation parity both times).
    GraftQuery(
      "q209_mad_robust_spread",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val med = o.groupBy(col("o_orderpriority").as("pr"))
          .agg(expr("percentile(o_totalprice, 0.5)").as("med"))
        o.join(broadcast(med), col("o_orderpriority") === col("pr"))
          .withColumn("absdev", abs(col("o_totalprice") - col("med")))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n_orders"),
            round(first(col("med")), 4).as("median"),
            round(expr("percentile(absdev, 0.5)"), 4).as("mad"))
          .orderBy("o_orderpriority")
      },
      Some("""WITH m AS (
        |  SELECT o_orderpriority AS pr,
        |    quantile_cont(o_totalprice, 0.5) AS med
        |  FROM orders GROUP BY 1)
        |SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  round(ANY_VALUE(med), 4) AS median,
        |  round(quantile_cont(abs(o_totalprice - med), 0.5), 4) AS mad
        |FROM orders JOIN m ON o_orderpriority = pr
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)),

    // Per-nation top customer — the argmax pattern as a THIRD exercise of
    // the custom TopKPerGroup physical operator, at k = 1 over exact cent
    // revenue (Long group key this time): the shuffle carries one row per
    // (nation, map partition). Share-of-nation is the only float.
    GraftQuery(
      "q210_top_customer_per_nation",
      (s, dir) => {
        val rev = Tables(s, dir, "orders")
          .join(broadcast(Tables(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").cast("long").as("nationkey"), col("o_custkey"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        val nationTotals = rev.groupBy(col("nationkey"))
          .agg(sum(col("cents")).as("nation_cents"))
        val top = graft.plans.TopKPerGroup(
          rev, Seq("nationkey"), Seq(("cents", false), ("o_custkey", true)), 1)
        top.join(broadcast(nationTotals), Seq("nationkey"))
          .select(col("nationkey"), col("o_custkey").as("top_custkey"),
            (col("cents").cast("double") / 100.0).as("top_revenue"),
            round(col("cents").cast("double") / col("nation_cents").cast("double"), 6)
              .as("nation_share"))
          .orderBy("nationkey")
      },
      Some("""WITH rev AS (
        |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey, o_custkey,
        |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY nationkey
        |    ORDER BY cents DESC, o_custkey) AS rnk,
        |    SUM(cents) OVER (PARTITION BY nationkey) AS nation_cents
        |  FROM rev)
        |SELECT nationkey, o_custkey AS top_custkey,
        |  CAST(cents AS DOUBLE) / 100.0 AS top_revenue,
        |  round(CAST(cents AS DOUBLE) / CAST(nation_cents AS DOUBLE), 6)
        |    AS nation_share
        |FROM r WHERE rnk = 1 ORDER BY nationkey""".stripMargin)),

    // Percent-of-parent hierarchical rollup — region→nation revenue where
    // each nation carries its share of the region and each region its
    // share of the world: the drill-down presentation layer of every BI
    // hierarchy, from exact cent sums and two window divisions.
    GraftQuery(
      "q213_percent_of_parent",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val rev = Tables(s, dir, "orders")
          .join(broadcast(Tables(s, dir, "customer")
            .select(col("c_custkey"), col("c_nationkey"))),
            col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables(s, dir, "nation")
            .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))),
            col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables(s, dir, "region")
            .select(col("r_regionkey"), col("r_name"))),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("n_name"))
          .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
        rev
          .withColumn("region_cents", sum(col("cents")).over(Window.partitionBy("r_name")))
          .withColumn("world_cents", sum(col("cents")).over(Window.partitionBy()))
          .select(col("r_name"), col("n_name"),
            (col("cents").cast("double") / 100.0).as("revenue"),
            round(col("cents").cast("double") / col("region_cents"), 6)
              .as("share_of_region"),
            round(col("region_cents").cast("double") / col("world_cents"), 6)
              .as("region_share_of_world"))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH rev AS (
        |  SELECT r_name, n_name,
        |    SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
        |  FROM orders
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  GROUP BY 1, 2)
        |SELECT r_name, n_name,
        |  CAST(cents AS DOUBLE) / 100.0 AS revenue,
        |  round(CAST(cents AS DOUBLE)
        |        / CAST(SUM(cents) OVER (PARTITION BY r_name) AS DOUBLE), 6)
        |    AS share_of_region,
        |  round(CAST(SUM(cents) OVER (PARTITION BY r_name) AS DOUBLE)
        |        / CAST(SUM(cents) OVER () AS DOUBLE), 6)
        |    AS region_share_of_world
        |FROM rev ORDER BY r_name, n_name""".stripMargin)),

    // TPC-H Q21 shape — "sole blame": suppliers whose line is the ONLY
    // returned ('R') line on a multi-supplier order. Two self-joins on the
    // fact table, BOTH keyed on l_orderkey so they share one shuffle
    // partitioning: a LEFT SEMI (some other supplier participated) and a
    // LEFT ANTI (no other supplier's line was returned). The per-supplier
    // count then joins the tiny supplier dim broadcast, and the top-20 is a
    // TakeOrderedAndProject. Cites the reference's per-record filter model
    // (`LogfileRecordReader.java:293-319` filters one record at a time —
    // here the same predicate semantics are a set-level anti join).
    GraftQuery(
      "q220_sole_blame_suppliers",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
        val returned = li.filter(col("l_returnflag") === "R")
        val others = li.select(col("l_orderkey").as("o_ok"), col("l_suppkey").as("o_sk"))
        val othersReturned = li.filter(col("l_returnflag") === "R")
          .select(col("l_orderkey").as("r_ok"), col("l_suppkey").as("r_sk"))
        val blamed = returned
          .join(others,
            col("l_orderkey") === col("o_ok") && col("l_suppkey") =!= col("o_sk"),
            "left_semi")
          .join(othersReturned,
            col("l_orderkey") === col("r_ok") && col("l_suppkey") =!= col("r_sk"),
            "left_anti")
        blamed.groupBy(col("l_suppkey"))
          .agg(count(lit(1)).as("numwait"))
          .join(broadcast(Tables(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_name"))),
            col("l_suppkey") === col("s_suppkey"))
          .select(col("s_name"), col("numwait"))
          .orderBy(col("numwait").desc, col("s_name").asc)
          .limit(20)
      },
      Some("""WITH blamed AS (
        |  SELECT l1.l_suppkey
        |  FROM lineitem l1
        |  WHERE l1.l_returnflag = 'R'
        |    AND EXISTS (SELECT 1 FROM lineitem l2
        |                WHERE l2.l_orderkey = l1.l_orderkey
        |                  AND l2.l_suppkey <> l1.l_suppkey)
        |    AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                    WHERE l3.l_orderkey = l1.l_orderkey
        |                      AND l3.l_suppkey <> l1.l_suppkey
        |                      AND l3.l_returnflag = 'R'))
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM blamed JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin)),

    // TPC-H Q22 shape — "idle rich": customers with an account balance
    // above the average positive balance who have placed NO urgent orders
    // (this generator gives every customer at least one order, so the
    // classic "no orders at all" predicate is degenerate), rolled up by
    // nation. The global average is a scalar subquery (one row, broadcast
    // via cross join — never a driver collect), the "none exists" predicate
    // a LEFT ANTI join on the filtered orders key projection, and the money
    // sum the exact cent-Long discipline.
    GraftQuery(
      "q221_idle_rich_customers",
      (s, dir) => {
        val c = Tables(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_cents"))
        val avgPos = c.filter(col("bal_cents") > 0)
          .agg((sum(col("bal_cents")).cast("double")
            / count(lit(1)).cast("double")).as("avg_cents"))
        val rich = c.crossJoin(broadcast(avgPos))
          .filter(col("bal_cents").cast("double") > col("avg_cents"))
        val idle = rich.join(
          Tables(s, dir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT")
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        idle.join(broadcast(Tables(s, dir, "nation")),
            col("c_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("numcust"),
            (sum(col("bal_cents")).cast("double") / 100.0).as("totacctbal"))
          .orderBy("n_name")
      },
      Some("""WITH c AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
        |  FROM customer),
        |avg_pos AS (
        |  SELECT CAST(SUM(bal_cents) AS DOUBLE) / COUNT(*) AS avg_cents
        |  FROM c WHERE bal_cents > 0)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(bal_cents) AS DOUBLE) / 100.0 AS totacctbal
        |FROM c, avg_pos
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE CAST(bal_cents AS DOUBLE) > avg_cents
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderpriority = '1-URGENT')
        |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Interval-OVERLAP join — same-customer urgent-vs-low order activity
    // windows ([orderdate, orderdate+30d]) that intersect, per urgent-order
    // year. Runs through [[graft.operators.IntervalJoin.overlap]]: the join
    // key is (customer, 8-day bin) — an EQUI hash join whose candidates are
    // bounded by per-customer-per-bin density, not a BroadcastNestedLoop
    // range join — and pairs dedup via the first-shared-bin rule rather
    // than a distinct. The oracle states the same semantics directly as
    // |d_urgent − d_low| ≤ 30 on the shared customer.
    GraftQuery(
      "q222_order_window_overlap",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        def side(prio: String, p: String) = o
          .filter(col("o_orderpriority") === prio)
          .select(col("o_custkey").as(p + "ck"), col("o_orderkey").as(p + "ok"),
            expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long").as(p + "s"))
          .withColumn(p + "e", col(p + "s") + 30)
        val pairs = graft.operators.IntervalJoin.overlap(
          side("1-URGENT", "u"), "us", "ue",
          side("5-LOW", "l"), "ls", "le",
          Seq("uck" -> "lck"), binWidth = 31L)
        pairs
          .withColumn("yr", expr("year(date_add(DATE '1970-01-01', CAST(us AS INT)))"))
          .groupBy(col("yr"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("uck")).as("n_customers"))
          .orderBy("yr")
      },
      Some("""WITH u AS (
        |  SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS ud
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |l AS (
        |  SELECT o_custkey AS ck2, CAST(o_orderdate AS DATE) AS ld
        |  FROM orders WHERE o_orderpriority = '5-LOW')
        |SELECT CAST(year(ud) AS INT) AS yr,
        |  CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_customers
        |FROM u JOIN l ON ck = ck2 AND ld BETWEEN ud - 30 AND ud + 30
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // What-if scenario — revenue under a 5% discount cap, per year: the
    // counterfactual recompute a pricing team asks for before touching
    // policy. Both the actual and scenario revenue are exact integer
    // arithmetic on cent-Longs (price·(100−disc) in hi/lo-split sums, disc
    // capped with least()), so the delta is exact to the cent at any
    // scale; one scan, no joins.
    GraftQuery(
      "q261_discount_cap_scenario",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(expr("year(l_shipdate)").cast("int").as("yr"),
            expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"),
            expr("CAST(round(l_discount * 100) AS BIGINT)").as("dc"))
          .withColumn("dcap", least(col("dc"), lit(5L)))
        def hiLo(e: String, name: String) = Seq(
          sum(expr(s"($e) div 1000000000")).as(s"h_$name"),
          sum(expr(s"($e) % 1000000000")).as(s"l_$name"))
        val m = li.groupBy(col("yr"))
          .agg(count(lit(1)).as("n_lines"),
            (hiLo("pc * (100 - dc)", "act") ++ hiLo("pc * (100 - dcap)", "cap")): _*)
        def mom(n: String) = expr(
          s"CAST(CAST(h_$n AS DECIMAL(38,0)) * 1000000000 + l_$n AS DOUBLE) / 10000.0")
        m.select(col("yr"), col("n_lines"),
            mom("act").as("actual_revenue"),
            mom("cap").as("capped_revenue"),
            round(mom("cap") - mom("act"), 2).as("uplift"))
          .orderBy("yr")
      },
      Some("""WITH li AS (
        |  SELECT year(l_shipdate) AS yr,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
        |    CAST(round(l_discount * 100) AS BIGINT) AS dc,
        |    LEAST(CAST(round(l_discount * 100) AS BIGINT), 5) AS dcap
        |  FROM lineitem)
        |SELECT CAST(yr AS INT) AS yr, CAST(COUNT(*) AS BIGINT) AS n_lines,
        |  CAST(SUM(CAST(pc AS HUGEINT) * (100 - dc)) AS DOUBLE) / 10000.0
        |    AS actual_revenue,
        |  CAST(SUM(CAST(pc AS HUGEINT) * (100 - dcap)) AS DOUBLE) / 10000.0
        |    AS capped_revenue,
        |  round(CAST(SUM(CAST(pc AS HUGEINT) * (100 - dcap)) AS DOUBLE) / 10000.0
        |        - CAST(SUM(CAST(pc AS HUGEINT) * (100 - dc)) AS DOUBLE) / 10000.0, 2)
        |    AS uplift
        |FROM li GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Priority-transition matrix — for consecutive orders of the SAME
    // customer, the (previous priority → next priority) counts with row-
    // conditional shares: does urgency persist or churn? One lag window
    // per customer (q164's Markov idiom on the orders domain), exact
    // counts, shares from cell/row-total Longs.
    GraftQuery(
      "q262_priority_transitions",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("ck").orderBy("day", "ok")
        val t = Tables(s, dir, "orders")
          .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
            expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long").as("day"),
            col("o_orderpriority").as("p"))
          .withColumn("prev", lag(col("p"), 1).over(w))
          .filter(col("prev").isNotNull)
        t.groupBy(col("prev"), col("p"))
          .agg(count(lit(1)).as("n"))
          .withColumn("row_share", round(col("n").cast("double")
            / sum(col("n")).over(Window.partitionBy("prev")), 6))
          .orderBy("prev", "p")
      },
      Some("""WITH o AS (
        |  SELECT o_custkey AS ck, o_orderkey AS ok,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    o_orderpriority AS p
        |  FROM orders),
        |t AS (
        |  SELECT p, lag(p) OVER (PARTITION BY ck ORDER BY day, ok) AS prev
        |  FROM o),
        |g AS (
        |  SELECT prev, p, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM t WHERE prev IS NOT NULL GROUP BY 1, 2)
        |SELECT prev, p, n,
        |  round(CAST(n AS DOUBLE)
        |        / CAST(SUM(n) OVER (PARTITION BY prev) AS DOUBLE), 6) AS row_share
        |FROM g ORDER BY prev, p""".stripMargin)),

    // TPC-H Q2 shape — best-price supplier per part and the sourcing map
    // it induces: which nation's suppliers win how many parts at the
    // lowest offered line price. Winner selection is a per-part rank
    // window over the (part, supplier) min-price frame (total order with
    // suppkey tiebreak), then a broadcast nation rollup with exact share.
    GraftQuery(
      "q266_best_price_supplier",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val offers = Tables(s, dir, "lineitem")
          .groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(min(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("mc"))
        val w = Window.partitionBy("l_partkey").orderBy(col("mc").asc, col("l_suppkey").asc)
        val winners = offers.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        winners
          .join(broadcast(Tables(s, dir, "supplier")
            .select(col("s_suppkey"), col("s_nationkey"))),
            col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(Tables(s, dir, "nation")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy(col("n_name"))
          .agg(count(lit(1)).as("parts_won"))
          .withColumn("share", round(col("parts_won").cast("double")
            / sum(col("parts_won")).over(
              org.apache.spark.sql.expressions.Window.partitionBy()), 6))
          .orderBy("n_name")
      },
      Some("""WITH offers AS (
        |  SELECT l_partkey, l_suppkey,
        |    MIN(CAST(round(l_extendedprice * 100) AS BIGINT)) AS mc
        |  FROM lineitem GROUP BY 1, 2),
        |w AS (
        |  SELECT *, row_number() OVER (PARTITION BY l_partkey
        |    ORDER BY mc, l_suppkey) AS rn
        |  FROM offers),
        |win AS (SELECT l_suppkey FROM w WHERE rn = 1),
        |g AS (
        |  SELECT n_name, CAST(COUNT(*) AS BIGINT) AS parts_won
        |  FROM win JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  GROUP BY 1)
        |SELECT n_name, parts_won,
        |  round(CAST(parts_won AS DOUBLE)
        |        / CAST(SUM(parts_won) OVER () AS DOUBLE), 6) AS share
        |FROM g ORDER BY n_name""".stripMargin)),

    // Net revenue after returns, per ship year — gross, returned (flag
    // 'R'), net, and the return rate: the revenue-recognition ledger in
    // exact cents (one scan, conditional Long sums, final-float rate).
    GraftQuery(
      "q276_net_revenue",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(expr("year(l_shipdate)").cast("int").as("yr"),
            expr("CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)")
              .as("c"),
            (col("l_returnflag") === "R").as("ret"))
        li.groupBy(col("yr"))
          .agg(sum(col("c")).as("gross_c"),
            sum(when(col("ret"), col("c")).otherwise(0L)).as("ret_c"))
          .select(col("yr"),
            (col("gross_c").cast("double") / 100.0).as("gross"),
            (col("ret_c").cast("double") / 100.0).as("returned"),
            ((col("gross_c") - col("ret_c")).cast("double") / 100.0).as("net"),
            round(col("ret_c").cast("double") / col("gross_c").cast("double"), 6)
              .as("return_rate"))
          .orderBy("yr")
      },
      Some("""WITH li AS (
        |  SELECT year(l_shipdate) AS yr,
        |    CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS c,
        |    l_returnflag = 'R' AS ret
        |  FROM lineitem),
        |g AS (
        |  SELECT yr, CAST(SUM(c) AS BIGINT) AS gross_c,
        |    CAST(SUM(CASE WHEN ret THEN c ELSE 0 END) AS BIGINT) AS ret_c
        |  FROM li GROUP BY 1)
        |SELECT CAST(yr AS INT) AS yr,
        |  CAST(gross_c AS DOUBLE) / 100.0 AS gross,
        |  CAST(ret_c AS DOUBLE) / 100.0 AS returned,
        |  CAST(gross_c - ret_c AS DOUBLE) / 100.0 AS net,
        |  round(CAST(ret_c AS DOUBLE) / CAST(gross_c AS DOUBLE), 6)
        |    AS return_rate
        |FROM g ORDER BY yr""".stripMargin))
  )
}
