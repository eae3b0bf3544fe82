package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import graft.functions.QuantileSketchAgg
import org.apache.spark.sql.functions._

/** Round-7 surface: mergeable summary sketches — the re-aggregation story
  * that makes 100 TB analytics cheap. A per-group KLL-style quantile sketch
  * (one partial+final aggregate instead of a per-group sort) and HLL
  * distinct-count sketches that union across slices (build once per
  * (type, day), answer per-type and global distincts by MERGING sketches —
  * never re-scanning the raw data; the cube/rollup pattern for distinct
  * counts, which plain COUNT(DISTINCT) cannot re-aggregate).
  *
  * Scale notes:
  *   - q130: the shuffle carries one O(k·log(n/k)) sketch per (group,
  *     task); group size never matters. While n ≤ k per group the sketch is
  *     EXACT (no compaction) — the oracle pins that contract with explicit
  *     row_number rank selection; the compaction path's error bound is
  *     pinned in QuantileSketchSpec.
  *   - q131: daily sketches are 4 KB each regardless of cardinality; the
  *     per-type and global rollups union 30 and 150 sketches respectively.
  *     Rows-only by design (estimates are sketch-internal; DuckDB has no
  *     datasketches) — SketchesSpec pins estimate-vs-exact error and the
  *     union-of-parts == sketch-of-whole mergeability identity.
  */
object Sketches extends QueryPack {

  def queries: Seq[GraftQuery] = Seq(

    // Per-nation account-balance quantiles via the mergeable sketch.
    // k=2048 ≥ any nation's customer count at verify SFs ⇒ exact mode;
    // the oracle computes the same lower quantiles by integer rank.
    GraftQuery(
      "q130_quantile_sketch",
      (s, dir) => {
        val qs = Seq((25, 100), (50, 100), (75, 100), (90, 100))
        val sketch = udaf(QuantileSketchAgg(2048, qs))
        Tables(s, dir, "customer")
          .groupBy(col("c_nationkey").as("nation"))
          .agg(sketch(col("c_acctbal")).as("q"))
          .select(col("nation").cast("long").as("nation"),
            col("q")(0).as("p25"), col("q")(1).as("p50"),
            col("q")(2).as("p75"), col("q")(3).as("p90"))
          .orderBy("nation")
      },
      Some("""WITH r AS (
        |  SELECT c_nationkey AS nation, c_acctbal,
        |    row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal) AS rn,
        |    count(*) OVER (PARTITION BY c_nationkey) AS n
        |  FROM customer)
        |SELECT CAST(nation AS BIGINT) AS nation,
        |  MAX(CASE WHEN rn = (25 * n + 99) // 100 THEN c_acctbal END) AS p25,
        |  MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN c_acctbal END) AS p50,
        |  MAX(CASE WHEN rn = (75 * n + 99) // 100 THEN c_acctbal END) AS p75,
        |  MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN c_acctbal END) AS p90
        |FROM r GROUP BY nation ORDER BY nation""".stripMargin)),

    // HLL distinct-user sketches built once per (event_type, day), then
    // re-aggregated by UNION into per-type totals — plus the exact
    // count for the error audit. The point: the daily sketch layer is
    // built ONCE and every coarser rollup merges sketches, not data.
    GraftQuery(
      "q131_hll_union_rollup",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          // events.ts is BIGINT nanoseconds (graft.Tables) — integer day bucket
          .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
          .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"),
            countDistinct(col("user_id")).as("exact_day"))
        daily
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"),
            expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("est_raw"),
            max(col("exact_day")).as("max_daily_exact"))
          .join(
            Tables(s, dir, "events").groupBy(col("event_type"))
              .agg(countDistinct(col("user_id")).as("exact_total")),
            "event_type")
          // the union estimate is engine-specific by definition — the
          // oracle pins the EXACT scaffolding plus the sketch's error
          // contract (lgK = 12 ⇒ rsd ≈ 1.6%; a 10% pin leaves wide
          // headroom yet still catches a broken union), the q331 pattern
          .select(col("event_type"), col("n_days"),
            col("exact_total"), col("max_daily_exact"),
            (abs(col("est_raw") - col("exact_total")) <=
              greatest(lit(1.0), col("exact_total") / 10.0))
              .as("union_within_tol"))
          .orderBy("event_type")
      },
      Some("""WITH daily AS (
        |  SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
        |    COUNT(DISTINCT user_id) AS exact_day
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, COUNT(DISTINCT user_id) AS exact_total
        |  FROM events GROUP BY 1)
        |SELECT d.event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(t.exact_total AS BIGINT) AS exact_total,
        |  CAST(MAX(d.exact_day) AS BIGINT) AS max_daily_exact,
        |  TRUE AS union_within_tol
        |FROM daily d JOIN tot t USING (event_type)
        |GROUP BY d.event_type, t.exact_total
        |ORDER BY event_type""".stripMargin)),

    // Quantile-sketch RE-AGGREGATION (the q131 pattern, for percentiles,
    // with an EXACT oracle): build one value-sketch per (event_type, day) —
    // the layer a telemetry table would persist — then answer per-type
    // monthly p50/p90 by MERGING the stored sketches, never rescanning the
    // events. Build k=2048 ≥ any single day's row count and merge
    // k=32768 ≥ any type's month total at verify SFs, and merging exact
    // sketches concatenates their multisets — so the rollup is exact and
    // the oracle pins it by integer rank over raw values (compaction-mode
    // error bounds are QuantileSketchSpec's job).
    GraftQuery(
      "q139_quantile_reagg",
      (s, dir) => {
        import graft.functions.{QSketch, QuantileSketchBuildAgg, QuantileSketchMergeAgg}
        import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
        val build = udaf(QuantileSketchBuildAgg(2048))
        val mergeQ = udaf(QuantileSketchMergeAgg(32768, Seq((50, 100), (90, 100))),
          ExpressionEncoder[QSketch]())
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
          .agg(build(col("value")).as("sk"), count(lit(1)).as("n"))
        daily
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_days"), sum(col("n")).as("n_events"),
            // a Product-typed udaf input binds one column per field
            mergeQ(col("sk.n"), col("sk.levels")).as("q"))
          .select(col("event_type"), col("n_days"), col("n_events"),
            col("q")(0).as("p50"), col("q")(1).as("p90"))
          .orderBy("event_type")
      },
      Some("""WITH d AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day, value
        |  FROM events),
        |nd AS (SELECT event_type, COUNT(DISTINCT day) AS n_days FROM d GROUP BY 1),
        |r AS (
        |  SELECT event_type, value,
        |    row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n
        |  FROM d)
        |SELECT r.event_type, CAST(nd.n_days AS BIGINT) AS n_days,
        |  CAST(MAX(r.n) AS BIGINT) AS n_events,
        |  MAX(CASE WHEN rn = (50 * n + 99) // 100 THEN value END) AS p50,
        |  MAX(CASE WHEN rn = (90 * n + 99) // 100 THEN value END) AS p90
        |FROM r JOIN nd ON r.event_type = nd.event_type
        |GROUP BY r.event_type, nd.n_days ORDER BY 1""".stripMargin)),

    // Calendar-month activity bitmaps — each customer's 12 calendar months
    // compressed to one BIGINT via the bit_or aggregate (bit i set ⟺ an
    // order in month i+1), then a popcount histogram. The bitmap is the
    // 64×-denser carrier for "active in which periods" rollups: the shuffle
    // moves ONE long per customer instead of up to 12 (custkey, month)
    // rows, and downstream predicates ("active every month", "Q4-only")
    // are bitwise ops, not joins. Exact and portable: bit_or / bit_count
    // evaluate identically on both engines.
    GraftQuery(
      "q229_activity_bitmap",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val masks = Tables(s, dir, "orders")
          .select(col("o_custkey"),
            expr("shiftleft(CAST(1 AS BIGINT), CAST(month(o_orderdate) AS INT) - 1)")
              .as("bit"))
          .groupBy(col("o_custkey"))
          .agg(expr("bit_or(bit)").as("mask"))
        masks
          .select(col("o_custkey"), expr("CAST(bit_count(mask) AS INT)").as("months_active"))
          .groupBy(col("months_active"))
          .agg(count(lit(1)).as("n_customers"))
          .withColumn("share", round(col("n_customers").cast("double")
            / sum(col("n_customers")).over(Window.partitionBy()), 6))
          .orderBy("months_active")
      },
      Some("""WITH m AS (
        |  SELECT o_custkey,
        |    bit_or(CAST(1 AS BIGINT) << (month(o_orderdate) - 1)) AS mask
        |  FROM orders GROUP BY 1),
        |h AS (
        |  SELECT CAST(bit_count(mask) AS INT) AS months_active,
        |    CAST(COUNT(*) AS BIGINT) AS n_customers
        |  FROM m GROUP BY 1)
        |SELECT months_active, n_customers,
        |  round(CAST(n_customers AS DOUBLE)
        |        / CAST(SUM(n_customers) OVER () AS DOUBLE), 6) AS share
        |FROM h ORDER BY months_active""".stripMargin)))
}
