package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Batch analogs of the streaming window surface (SURVEY.md §2.2 streaming
  * rows): tumbling and sliding time windows plus gap-based sessionization
  * over the `events` table. The Structured Streaming variants live in
  * `graft.streaming`; these batch twins are the oracle-checkable face.
  *
  * `events.ts` arrives as BIGINT nanoseconds (see [[graft.Tables]]); all
  * bucket math is integer arithmetic on epoch units so both engines agree
  * exactly.
  */
object Events extends QueryPack {

  private def dsum2(c: Column): Column = sum(c.cast(DecimalType(18, 2))).cast("double")

  def queries: Seq[GraftQuery] = Seq(
    GraftQuery(
      "q30_window_tumbling_hourly",
      (s, dir) => {
        Tables(s, dir, "events")
          .withColumn("hour_s", expr("(ts div 3600000000000) * 3600"))
          .groupBy(col("hour_s"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
          .orderBy("hour_s", "event_type")
      },
      Some("""SELECT CAST(epoch_us(date_trunc('hour', ts)) // 1000000 AS BIGINT) AS hour_s,
        |  event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY hour_s, event_type""".stripMargin)),

    GraftQuery(
      "q31_window_sliding_10m_5m",
      (s, dir) => {
        // Idiomatic Spark: the built-in `window()` generator (same operator
        // Structured Streaming plans); 10-minute windows sliding every 5.
        Tables(s, dir, "events")
          .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
          .groupBy(window(col("ts_t"), "10 minutes", "5 minutes"), col("event_type"))
          .agg(count(lit(1)).as("n_events"), dsum2(col("value")).as("sum_value"))
          .select(
            expr("unix_micros(window.start) div 1000000").as("w_start_s"),
            col("event_type"), col("n_events"), col("sum_value"))
          .orderBy("w_start_s", "event_type")
      },
      Some("""WITH x AS (SELECT event_type, value,
        |                  epoch_us(ts) // 1000000 AS s FROM events),
        |w AS (SELECT event_type, value,
        |        unnest([s - (s % 300) - 300, s - (s % 300)]) AS w_start_s FROM x)
        |SELECT CAST(w_start_s AS BIGINT) AS w_start_s, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY 1, 2 ORDER BY w_start_s, event_type""".stripMargin)),

    GraftQuery(
      "q32_sessionize_30m_gap",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        Tables(s, dir, "events")
          .withColumn("ts_us", expr("ts div 1000"))
          .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
          .withColumn("new_session",
            when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_session")).over(cum))
          .groupBy(col("user_id"), col("session_id"))
          .agg(
            min(col("ts_us")).as("session_start_us"),
            count(lit(1)).as("n_events"),
            max(col("ts_us")).as("session_end_us"))
          .select(col("user_id"), col("session_id"), col("session_start_us"),
            col("n_events"),
            expr("(session_end_us - session_start_us) div 1000000").as("duration_s"))
          .orderBy("user_id", "session_id")
      },
      Some("""WITH x AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events),
        |f AS (
        |  SELECT user_id, event_id, ts_us,
        |    CASE WHEN ts_us - lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_session
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (
        |  SELECT user_id, ts_us,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  CAST(MIN(ts_us) AS BIGINT) AS session_start_us,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST((MAX(ts_us) - MIN(ts_us)) // 1000000 AS BIGINT) AS duration_s
        |FROM g GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin)),

    // Ordered conversion funnel view → click → purchase: each stage's
    // earliest event must be at-or-after the previous stage's. Three
    // per-user aggregations chained by joins (each stage's frame shrinks),
    // one output row of stage counts + conversion rates — the product-
    // analytics primitive, expressed as plain shuffles that scale.
    GraftQuery(
      "q80_funnel_steps",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("user_id"), col("event_type"), col("ts"))
        val v = e.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
        val c = e.filter(col("event_type") === "click")
          .join(v, Seq("user_id")).filter(col("ts") >= col("v_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, Seq("user_id")).filter(col("ts") >= col("c_ts"))
          .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
        v.agg(count(lit(1)).as("n_view"))
          .crossJoin(c.agg(count(lit(1)).as("n_view_click")))
          .crossJoin(p.agg(count(lit(1)).as("n_full_funnel")))
          .select(col("n_view"), col("n_view_click"), col("n_full_funnel"),
            round(col("n_view_click") / col("n_view"), 6).as("rate_click"),
            round(col("n_full_funnel") / col("n_view_click"), 6).as("rate_purchase"))
      },
      Some("""WITH v AS (
        |  SELECT user_id, MIN(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS c_ts FROM events e JOIN v USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts >= v.v_ts GROUP BY 1),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS p_ts FROM events e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts >= c.c_ts GROUP BY 1)
        |SELECT
        |  CAST((SELECT COUNT(*) FROM v) AS BIGINT) AS n_view,
        |  CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS n_view_click,
        |  CAST((SELECT COUNT(*) FROM p) AS BIGINT) AS n_full_funnel,
        |  round((SELECT COUNT(*) FROM c) / (SELECT COUNT(*) FROM v), 6) AS rate_click,
        |  round((SELECT COUNT(*) FROM p) / (SELECT COUNT(*) FROM c), 6) AS rate_purchase""".stripMargin)),

    // Weekly retention cohorts: cohort = a user's first active epoch-week
    // (integer 604800-second buckets — no calendar-week semantics to
    // disagree on), then distinct active (user, week) pairs counted per
    // (cohort, offset). Two shuffles: per-user min, then the cohort
    // aggregation.
    GraftQuery(
      "q81_retention_cohorts",
      (s, dir) => {
        val weeks = Tables(s, dir, "events")
          .select(col("user_id"), expr("ts div 604800000000000").as("week_idx"))
          .distinct()
        val first = weeks.groupBy(col("user_id")).agg(min(col("week_idx")).as("cohort_week"))
        weeks.join(first, Seq("user_id"))
          .groupBy(col("cohort_week"),
            (col("week_idx") - col("cohort_week")).as("week_offset"))
          .agg(count(lit(1)).as("n_active_users"))
          .orderBy("cohort_week", "week_offset")
      },
      Some("""WITH w AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week_idx
        |  FROM events),
        |f AS (SELECT user_id, MIN(week_idx) AS cohort_week FROM w GROUP BY 1)
        |SELECT CAST(cohort_week AS BIGINT) AS cohort_week,
        |  CAST(week_idx - cohort_week AS BIGINT) AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_active_users
        |FROM w JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_week, week_offset""".stripMargin)),

    // Click → purchase attribution: the BATCH TWIN of
    // [[graft.streaming.StreamingOps.streamStreamJoin]] (same key + time-
    // bound predicate; the streaming variant with watermark state bounds is
    // pinned equal in StreamingOpsSpec). Every purchase within 10 minutes
    // after a same-user click is attributed to that click. Scale shape:
    // both sides hash-partition on user_id (one shuffle each), the range
    // predicate evaluates inside the join — state is bounded per user, and
    // in the streaming form by the watermark.
    GraftQuery(
      "q134_attribution_join",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("c_ts"))
        val buys = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value"))
        clicks.join(buys,
            col("user_id") === col("p_user") &&
              col("p_ts") >= col("c_ts") &&
              col("p_ts") <= col("c_ts") + lit(600000000000L))
          .groupBy(expr("c_ts div 86400000000000").as("click_day"))
          .agg(count(lit(1)).as("n_attributed"),
            dsum2(col("value")).as("attributed_value"))
          .orderBy("click_day")
      },
      Some("""WITH c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, epoch_us(ts) AS p_us, value FROM events WHERE event_type = 'purchase')
        |SELECT CAST(c.c_us // 86400000000 AS BIGINT) AS click_day,
        |  CAST(count(*) AS BIGINT) AS n_attributed,
        |  CAST(SUM(CAST(p.value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value
        |FROM c JOIN p ON c.user_id = p.user_id
        |  AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 600000000
        |GROUP BY 1 ORDER BY click_day""".stripMargin)),

    // Watermark late-data accounting, batch twin: replay each event stream
    // in arrival order (event_id is the synthetic arrival sequence) with a
    // 10-minute watermark per event_type — an event is LATE iff its event
    // time trails the running max event time seen so far by more than the
    // delay (exactly the Structured Streaming drop rule the q30–q32
    // watermarked aggregations run under). Per-type watermarks keep the
    // running-max window partitioned — no single global sequential pass.
    GraftQuery(
      "q138_late_data_accounting",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("event_type").orderBy("event_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        val lateNs = 600000000000L // 10 minutes
        Tables(s, dir, "events")
          .select(col("event_type"), col("event_id"), col("ts"))
          .withColumn("hwm", max(col("ts")).over(w))
          .withColumn("late",
            col("hwm").isNotNull && col("ts") < col("hwm") - lit(lateNs))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
            max(when(col("late"), expr("(hwm - ts) div 1000000000"))
              .otherwise(lit(0L))).as("max_lateness_s"))
          .orderBy("event_type")
      },
      Some("""WITH a AS (
        |  SELECT event_type, event_id, epoch_us(ts) AS us,
        |    MAX(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM events),
        |l AS (
        |  SELECT event_type,
        |    (hwm IS NOT NULL AND us < hwm - 600000000) AS late, hwm, us
        |  FROM a)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN late THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
        |  CAST(MAX(CASE WHEN late THEN (hwm - us) // 1000000 ELSE 0 END) AS BIGINT)
        |    AS max_lateness_s
        |FROM l GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // Multi-touch LINEAR attribution (q134's single-touch sibling): every
    // click in the 10 minutes before a same-user purchase splits that
    // purchase's value equally. Shares are integer micro-cents floor-divided
    // by the click count — exact, order-independent, and identical in both
    // engines (no 1/n float arithmetic crosses rows).
    GraftQuery(
      "q146_multitouch_attribution",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, dir, "events")
        val buys = ev.where(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id").as("p_user"),
            col("ts").as("p_ts"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val clicks = ev.where(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        val pairs = buys.join(clicks,
          col("p_user") === col("c_user") &&
            col("c_ts") <= col("p_ts") &&
            col("c_ts") >= col("p_ts") - lit(600000000000L))
        val w = Window.partitionBy("p_id")
        pairs
          .withColumn("n_touch", count(lit(1)).over(w))
          .withColumn("share_ucents", expr("(cents * 1000000) div n_touch"))
          .groupBy(expr("c_ts div 86400000000000").as("click_day"))
          .agg(count(lit(1)).as("n_shares"),
            sum(col("share_ucents")).as("attributed_ucents"))
          .orderBy("click_day")
      },
      Some("""WITH b AS (
        |  SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, epoch_us(ts) AS c_us FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT b.p_id, b.cents, c.c_us,
        |    count(*) OVER (PARTITION BY b.p_id) AS n_touch
        |  FROM b JOIN c ON b.user_id = c.user_id
        |    AND c.c_us <= b.p_us AND c.c_us >= b.p_us - 600000000)
        |SELECT CAST(c_us // 86400000000 AS BIGINT) AS click_day,
        |  CAST(count(*) AS BIGINT) AS n_shares,
        |  CAST(SUM((cents * 1000000) // n_touch) AS BIGINT) AS attributed_ucents
        |FROM p GROUP BY 1 ORDER BY click_day""".stripMargin)),

    // Per-user EMA — a sequential recurrence no window frame expresses,
    // run through operators.SequentialFold: one shuffle, secondary sort,
    // O(1) state per key (the 100 TB path for billion-event histories).
    // The oracle folds DuckDB's ordered list with the SAME IEEE expression
    // `0.2·x + 0.8·acc`, so the doubles match bit-for-bit before the final
    // round(6); the window/collect_list twin is cross-checked in ScalaTest.
    GraftQuery(
      "q158_ema_sequential_fold",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), expr("ts div 1000").as("us"),
            col("event_id"), col("value"))
        graft.operators.SequentialFold
          .ema(ev, "user_id", Seq("us", "event_id"), "value", alpha = 0.2)
          .select(col("user_id"), col("n_rows"), round(col("ema"), 6).as("ema"))
          .orderBy("user_id")
      },
      Some("""WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id, CAST(value AS DOUBLE) AS v
        |  FROM events),
        |l AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    list(v ORDER BY us, event_id) AS xs
        |  FROM e GROUP BY user_id)
        |SELECT user_id, n_rows,
        |  round(list_reduce(xs, (acc, x) -> 0.2 * x + 0.8 * acc), 6) AS ema
        |FROM l ORDER BY user_id""".stripMargin)),

    // Longest daily-activity streak per user — gaps-and-islands: day minus
    // dense_rank over distinct active days is constant within a consecutive
    // run, so the streak is a count per (user, island). Two windows, no
    // self-join — the pattern that scales where `day = prev_day + 1`
    // iterative joins do not.
    GraftQuery(
      "q159_longest_streak",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val days = Tables(s, dir, "events")
          .select(col("user_id"), expr("ts div 86400000000000").as("day"))
          .distinct()
        val w = Window.partitionBy("user_id").orderBy("day")
        days
          .withColumn("rn", row_number().over(w))
          .withColumn("island", col("day") - col("rn"))
          .groupBy(col("user_id"), col("island"))
          .agg(count(lit(1)).as("streak"), min(col("day")).as("streak_start"))
          .groupBy(col("user_id"))
          .agg(max(col("streak")).as("longest_streak"),
            count(lit(1)).as("n_islands"),
            min(col("streak_start")).as("first_active_day"))
          .orderBy("user_id")
      },
      Some("""WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |i AS (
        |  SELECT user_id, day,
        |    day - row_number() OVER (PARTITION BY user_id ORDER BY day) AS island
        |  FROM d),
        |s AS (
        |  SELECT user_id, island, CAST(COUNT(*) AS BIGINT) AS streak,
        |    min(day) AS streak_start
        |  FROM i GROUP BY 1, 2)
        |SELECT user_id, CAST(MAX(streak) AS BIGINT) AS longest_streak,
        |  CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(MIN(streak_start) AS BIGINT) AS first_active_day
        |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // Rolling 7-day distinct users — EXACT via the day-grid expansion:
    // each (user, day) pair fans out to the ≤7 window anchors it serves
    // (a bounded explode, NOT a range self-join), then one distinct-count
    // per anchor day. The approximate sibling at unbounded windows is
    // q131's mergeable-HLL rollup; this is the exact-small / sketch-large
    // pairing on the metric every DAU/WAU dashboard runs.
    GraftQuery(
      "q160_rolling_distinct_users",
      (s, dir) => {
        val days = Tables(s, dir, "events")
          .select(col("user_id"), expr("ts div 86400000000000").as("day"))
          .distinct()
        val bounds = days.agg(min("day").as("d0"), max("day").as("d1"))
        days.crossJoin(broadcast(bounds))
          .select(col("user_id"), col("day"),
            explode(expr("sequence(day, least(day + 6, d1))")).as("anchor"))
          .groupBy(col("anchor"))
          .agg(countDistinct(col("user_id")).as("wau"))
          .select(col("anchor").as("day"), col("wau"))
          .orderBy("day")
      },
      Some("""WITH d AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
        |b AS (SELECT max(day) AS d1 FROM d),
        |x AS (
        |  SELECT user_id,
        |    unnest(generate_series(day, least(day + 6, (SELECT d1 FROM b)))) AS anchor
        |  FROM d)
        |SELECT CAST(anchor AS BIGINT) AS day,
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
        |FROM x GROUP BY anchor ORDER BY day""".stripMargin)),

    // Temporal anti-join — abandonment: clicks with NO same-user purchase
    // inside the following 10 minutes. The scalable plan is a left as-of
    // join forward over purchases then a null/window filter (one shuffle
    // pair), here composed as left join + aggregate-none; counted per day.
    GraftQuery(
      "q161_abandoned_clicks",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
        val buys = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        clicks.join(buys,
            col("c_user") === col("p_user") &&
              col("p_ts") >= col("c_ts") &&
              col("p_ts") <= col("c_ts") + lit(600000000000L),
            "left")
          .groupBy(col("c_id"), col("c_user"), col("c_ts"))
          .agg(count(col("p_ts")).as("n_follow"))
          .groupBy(expr("c_ts div 86400000000000").as("click_day"))
          .agg(count(lit(1)).as("n_clicks"),
            sum(when(col("n_follow") === 0, 1L).otherwise(0L)).as("n_abandoned"))
          .orderBy("click_day")
      },
      Some("""WITH c AS (
        |  SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |j AS (
        |  SELECT c.c_id, c.c_user, c.c_us, count(p.p_us) AS n_follow
        |  FROM c LEFT JOIN p ON c.c_user = p.p_user
        |    AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 600000000
        |  GROUP BY 1, 2, 3)
        |SELECT CAST(c_us // 86400000000 AS BIGINT) AS click_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_clicks,
        |  CAST(SUM(CASE WHEN n_follow = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned
        |FROM j GROUP BY 1 ORDER BY click_day""".stripMargin)),

    // Time-to-convert — q161's converting complement: for each click with a
    // same-user purchase inside the next 10 minutes, the delay to the FIRST
    // such purchase (forward as-of via min-over-range), then p50/p90 delay
    // seconds per day (q57 interpolation parity). The latency-funnel metric
    // every growth dashboard tracks.
    GraftQuery(
      "q167_time_to_convert",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
        val clicks = ev.where(col("event_type") === "click")
          .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
            col("ts").as("c_ts"))
        val buys = ev.where(col("event_type") === "purchase")
          .select(col("user_id").as("p_user"), col("ts").as("p_ts"))
        clicks.join(buys,
            col("c_user") === col("p_user") &&
              col("p_ts") >= col("c_ts") &&
              col("p_ts") <= col("c_ts") + lit(600000000000L))
          .groupBy(col("c_id"), col("c_ts"))
          .agg(min(col("p_ts")).as("first_buy"))
          .withColumn("delay_s",
            expr("CAST((first_buy - c_ts) div 1000000000 AS DOUBLE)"))
          .groupBy(expr("c_ts div 86400000000000").as("click_day"))
          .agg(count(lit(1)).as("n_converted"),
            round(expr("percentile(delay_s, 0.5)"), 4).as("p50_delay_s"),
            round(expr("percentile(delay_s, 0.9)"), 4).as("p90_delay_s"))
          .orderBy("click_day")
      },
      Some("""WITH c AS (
        |  SELECT event_id AS c_id, user_id AS c_user, epoch_us(ts) AS c_us
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS p_user, epoch_us(ts) AS p_us
        |  FROM events WHERE event_type = 'purchase'),
        |f AS (
        |  SELECT c.c_id, c.c_us, min(p.p_us) AS first_buy
        |  FROM c JOIN p ON c.c_user = p.p_user
        |    AND p.p_us >= c.c_us AND p.p_us <= c.c_us + 600000000
        |  GROUP BY 1, 2)
        |SELECT CAST(c_us // 86400000000 AS BIGINT) AS click_day,
        |  CAST(COUNT(*) AS BIGINT) AS n_converted,
        |  round(quantile_cont(CAST((first_buy - c_us) // 1000000 AS DOUBLE), 0.5), 4)
        |    AS p50_delay_s,
        |  round(quantile_cont(CAST((first_buy - c_us) // 1000000 AS DOUBLE), 0.9), 4)
        |    AS p90_delay_s
        |FROM f GROUP BY 1 ORDER BY click_day""".stripMargin)),

    // Cohort LTV — q81's value sibling: cohort = a user's first active
    // epoch-week; CUMULATIVE purchase cents per (cohort, week offset) via
    // a running window over the exact per-cell sums. The
    // lifetime-value-by-acquisition-week curve, all integer until the
    // final /100.
    GraftQuery(
      "q177_cohort_ltv",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), expr("ts div 604800000000000").as("week"),
            col("event_type"),
            expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
        val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort"))
        val cells = ev.filter(col("event_type") === "purchase")
          .join(cohort, Seq("user_id"))
          .groupBy(col("cohort"), (col("week") - col("cohort")).as("week_offset"))
          .agg(sum(col("cents")).as("cents"), count(lit(1)).as("n_purchases"))
        val w = Window.partitionBy("cohort").orderBy("week_offset")
          .rowsBetween(Window.unboundedPreceding, 0)
        cells
          .withColumn("cum_cents", sum(col("cents")).over(w))
          .select(col("cohort"), col("week_offset"), col("n_purchases"),
            (col("cents").cast("double") / 100.0).as("week_value"),
            (col("cum_cents").cast("double") / 100.0).as("ltv"))
          .orderBy("cohort", "week_offset")
      },
      Some("""WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS week, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events),
        |c AS (SELECT user_id, MIN(week) AS cohort FROM e GROUP BY 1),
        |cells AS (
        |  SELECT c.cohort, e.week - c.cohort AS week_offset,
        |    SUM(e.cents) AS cents, CAST(COUNT(*) AS BIGINT) AS n_purchases
        |  FROM e JOIN c USING (user_id)
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2)
        |SELECT CAST(cohort AS BIGINT) AS cohort,
        |  CAST(week_offset AS BIGINT) AS week_offset,
        |  n_purchases,
        |  CAST(cents AS DOUBLE) / 100.0 AS week_value,
        |  CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY week_offset
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
        |    AS ltv
        |FROM cells ORDER BY cohort, week_offset""".stripMargin)),

    // Seasonality profile — the hour-of-day × day-of-week activity matrix
    // every ops dashboard draws: pure integer bucket arithmetic on epoch
    // nanos (no calendar/timezone semantics to disagree on), exact counts
    // plus each cell's share of its weekday, one scan.
    GraftQuery(
      "q184_seasonality_matrix",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val cells = Tables(s, dir, "events")
          .select(expr("(ts div 3600000000000) % 24").as("hour_utc"),
            expr("((ts div 86400000000000) + 4) % 7").as("dow")) // epoch day 0 = Thursday
          .groupBy(col("dow"), col("hour_utc"))
          .agg(count(lit(1)).as("n_events"))
        cells
          .withColumn("day_total", sum(col("n_events")).over(Window.partitionBy("dow")))
          .select(col("dow"), col("hour_utc"), col("n_events"),
            round(col("n_events").cast("double") / col("day_total").cast("double"), 6)
              .as("share_of_day"))
          .orderBy("dow", "hour_utc")
      },
      Some("""WITH c AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hour_utc,
        |    ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
        |  FROM events),
        |g AS (
        |  SELECT dow, hour_utc, CAST(COUNT(*) AS BIGINT) AS n_events
        |  FROM c GROUP BY 1, 2)
        |SELECT CAST(dow AS BIGINT) AS dow, CAST(hour_utc AS BIGINT) AS hour_utc,
        |  n_events,
        |  round(CAST(n_events AS DOUBLE)
        |        / CAST(SUM(n_events) OVER (PARTITION BY dow) AS DOUBLE), 6)
        |    AS share_of_day
        |FROM g ORDER BY dow, hour_utc""".stripMargin)),

    // Burstiness (Fano factor) per event type — variance/mean of per-hour
    // arrival counts: 1 ≈ Poisson, higher = bursty (bot traffic, incident
    // spikes). Per-hour counts are exact integers, so Σc and Σc² run as
    // plain Longs and the index is computed once per type from exact
    // moments — the dispersion diagnostic behind rate-limit tuning.
    GraftQuery(
      "q193_fano_burstiness",
      (s, dir) => {
        val hourly = Tables(s, dir, "events")
          .groupBy(col("event_type"), expr("ts div 3600000000000").as("hr"))
          .agg(count(lit(1)).as("c"))
        hourly.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_hours"),
            sum(col("c")).as("sc"),
            sum(col("c") * col("c")).as("scc"))
          .select(col("event_type"), col("n_hours"), col("sc").as("n_events"),
            round(
              (col("scc").cast("double")
                - col("sc").cast("double") * col("sc").cast("double")
                  / col("n_hours").cast("double"))
                / (col("n_hours") - 1).cast("double")
                / (col("sc").cast("double") / col("n_hours").cast("double")),
              6).as("fano"))
          .orderBy("event_type")
      },
      Some("""WITH h AS (
        |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_hours,
        |  CAST(SUM(c) AS BIGINT) AS n_events,
        |  round((CAST(SUM(c * c) AS DOUBLE)
        |         - CAST(SUM(c) AS DOUBLE) * CAST(SUM(c) AS DOUBLE)
        |           / CAST(COUNT(*) AS DOUBLE))
        |        / CAST(COUNT(*) - 1 AS DOUBLE)
        |        / (CAST(SUM(c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)), 6) AS fano
        |FROM h GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // Inter-event dwell percentiles — per event type, the gap to the SAME
    // user's previous event of that type (lag window over exact micros),
    // then p50/p90 per type. The engagement-cadence metric behind churn
    // prediction features; q167 is the cross-type sibling.
    GraftQuery(
      "q195_dwell_percentiles",
      (s, dir) => {
        Tables(s, dir, "events")
          .select(col("user_id"), col("event_type"),
            expr("ts div 1000").as("us"), col("event_id"))
          .withColumn("gap_s",
            expr("CAST((us - lag(us, 1) OVER (PARTITION BY user_id, event_type " +
              "ORDER BY us, event_id)) div 1000000 AS DOUBLE)"))
          .filter(col("gap_s").isNotNull)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_gaps"),
            round(expr("percentile(gap_s, 0.5)"), 4).as("p50_gap_s"),
            round(expr("percentile(gap_s, 0.9)"), 4).as("p90_gap_s"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
        |g AS (
        |  SELECT event_type,
        |    CAST((us - lag(us) OVER (PARTITION BY user_id, event_type
        |      ORDER BY us, event_id)) // 1000000 AS DOUBLE) AS gap_s
        |  FROM e)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
        |  round(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
        |  round(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s
        |FROM g WHERE gap_s IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin)),

    // New-vs-returning growth accounting — per epoch week: active users
    // split into first-ever-seen (new) and returning, the growth ledger
    // every WAU chart decomposes into. One distinct frame, one first-seen
    // aggregate joined back; all exact.
    GraftQuery(
      "q214_new_vs_returning",
      (s, dir) => {
        val active = Tables(s, dir, "events")
          .select(col("user_id"), expr("ts div 604800000000000").as("week"))
          .distinct()
        val firstSeen = active.groupBy(col("user_id"))
          .agg(min(col("week")).as("first_week"))
        active.join(firstSeen, Seq("user_id"))
          .groupBy(col("week"))
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("week") === col("first_week"), 1L).otherwise(0L))
              .as("n_new"),
            sum(when(col("week") =!= col("first_week"), 1L).otherwise(0L))
              .as("n_returning"))
          .withColumn("returning_frac",
            round(col("n_returning").cast("double") / col("n_active"), 6))
          .orderBy("week")
      },
      Some("""WITH a AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
        |  FROM events),
        |f AS (SELECT user_id, MIN(week) AS first_week FROM a GROUP BY 1)
        |SELECT CAST(week AS BIGINT) AS week,
        |  CAST(COUNT(*) AS BIGINT) AS n_active,
        |  CAST(SUM(CASE WHEN week = first_week THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_new,
        |  CAST(SUM(CASE WHEN week <> first_week THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_returning,
        |  round(CAST(SUM(CASE WHEN week <> first_week THEN 1 ELSE 0 END) AS DOUBLE)
        |        / COUNT(*), 6) AS returning_frac
        |FROM a JOIN f USING (user_id)
        |GROUP BY week ORDER BY week""".stripMargin)),

    // Session depth vs conversion — q32's sessionization re-aggregated to
    // the product question: do longer sessions convert more? Depth buckets
    // (1, 2-4, 5-9, 10+) × contains-purchase rate, exact counts
    // throughout; the engagement-funnel summary.
    GraftQuery(
      "q215_depth_conversion",
      (s, dir) => {
        val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
        val cum = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val sessions = Tables(s, dir, "events")
          .withColumn("ts_us", expr("ts div 1000"))
          .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byUser))
          .withColumn("new_session",
            when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L).otherwise(0L))
          .withColumn("session_id", sum(col("new_session")).over(cum))
          .groupBy(col("user_id"), col("session_id"))
          .agg(count(lit(1)).as("depth"),
            max(when(col("event_type") === "purchase", 1L).otherwise(0L))
              .as("converted"))
        sessions
          .withColumn("depth_bucket",
            when(col("depth") === 1, "1")
              .when(col("depth") <= 4, "2-4")
              .when(col("depth") <= 9, "5-9")
              .otherwise("10+"))
          .groupBy(col("depth_bucket"))
          .agg(count(lit(1)).as("n_sessions"),
            sum(col("converted")).as("n_converted"))
          .withColumn("conv_rate",
            round(col("n_converted").cast("double") / col("n_sessions"), 6))
          .orderBy("depth_bucket")
      },
      Some("""WITH x AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
        |f AS (
        |  SELECT user_id, event_id, event_type, ts_us,
        |    CASE WHEN ts_us - lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w > 1800000000 THEN 1 ELSE 0 END
        |      AS new_session
        |  FROM x WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
        |g AS (
        |  SELECT user_id, event_type,
        |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM f),
        |s AS (
        |  SELECT user_id, session_id, COUNT(*) AS depth,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        |  FROM g GROUP BY 1, 2)
        |SELECT CASE WHEN depth = 1 THEN '1' WHEN depth <= 4 THEN '2-4'
        |            WHEN depth <= 9 THEN '5-9' ELSE '10+' END AS depth_bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  round(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conv_rate
        |FROM s GROUP BY 1 ORDER BY depth_bucket""".stripMargin)),

    // Holt linear-trend smoothing per user — the TWO-state recurrence
    // (level + trend) through [[graft.operators.SequentialFold.holt]]:
    // secondary-sort layout, O(1) state per key, bit-deterministic fold
    // order. The oracle steps the identical recurrence with a RECURSIVE
    // CTE over per-user row indices (depth = rows-per-user, ≤99 here),
    // evaluating the same IEEE expression sequence — so level/trend/
    // one-step forecast agree to the bit before round(6). (DuckDB's
    // list_reduce over STRUCT state is NOT usable: its per-field
    // evaluation order over the accumulator is inconsistent — probed on
    // v1.0.0 — so the oracle avoids it.)
    GraftQuery(
      "q230_holt_linear_trend",
      (s, dir) => {
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), expr("ts div 1000").as("us"),
            col("event_id"), col("value"))
        graft.operators.SequentialFold
          .holt(ev, "user_id", Seq("us", "event_id"), "value",
            alpha = 0.3, beta = 0.1)
          .select(col("user_id"), col("n_rows"),
            round(col("level"), 6).as("level"),
            round(col("trend"), 6).as("trend"),
            round(col("forecast"), 6).as("forecast"))
          .orderBy("user_id")
      },
      Some("""WITH RECURSIVE e AS (
        |  SELECT user_id, epoch_us(ts) AS us, event_id,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events),
        |x AS (
        |  SELECT user_id, v,
        |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY us, event_id)
        |      AS BIGINT) AS i,
        |    COUNT(*) OVER (PARTITION BY user_id) AS n
        |  FROM e),
        |rec(user_id, i, l, b) AS (
        |  SELECT user_id, i, v, CAST(0 AS DOUBLE) FROM x WHERE i = 1
        |  UNION ALL
        |  SELECT x.user_id, x.i,
        |    0.3 * x.v + 0.7 * (rec.l + rec.b),
        |    0.1 * ((0.3 * x.v + 0.7 * (rec.l + rec.b)) - rec.l) + 0.9 * rec.b
        |  FROM rec JOIN x ON x.user_id = rec.user_id AND x.i = rec.i + 1),
        |fin AS (
        |  SELECT user_id, i, l, b,
        |    row_number() OVER (PARTITION BY user_id ORDER BY i DESC) AS rn
        |  FROM rec)
        |SELECT f.user_id, CAST(f.i AS BIGINT) AS n_rows,
        |  round(f.l, 6) AS level, round(f.b, 6) AS trend,
        |  round(f.l + f.b, 6) AS forecast
        |FROM fin f WHERE f.rn = 1 ORDER BY f.user_id""".stripMargin)),

    // Seasonally-adjusted anomaly days — each (event type, day)'s volume
    // z-scored against its own DAY-OF-WEEK baseline, so weekend dips don't
    // read as anomalies. Day-of-week is pure integer arithmetic on epoch
    // days ((day+4) mod 7 — no calendar function drift between engines);
    // mean/std come from exact Long moments per (type, dow); the top-10 is
    // ranked on the rounded z with full tiebreakers.
    GraftQuery(
      "q236_dow_adjusted_anomalies",
      (s, dir) => {
        val daily = Tables(s, dir, "events")
          .groupBy(col("event_type"),
            expr("ts div 86400000000000").as("day"))
          .agg(count(lit(1)).as("c"))
          .withColumn("dow", expr("(day + 4) % 7"))
        val base = daily.groupBy(col("event_type"), col("dow"))
          .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
            sum(col("c") * col("c")).as("scc"))
          .filter(col("n") >= 2 && col("n") * col("scc") > col("sc") * col("sc"))
        daily.join(base, Seq("event_type", "dow"))
          .withColumn("mean", col("sc").cast("double") / col("n").cast("double"))
          .withColumn("sd", sqrt(
            (col("n").cast("double") * col("scc").cast("double")
              - col("sc").cast("double") * col("sc").cast("double"))
              / (col("n").cast("double") * (col("n") - 1).cast("double"))))
          .select(col("event_type"), col("day"), col("dow"), col("c"),
            round((col("c").cast("double") - col("mean")) / col("sd"), 4).as("z"))
          .orderBy(abs(col("z")).desc, col("event_type").asc, col("day").asc)
          .limit(10)
      },
      Some("""WITH daily AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1, 2),
        |d2 AS (SELECT *, (day + 4) % 7 AS dow FROM daily),
        |base AS (
        |  SELECT event_type, dow, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(c) AS BIGINT) AS sc,
        |    CAST(SUM(CAST(c AS HUGEINT) * c) AS BIGINT) AS scc
        |  FROM d2 GROUP BY 1, 2
        |  HAVING COUNT(*) >= 2 AND COUNT(*) * SUM(CAST(c AS HUGEINT) * c)
        |         > SUM(c) * SUM(c))
        |SELECT d2.event_type, CAST(d2.day AS BIGINT) AS day,
        |  CAST(d2.dow AS BIGINT) AS dow, d2.c,
        |  round((CAST(d2.c AS DOUBLE) - CAST(sc AS DOUBLE) / n)
        |        / sqrt((CAST(n AS DOUBLE) * scc - CAST(sc AS DOUBLE) * sc)
        |               / (CAST(n AS DOUBLE) * (n - 1))), 4) AS z
        |FROM d2 JOIN base USING (event_type, dow)
        |ORDER BY abs(z) DESC, event_type, day LIMIT 10""".stripMargin)),

    // Time-bounded conversion — clicks converting to a purchase by the
    // SAME user within ONE HOUR, daily. The time-window join runs through
    // [[graft.operators.IntervalJoin.overlap]] with the click's [t, t+1h]
    // window against degenerate purchase points, keyed on (user, hour
    // bin) — an equi hash join whose candidates are bounded by per-user-
    // per-hour density, never a BroadcastNestedLoop time-range join. The
    // strict "after the click" edge is one extra predicate post-join.
    GraftQuery(
      "q247_hour_conversion",
      (s, dir) => {
        val H = 3600000000L // one hour in microseconds
        val ev = Tables(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("event_type"),
            expr("ts div 1000").as("us"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("cu"), col("event_id").as("cid"),
            col("us").as("cs"))
          .withColumn("ce", col("cs") + H)
        val buys = ev.filter(col("event_type") === "purchase")
          .select(col("user_id").as("pu"), col("us").as("ps"))
          .withColumn("pe", col("ps"))
        val converted = graft.operators.IntervalJoin
          .overlap(clicks, "cs", "ce", buys, "ps", "pe",
            Seq("cu" -> "pu"), binWidth = H)
          .where(col("ps") > col("cs"))
          .select(col("cid")).distinct()
        clicks
          .join(converted.withColumnRenamed("cid", "conv_cid"),
            col("cid") === col("conv_cid"), "left")
          .groupBy(expr("cs div 86400000000").as("day"))
          .agg(count(lit(1)).as("n_clicks"),
            sum(when(col("conv_cid").isNotNull, 1L).otherwise(0L)).as("n_converted"))
          .withColumn("conv_rate", round(col("n_converted").cast("double")
            / col("n_clicks").cast("double"), 6))
          .orderBy("day")
      },
      Some("""WITH c AS (
        |  SELECT user_id AS cu, event_id AS cid, epoch_us(ts) AS cs
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id AS pu, epoch_us(ts) AS ps
        |  FROM events WHERE event_type = 'purchase'),
        |conv AS (
        |  SELECT DISTINCT cid FROM c JOIN p
        |  ON cu = pu AND ps > cs AND ps <= cs + 3600000000),
        |d AS (
        |  SELECT c.cs // 86400000000 AS day,
        |    CASE WHEN conv.cid IS NOT NULL THEN 1 ELSE 0 END AS converted
        |  FROM c LEFT JOIN conv ON c.cid = conv.cid)
        |SELECT CAST(day AS BIGINT) AS day,
        |  CAST(COUNT(*) AS BIGINT) AS n_clicks,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  round(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6) AS conv_rate
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Power-user concentration — what share of all events comes from the
    // top 1% of users by activity (the engagement-skew number behind every
    // infra-sizing and abuse-threshold decision). User ranks come from
    // DistributedPrefixSum over the descending activity order; the 1% cut
    // is integer (greatest(1, n div 100)); shares divide exact Longs once.
    GraftQuery(
      "q275_power_user_share",
      (s, dir) => {
        val perUser = Tables(s, dir, "events")
          .groupBy(col("user_id")).agg(count(lit(1)).as("c"))
          .withColumn("negc", -col("c"))
        // totals ride the scan's own pass-1 collect — the former separate
        // `perUser.agg(...)` re-ran the events-per-user aggregation twice
        val res = graft.operators.DistributedPrefixSum
          .scanWithTotals(perUser, Seq("negc", "user_id"), Seq("c"), idxName = "rnk")
        val (nu, te) = (res.totalCount, res.totalSums("c"))
        val topUsers = math.max(1L, nu / 100)
        res.df
          .filter(col("rnk") <= lit(topUsers))
          .agg(max(lit(nu)).as("n_users"),
            max(lit(topUsers)).as("top_users"),
            max(col("run_c")).as("top_events"), max(lit(te)).as("total_events"))
          .select(col("n_users"), col("top_users"), col("top_events"),
            col("total_events"),
            round(col("top_events").cast("double")
              / col("total_events").cast("double"), 6).as("top1pct_share"))
      },
      Some("""WITH pu AS (
        |  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT c,
        |    CAST(row_number() OVER (ORDER BY c DESC, user_id) AS BIGINT) AS rnk,
        |    SUM(c) OVER (ORDER BY c DESC, user_id) AS run_c,
        |    COUNT(*) OVER () AS nu, SUM(c) OVER () AS te
        |  FROM pu)
        |SELECT CAST(MAX(nu) AS BIGINT) AS n_users,
        |  CAST(MAX(GREATEST(1, nu // 100)) AS BIGINT) AS top_users,
        |  CAST(MAX(run_c) AS BIGINT) AS top_events,
        |  CAST(MAX(te) AS BIGINT) AS total_events,
        |  round(CAST(MAX(run_c) AS DOUBLE) / CAST(MAX(te) AS DOUBLE), 6)
        |    AS top1pct_share
        |FROM r WHERE rnk <= GREATEST(1, nu // 100)""".stripMargin)),

    // JSON-parsed feature correlation — the props payload's `k` field vs
    // the event value, per event type: the check that a logged property
    // actually carries signal. JSON extraction on both engines, then the
    // q211 exact-moment Pearson (value in cents, k integral; hi/lo-split
    // Long products).
    GraftQuery(
      "q277_prop_value_correlation",
      (s, dir) => {
        val e = Tables(s, dir, "events")
          .select(col("event_type"),
            expr("CAST(get_json_object(props, '$.k') AS BIGINT)").as("a"),
            expr("CAST(round(value * 100) AS BIGINT)").as("b"))
          .filter(col("a").isNotNull)
        val m = e.groupBy(col("event_type"))
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
        m.select(col("event_type"), col("n").as("n_events"),
            round((n * mom("hab", "lab") - sa * sb)
              / sqrt((n * mom("haa", "laa") - sa * sa)
                * (n * mom("hbb", "lbb") - sb * sb)), 6).as("corr_k_value"))
          .orderBy("event_type")
      },
      Some("""WITH e AS (
        |  SELECT event_type,
        |    CAST(json_extract(props, '$.k') AS BIGINT) AS a,
        |    CAST(round(value * 100) AS BIGINT) AS b
        |  FROM events WHERE json_extract(props, '$.k') IS NOT NULL),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(a) AS DOUBLE) AS sa, CAST(SUM(b) AS DOUBLE) AS sb,
        |    CAST(SUM(CAST(a AS HUGEINT) * a) AS DOUBLE) AS saa,
        |    CAST(SUM(CAST(b AS HUGEINT) * b) AS DOUBLE) AS sbb,
        |    CAST(SUM(CAST(a AS HUGEINT) * b) AS DOUBLE) AS sab
        |  FROM e GROUP BY 1)
        |SELECT event_type, n AS n_events,
        |  round((CAST(n AS DOUBLE) * sab - sa * sb)
        |        / sqrt((CAST(n AS DOUBLE) * saa - sa * sa)
        |               * (CAST(n AS DOUBLE) * sbb - sb * sb)), 6)
        |    AS corr_k_value
        |FROM m ORDER BY event_type""".stripMargin)),

    // Diurnal activity profile — events per hour-of-day with value share
    // and the peak hour flagged: the capacity-planning curve. Hour-of-day
    // is integer arithmetic on epoch-microseconds (no timezone functions);
    // exact counts/cents; shares final-float.
    GraftQuery(
      "q280_diurnal_profile",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val e = Tables(s, dir, "events")
          .select(expr("(ts div 3600000000000) % 24").as("hour"),
            expr("CAST(round(value * 100) AS BIGINT)").as("vc"))
        e.groupBy(col("hour"))
          .agg(count(lit(1)).as("n_events"), sum(col("vc")).as("vc"))
          .withColumn("evt_share", round(col("n_events").cast("double")
            / sum(col("n_events")).over(Window.partitionBy()), 6))
          .withColumn("is_peak",
            col("n_events") === max(col("n_events")).over(Window.partitionBy()))
          .select(col("hour"), col("n_events"), col("evt_share"),
            (col("vc").cast("double") / 100.0).as("total_value"), col("is_peak"))
          .orderBy("hour")
      },
      Some("""WITH e AS (
        |  SELECT (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events),
        |g AS (
        |  SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_events,
        |    CAST(SUM(vc) AS BIGINT) AS vc
        |  FROM e GROUP BY 1)
        |SELECT CAST(hour AS BIGINT) AS hour, n_events,
        |  round(CAST(n_events AS DOUBLE)
        |        / CAST(SUM(n_events) OVER () AS DOUBLE), 6) AS evt_share,
        |  CAST(vc AS DOUBLE) / 100.0 AS total_value,
        |  n_events = MAX(n_events) OVER () AS is_peak
        |FROM g ORDER BY hour""".stripMargin)),

    // SLO burn rate — error share per hour against a 5% error budget,
    // with the 1h ("fast") and 6h ("slow") burn-rate pair every
    // multiwindow alert policy compares. Hourly (errors, total) counts
    // are one aggregate; the 6h trailing window is a RANGE frame over the
    // hour index; rates are exact-Long ratios, burn = rate / budget.
    GraftQuery(
      "q281_slo_burn_rate",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val hourly = Tables(s, dir, "events")
          .groupBy(expr("ts div 3600000000000").as("h"))
          .agg(count(lit(1)).as("total"),
            sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"))
        val w6 = Window.orderBy("h").rangeBetween(-5, 0)
        hourly
          .withColumn("errs6", sum(col("errs")).over(w6))
          .withColumn("total6", sum(col("total")).over(w6))
          .select(col("h").as("hour_idx"), col("total"), col("errs"),
            round(col("errs").cast("double") / col("total").cast("double")
              / 0.05, 4).as("burn_1h"),
            round(col("errs6").cast("double") / col("total6").cast("double")
              / 0.05, 4).as("burn_6h"))
          .orderBy("hour_idx")
      },
      Some("""WITH hourly AS (
        |  SELECT epoch_us(ts) // 3600000000 AS h,
        |    CAST(COUNT(*) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS errs
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT *,
        |    SUM(errs) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING
        |      AND CURRENT ROW) AS errs6,
        |    SUM(total) OVER (ORDER BY h RANGE BETWEEN 5 PRECEDING
        |      AND CURRENT ROW) AS total6
        |  FROM hourly)
        |SELECT CAST(h AS BIGINT) AS hour_idx, total, errs,
        |  round(CAST(errs AS DOUBLE) / CAST(total AS DOUBLE) / 0.05, 4)
        |    AS burn_1h,
        |  round(CAST(errs6 AS DOUBLE) / CAST(total6 AS DOUBLE) / 0.05, 4)
        |    AS burn_6h
        |FROM w ORDER BY hour_idx""".stripMargin))
  )
}
