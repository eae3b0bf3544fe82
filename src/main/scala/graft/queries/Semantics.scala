package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-7 surface: engine-semantics completeness — the type-system and
  * evolution behaviors a user silently depends on when they switch engines:
  * schema evolution across parquet batches (mergeSchema + absent-column
  * nulls), nested array-of-struct round-trips, MapType aggregation, and
  * explicit NULL ordering/equality semantics (Spark and ANSI SQL disagree
  * on defaults — the queries pin the portable explicit forms).
  *
  * Scale notes:
  *   - q140: schema merge happens at footer-listing time (O(files), not
  *     O(rows)); the old-batch scan materializes the missing column as a
  *     null literal — no rewrite of historical data.
  *   - q141: collect_list(struct(...)) is bounded per group by the k-cap
  *     applied BEFORE aggregation (row_number ≤ 3) — no unbounded per-group
  *     state; the explode returns to flat rows in the same task.
  *   - q142: map_from_entries over a k-bounded entry list; map lookups are
  *     row-local.
  *   - q143: one scan; the orderings are windows over a 25-row rollup.
  */
object Semantics extends QueryPack {

  private def dsum2(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  def queries: Seq[GraftQuery] = Seq(

    // Schema evolution: batch 1 writes (key, price), batch 2 adds a
    // status column; a mergeSchema read sees the union schema with nulls
    // for the old batch — aggregated per status including the NULL bucket.
    GraftQuery(
      "q140_schema_evolution",
      (s, dir) => {
        val orders = Tables(s, dir, "orders")
        withScratchRoot(s, "evo") { root =>
          orders.where(col("o_orderkey") % 2 === 0)
            .select(col("o_orderkey"), col("o_totalprice"))
            .write.parquet(s"$root/batch=1")
          orders.where(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
            .write.parquet(s"$root/batch=2")
          val merged = s.read.option("mergeSchema", "true").parquet(root)
          materializeSmall(merged
            .groupBy(coalesce(col("o_orderstatus"), lit("<pre-evolution>")).as("status"))
            .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
            .orderBy("status"))
        }
      },
      Some("""WITH m AS (
        |  SELECT o_orderkey, o_totalprice,
        |    CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus
        |  FROM orders)
        |SELECT COALESCE(o_orderstatus, '<pre-evolution>') AS status,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM m GROUP BY 1 ORDER BY status""".stripMargin)),

    // Nested array-of-structs round-trip: top-3 orders per nation packed
    // into a sorted array of (orderkey, price) structs, then exploded back
    // with positions. The oracle computes the flat equivalent directly —
    // identity through the nested type IS the check.
    GraftQuery(
      "q141_nested_structs",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("c_nationkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        val top = Tables(s, dir, "orders")
          .join(broadcast(Tables(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
        val nested = top
          .groupBy(col("c_nationkey").as("nation"))
          .agg(sort_array(collect_list(struct(
            col("rk"), col("o_orderkey").as("okey"),
            col("o_totalprice").as("price")))).as("top3"))
        nested
          .select(col("nation"), posexplode(col("top3")).as(Seq("pos", "t")))
          .select(col("nation").cast("long").as("nation"),
            (col("pos") + 1).cast("long").as("rank"),
            col("t.okey").as("okey"), col("t.price").as("price"))
          .orderBy("nation", "rank")
      },
      Some("""WITH r AS (
        |  SELECT c.c_nationkey AS nation, o.o_orderkey AS okey,
        |    o.o_totalprice AS price,
        |    row_number() OVER (PARTITION BY c.c_nationkey
        |      ORDER BY o.o_totalprice DESC, o.o_orderkey) AS rank
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
        |SELECT CAST(nation AS BIGINT) AS nation, CAST(rank AS BIGINT) AS rank,
        |  okey, price
        |FROM r WHERE rank <= 3 ORDER BY nation, rank""".stripMargin)),

    // MapType aggregation: per nation a status→count map built with
    // map_from_entries, consumed by row-local lookups. The flat oracle
    // computes the same three lookups directly.
    GraftQuery(
      "q142_map_aggregation",
      (s, dir) => {
        val counts = Tables(s, dir, "orders")
          .join(broadcast(Tables(s, dir, "customer")),
            col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_nationkey").as("nation"), col("o_orderstatus").as("st"))
          .agg(count(lit(1)).as("n"))
        counts
          .groupBy(col("nation"))
          .agg(map_from_entries(sort_array(collect_list(struct(col("st"), col("n")))))
            .as("by_status"))
          .select(col("nation").cast("long").as("nation"),
            coalesce(col("by_status")("F"), lit(0L)).as("n_f"),
            coalesce(col("by_status")("O"), lit(0L)).as("n_o"),
            coalesce(col("by_status")("P"), lit(0L)).as("n_p"))
          .orderBy("nation")
      },
      Some("""SELECT CAST(c.c_nationkey AS BIGINT) AS nation,
        |  CAST(SUM(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
        |  CAST(SUM(CASE WHEN o.o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
        |  CAST(SUM(CASE WHEN o.o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY nation""".stripMargin)),

    // NULL semantics, pinned portably: Spark orders NULLS FIRST ascending
    // by default, ANSI engines NULLS LAST — both sides say it explicitly;
    // plus null-safe equality (<=> / IS NOT DISTINCT FROM) versus plain =
    // over an injected-null column.
    GraftQuery(
      "q143_null_semantics",
      (s, dir) => {
        val d = Tables(s, dir, "customer")
          .select(col("c_custkey"),
            when(col("c_custkey") % 7 === 0, lit(null).cast("long"))
              .otherwise(col("c_nationkey")).as("nk"))
        val stats = d.agg(
          count(lit(1)).as("n_rows"),
          count(col("nk")).as("n_nonnull"),
          sum(when(col("nk").isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(col("nk") <=> lit(null).cast("long"), 1L).otherwise(0L))
            .as("n_nullsafe_eq_null"),
          sum(when(col("nk") === lit(null).cast("long"), 1L).otherwise(0L))
            .as("n_plain_eq_null"))
        val headNullsLast = d.orderBy(col("nk").asc_nulls_last, col("c_custkey"))
          .limit(1).select(col("c_custkey").as("first_nulls_last"))
        val headNullsFirst = d.orderBy(col("nk").asc_nulls_first, col("c_custkey"))
          .limit(1).select(col("c_custkey").as("first_nulls_first"))
        stats.crossJoin(headNullsLast).crossJoin(headNullsFirst)
      },
      Some("""WITH d AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_nationkey END AS nk
        |  FROM customer)
        |SELECT
        |  (SELECT CAST(count(*) AS BIGINT) FROM d) AS n_rows,
        |  (SELECT CAST(count(nk) AS BIGINT) FROM d) AS n_nonnull,
        |  (SELECT CAST(SUM(CASE WHEN nk IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM d) AS n_null,
        |  (SELECT CAST(SUM(CASE WHEN nk IS NOT DISTINCT FROM NULL THEN 1 ELSE 0 END) AS BIGINT) FROM d) AS n_nullsafe_eq_null,
        |  (SELECT CAST(SUM(CASE WHEN nk = NULL THEN 1 ELSE 0 END) AS BIGINT) FROM d) AS n_plain_eq_null,
        |  (SELECT c_custkey FROM d ORDER BY nk ASC NULLS LAST, c_custkey LIMIT 1) AS first_nulls_last,
        |  (SELECT c_custkey FROM d ORDER BY nk ASC NULLS FIRST, c_custkey LIMIT 1) AS first_nulls_first""".stripMargin)),

    // Order-independent table checksum — the anti-entropy primitive for
    // comparing two 100 TB replicas without sorting either: per-row md5 over
    // the canonical int/string columns, two 24-bit hex windows summed as
    // plain Longs (commutative ⇒ partition-order-free; Σ < 2^24·n stays
    // exact to ~10¹⁴ rows). One row per table, O(1) output; q121's row-level
    // snapshot diff is the drill-down companion.
    GraftQuery(
      "q152_table_checksum",
      (s, dir) => {
        // one base-16 conv per window, not 12 instr-multiply terms: same
        // value (Σ digit·16^(5-i) IS base-16 positional notation, < 2^24 so
        // the long cast is exact), ~1/10th the expression tree — this query
        // had one of the suite's largest cold(planning+codegen)−warm gaps
        def hex6(h: org.apache.spark.sql.Column, off: Int): org.apache.spark.sql.Column =
          conv(substring(h, off, 6), 16, 10).cast("long")
        def one(name: String, keyExpr: String): org.apache.spark.sql.DataFrame = {
          val h = md5(expr(keyExpr))
          Tables(s, dir, name)
            .select(hex6(h, 1).as("v_hi"), hex6(h, 7).as("v_lo"))
            .agg(count(lit(1)).as("n_rows"),
              sum(col("v_hi")).as("sum_hi"), sum(col("v_lo")).as("sum_lo"))
            .select(lit(name).as("tbl"), col("n_rows"), col("sum_hi"), col("sum_lo"))
        }
        one("customer", "concat_ws('|', c_custkey, c_nationkey, c_name, c_mktsegment)")
          .unionAll(one("orders",
            "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, o_orderpriority)"))
          .unionAll(one("part", "concat_ws('|', p_partkey, p_brand, p_type, p_size)"))
          .orderBy("tbl")
      },
      Some {
        def hex6(off: Int): String =
          (0 until 6).map { i =>
            s"(instr('0123456789abcdef', substr(h, ${off + i}, 1)) - 1) * ${1L << (4 * (5 - i))}"
          }.mkString(" + ")
        def one(name: String, keyExpr: String): String =
          s"""SELECT '$name' AS tbl, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(SUM(${hex6(1)}) AS BIGINT) AS sum_hi,
             CAST(SUM(${hex6(7)}) AS BIGINT) AS sum_lo
             FROM (SELECT md5($keyExpr) AS h FROM $name)"""
        Seq(
          one("customer", "concat_ws('|', c_custkey, c_nationkey, c_name, c_mktsegment)"),
          one("orders", "concat_ws('|', o_orderkey, o_custkey, o_orderstatus, o_orderpriority)"),
          one("part", "concat_ws('|', p_partkey, p_brand, p_type, p_size)"))
          .mkString(" UNION ALL ") + " ORDER BY tbl"
      }),

    // Signed integer division — the cross-engine trap pinned explicitly:
    // Spark `div` and `%` truncate toward zero / follow the dividend sign,
    // EXACTLY like DuckDB `//` and `%` (both probed, not assumed); `pmod`
    // has no DuckDB twin and maps to ((a%b)+b)%b; floor-division differs
    // from both and is pinned via floor(a/b). A mis-mapped `div` on negative
    // keys silently shifts every bucket boundary left of zero.
    GraftQuery(
      "q153_signed_intdiv",
      (s, dir) => {
        Tables(s, dir, "orders")
          .filter(col("o_orderkey") < 600)
          .select(col("o_orderkey"), (col("o_custkey") - 1500L).as("k"))
          .select(col("o_orderkey"), col("k"),
            expr("k div 7").as("trunc_div"),
            expr("k % 7").as("c_mod"),
            expr("pmod(k, 7)").as("pos_mod"),
            expr("CAST(floor(k / 7.0) AS BIGINT)").as("floor_div"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, k,
        |  k // 7 AS trunc_div,
        |  k % 7 AS c_mod,
        |  ((k % 7) + 7) % 7 AS pos_mod,
        |  CAST(floor(k / 7.0) AS BIGINT) AS floor_div
        |FROM (SELECT o_orderkey, CAST(o_custkey - 1500 AS BIGINT) AS k
        |      FROM orders WHERE o_orderkey < 600) t
        |ORDER BY o_orderkey""".stripMargin)),

    // Window default-frame semantics — the classic trap pinned: with only
    // ORDER BY, the frame is RANGE UNBOUNDED PRECEDING..CURRENT ROW in
    // BOTH engines, so last_value is the CURRENT row (not the partition
    // max) and nth_value(2) is NULL until two rows are in frame;
    // last_value over the explicit full frame is the partition tail. A
    // mis-assumed default silently corrupts every "latest per key so far"
    // metric.
    GraftQuery(
      "q168_window_frame_pins",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("us", "event_id")
        val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        Tables(s, dir, "events")
          .filter(col("user_id") < 15)
          .select(col("user_id"), expr("ts div 1000").as("us"),
            col("event_id"), col("value"))
          .select(col("user_id"), col("event_id"),
            first(col("value")).over(w).as("fv"),
            last(col("value")).over(w).as("lv_default"),
            last(col("value")).over(wFull).as("lv_full"),
            nth_value(col("value"), 2).over(w).as("nv2"),
            lag(col("value"), 1).over(w).as("prev_v"))
          .orderBy("user_id", "event_id")
      },
      Some("""SELECT user_id, event_id,
        |  first_value(value) OVER w AS fv,
        |  last_value(value) OVER w AS lv_default,
        |  last_value(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lv_full,
        |  nth_value(value, 2) OVER w AS nv2,
        |  lag(value) OVER w AS prev_v
        |FROM events WHERE user_id < 15
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
        |ORDER BY user_id, event_id""".stripMargin)),

    // Schema-drift union — `unionByName(allowMissingColumns)` matches by
    // NAME and null-fills gaps, where positional UNION ALL silently pairs
    // mismatched columns (the drift trap when a source adds a field).
    // DuckDB's `UNION ALL BY NAME` pins the identical semantics.
    GraftQuery(
      "q174_union_by_name",
      (s, dir) => {
        val o = Tables(s, dir, "orders")
        val v1 = o.filter(col("o_orderkey") < 300)
          .select(col("o_orderkey"), col("o_orderstatus"))
        val v2 = o.filter(col("o_orderkey") >= 300 && col("o_orderkey") < 600)
          .select(col("o_orderkey"), col("o_orderpriority"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
        v1.unionByName(v2, allowMissingColumns = true)
          .select(col("o_orderkey"), col("o_orderstatus"),
            col("o_orderpriority"), col("price_c"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_orderpriority, price_c
        |FROM (
        |  SELECT o_orderkey, o_orderstatus
        |  FROM orders WHERE o_orderkey < 300
        |  UNION ALL BY NAME
        |  SELECT o_orderkey, o_orderpriority,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS price_c
        |  FROM orders WHERE o_orderkey >= 300 AND o_orderkey < 600)
        |ORDER BY o_orderkey""".stripMargin)))
}
