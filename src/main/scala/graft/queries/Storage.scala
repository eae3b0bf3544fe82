package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Round-7 surface: storage-format and physical-layout operators — the ORC
  * source/sink round-trip (completing the format matrix next to parquet,
  * csv/json in q104, and text in the logfile sink), and a Hive-style
  * partitioned write whose read-back filter prunes directories instead of
  * rows (the data-layout half of "don't read 100 TB to answer a 1-partition
  * question").
  *
  * Scale notes:
  *   - q125: the round-trip rewrites only the projected 3 columns; ORC's
  *     dictionary + RLE make the priority column ~free, and read-back
  *     pushes the aggregation below the exchange exactly as parquet does.
  *   - q126: `partitionBy(o_orderpriority)` shards the write by the filter
  *     column, so the read-back `WHERE o_orderpriority IN (...)` resolves
  *     at the DIRECTORY listing — `PartitionFilters` in the scan node, zero
  *     bytes of the other partitions touched. `StorageSpec` pins the
  *     pruning by counting the files the executed plan actually read.
  */
object Storage extends QueryPack {

  private def dsum2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 2))).cast("double")

  def queries: Seq[GraftQuery] = Seq(

    // ORC sink + source round-trip: a 3-column orders slice written as ORC,
    // read back through an explicit schema, must aggregate identically to
    // the parquet originals (exactly what the oracle computes).
    GraftQuery(
      "q125_orc_roundtrip",
      (s, dir) => {
        val base = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .where(col("o_orderkey") % 2 === 0)
        withScratchRoot(s, "orc") { root =>
          base.coalesce(4).write.orc(root)
          val back = s.read
            .schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
            .orc(root)
          // materialize the ~3-row rollup so the round-trip files can be
          // deleted before returning (nothing lazy reads them afterwards)
          materializeSmall(back
            .groupBy("o_orderstatus")
            .agg(count(lit(1)).as("n"), dsum2(col("o_totalprice")).as("total"))
            .orderBy("o_orderstatus"))
        }
      },
      Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE o_orderkey % 2 = 0
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin)),

    // Hive-style partitioned layout: write orders partitioned by priority,
    // read back with a partition-column predicate that prunes at the
    // directory level (PartitionFilters, not data filters), and aggregate
    // the two surviving partitions. The oracle computes the same filter
    // over the unpartitioned originals — identical by round-trip fidelity.
    GraftQuery(
      "q126_partitioned_prune",
      (s, dir) => {
        val base = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
        withScratchRoot(s, "part") { root =>
          base.write.partitionBy("o_orderpriority").parquet(root)
          val back = s.read.parquet(root)
            .where(col("o_orderpriority").isin("1-URGENT", "5-LOW"))
          materializeSmall(back
            .groupBy("o_orderpriority")
            .agg(count(lit(1)).as("n"),
              dsum2(col("o_totalprice")).as("total"),
              max(col("o_orderkey")).as("max_key"))
            .orderBy("o_orderpriority"))
        }
      },
      Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
        |  max(o_orderkey) AS max_key
        |FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // Compaction planner — the small-files problem at 100 TB: given a file
    // inventory (documents stands in: doc_id = file, n_chars = bytes),
    // bin-pack per source directory into ~64 KiB output groups by running
    // prefix-sum. The plan is pure window arithmetic (one shuffle by
    // source), deterministic, and emits per-bin manifests a rewrite job
    // would consume. Greedy cumsum÷target is the industry-standard
    // compaction heuristic (bins can exceed target by at most one file).
    GraftQuery(
      "q149_compaction_planner",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val target = 65536L
        val w = Window.partitionBy("source").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        Tables(s, dir, "documents")
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("before", coalesce(sum(col("n_chars")).over(w), lit(0L)))
          .withColumn("bin", expr(s"before div $target"))
          .groupBy(col("source"), col("bin"))
          .agg(count(lit(1)).as("n_files"), sum(col("n_chars")).as("bin_bytes"),
            min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
          .orderBy("source", "bin")
      },
      Some("""WITH f AS (
        |  SELECT source, doc_id, n_chars,
        |    COALESCE(SUM(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
        |  FROM documents)
        |SELECT source, CAST(before // 65536 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_files,
        |  CAST(SUM(n_chars) AS BIGINT) AS bin_bytes,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM f GROUP BY source, bin ORDER BY source, bin""".stripMargin)),

    // Dynamic partition overwrite — the idempotent daily-reload primitive:
    // with partitionOverwriteMode=dynamic, an Overwrite write replaces ONLY
    // the partitions present in the incoming frame; untouched partitions
    // keep their rows byte-for-byte. Here the URGENT partition is reloaded
    // with doubled prices; every other priority must survive at its
    // original total. The deterministic expected state is what the oracle
    // recomputes from the immutable source table.
    GraftQuery(
      "q172_dynamic_partition_overwrite",
      (s, dir) => {
        val base = Tables(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderpriority"),
            expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"))
        withScratchRoot(s, "dpo") { root =>
          base.write.partitionBy("o_orderpriority").parquet(root)
          withConf(s, "spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
            base.filter(col("o_orderpriority") === "1-URGENT")
              .withColumn("price_c", col("price_c") * 2)
              .write.mode("overwrite").partitionBy("o_orderpriority").parquet(root)
          }
          val back = s.read
            .schema("o_orderkey BIGINT, price_c BIGINT, o_orderpriority STRING")
            .parquet(root)
          materializeSmall(back
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_orders"),
              (sum(col("price_c")).cast("double") / 100.0).as("total"))
            .orderBy("o_orderpriority"))
        }
      },
      Some("""SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT'
        |                THEN CAST(round(o_totalprice * 100) AS BIGINT) * 2
        |                ELSE CAST(round(o_totalprice * 100) AS BIGINT) END)
        |       AS DOUBLE) / 100.0 AS total
        |FROM orders GROUP BY 1 ORDER BY o_orderpriority""".stripMargin)),

    // Dynamic partition pruning — Catalyst's runtime partition filter: a
    // selective dim-side predicate prunes fact partitions at EXECUTION
    // time via an injected subquery filter (the 100 TB star-join saver;
    // `PlanPropertiesSpec` pins the `dynamicpruning` plan shape). The
    // fact is written partitioned by custkey band; the dim filter selects
    // 2 of 15 nations, so only matching bands are scanned.
    GraftQuery(
      "q173_dynamic_partition_pruning",
      (s, dir) => {
        withScratchRoot(s, "dpp") { root =>
          Tables(s, dir, "orders")
            .select(col("o_orderkey"), col("o_custkey"),
              expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("price_c"),
              expr("o_custkey % 25").as("cust_band"))
            .write.partitionBy("cust_band").parquet(root)
          val fact = s.read.parquet(root)
          val dim = Tables(s, dir, "customer")
            .filter(col("c_nationkey").isin(3, 7))
            .select(col("c_custkey"), col("c_nationkey"),
              expr("c_custkey % 25").as("cust_band"))
          materializeSmall(fact
            .join(dim, Seq("cust_band"))
            .filter(col("o_custkey") === col("c_custkey"))
            .groupBy(col("c_nationkey").cast("long").as("nationkey"))
            .agg(count(lit(1)).as("n_orders"),
              (sum(col("price_c")).cast("double") / 100.0).as("total"))
            .orderBy("nationkey"))
        }
      },
      Some("""SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS total
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_nationkey IN (3, 7)
        |GROUP BY 1 ORDER BY nationkey""".stripMargin)),

    // Prefix-compression estimate — what delta/front encoding would save on
    // a SORTED string key column (the layout decision parquet dictionaries
    // and LSM SSTables make): common-prefix length between consecutive
    // sorted part names via DistributedPrefixSum.lag (range shuffle +
    // boundary-row exchange — the at-scale sorted-adjacency shape, never a
    // single-partition window), exact byte accounting. No pairwise
    // comparison ever materializes.
    GraftQuery(
      "q189_prefix_compression",
      (s, dir) => {
        val names = Tables(s, dir, "part").select(col("p_name")).distinct()
        graft.operators.DistributedPrefixSum
          .lag(names, Seq("p_name"), Seq("p_name"))
          .withColumn("prev", col("lag_p_name"))
          // prefix property: the i where substr(a,1,i)=substr(b,1,i) are
          // exactly 1..cpl, so cpl = how many prefix lengths match
          .withColumn("cpl", when(col("prev").isNull, 0L).otherwise(expr(
            """CAST(size(filter(sequence(1, least(length(p_name), length(prev))),
               i -> substring(p_name, 1, i) = substring(prev, 1, i))) AS BIGINT)""")))
          .agg(count(lit(1)).as("n_keys"),
            sum(length(col("p_name"))).cast("long").as("raw_bytes"),
            sum(col("cpl")).as("saved_bytes"))
          .select(col("n_keys"), col("raw_bytes"), col("saved_bytes"),
            round(col("saved_bytes").cast("double") / col("raw_bytes"), 6)
              .as("compression_frac"))
      },
      Some("""WITH s AS (
        |  SELECT DISTINCT p_name FROM part),
        |l AS (
        |  SELECT p_name, lag(p_name) OVER (ORDER BY p_name) AS prev FROM s),
        |c AS (
        |  SELECT p_name,
        |    CASE WHEN prev IS NULL THEN 0 ELSE
        |      len(list_filter(generate_series(1, least(length(p_name), length(prev))),
        |          i -> substr(p_name, 1, CAST(i AS BIGINT))
        |             = substr(prev, 1, CAST(i AS BIGINT)))) END AS cpl
        |  FROM l)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(length(p_name)) AS BIGINT) AS raw_bytes,
        |  CAST(SUM(cpl) AS BIGINT) AS saved_bytes,
        |  round(CAST(SUM(cpl) AS DOUBLE) / SUM(length(p_name)), 6)
        |    AS compression_frac
        |FROM c""".stripMargin)),

    // Run-length encoding estimate — q189's sibling for LOW-CARDINALITY
    // sorted columns: runs = positions where the value changes (sorted
    // adjacency via DistributedPrefixSum.lag — range shuffle + boundary
    // exchange, no single-partition window), so RLE would store `runs`
    // (value, count) pairs instead of n values. Per column, over the
    // clustered sort order a layout job would choose. Decides
    // dictionary-vs-RLE encodings the way a format writer does.
    GraftQuery(
      "q197_rle_estimate",
      (s, dir) => {
        def runsOf(colName: String) = {
          val base = Tables(s, dir, "orders")
            .select(col("o_orderkey"), col(colName).cast("string").as("v"))
          graft.operators.DistributedPrefixSum
            .lag(base, Seq("v", "o_orderkey"), Seq("v")) // clustered layout
            .withColumn("prev", col("lag_v"))
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col("prev").isNull || col("prev") =!= col("v"), 1L)
                .otherwise(0L)).as("n_runs"))
            .select(lit(colName).as("column"), col("n_rows"), col("n_runs"),
              round(col("n_runs").cast("double") / col("n_rows"), 6).as("run_frac"))
        }
        runsOf("o_orderpriority").unionAll(runsOf("o_orderstatus"))
          .orderBy("column")
      },
      Some {
        def one(c: String) =
          s"""SELECT '$c' AS column, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CASE WHEN prev IS NULL OR prev <> v THEN 1 ELSE 0 END)
               AS BIGINT) AS n_runs,
             round(CAST(SUM(CASE WHEN prev IS NULL OR prev <> v THEN 1 ELSE 0 END)
               AS DOUBLE) / COUNT(*), 6) AS run_frac
             FROM (SELECT CAST($c AS VARCHAR) AS v,
                     lag(CAST($c AS VARCHAR)) OVER (ORDER BY $c, o_orderkey) AS prev
                   FROM orders)"""
        one("o_orderpriority") + " UNION ALL " + one("o_orderstatus") +
          " ORDER BY \"column\""
      }),

    // Status run-lengths per customer — gaps-and-islands over each
    // customer's order history: the island id is the difference of two
    // row_numbers (overall vs per-status), both windows PARTITIONED by
    // customer (parallel-safe). Output per status: runs, orders, and the
    // pooled average run length from two exact Long totals — the
    // sequential-pattern profile (how "sticky" a status is) that also
    // bounds RLE gains for a status-sorted layout (q197's row-level twin).
    GraftQuery(
      "q241_status_run_lengths",
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val o = Tables(s, dir, "orders")
          .select(col("o_custkey").as("ck"), col("o_orderkey").as("ok"),
            expr("datediff(o_orderdate, DATE '1970-01-01')").cast("long").as("day"),
            col("o_orderstatus").as("st"))
        val wAll = Window.partitionBy("ck").orderBy("day", "ok")
        val wSt = Window.partitionBy("ck", "st").orderBy("day", "ok")
        o.withColumn("island",
            row_number().over(wAll).cast("long")
              - row_number().over(wSt).cast("long"))
          .groupBy(col("ck"), col("st"), col("island"))
          .agg(count(lit(1)).as("len"))
          .groupBy(col("st"))
          .agg(count(lit(1)).as("n_runs"), sum(col("len")).as("n_orders"),
            max(col("len")).as("longest_run"))
          .select(col("st"), col("n_runs"), col("n_orders"), col("longest_run"),
            round(col("n_orders").cast("double") / col("n_runs").cast("double"), 4)
              .as("avg_run_len"))
          .orderBy("st")
      },
      Some("""WITH o AS (
        |  SELECT o_custkey AS ck, o_orderkey AS ok,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
        |    o_orderstatus AS st
        |  FROM orders),
        |i AS (
        |  SELECT ck, st,
        |    CAST(row_number() OVER (PARTITION BY ck ORDER BY day, ok) AS BIGINT)
        |    - CAST(row_number() OVER (PARTITION BY ck, st ORDER BY day, ok)
        |        AS BIGINT) AS island
        |  FROM o),
        |runs AS (
        |  SELECT st, island, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM i GROUP BY ck, st, island),
        |x AS (
        |  SELECT st, island, len FROM runs)
        |SELECT st, CAST(COUNT(*) AS BIGINT) AS n_runs,
        |  CAST(SUM(len) AS BIGINT) AS n_orders,
        |  CAST(MAX(len) AS BIGINT) AS longest_run,
        |  round(CAST(SUM(len) AS DOUBLE) / COUNT(*), 4) AS avg_run_len
        |FROM x GROUP BY st ORDER BY st""".stripMargin)),

    // Zone-map skipping estimate — the data-skipping primitive parquet
    // row-group pruning lives on: bucket the fact table into synthetic
    // "files" (orderkey ranges, mirroring ingest order), record min/max
    // ship-day per bucket, and measure what fraction of buckets a date
    // predicate can skip WITHOUT opening them, under (a) natural layout
    // and (b) a shipdate-sorted layout (every bucket's [min,max] tightens
    // to a sliver — the q95 Z-order argument quantified on one axis).
    // Both layouts' zone maps are one aggregation each; the verdict row
    // compares skip fractions exactly.
    GraftQuery(
      "q248_zonemap_skipping",
      (s, dir) => {
        val li = Tables(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            expr("datediff(l_shipdate, DATE '1970-01-01')").cast("long").as("day"))
        val cutLo = lit(9862L) // 1997-01-01
        val cutHi = lit(10226L) // 1998-01-01 (exclusive)
        def skipStats(bucketed: org.apache.spark.sql.DataFrame, layout: String) =
          bucketed.groupBy(col("b"))
            .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
            .agg(count(lit(1)).as("n_buckets"),
              sum(when(col("hi") < cutLo || col("lo") >= cutHi, 1L).otherwise(0L))
                .as("skippable"))
            .withColumn("layout", lit(layout))
        val natural = skipStats(
          li.withColumn("b", expr("l_orderkey div 6000")), "natural")
        // sorted layout: global shipdate order → contiguous 6000-row files;
        // the global index comes from DistributedPrefixSum, not a
        // single-partition window
        val sorted = skipStats(
          graft.operators.DistributedPrefixSum
            .scan(li, Seq("day", "l_orderkey", "l_linenumber"), Nil, idxName = "idx")
            .withColumn("b", expr("(idx - 1) div 6000")), "shipdate_sorted")
        natural.unionByName(sorted)
          .select(col("layout"), col("n_buckets"), col("skippable"),
            round(col("skippable").cast("double") / col("n_buckets").cast("double"), 6)
              .as("skip_frac"))
          .orderBy("layout")
      },
      Some("""WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM lineitem),
        |nat AS (
        |  SELECT l_orderkey // 6000 AS b, MIN(day) AS lo, MAX(day) AS hi
        |  FROM li GROUP BY 1),
        |srt AS (
        |  SELECT (row_number() OVER (ORDER BY day, l_orderkey, l_linenumber) - 1)
        |    // 6000 AS b, day
        |  FROM li),
        |srtz AS (SELECT b, MIN(day) AS lo, MAX(day) AS hi FROM srt GROUP BY 1),
        |u AS (
        |  SELECT 'natural' AS layout, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |    CAST(SUM(CASE WHEN hi < 9862 OR lo >= 10226 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS skippable
        |  FROM nat
        |  UNION ALL
        |  SELECT 'shipdate_sorted', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(CASE WHEN hi < 9862 OR lo >= 10226 THEN 1 ELSE 0 END)
        |      AS BIGINT)
        |  FROM srtz)
        |SELECT layout, n_buckets, skippable,
        |  round(CAST(skippable AS DOUBLE) / CAST(n_buckets AS DOUBLE), 6)
        |    AS skip_frac
        |FROM u ORDER BY layout""".stripMargin)),

    // Dictionary-encoding advisor — per string column: cardinality ratio
    // and average byte length, with the encode verdict (dictionary when
    // distinct/total < 10%, cross-multiplied exact). The q197 RLE
    // estimate decides run encoding; THIS decides the dictionary page —
    // together they're the layout advisor a columnar writer consults.
    // One scan per source table, unioned by name.
    GraftQuery(
      "q260_dict_advisor",
      (s, dir) => {
        def profile(df: org.apache.spark.sql.DataFrame, table: String, c: String) =
          df.select(col(c)).agg(
              count(lit(1)).as("n"),
              countDistinct(col(c)).as("n_distinct"),
              sum(length(col(c)).cast("long")).as("total_len"))
            .select(lit(s"$table.$c").as("column"), col("n"), col("n_distinct"),
              round(col("total_len").cast("double") / col("n").cast("double"), 2)
                .as("avg_len"),
              when(col("n_distinct") * 10 < col("n"), lit("dictionary"))
                .otherwise(lit("plain")).as("encoding"))
        val o = Tables(s, dir, "orders")
        val p = Tables(s, dir, "part")
        profile(o, "orders", "o_orderstatus")
          .unionByName(profile(o, "orders", "o_orderpriority"))
          .unionByName(profile(p, "part", "p_brand"))
          .unionByName(profile(p, "part", "p_type"))
          .unionByName(profile(p, "part", "p_name"))
          .orderBy("column")
      },
      Some {
        def one(table: String, c: String) =
          s"""SELECT '$table.$c' AS "column", CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
             round(CAST(SUM(length($c)) AS DOUBLE) / COUNT(*), 2) AS avg_len,
             CASE WHEN COUNT(DISTINCT $c) * 10 < COUNT(*) THEN 'dictionary'
                  ELSE 'plain' END AS encoding
             FROM $table"""
        Seq(one("orders", "o_orderstatus"), one("orders", "o_orderpriority"),
          one("part", "p_brand"), one("part", "p_type"), one("part", "p_name"))
          .mkString("", " UNION ALL ", " ORDER BY \"column\"")
      }))
}
