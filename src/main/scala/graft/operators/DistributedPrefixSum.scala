package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed global prefix scan — row index and running sums under a total
  * order WITHOUT a single-partition window.
  *
  * `Window.orderBy(...)` with no `partitionBy` moves every row to ONE task
  * (Spark itself warns "this can cause serious performance degradation"):
  * correct on 60 k rows, dead at 100 TB. The classic parallel alternative is
  * the two-phase scan every MPP engine uses:
  *
  *   1. range-repartition on the sort keys and sort within partitions, so
  *      partition `p` holds a contiguous, ordered slice of the total order;
  *   2. one cheap pass computes per-partition `(rowCount, colSums…)` —
  *      `numPartitions` tiny tuples collected to the driver;
  *   3. an exclusive scan over those totals gives each partition its global
  *      offset, and a second pass emits `index = offset + localIndex` and
  *      `runSum = offsetSum + localRunSum`.
  *
  * Both passes share ONE shuffle: they are jobs over the same RDD object, so
  * the range-exchange map stage is computed once and skipped (shuffle files
  * reused) in the second job. Cost: one range shuffle + a `numPartitions`-row
  * driver collect — the 100 TB shape for Gini/KS/rank statistics.
  *
  * Contract:
  *   - `sortKeys` must be a TOTAL order (append a unique tiebreaker): equal
  *     keys may straddle a range boundary, which would make local ranks
  *     ambiguous otherwise.
  *   - `valueCols` must be `BIGINT` columns; running sums are exact Longs,
  *     so callers keep |Σ values| < 2⁶³ (cent-scaled values are safe to
  *     ~9·10¹¹ rows of 10⁷-cent items; beyond that, pre-scale).
  */
object DistributedPrefixSum {

  /** [[scanWithTotals]] result: the scanned frame plus the grand totals the
    * pass-1 driver collect already computed — `totalCount` rows and one
    * `totalSums(c)` per value column. Callers that would otherwise run a
    * separate global aggregate (ntile needs n; Pareto needs Σx) get both
    * for free from the same single shuffle.
    */
  final case class ScanResult(
      df: DataFrame, totalCount: Long, totalSums: Map[String, Long])

  /** Append `idxName` (1-based global row index in `sortKeys` order) and one
    * `runPrefix+c` inclusive running sum per value column `c`.
    */
  def scan(
      df: DataFrame,
      sortKeys: Seq[String],
      valueCols: Seq[String],
      idxName: String = "global_idx",
      runPrefix: String = "run_"): DataFrame =
    scanWithTotals(df, sortKeys, valueCols, idxName, runPrefix).df

  /** [[scan]], also returning the grand totals from the pass-1 collect. */
  def scanWithTotals(
      df: DataFrame,
      sortKeys: Seq[String],
      valueCols: Seq[String],
      idxName: String = "global_idx",
      runPrefix: String = "run_"): ScanResult = {
    val spark = df.sparkSession
    val schema = df.schema
    valueCols.foreach { c =>
      require(schema(c).dataType == LongType,
        s"valueCol $c must be BIGINT for exact running sums, got ${schema(c).dataType}")
    }
    val outNames = idxName +: valueCols.map(runPrefix + _)
    outNames.foreach(n => require(!schema.fieldNames.contains(n),
      s"output column $n clashes with an input column"))

    val parts = spark.sparkContext.defaultParallelism
    val sorted = df
      .repartitionByRange(parts, sortKeys.map(col): _*)
      .sortWithinPartitions(sortKeys.map(col): _*)
    val vIdx = valueCols.map(schema.fieldIndex).toArray

    // ONE RDD object for both jobs → the range shuffle's map stage runs once
    // and is a skipped stage in the second job. INTERNAL rows: `.rdd` would
    // decode every row to an external Row and `createDataFrame` re-encode it
    // through the RowEncoder — a full codec round trip per row that
    // dominated this operator's cost (the scan only APPENDS Long columns).
    val rdd = sorted.queryExecution.toRdd

    // pass 1: per-partition (count, sums) — numPartitions tuples, tiny.
    // Field reads only: no reference outlives the (buffer-reusing) row.
    val totals: Array[(Int, Long, Array[Long])] = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var c = 0L
        val s = Array.fill(vIdx.length)(0L)
        it.foreach { r =>
          c += 1
          var i = 0
          while (i < vIdx.length) { if (!r.isNullAt(vIdx(i))) s(i) += r.getLong(vIdx(i)); i += 1 }
        }
        Iterator.single((pid, c, s))
      }
      .collect()
      .sortBy(_._1)

    // exclusive scan over partition totals → per-partition offsets.
    val offIdx = new Array[Long](parts)
    val offSum = Array.fill(parts)(new Array[Long](vIdx.length))
    var accC = 0L
    val accS = Array.fill(vIdx.length)(0L)
    totals.foreach { case (pid, c, s) =>
      offIdx(pid) = accC
      offSum(pid) = accS.clone()
      accC += c
      var i = 0
      while (i < vIdx.length) { accS(i) += s(i); i += 1 }
    }

    // pass 2: emit global index + running sums (shuffle reused). The input
    // row's buffer is reused by the scan iterator, so values are lifted off
    // a COPY before they outlive the call.
    val inTypes = schema.fields.map(_.dataType)
    val nIn = inTypes.length
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var i = offIdx(pid)
      val run = offSum(pid).clone()
      it.map { r =>
        i += 1
        var k = 0
        while (k < vIdx.length) {
          if (!r.isNullAt(vIdx(k))) run(k) += r.getLong(vIdx(k)); k += 1
        }
        val c = r.copy()
        val arr = new Array[Any](nIn + 1 + vIdx.length)
        var j = 0
        while (j < nIn) { arr(j) = c.get(j, inTypes(j)); j += 1 }
        arr(nIn) = i
        var m = 0
        while (m < vIdx.length) { arr(nIn + 1 + m) = run(m); m += 1 }
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    val outSchema = StructType(
      schema.fields ++ outNames.map(StructField(_, LongType, nullable = false)))
    val sums = valueCols.zipWithIndex.map { case (c, i) => c -> accS(i) }.toMap
    ScanResult(org.apache.spark.sql.graftbridge.GraftPlanBridge
      .internalCreateDataFrame(spark, out, outSchema), accC, sums)
  }

  /** Distributed sorted `lag(c, 1)` — the previous row's value of each
    * `lagCols` column under the GLOBAL `sortKeys` order, WITHOUT a
    * single-partition window. Same two-phase shape as [[scan]]: one range
    * shuffle, then a boundary-row exchange — pass 1 collects each
    * partition's LAST row values (`numPartitions` tiny tuples), pass 2
    * hands partition `p` the last row of the nearest non-empty partition
    * before it, so the first row of every partition lags across the
    * boundary. First row of the total order lags to NULL.
    *
    * Appends one nullable `lagPrefix+c` column per lag column (same type).
    * `sortKeys` must be a total order (unique tiebreaker), like [[scan]].
    */
  def lag(
      df: DataFrame,
      sortKeys: Seq[String],
      lagCols: Seq[String],
      lagPrefix: String = "lag_"): DataFrame = {
    val spark = df.sparkSession
    val schema = df.schema
    val lIdx = lagCols.map(schema.fieldIndex).toArray
    val outNames = lagCols.map(lagPrefix + _)
    outNames.foreach(n => require(!schema.fieldNames.contains(n),
      s"output column $n clashes with an input column"))

    val parts = spark.sparkContext.defaultParallelism
    val sorted = df
      .repartitionByRange(parts, sortKeys.map(col): _*)
      .sortWithinPartitions(sortKeys.map(col): _*)
    // ONE RDD object for both jobs → range shuffle computed once (pass 2's
    // map stage is skipped, shuffle files reused), exactly like scan() —
    // and INTERNAL rows for the same no-codec-round-trip reason.
    val rdd = sorted.queryExecution.toRdd
    val inTypes = schema.fields.map(_.dataType)
    val nIn = inTypes.length
    val lagTypes = lIdx.map(inTypes)

    // pass 1: each partition's last-row lag values (null array if empty).
    // Values are lifted off a COPY — the iterator reuses the row buffer —
    // and ship to the driver as internal values (UTF8String etc. are
    // serializable).
    val lasts: Array[(Int, Array[Any])] = rdd
      .mapPartitionsWithIndex { (pid, it) =>
        var last: Array[Any] = null
        it.foreach { r =>
          if (last == null) last = new Array[Any](lIdx.length)
          val c = r.copy()
          var i = 0
          while (i < lIdx.length) { last(i) = c.get(lIdx(i), lagTypes(i)); i += 1 }
        }
        Iterator.single((pid, last))
      }
      .collect()
      .sortBy(_._1)

    // boundary for partition p = last row of the nearest non-empty p' < p.
    val boundary = new Array[Array[Any]](parts)
    var prev: Array[Any] = null
    lasts.foreach { case (pid, last) =>
      boundary(pid) = prev
      if (last != null) prev = last
    }

    // pass 2: partition-local lag seeded with the boundary row.
    val out = rdd.mapPartitionsWithIndex { (pid, it) =>
      var prevVals: Array[Any] = boundary(pid)
      it.map { r =>
        val c = r.copy()
        val arr = new Array[Any](nIn + lIdx.length)
        var j = 0
        while (j < nIn) { arr(j) = c.get(j, inTypes(j)); j += 1 }
        var i = 0
        while (i < lIdx.length) {
          arr(nIn + i) = if (prevVals == null) null else prevVals(i)
          i += 1
        }
        val cur = new Array[Any](lIdx.length)
        i = 0
        while (i < lIdx.length) { cur(i) = c.get(lIdx(i), lagTypes(i)); i += 1 }
        prevVals = cur
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(arr)
          : org.apache.spark.sql.catalyst.InternalRow
      }
    }
    val outSchema = StructType(schema.fields ++ lagCols.zip(outNames).map {
      case (c, n) => StructField(n, schema(c).dataType, nullable = true)
    })
    org.apache.spark.sql.graftbridge.GraftPlanBridge
      .internalCreateDataFrame(spark, out, outSchema)
  }

  /** SQL `ntile(k) OVER (ORDER BY …)` by rank arithmetic — no window at
    * all: given the 1-based global index column from [[scan]] and the total
    * row count `n` (from [[scanWithTotals]]), the bucket is closed-form.
    * SQL semantics: the first `n mod k` buckets hold `n div k + 1` rows,
    * the rest `n div k`. Exact integer `div` throughout; returns BIGINT.
    */
  def ntileFromIndex(k: Int, idxCol: String, n: Long): Column = {
    require(k > 0, s"ntile bucket count must be positive, got $k")
    val q = n / k
    val r = n % k
    val cut = r * (q + 1)
    if (q == 0) expr(s"CAST($idxCol AS BIGINT)")
    else expr(
      s"""CAST(CASE WHEN $idxCol <= $cut THEN ($idxCol - 1) DIV ${q + 1} + 1
         |ELSE $r + ($idxCol - $cut - 1) DIV $q + 1 END AS BIGINT)""".stripMargin)
  }
}
