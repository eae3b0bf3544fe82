package perfbench

import java.io.File
import java.time.{Instant, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom

import scala.collection.immutable.TreeMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampNTZType}

import graft.tables.GraftTable

/** The `tables` workload: seeded episodes of table operations against one
  * `GraftTable` each, created from a slice of `orders` keyed on
  * `o_orderkey`. Every read is checked against the benchmark's own
  * in-memory model of the table after the operations so far.
  */
object TableOps {
  val SliceRows = 6000L
  /** One block of 8 writes and 12 reads, in a fixed interleaving; the seed
    * drives the rows, keys, ranges and versions each operation uses.
    */
  val Block: Seq[String] = Seq("append", "scan", "merge", "count", "time_travel",
    "append", "changes", "scan", "delete", "merge", "count", "version", "append", "scan",
    "compact", "merge", "time_travel", "count", "scan", "changes")
  val Writes = Set("append", "merge", "delete", "compact")
  val Kinds: Seq[String] = Block.distinct
  val OpsPerEpisode: Int = 3 * Block.size

  final case class OrderRow(key: Long, cust: Long, status: String, price: Double,
      micros: Long, prio: String)
  type Model = TreeMap[Long, OrderRow]

  private val Statuses = Array("O", "F", "P")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Columns = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  private def micros(v: Any): Long = v match {
    case t: java.sql.Timestamp => t.getTime / 1000 * 1000000L + t.getNanos / 1000
    case l: LocalDateTime => l.toEpochSecond(ZoneOffset.UTC) * 1000000L + l.getNano / 1000
    case i: Instant => i.getEpochSecond * 1000000L + i.getNano / 1000
    case other => throw new IllegalStateException(s"unexpected o_orderdate value $other")
  }

  private def fromRow(r: Row): OrderRow = OrderRow(
    r.getAs[Long]("o_orderkey"), r.getAs[Long]("o_custkey"), r.getAs[String]("o_orderstatus"),
    r.getAs[Double]("o_totalprice"), micros(r.getAs[Any]("o_orderdate")),
    r.getAs[String]("o_orderpriority"))

  private def toRow(o: OrderRow, schema: StructType): Row = {
    val sec = Math.floorDiv(o.micros, 1000000L)
    val nanos = Math.floorMod(o.micros, 1000000L) * 1000
    val date =
      if (schema("o_orderdate").dataType == TimestampNTZType)
        LocalDateTime.ofEpochSecond(sec, nanos.toInt, ZoneOffset.UTC)
      else java.sql.Timestamp.from(Instant.ofEpochSecond(sec, nanos))
    Row(o.key, o.cust, o.status, o.price, date, o.prio)
  }

  private def rowHash(r: OrderRow): Long = scala.util.hashing.MurmurHash3.productHash(r).toLong
  private def modelHash(m: Model): Long = m.valuesIterator.map(rowHash).sum

  /** One timed operation of an episode. */
  final case class OpTime(kind: String, index: Int, secs: Double)

  /** Per-episode space and log figures. */
  final case class EpisodeEnd(versions: Long, checkpoints: Int, bytesPerRow: Double, writtenMb: Double)

  final class Episode(spark: SparkSession, o: Opts, res: Result, tracer: Tracer,
      id: Int, nOps: Int) {
    private val rng = new SplittableRandom(o.seed * 1000003L + id + 17)
    private val loc = new File(o.work, s"table-$id")
    private var nextKey = 1000000L + id * 100000L
    val times = mutable.ArrayBuffer.empty[OpTime]
    var end: EpisodeEnd = _

    private def fsWritten: Long = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getBytesWritten).sum

    private def newRow(key: Long): OrderRow = OrderRow(key, 1L + rng.nextInt(1500),
      Statuses(rng.nextInt(3)), rng.nextInt(50000000) / 100.0,
      (9000L + rng.nextInt(2500)) * 86400L * 1000000L, Priorities(rng.nextInt(5)))

    private def keyAt(m: Model, i: Int): Long = m.keysIterator.drop(i).next()

    /** Key range [lo, hi) covering about `width` live rows. */
    private def range(m: Model, width: Int): (Long, Long) = {
      val i = rng.nextInt(m.size)
      (keyAt(m, i), keyAt(m, math.min(i + width, m.size - 1)) + 1)
    }

    def run(): Unit = {
      val written0 = fsWritten
      val slice = graft.Tables(spark, o.data, "orders").where(col("o_orderkey") < SliceRows)
        .select(Columns.map(col): _*)
      val schema = slice.schema
      var model: Model = TreeMap(slice.collect().toSeq.map(fromRow).map(r => r.key -> r): _*)
      val t = GraftTable.create(spark, loc.getPath, slice, keyCol = Some("o_orderkey"))
      var v = t.version
      val history = mutable.HashMap(0L -> (TreeMap.empty[Long, OrderRow]: Model), v -> model)
      def df(rows: Seq[OrderRow]): DataFrame =
        spark.createDataFrame(rows.map(toRow(_, schema)).asJava, schema)
      // time-travel targets and change-feed spans cycle through fixed
      // positions, so every seed replays the same amount of log
      var cycle = 0
      def earlier(): Long = { cycle += 1; math.max(1L, v * (cycle % 4) / 4) }
      def timed[T](kind: String, i: Int)(f: => T): Option[T] =
        res.attempt(s"table $kind")(tracer.op(kind, "table")(f)).map { case (r, s) =>
          times += OpTime(kind, i, s); r
        }
      def committed(kind: String, got: Long, expect: Set[Long], next: Model): Unit = {
        res.check(expect(got), s"$kind returned version $got, expected one of $expect")
        v = got; model = next; history(v) = model
      }

      Iterator.continually(Block).flatten.take(nOps).zipWithIndex.foreach {
        case ("append", i) =>
          val rows = (1 to 40).map { _ => nextKey += 1; newRow(nextKey) }
          val d = df(rows)
          timed("append", i)(t.append(d)).foreach(nv =>
            committed("append", nv, Set(v + 1), model ++ rows.map(r => r.key -> r)))
        case ("merge", i) =>
          val keys = model.keysIterator.toIndexedSeq
          val upd = Iterator.continually(keys(rng.nextInt(keys.size))).distinct.take(15).toSeq
          val rows = upd.map(newRow) ++ (1 to 15).map { _ => nextKey += 1; newRow(nextKey) }
          val d = df(rows)
          timed("merge", i)(t.merge(d)).foreach(nv =>
            committed("merge", nv, Set(v + 1), model ++ rows.map(r => r.key -> r)))
        case ("delete", i) =>
          val (lo, hi) = range(model, 15)
          timed("delete", i)(t.deleteWhere(col("o_orderkey") >= lo && col("o_orderkey") < hi))
            .foreach(nv => committed("delete", nv, Set(v + 1), model -- model.range(lo, hi).keys))
        case ("compact", i) =>
          timed("compact", i)(t.compact()).foreach(nv => committed("compact", nv, Set(v, v + 1), model))
        case ("scan", i) =>
          val (lo, hi) = range(model, 100)
          timed("scan", i)(t.scan(col("o_orderkey") >= lo && col("o_orderkey") < hi).collect())
            .foreach { rows =>
              val got = rows.map(fromRow).sortBy(_.key).toSeq
              res.check(got == model.range(lo, hi).values.toSeq,
                s"scan [$lo, $hi) at v$v: ${got.size} rows differ from the model's ${model.range(lo, hi).size}")
            }
        case ("count", i) =>
          timed("count", i)(t.snapshot().count()).foreach(n =>
            res.check(n == model.size, s"count at v$v: $n != model ${model.size}"))
        case ("time_travel", i) =>
          val u = earlier()
          timed("time_travel", i)(t.snapshot(Some(u))
            .agg(count(lit(1)), sum(col("o_orderkey")), sum(col("o_custkey"))).collect().head)
            .foreach { r =>
              val m = history(u)
              val want = (m.size.toLong, m.keysIterator.sum, m.valuesIterator.map(_.cust).sum)
              val got = (r.getLong(0), r.getLong(1), r.getLong(2))
              res.check(got == want, s"time travel to v$u: $got != model $want")
            }
        case ("changes", i) =>
          cycle += 1
          val from = math.max(0L, v - 1 - cycle % 5)
          timed("changes", i)(t.changes(from, v).collect()).foreach { rows =>
            val (ins, del) = rows.partition(_.getAs[String]("_change") == "insert")
            val h = modelHash(history(from)) + ins.map(r => rowHash(fromRow(r))).sum -
              del.map(r => rowHash(fromRow(r))).sum
            val n = history(from).size + ins.length - del.length
            res.check(h == modelHash(model) && n == model.size,
              s"changes($from, $v) do not fold to the model (rows $n vs ${model.size})")
          }
        case ("version", i) =>
          timed("version", i)(t.version).foreach(nv =>
            res.check(nv == v, s"version $nv != model v$v"))
        case (k, _) => throw new IllegalStateException(k)
      }

      val logDir = new File(loc, "_graft_log")
      val checkpoints = Option(logDir.listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".checkpoint.json"))
      def dataBytes(f: File): Long =
        if (f.isDirectory) {
          if (f.getName.startsWith("_")) 0L
          else Option(f.listFiles()).getOrElse(Array.empty).map(dataBytes).sum
        } else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
        else f.length
      end = EpisodeEnd(v, checkpoints, dataBytes(loc).toDouble / math.max(1, model.size),
        (fsWritten - written0) / 1e6)
      Corpus.deleteTree(loc)
    }
  }

  private def episodes(spark: SparkSession, o: Opts, res: Result, tracer: Tracer,
      budget: Double, firstId: Int): Seq[Episode] = {
    val t0 = System.nanoTime()
    val out = Seq.newBuilder[Episode]
    var id = firstId
    while (id == firstId || (System.nanoTime() - t0) / 1e9 < budget) {
      val e = new Episode(spark, o, res, tracer, id, OpsPerEpisode)
      e.run()
      out += e
      id += 1
    }
    out.result()
  }

  def run(spark: SparkSession, o: Opts, res: Result, tracer: Tracer): Unit = {
    // warm-up: one whole untimed episode, so the timed ones run with the
    // JIT settled (after a single warm-up block, merges still got about a
    // quarter faster from the first timed block to the last)
    new Episode(spark, o, res, tracer, 0, OpsPerEpisode).run()
    val (untraced, traced) =
      if (!o.trace) (episodes(spark, o, res, tracer, o.seconds, 1), Nil)
      else {
        val from = Clock.nowMs
        val r = tracer.alternate(o.seconds, 1)(i => episodes(spark, o, res, tracer, 0, 1 + i).head)
        tracer.drain()
        tracer.layerMetrics(from, Clock.nowMs, r._2.size, o.cores, res)
        tableLayers(r._2, from, Clock.nowMs, tracer, res)
        r
      }
    val all = untraced.flatMap(_.times)
    // one block's worth of operations, each at its kind's median latency
    val byKind = all.groupBy(_.kind)
    if (Kinds.forall(byKind.contains))
      res.e2e("pass_s") = (Block.map(k => Stats.median(byKind(k).map(_.secs))).sum, "s")
    if (all.nonEmpty) {
      res.e2e("throughput_per_s") = (all.size / all.map(_.secs).sum, "1/s")
      for ((label, sel) <- Seq("write" -> all.filter(x => Writes(x.kind)),
          "read" -> all.filterNot(x => Writes(x.kind))) if sel.nonEmpty) {
        res.e2e(s"table_${label}_p50_s") = (Stats.median(sel.map(_.secs)), "s")
        res.e2e(s"table_${label}_p90_s") = (Stats.quantile(sel.map(_.secs), 0.9), "s")
        res.info(s"table_${label}_samples") = sel.size
      }
    }
    val tAll = traced.flatMap(_.times)
    if (o.trace && tAll.nonEmpty && all.nonEmpty)
      res.layers("trace.overhead_frac") =
        (Stats.median(tAll.map(_.secs)) / Stats.median(all.map(_.secs)) - 1.0, "ratio")
  }

  /** Per-op-type table figures from traced episodes. */
  private def tableLayers(eps: Seq[Episode], from: Double, to: Double, tracer: Tracer,
      res: Result): Unit = {
    val spans = tracer.opsOf("table", from, to)
    Kinds.foreach { k =>
      val ss = spans.filter(_.name == k)
      if (ss.nonEmpty) {
        res.layers(s"table.${k}_s") = (Stats.median(ss.map(_.dur / 1e3)), "s")
        res.layers(s"table.${k}_jobs") = (ss.map(tracer.jobCount).sum.toDouble / ss.size, "count")
        res.layers(s"table.${k}_driver_s") = (Stats.median(ss.map(tracer.driverSeconds)), "s")
      }
    }
    val n = eps.headOption.map(_.times.map(_.index).max + 1).getOrElse(1)
    val reads = eps.flatMap(_.times).filterNot(x => Writes(x.kind))
    val first = reads.filter(_.index < n / 4).map(_.secs)
    val last = reads.filter(_.index >= n - n / 4).map(_.secs)
    if (first.nonEmpty && last.nonEmpty)
      res.layers("table.read_growth") = (Stats.median(last) / Stats.median(first), "ratio")
    val ends = eps.map(_.end)
    def mean(f: EpisodeEnd => Double) = ends.map(f).sum / ends.size
    res.layers("table.versions") = (mean(_.versions.toDouble), "count")
    res.layers("table.checkpoints") = (mean(_.checkpoints.toDouble), "count")
    res.layers("table.fs_written_mb") = (mean(_.writtenMb), "MB")
    res.layers("table.bytes_per_live_row") = (mean(_.bytesPerRow), "B")
  }

  /** Table figures for workloads that run no table operations of their
    * own: one short traced episode.
    */
  def probeEpisode(spark: SparkSession, o: Opts, res: Result, tracer: Tracer): Unit = {
    val from = Clock.nowMs
    val e = new Episode(spark, o, res, tracer, 50, Block.size)
    e.run()
    tracer.drain()
    tableLayers(Seq(e), from, Clock.nowMs, tracer, res)
  }
}
