package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Pins the `events.ts` BIGINT-nanos load contract across the two parquet
  * encodings the shared testdata has used: INT64 TIMESTAMP(NANOS) (read as
  * raw longs via the legacy flag) and plain TIMESTAMP micros (re-derived
  * as `unix_micros * 1000` under the UTC session). Every events query and
  * streaming helper does integer epoch math on `ts` — a silent type drift
  * here broke all of them at once when the testdata regenerated, which is
  * exactly what this spec now catches at `sbt test` speed.
  */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  test("events.ts loads as BIGINT nanos from the shared testdata") {
    val ev = Tables(spark, "/root/testdata/sf0.001", "events")
    assert(ev.schema("ts").dataType == LongType)
    // nanos since epoch for any plausible test corpus: between 2000-01-01
    // and 2100-01-01 — a micros- or seconds-scaled value would fall out
    val r = ev.agg(min(col("ts")), max(col("ts"))).head()
    val (lo, hi) = (946684800L * 1000000000L, 4102444800L * 1000000000L)
    assert(r.getLong(0) >= lo && r.getLong(1) <= hi,
      s"ts range [${r.getLong(0)}, ${r.getLong(1)}] is not nanos-scaled")
  }

  test("timestamp-micros parquet round-trips to the same nanos as a long column") {
    val dir = java.nio.file.Files.createTempDirectory("graft-events-ntz").toString
    // nanos-representable domain only (±292 years of epoch — the same bound
    // the original INT64 TIMESTAMP(NANOS) encoding had)
    val micros = Seq(0L, 1L, 999999L, 1700000000000000L, -6857352000000000L)
    micros.toDF("us")
      .select(timestamp_micros(col("us")).as("ts"), col("us"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Tables(spark, dir, "events")
    assert(got.schema("ts").dataType == LongType)
    val bad = got.where(col("ts") =!= col("us") * 1000L)
    assert(bad.isEmpty, s"nanos mismatch: ${bad.collect().mkString(",")}")
  }

  test("a parquet file rewritten at the same path with a new schema reads the new schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-tables-rewrite")
    /** Writes `df` as the single parquet file `dir/t.parquet`, replacing it. */
    def put(df: org.apache.spark.sql.DataFrame): Unit = {
      val out = java.nio.file.Files.createTempDirectory("graft-tables-part").toString
      df.coalesce(1).write.mode("overwrite").parquet(out)
      val part = new java.io.File(out).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath, dir.resolve("t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    put(Seq((1L, "a")).toDF("id", "name"))
    assert(Tables(spark, dir.toString, "t").columns.toSeq == Seq("id", "name"))
    put(Seq((2L, 3.5, true)).toDF("id", "score", "ok"))
    val got = Tables(spark, dir.toString, "t")
    assert(got.columns.toSeq == Seq("id", "score", "ok"))
    assert(got.collect().toSeq == Seq(org.apache.spark.sql.Row(2L, 3.5, true)))
  }
}
