package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the shared parquet test tables (see TESTDATA.md / FIXTURES.md §B). */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The engine-wide contract for `events.ts` is BIGINT nanoseconds since
    * epoch — every query, oracle and streaming helper does integer epoch
    * math on it. Generations of the testdata have stored it two ways:
    * INT64 TIMESTAMP(NANOS) (readable only as raw longs, via the legacy
    * nanos flag — already the contract) and plain TIMESTAMP micros (reads
    * as TIMESTAMP/TIMESTAMP_NTZ — re-derived to nanos here). The sessions
    * all pin `spark.sql.session.timeZone=UTC`, so the NTZ→TZ cast is
    * value-preserving and `unix_micros * 1000` is exact.
    */
  /** Parquet SCHEMA memo per file path, modification time and length: a
    * bare-path `spark.read.parquet` runs a footer-reading schema-inference
    * JOB on every call — ~40 ms of driver+task latency that a
    * catalog-backed table never pays (its schema comes from the metastore).
    * One inference per file state per JVM, then `read.schema(...)` skips
    * the job; a file rewritten at the same path is inferred again.
    * Metadata only — never rows, bytes, or results: every query still
    * scans the parquet in full each run.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), org.apache.spark.sql.types.StructType]()

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val st = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(hadoopPath)
    val schema = schemaCache.computeIfAbsent((path, st.getModificationTime, st.getLen),
      _ => spark.read.parquet(path).schema)
    val df = spark.read.schema(schema).parquet(path)
    if (name == "events") normalizeTs(df) else df
  }

  private def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType => df // already BIGINT nanos
      case TimestampNTZType | TimestampType =>
        df.withColumn("ts", (unix_micros(col("ts").cast(TimestampType)): Column) * 1000L)
      case other => throw new IllegalStateException(
        s"events.ts has unsupported type $other — expected INT64 nanos or TIMESTAMP")
    }

  /** Register every table as a temp view (for spark.sql-path queries). */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))

  /** Hash-spread `df` to full parallelism when its scan planned fewer
    * partitions (a small table = one row group = one task, which would
    * single-thread any explode/flatMap fan-out downstream). At scale the
    * scan already has ≥ parallelism partitions and this is a no-op.
    */
  def spread(df: DataFrame, keyCol: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // probe the planned partition count on the EXISTING QueryExecution —
    // df.rdd would append a DeserializeToObject and build (and plan) a whole
    // second QueryExecution just to read a number
    if (df.queryExecution.toRdd.getNumPartitions < par)
      df.repartition(par, org.apache.spark.sql.functions.col(keyCol))
    else df
  }
}
