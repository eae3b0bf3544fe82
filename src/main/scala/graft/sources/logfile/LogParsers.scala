package graft.sources.logfile

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Prebuilt head-line patterns and parsed projections for common log
  * layouts — the P1 step (reference `test/LogfileType.java:21-23`,
  * `cli/Test.java:119-121`) packaged so a reference user can switch without
  * writing regexes: `spark.read.format("logfile").option("pattern",
  * LogParsers.Log4jDefault.headPattern)` then `LogParsers.parse(df, layout)`.
  *
  * The projections are `substring_index`, `regexp_extract` and
  * `to_timestamp`, so they stay inside whole-stage codegen and the scan's
  * column pruning is unaffected. In a graft session,
  * [[graft.plans.ByteStringKernels]] evaluates the first two on UTF-8
  * bytes: every pattern here is in its byte subset. A row with a byte
  * `>= 0x80` takes Spark's `java.util.regex` path for that row.
  */
object LogParsers {

  /** One log layout: the head regex (fully matches first lines) plus capture
    * regexes evaluated against the head line.
    */
  final case class Layout(
      name: String,
      headPattern: String,
      tsRegex: String,
      tsFormat: String,
      levelRegex: String,
      msgRegex: String)

  /** `2017-01-02 03:04:05,678 LEVEL [thread] logger - msg` (log4j-ish). */
  val Log4jDefault: Layout = Layout(
    name = "log4j",
    headPattern = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*""",
    tsRegex = """^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})""",
    tsFormat = "yyyy-MM-dd HH:mm:ss,SSS",
    levelRegex = """\b(TRACE|DEBUG|INFO|WARN|ERROR|FATAL)\b""",
    msgRegex = """ - (.*)$""")

  /** `LEVEL 2017-01-02 03:04:05,678 [thread] msg` (level-first, reference
    * format B shape).
    */
  val LevelFirst: Layout = Layout(
    name = "level-first",
    headPattern = """(TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*""",
    tsRegex = """(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3})""",
    tsFormat = "yyyy-MM-dd HH:mm:ss,SSS",
    levelRegex = """^(TRACE|DEBUG|INFO|WARN|ERROR|FATAL)\b""",
    msgRegex = """\] (.*)$""")

  /** ISO-8601 UTC `2017-01-02T03:04:05.678Z LEVEL msg`. The Z is consumed
    * by the timestamp format (`X`) so the instant stays UTC under any
    * session timezone — capturing the digits without the zone would reparse
    * them as session-local time.
    */
  val Iso8601: Layout = Layout(
    name = "iso8601",
    headPattern = """\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z .*""",
    tsRegex = """^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z)""",
    tsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSX",
    levelRegex = """\b(TRACE|DEBUG|INFO|WARN|ERROR|FATAL)\b""",
    msgRegex = """ (?:TRACE|DEBUG|INFO|WARN|ERROR|FATAL) (.*)$""")

  /** Adds `head`, `ts`, `level`, `msg`, `n_lines` to a logfile DataFrame. */
  def parse(df: DataFrame, layout: Layout): DataFrame = df
    .withColumn("head", substring_index(col("record"), "\n", 1))
    .withColumn("ts", to_timestamp(
      regexp_extract(col("head"), layout.tsRegex, 1), layout.tsFormat))
    .withColumn("level", regexp_extract(col("head"), layout.levelRegex, 1))
    .withColumn("msg", regexp_extract(col("head"), layout.msgRegex, 1))
    .withColumn("n_lines", (size(split(col("record"), "\n"))).cast("long"))
}
