package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.udf

/** In-memory twin of the logfile source's record assembly (SURVEY.md §2.2
  * "UDTF" row): split a whole multi-line text into records whose first line
  * fully matches `pattern`, exactly as [[graft.sources.logfile.LogfilePartitionReader]]
  * does on streams — lines end at `\r\n`, `\r` or `\n`, lines before the
  * first head are dropped, continuation lines join with "\n". Exposed as an
  * array-returning function to compose with `explode` (Spark's generator
  * contract); parity with the DSv2 source is pinned in ScalaTest.
  */
object RecordSplitter {

  /** Line terminators of Hadoop's `LineReader`: `\r\n`, `\r` and `\n`. */
  private val Terminator = Pattern.compile("\r\n|\r|\n")

  def split(text: String, patternRe: String): Seq[String] = {
    val m = Pattern.compile(patternRe).matcher("")
    val out = Seq.newBuilder[String]
    var cur: java.lang.StringBuilder = null
    val lines = Terminator.split(text, -1)
    // the empty remainder after a final terminator is not a line
    val n = if (lines.last.isEmpty) lines.length - 1 else lines.length
    lines.iterator.take(n).foreach { line =>
      if (m.reset(line).matches()) {
        if (cur != null) out += cur.toString
        cur = new java.lang.StringBuilder(line)
      } else if (cur != null) {
        cur.append('\n').append(line)
      } // else: leading junk before first head — dropped
    }
    if (cur != null) out += cur.toString
    out.result()
  }

  /** Column form: `explode(splitRecords(col, pattern))` gives the UDTF shape. */
  def splitRecords(text: Column, patternRe: String): Column = {
    val f = udf((t: String) => split(t, patternRe))
    f(text)
  }
}
