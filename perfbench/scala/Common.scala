package perfbench

import scala.collection.mutable

/** Minimal JSON rendering for the result and span files (no dependency
  * beyond the Scala library). Values: Map, Seq, String, numbers, Boolean,
  * null.
  */
object Json {
  def render(v: Any): String = {
    val sb = new java.lang.StringBuilder
    write(sb, v)
    sb.toString
  }

  private def write(sb: java.lang.StringBuilder, v: Any): Unit = v match {
    case null => sb.append("null")
    case s: String => quote(sb, s)
    case b: Boolean => sb.append(b)
    case d: Double =>
      if (d.isNaN || d.isInfinite) sb.append("null") else sb.append(d)
    case n: Int => sb.append(n)
    case n: Long => sb.append(n)
    case m: scala.collection.Map[_, _] =>
      sb.append('{')
      var first = true
      m.foreach { case (k, x) =>
        if (!first) sb.append(','); first = false
        quote(sb, k.toString); sb.append(':'); write(sb, x)
      }
      sb.append('}')
    case s: Iterable[_] =>
      sb.append('[')
      var first = true
      s.foreach { x => if (!first) sb.append(','); first = false; write(sb, x) }
      sb.append(']')
    case other => quote(sb, other.toString)
  }

  private def quote(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of an empty sample")
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** Length of the union of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}

/** Wall clock on the epoch-millisecond axis Spark's listener events use,
  * with nanosecond resolution from `System.nanoTime`.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** What one workload run reports back to `run.py`. */
final class Result {
  /** End-to-end figures: name -> (value, unit). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer figures (traced runs only): name -> (value, unit). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  val info = mutable.LinkedHashMap.empty[String, Any]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  /** Run one operation; an exception counts it as failed (and is kept). */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f) catch { case t: Throwable =>
      failed += 1
      fail(s"$what: ${t.getClass.getSimpleName}: " +
        Option(t.getMessage).getOrElse("").linesIterator.take(1).mkString.take(200))
      None
    }
  }

  /** A correctness check, itself counted as an operation; a mismatch fails it. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; fail(what) }
  }

  private def fail(msg: String): Unit =
    if (failures.size < 50) failures += msg

  def toJson: String = Json.render(Map(
    "attempted" -> attempted,
    "failed" -> failed,
    "failures" -> failures.toSeq,
    "e2e" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "layers" -> layers.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
    "info" -> info))
}

object Timing {
  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}

