package graft.sources.logfile

import java.io.{BufferedOutputStream, File, FileOutputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPOutputStream

/** Deterministic synthetic logfile corpus — the spirit of the reference's
  * generator (`test/LogfileGenerator.java:26-34`, `test/LogLevel.java:26-28`):
  * two record layouts (A: timestamp-first, B: level-first) chosen per file,
  * INFO:WARN:ERROR skew 500:500:1, every ERROR a multiline stack trace, one
  * record per 5 simulated ms; each file written both plain and gzipped with
  * identical content so splittable and whole-file paths must agree.
  *
  * All randomness comes from a seeded LCG → identical bytes on every run.
  */
object LogfileFixture {

  /** First-line regexes (fully match head lines, never continuations). */
  val PatternA = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} (INFO|WARN|ERROR) .*"""
  val PatternB = """(INFO|WARN|ERROR) \d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*"""

  final case class Truth(
      total: Long, info: Long, warn: Long, error: Long, multiline: Long)

  private final class Lcg(seed: Long) {
    private var s = seed
    def nextInt(bound: Int): Int = {
      s = s * 6364136223846793005L + 1442695040888963407L
      (((s >>> 33) % bound + bound) % bound).toInt
    }
  }

  private val Words = Array("request", "handled", "queue", "flush", "retry",
    "session", "opened", "closed", "commit", "batch", "timeout", "resolved")

  /** Write `files` file pairs of `recordsPerFile` records each under `dir`
    * (creating it); file i uses format A when i is even, B when odd — files
    * `fixture_<i>.log` + `fixture_<i>.log.gz`. Returns exact truth counts.
    * No-op (but recomputed truth) if the directory is already populated.
    */
  def ensure(dir: String, files: Int, recordsPerFile: Int, seed: Long): Truth = {
    val d = new File(dir)
    d.mkdirs()
    val rng = new Lcg(seed)
    var (total, info, warn, error, multi) = (0L, 0L, 0L, 0L, 0L)
    // parameter marker: reuse on-disk files only if a PREVIOUS run finished
    // generating with the SAME (files, recordsPerFile, seed) — the marker is
    // written only after the last file, so a crashed half-generated corpus
    // (same or different parameters) is always regenerated
    val marker = new File(d, "_params")
    val params = s"$files,$recordsPerFile,$seed"
    val existing = marker.exists() &&
      new String(java.nio.file.Files.readAllBytes(marker.toPath)) == params &&
      d.listFiles().count(_.getName.endsWith(".log")) == files &&
      d.listFiles().count(_.getName.endsWith(".log.gz")) == files
    if (!existing)
      Option(d.listFiles()).foreach(_.foreach(_.delete()))

    for (i <- 0 until files) {
      val formatA = i % 2 == 0
      val sb = new java.lang.StringBuilder(recordsPerFile * 64)
      var tMillis = 1483228800000L + i * 86400000L // 2017-01-01 + i days
      for (_ <- 0 until recordsPerFile) {
        tMillis += 5
        val pick = rng.nextInt(1001) / 500 // 0,1 → INFO/WARN; 2 (1/1001) → ERROR
        val level = pick match {
          case 0 => info += 1; "INFO"
          case 1 => warn += 1; "WARN"
          case _ => error += 1; "ERROR"
        }
        val ts = formatTs(tMillis)
        val msg = s"${Words(rng.nextInt(Words.length))} ${Words(rng.nextInt(Words.length))} id=${rng.nextInt(100000)}"
        val head =
          if (formatA) s"$ts $level [worker-${rng.nextInt(8)}] com.example.App - $msg"
          else s"$level $ts [worker-${rng.nextInt(8)}] $msg"
        sb.append(head).append('\n')
        if (level == "ERROR") {
          multi += 1
          sb.append("java.lang.IllegalStateException: synthetic failure\n")
          val depth = 3 + rng.nextInt(5)
          for (k <- 0 until depth)
            sb.append(s"\tat com.example.Layer$k.invoke(Layer$k.java:${10 + rng.nextInt(90)})\n")
        }
        total += 1
      }
      if (!existing) {
        val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
        val plain = new BufferedOutputStream(
          new FileOutputStream(new File(d, s"fixture_$i.log")))
        try plain.write(bytes) finally plain.close()
        val gz = new GZIPOutputStream(
          new FileOutputStream(new File(d, s"fixture_$i.log.gz")))
        try gz.write(bytes) finally gz.close()
      }
    }
    if (!existing)
      java.nio.file.Files.write(marker.toPath, params.getBytes(StandardCharsets.UTF_8))
    Truth(total, info, warn, error, multi)
  }

  private def formatTs(millis: Long): String = {
    val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss,SSS")
    fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
    fmt.format(new java.util.Date(millis))
  }
}
