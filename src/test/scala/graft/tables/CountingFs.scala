package graft.tables

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{BlockLocation, FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** A local filesystem under its own `countfs` scheme, for specs that pin
  * how the table layer and the logfile scan use their filesystem: it counts
  * listings of `_graft_log` directories and of each directory, and block
  * reports of each file (the logfile planner asks one per file), lets a spec
  * intercept renames, and records how many renames were still running when
  * a writer's `_tmp-*` staging directory was deleted. The FS cache is
  * disabled for the scheme, so every `getFileSystem` call sees the current
  * hooks.
  */
class CountingFs extends RawLocalFileSystem {
  import CountingFs._

  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_graft_log") logListings.incrementAndGet()
    dirListings.computeIfAbsent(f.toUri.getPath, _ => new AtomicInteger).incrementAndGet()
    super.listStatus(f).map(plain)
  }

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

  override def getFileBlockLocations(file: FileStatus, start: Long, len: Long)
      : Array[BlockLocation] = {
    blockReports.computeIfAbsent(file.getPath.toUri.getPath, _ => new AtomicInteger)
      .incrementAndGet()
    super.getFileBlockLocations(file, start, len)
  }

  // the local statuses load permissions through java.io.File, which
  // refuses a non-`file` URI; a plain copy keeps the default permissions
  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getPath)

  override def rename(src: Path, dst: Path): Boolean = {
    renamesInFlight.incrementAndGet()
    try {
      val hook = renameHook
      (hook == null || hook(src, dst)) && super.rename(src, dst)
    } finally renamesInFlight.decrementAndGet()
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (p.getName.startsWith("_tmp-")) renamesAtTmpDelete = Some(renamesInFlight.get)
    super.delete(p, recursive)
  }
}

object CountingFs {
  val Scheme = "countfs"

  /** Listings of any `_graft_log` directory since the JVM started. */
  val logListings = new AtomicInteger

  /** Listings of each directory since the JVM started, by its path. */
  private val dirListings = new ConcurrentHashMap[String, AtomicInteger]

  /** Block reports of each file since the JVM started, by its path. */
  private val blockReports = new ConcurrentHashMap[String, AtomicInteger]

  /** Called before every rename; returning false fails the rename. */
  @volatile var renameHook: (Path, Path) => Boolean = null

  private val renamesInFlight = new AtomicInteger

  /** Renames running when a `_tmp-*` directory was last deleted. */
  @volatile var renamesAtTmpDelete: Option[Int] = None

  /** Registers the scheme with the session's Hadoop configuration. */
  def register(spark: SparkSession): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$Scheme.impl", classOf[CountingFs].getName)
    conf.setBoolean(s"fs.$Scheme.impl.disable.cache", true)
  }

  /** A fresh local temp directory, addressed through the counting scheme. */
  def tempDir(prefix: String): String =
    s"$Scheme://" + Files.createTempDirectory(prefix).toAbsolutePath

  /** Listings of `_graft_log` made while `body` runs. */
  def listingsDuring(body: => Any): Int = {
    val before = logListings.get
    body
    logListings.get - before
  }

  /** Listings of the directory `dir` (a `countfs://` path) made while
    * `body` runs.
    */
  def dirListingsDuring(dir: String)(body: => Any): Int = {
    val count = dirListings.computeIfAbsent(new Path(dir).toUri.getPath, _ => new AtomicInteger)
    val before = count.get
    body
    count.get - before
  }

  /** Block reports of each file under the directory `dir` (a `countfs://`
    * path) made while `body` runs, by file name; files with none are left
    * out.
    */
  def blockReportsDuring(dir: String)(body: => Any): Map[String, Int] = {
    val prefix = new Path(dir).toUri.getPath + "/"
    def now = blockReports.asScala.collect {
      case (p, n) if p.startsWith(prefix) => p.substring(prefix.length) -> n.get
    }.toMap
    val before = now
    body
    now.map { case (f, n) => f -> (n - before.getOrElse(f, 0)) }.filter(_._2 > 0)
  }
}
