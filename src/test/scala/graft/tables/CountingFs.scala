package graft.tables

import java.net.URI
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** A local filesystem under its own `countfs` scheme, for specs that pin
  * how the table layer uses its filesystem: it counts listings of
  * `_graft_log` directories, lets a spec intercept renames, and records how
  * many renames were still running when a writer's `_tmp-*` staging
  * directory was deleted. The FS cache is disabled for the scheme, so every
  * `getFileSystem` call sees the current hooks.
  */
class CountingFs extends RawLocalFileSystem {
  import CountingFs._

  override def getScheme: String = Scheme
  override def getUri: URI = URI.create(s"$Scheme:///")

  override def listStatus(f: Path): Array[FileStatus] = {
    if (f.getName == "_graft_log") logListings.incrementAndGet()
    super.listStatus(f).map(plain)
  }

  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))

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
}
