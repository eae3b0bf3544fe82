package graft

import java.io.File
import java.util.UUID

import graft.tables.GraftCatalog
import org.apache.hadoop.fs.FileUtil
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{instr, lit}

package object queries {

  /** Numeric value of one lowercase hex digit via `instr` arithmetic — the
    * portable subset both Spark and DuckDB evaluate identically, used
    * wherever an md5 prefix becomes a deterministic bucket or uniform draw
    * (q73 split assignment, q92 importance resampling).
    */
  private[queries] def hexDigitVal(c: Column): Column =
    instr(lit("0123456789abcdef"), c) - 1

  /** Force execution of a query whose result has a HARD small row bound
    * (a `limit`, or a groupBy over a k-bounded key) and return it as a
    * local relation. Used where a builder must consume cached/temporary
    * inputs before returning (the inputs are released or deleted right
    * after this call) — unlike `persist()+count()`, no cache entry and no
    * lineage over the temporaries outlive the builder. NOT for unbounded
    * results: the rows transit the driver.
    */
  private[queries] def materializeSmall(df: DataFrame): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription("graft:materialize result")
    val rows =
      try java.util.Arrays.asList(df.collect(): _*)
      finally sc.setJobDescription(prev)
    df.sparkSession.createDataFrame(rows, df.schema)
  }

  /** Run `body` over a fresh scratch path `java.io.tmpdir/graft_<tag>_<uuid>`
    * (the body creates it) and always delete it afterwards, so concurrent
    * runs never collide and a failed run leaves nothing behind. Results
    * that read the scratch files must be consumed before `body` returns
    * (see [[materializeSmall]]).
    */
  private[queries] def withScratchRoot[T](s: SparkSession, tag: String)(body: String => T): T = {
    val root = new File(sys.props("java.io.tmpdir"), s"graft_${tag}_${UUID.randomUUID()}")
      .getAbsolutePath
    requireLocalMaster(s.sparkContext.master, tag, root)
    try body(root) finally FileUtil.fullyDelete(new File(root))
  }

  /** A scratch root is a directory on this host: on a cluster, executors
    * would write it on their own hosts, where this process can neither read
    * it back nor delete it. Accepts exactly the masters `SparkContext.isLocal`
    * accepts.
    */
  private[queries] def requireLocalMaster(master: String, tag: String, root: String): Unit =
    if (master != "local" && !master.startsWith("local["))
      throw new IllegalStateException(
        s"scratch root '$tag' ($root) is a local path and needs a local master, not '$master'")

  /** Run `body` with a uniquely named [[GraftCatalog]] over a fresh scratch
    * root; `body` gets the catalog name.
    */
  private[queries] def withScratchCatalog[T](s: SparkSession, tag: String)(body: String => T): T =
    withScratchRoot(s, s"cat_$tag")(root => withCatalog(s, tag, root)(body))

  /** Register a [[GraftCatalog]] over `root` for the duration of `body`. The
    * session keeps a catalog it once loaded under its name, root included,
    * so every call registers a name of its own.
    */
  private[queries] def withCatalog[T](s: SparkSession, tag: String, root: String)(
      body: String => T): T = {
    val cat = s"g${tag}_${UUID.randomUUID().toString.replace("-", "").take(12)}"
    withConf(s,
      s"spark.sql.catalog.$cat" -> classOf[GraftCatalog].getName,
      s"spark.sql.catalog.$cat.root" -> root)(body(cat))
  }

  /** Run `body` with the given session confs set; afterwards each key gets
    * back its prior value, or is unset if it had none.
    */
  private[queries] def withConf[T](s: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val prior = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
