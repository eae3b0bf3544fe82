package graft.tables

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** How often a table statement lists its log, and how a failed data-file
  * rename unwinds — both pinned through [[CountingFs]].
  */
class GraftLogListingSpec extends SparkTestBase {
  import spark.implicits._

  private def table(prefix: String): (String, GraftTable) = {
    CountingFs.register(spark)
    val root = CountingFs.tempDir(prefix)
    val t = GraftTable.create(spark, s"$root/t",
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")).toDF("k", "v"), keyCol = Some("k"))
    (root, t)
  }

  test("each table statement lists _graft_log once per commit attempt") {
    val (_, t) = table("graft-listing")
    // every other commit also writes a checkpoint, which must come from
    // the statement's own snapshot rather than a fresh listing
    t.checkpointInterval = 2
    val counts = Seq(
      "append" -> CountingFs.listingsDuring(t.append(Seq((5L, "e")).toDF("k", "v"))),
      "overwrite" -> CountingFs.listingsDuring(
        t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))),
      "merge" -> CountingFs.listingsDuring(t.merge(Seq((2L, "B"), (9L, "i")).toDF("k", "v"))),
      "deleteWhere" -> CountingFs.listingsDuring(t.deleteWhere(col("k") === 3L)),
      "compact" -> CountingFs.listingsDuring(t.compact()))
    assert(t.version == 6L, "every statement above commits once")
    assert(counts.forall(_._2 == 1), s"log listings per statement: $counts")
    assert(t.snapshot().as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (9L, "i")))
  }

  test("a catalog SELECT lists _graft_log once") {
    val (root, t) = table("graft-listing-sql")
    t.analyze()
    withSQLConf("spark.sql.catalog.lst" -> classOf[GraftCatalog].getName,
        "spark.sql.catalog.lst.root" -> root) {
      val q = "SELECT k, v FROM lst.t WHERE k > 1"
      spark.sql(q).collect() // loads the catalog's table handle
      var rows: Set[(Long, String)] = Set.empty
      val n = CountingFs.listingsDuring {
        rows = spark.sql(q).as[(Long, String)].collect().toSet
      }
      assert(n == 1, s"a SELECT listed the log $n times")
      assert(rows == Set((2L, "b"), (3L, "c"), (4L, "d")))
    }
  }

  test("a failed data-file rename settles its siblings before the staging dir goes") {
    val (root, t) = table("graft-settle")
    val tableRoot = new org.apache.hadoop.fs.Path(s"$root/t")
    val seen = new AtomicInteger
    val failed = new CountDownLatch(1)
    // the first data-file rename into the table root is held until the
    // second one has failed; the rest pass
    CountingFs.renameHook = (src, dst) =>
      if (!src.toString.contains("/_tmp-") ||
          dst.getParent.toUri.getPath != tableRoot.toUri.getPath) true
      else seen.incrementAndGet() match {
        case 1 => failed.await(10, TimeUnit.SECONDS); Thread.sleep(1000); true
        case 2 => failed.countDown(); false
        case _ => true
      }
    CountingFs.renamesAtTmpDelete = None
    try {
      val df = spark.range(0, 40, 1, 4)
        .select(col("id").as("k"), col("id").cast("string").as("v"))
      val e = intercept[IllegalArgumentException](t.append(df))
      assert(e.getMessage.contains("rename"), e.getMessage)
    } finally CountingFs.renameHook = null
    assert(seen.get >= 2, "the write should land several data files")
    assert(CountingFs.renamesAtTmpDelete.contains(0),
      s"staging dir deleted with ${CountingFs.renamesAtTmpDelete} rename(s) running")
    assert(t.version == 1L)
    assert(t.snapshot().count() == 4L)
  }
}
