package graft.queries

import java.io.File

import graft.SparkTestBase

/** The query packs' scratch harness: `withScratchRoot`, `withScratchCatalog`
  * and `withConf` always clean up, and scratch roots refuse an off-box master.
  */
class ScratchHarnessSpec extends SparkTestBase {

  test("withScratchRoot deletes its root when the body throws") {
    var seen: String = null
    val e = intercept[IllegalStateException] {
      withScratchRoot(spark, "spec_throw") { root =>
        seen = root
        spark.range(10).write.parquet(s"$root/data")
        assert(new File(root, "data").isDirectory)
        throw new IllegalStateException("body failed")
      }
    }
    assert(e.getMessage == "body failed")
    assert(new File(seen).getName.startsWith("graft_spec_throw_"))
    assert(new File(seen).getParentFile == new File(sys.props("java.io.tmpdir")).getAbsoluteFile)
    assert(!new File(seen).exists(), s"$seen left behind")
  }

  test("withScratchRoot returns the body's result and deletes the root") {
    var seen: String = null
    val n = withScratchRoot(spark, "spec_ok") { root =>
      seen = root
      spark.range(7).write.parquet(root)
      spark.read.parquet(root).count()
    }
    assert(n == 7L)
    assert(!new File(seen).exists(), s"$seen left behind")
  }

  test("withConf restores a prior value and unsets a key that had none, also on failure") {
    val had = "spark.sql.shuffle.partitions"
    val none = "spark.graft.spec.scratchHarness.unsetKey"
    val before = spark.conf.get(had)
    assert(spark.conf.getOption(none).isEmpty)
    intercept[IllegalStateException] {
      withConf(spark, had -> "3", none -> "x") {
        assert(spark.conf.get(had) == "3")
        assert(spark.conf.get(none) == "x")
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.get(had) == before)
    assert(spark.conf.getOption(none).isEmpty)
    val r = withConf(spark, had -> "5")(spark.conf.get(had))
    assert(r == "5" && spark.conf.get(had) == before)
  }

  test("withScratchCatalog names each catalog uniquely and unregisters it afterwards") {
    def run(): (String, Long) = withScratchCatalog(spark, "spec") { cat =>
      spark.sql(s"CREATE TABLE $cat.t AS SELECT id FROM range(5)")
      cat -> spark.table(s"$cat.t").count()
    }
    val (a, na) = run()
    val (b, nb) = run()
    assert(a != b)
    assert(na == 5L && nb == 5L)
    Seq(a, b).foreach { cat =>
      assert(spark.conf.getOption(s"spark.sql.catalog.$cat").isEmpty)
      assert(spark.conf.getOption(s"spark.sql.catalog.$cat.root").isEmpty)
    }
    val left = Option(new File(sys.props("java.io.tmpdir")).list()).toSeq.flatten
      .filter(_.startsWith("graft_cat_spec_"))
    assert(left.isEmpty, left)
  }

  test("a scratch root refuses a non-local master, naming the tag and the path") {
    Seq("spark://h:7077", "yarn").foreach { master =>
      val e = intercept[IllegalStateException] {
        requireLocalMaster(master, "table_q999", "/scratch/graft_table_q999_x")
      }
      assert(e.getMessage.contains("table_q999"), e.getMessage)
      assert(e.getMessage.contains("/scratch/graft_table_q999_x"), e.getMessage)
      assert(e.getMessage.contains(master), e.getMessage)
    }
    Seq("local", "local[4]", "local[*]").foreach { master =>
      requireLocalMaster(master, "table_q999", "/scratch/graft_table_q999_x")
    }
  }
}
