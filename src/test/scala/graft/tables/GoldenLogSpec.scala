package graft.tables

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField}

/** The table log's on-disk format, pinned byte for byte. A fixed op
  * sequence covers every commit-metadata field the writer can emit; the
  * spec then compares each `_graft_log` file against the text below, with
  * commit timestamps, UUIDs and the temp root masked, and with the action
  * lines after the first one sorted (the parallel data-file rename makes
  * their order run-dependent). A second case opens a table whose log and
  * data files were written by an earlier build (checked in under
  * `src/test/resources/golden-log`) and reads its snapshot, history and
  * features. Both cases must keep passing unchanged whenever the log code
  * is refactored: a diff here is a format change.
  */
class GoldenLogSpec extends SparkTestBase {
  import spark.implicits._
  import GoldenLogSpec._

  /** One-partition frames: a single map task keeps every shuffle's row
    * order, and so every data file's bytes, fixed from run to run.
    */
  private def kpv(rows: (Long, String, String)*): DataFrame =
    rows.toDF("k", "p", "v").coalesce(1)

  /** Runs the op sequence under `root` and returns every log file's
    * normalized text, keyed by its path relative to `root`.
    */
  private def runSequence(root: File): Seq[(String, String)] = {
    val loc = new File(root, "t").getAbsolutePath
    val t = GraftTable.create(spark, loc,
      kpv((1L, "a", "x1"), (2L, "a", "x2"), (3L, "b", "x3"), (4L, "b", "x4")),
      keyCol = Some("k"), partitionBy = Seq("p"))                      // v1
    t.append(kpv((5L, "a", "x5"), (6L, "c", "x6")))                    // v2
    t.appendIfAbsent("golden-txn-1", kpv((7L, "c", "x7")))             // v3
    t.addColumns(Seq(StructField("extra", LongType)))                  // v4
    t.renameColumn("v", "label")                                       // v5
    t.dropColumn("extra")                                              // v6
    t.addConstraint("k_pos", "k > 0")                                  // v7
    t.setBloomFilter(Map("label" -> 100L))                             // v8
    t.setSortOrder(Seq("label"))                                       // v9
    t.analyze(Seq("label", "p"))                                       // v10 + checkpoint
    t.setPartitioning(Seq("p", "bucket(2,k)"))                         // v11
    val t2 = GraftTable.at(spark, loc)
    val b = t2.createBranch("audit")                                   // branch v1
    b.append(Seq((8L, "a", "x8")).toDF("k", "p", "label").coalesce(1)) // branch v2
    val branchLog = logFiles(root, new File(loc, "_graft_branches/audit"), "branch")
    t2.fastForward("audit")                                            // v12
    t2.merge(Seq((2L, "a", "X2"), (9L, "b", "x9")).toDF("k", "p", "label")
      .coalesce(1))                                                    // v13
    t2.replaceWith(Seq((10L, "n10"), (11L, "n11"), (12L, "n12")).toDF("k", "name")
      .coalesce(1), newKeyCol = Some("k"), newPartitionBy = Seq("bucket(4,k)"),
      newConstraints = Map("k_pos" -> "k > 0"))                        // v14
    GraftTable.at(spark, loc).cloneTo(new File(root, "c").getAbsolutePath) // clone v1

    val tb = GraftTable.create(spark, new File(root, "tb").getAbsolutePath,
      (1L to 20L).map(k => (k, s"s${k % 3}")).toDF("k", "s").coalesce(1),
      keyCol = Some("k"), partitionBy = Seq("bucket(2,k)"),
      generatedColumns = Map("g" -> "k * 2"),
      identityColumns = Map("id" -> GraftTable.IdentitySpec(1L, 1L)),
      uniqueKey = true)                                                // v1
    tb.append(Seq((21L, "s0")).toDF("k", "s").coalesce(1))             // v2
    tb.deleteWhere(col("k") === 4L)                                    // v3, deletion vector
    tb.compact()                                                       // v4, dataChange=false

    logFiles(root, new File(loc), "t") ++ branchLog ++
      logFiles(root, new File(root, "c"), "c") ++
      logFiles(root, new File(root, "tb"), "tb")
  }


  test("a fixed op sequence writes exactly the pinned log files") {
    val root = Files.createTempDirectory("graft-golden").toFile
    val got = runSequence(root)
    assert(got.map(_._1) == Expected.map(_._1))
    got.zip(Expected).foreach { case ((name, text), (_, want)) =>
      assert(text == want, s"log file $name differs")
    }
  }

  test("a log written by an earlier build reads back its snapshot, history and features") {
    val loc = copyResource("golden-log/t")
    val t = GraftTable.at(spark, loc)
    assert(t.version == 14L)
    assert(t.keyCol.contains("k") && t.partitionBy == Seq("bucket(4,k)"))
    assert(t.snapshot().as[(Long, String)].collect().sorted.toSeq ==
      Seq((10L, "n10"), (11L, "n11"), (12L, "n12")))
    // version 10 replays through the checkpoint written with it
    assert(t.snapshot(Some(10L)).as[(Long, String, String)].collect().sorted.toSeq ==
      Seq((1L, "a", "x1"), (2L, "a", "x2"), (3L, "b", "x3"), (4L, "b", "x4"),
        (5L, "a", "x5"), (6L, "c", "x6"), (7L, "c", "x7")))
    assert(t.snapshot(Some(13L)).as[(Long, String, String)].collect().sorted.toSeq ==
      Seq((1L, "a", "x1"), (2L, "a", "X2"), (3L, "b", "x3"), (4L, "b", "x4"),
        (5L, "a", "x5"), (6L, "c", "x6"), (7L, "c", "x7"), (8L, "a", "x8"),
        (9L, "b", "x9")))
    assert(t.history.map(h => (h.version, h.op, h.ts, h.added, h.removed,
      h.rowsAdded, h.rowsRemoved, h.bytesAdded)) == ExpectedHistory)
    assert(t.features == ExpectedFeatures)
    assert(t.columnNdv.isEmpty && t.constraints == Map("k_pos" -> "k > 0"))
  }

  /** Copies a checked-in table directory to a fresh temp dir (reads never
    * write, but the copy keeps the classpath tree untouched regardless).
    */
  private def copyResource(name: String): String = {
    val src = new File(getClass.getResource("/" + name).toURI).toPath
    val dest = Files.createTempDirectory("graft-golden-read").resolve("t")
    Files.walk(src).iterator.asScala.foreach { p =>
      val to = dest.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to)
    }
    dest.toString
  }
}

object GoldenLogSpec {
  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}".r
  private val Ts = "\"ts\":[0-9]+".r

  /** The log files of the table at `table`, labeled `label/<name>`, each
    * normalized: ts, UUIDs and `root` masked, action lines after the
    * first sorted. Hidden files (`.crc` sidecars) are skipped.
    */
  private def logFiles(root: File, table: File, label: String): Seq[(String, String)] =
    Option(new File(table, "_graft_log").listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith(".")).sortBy(_.getName).map { f =>
        val raw = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
        val masked = Uuid.replaceAllIn(Ts.replaceAllIn(
          raw.replace(root.getAbsolutePath, "<root>"), "\"ts\":0"), "<uuid>")
        val lines = masked.split("\n").toSeq.filter(_.nonEmpty)
        s"$label/${f.getName}" ->
          (lines.take(1) ++ lines.drop(1).sorted).mkString("", "\n", "\n")
      }

  val ExpectedHistory: Seq[(Long, String, Long, Int, Int, Long, Long, Long)] = Seq(
    (1L, "create", 1792291002267L, 2, 0, 4L, 0L, 1876L),
    (2L, "append", 1792291003000L, 2, 0, 2L, 0L, 1796L),
    (3L, "append", 1792291003626L, 1, 0, 1L, 0L, 897L),
    (4L, "addColumns", 1792291003653L, 0, 0, 0L, 0L, 0L),
    (5L, "renameColumn", 1792291003683L, 0, 0, 0L, 0L, 0L),
    (6L, "dropColumn", 1792291003717L, 0, 0, 0L, 0L, 0L),
    (7L, "addConstraint", 1792291004972L, 0, 0, 0L, 0L, 0L),
    (8L, "setBloomFilter", 1792291004994L, 0, 0, 0L, 0L, 0L),
    (9L, "setSortOrder", 1792291005017L, 0, 0, 0L, 0L, 0L),
    (10L, "analyze", 1792291006222L, 0, 0, 0L, 0L, 0L),
    (11L, "setPartitioning", 1792291006276L, 0, 0, 0L, 0L, 0L),
    (12L, "fastForward", 1792291007246L, 1, 0, 1L, 0L, 1176L),
    (13L, "merge", 1792291009927L, 3, 1, 3L, 2L, 3546L),
    (14L, "replace", 1792291010640L, 2, 8, 3L, 9L, 1415L))

  val ExpectedFeatures: (Seq[String], Seq[String]) = (Seq("column-mapping"),
    Seq("bloom-index", "check-constraints", "drop-columns", "partition-transforms",
      "sort-order"))

  val Expected: Seq[(String, String)] = Seq(
    "t/00000000000000000001.json" ->
      """|{"meta":{"partitionBy":"p","ts":0,"keyCol":"k","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","op":"create"}}
      |{"add":{"path":"part-<uuid>.parquet","rows":2,"bytes":938,"kind":"long","min":"1","max":"2","pv":{"p":"a"},"cs":{"k":{"kind":"long","min":"1","max":"2","nulls":0,"rows":2},"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":2},"v":{"kind":"string","min":"x1","max":"x2","nulls":0,"rows":2}}}}
      |{"add":{"path":"part-<uuid>.parquet","rows":2,"bytes":938,"kind":"long","min":"3","max":"4","pv":{"p":"b"},"cs":{"k":{"kind":"long","min":"3","max":"4","nulls":0,"rows":2},"p":{"kind":"string","min":"b","max":"b","nulls":0,"rows":2},"v":{"kind":"string","min":"x3","max":"x4","nulls":0,"rows":2}}}}
      |""".stripMargin,
    "t/00000000000000000002.json" ->
      """|{"meta":{"partitionBy":"p","ts":0,"keyCol":"k","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","op":"append"}}
      |{"add":{"path":"part-<uuid>.parquet","rows":1,"bytes":898,"kind":"long","min":"5","max":"5","pv":{"p":"a"},"cs":{"k":{"kind":"long","min":"5","max":"5","nulls":0,"rows":1},"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":1},"v":{"kind":"string","min":"x5","max":"x5","nulls":0,"rows":1}}}}
      |{"add":{"path":"part-<uuid>.parquet","rows":1,"bytes":898,"kind":"long","min":"6","max":"6","pv":{"p":"c"},"cs":{"k":{"kind":"long","min":"6","max":"6","nulls":0,"rows":1},"p":{"kind":"string","min":"c","max":"c","nulls":0,"rows":1},"v":{"kind":"string","min":"x6","max":"x6","nulls":0,"rows":1}}}}
      |""".stripMargin,
    "t/00000000000000000003.json" ->
      """|{"meta":{"partitionBy":"p","ts":0,"keyCol":"k","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","txn":"golden-txn-1","op":"append"}}
      |{"add":{"path":"part-<uuid>.parquet","rows":1,"bytes":897,"kind":"long","min":"7","max":"7","pv":{"p":"c"},"cs":{"k":{"kind":"long","min":"7","max":"7","nulls":0,"rows":1},"p":{"kind":"string","min":"c","max":"c","nulls":0,"rows":1},"v":{"kind":"string","min":"x7","max":"x7","nulls":0,"rows":1}}}}
      |""".stripMargin,
    "t/00000000000000000004.json" ->
      """|{"meta":{"partitionBy":"p","ts":0,"keyCol":"k","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"v\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"extra\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","op":"addColumns"}}
      |""".stripMargin,
    "t/00000000000000000005.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":"p","ts":0,"keyCol":"k","op":"renameColumn","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"extra\",\"type\":\"long\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"]}}
      |""".stripMargin,
    "t/00000000000000000006.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":"p","ts":0,"retired":["extra"],"keyCol":"k","writerFeatures":["drop-columns"],"op":"dropColumn","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"]}}
      |""".stripMargin,
    "t/00000000000000000007.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":"p","ts":0,"retired":["extra"],"keyCol":"k","op":"addConstraint","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["check-constraints","drop-columns"]}}
      |""".stripMargin,
    "t/00000000000000000008.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":"p","ts":0,"retired":["extra"],"keyCol":"k","bloom":{"v":100},"op":"setBloomFilter","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","check-constraints","drop-columns"]}}
      |""".stripMargin,
    "t/00000000000000000009.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":"p","ts":0,"retired":["extra"],"keyCol":"k","sort":["v"],"bloom":{"v":100},"op":"setSortOrder","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","check-constraints","drop-columns","sort-order"]}}
      |""".stripMargin,
    "t/00000000000000000010.checkpoint.json" ->
      """|{"txns":["golden-txn-1"]}
      |{"add":{"path":"part-<uuid>.parquet","rows":1,"bytes":897,"kind":"long","min":"7","max":"7","pv":{"p":"c"},"cs":{"p":{"kind":"string","min":"c","max":"c","nulls":0,"rows":1},"v":{"kind":"string","min":"x7","max":"x7","nulls":0,"rows":1},"k":{"kind":"long","min":"7","max":"7","nulls":0,"rows":1}}}}
      |{"add":{"path":"part-<uuid>.parquet","rows":1,"bytes":898,"kind":"long","min":"5","max":"5","pv":{"p":"a"},"cs":{"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":1},"v":{"kind":"string","min":"x5","max":"x5","nulls":0,"rows":1},"k":{"kind":"long","min":"5","max":"5","nulls":0,"rows":1}}}}
      |{"add":{"path":"part-<uuid>.parquet","rows":1,"bytes":898,"kind":"long","min":"6","max":"6","pv":{"p":"c"},"cs":{"p":{"kind":"string","min":"c","max":"c","nulls":0,"rows":1},"v":{"kind":"string","min":"x6","max":"x6","nulls":0,"rows":1},"k":{"kind":"long","min":"6","max":"6","nulls":0,"rows":1}}}}
      |{"add":{"path":"part-<uuid>.parquet","rows":2,"bytes":938,"kind":"long","min":"1","max":"2","pv":{"p":"a"},"cs":{"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":2},"v":{"kind":"string","min":"x1","max":"x2","nulls":0,"rows":2},"k":{"kind":"long","min":"1","max":"2","nulls":0,"rows":2}}}}
      |{"add":{"path":"part-<uuid>.parquet","rows":2,"bytes":938,"kind":"long","min":"3","max":"4","pv":{"p":"b"},"cs":{"p":{"kind":"string","min":"b","max":"b","nulls":0,"rows":2},"v":{"kind":"string","min":"x3","max":"x4","nulls":0,"rows":2},"k":{"kind":"long","min":"3","max":"4","nulls":0,"rows":2}}}}
      |""".stripMargin,
    "t/00000000000000000010.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":"p","ts":0,"retired":["extra"],"keyCol":"k","sort":["v"],"bloom":{"v":100},"op":"analyze","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"ndv":{"p":3,"v":7},"dataChange":false,"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","check-constraints","drop-columns","sort-order"]}}
      |""".stripMargin,
    "t/00000000000000000011.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":["p","bucket(2,k)"],"ts":0,"retired":["extra"],"keyCol":"k","ndv":{"p":3,"v":7},"sort":["v"],"bloom":{"v":100},"op":"setPartitioning","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","check-constraints","drop-columns","partition-transforms","sort-order"]}}
      |""".stripMargin,
    "t/00000000000000000012.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":["p","bucket(2,k)"],"ts":0,"retired":["extra"],"keyCol":"k","ndv":{"p":3,"v":7},"sort":["v"],"bloom":{"v":100},"op":"fastForward","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","check-constraints","drop-columns","partition-transforms","sort-order"]}}
      |{"add":{"path":"part-<uuid>_00000.parquet","rows":1,"bytes":1176,"kind":"long","min":"8","max":"8","pv":{"p":"a","bucket(2,k)":"0"},"cs":{"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":1},"v":{"kind":"string","min":"x8","max":"x8","nulls":0,"rows":1},"k":{"kind":"long","min":"8","max":"8","nulls":0,"rows":1}}}}
      |""".stripMargin,
    "t/00000000000000000013.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":["p","bucket(2,k)"],"ts":0,"retired":["extra"],"keyCol":"k","ndv":{"p":3,"v":7},"sort":["v"],"bloom":{"v":100},"op":"merge","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","check-constraints","drop-columns","partition-transforms","sort-order"]}}
      |{"add":{"path":"part-<uuid>_00000.parquet","rows":1,"bytes":1182,"kind":"long","min":"2","max":"2","pv":{"p":"a","bucket(2,k)":"0"},"cs":{"k":{"kind":"long","min":"2","max":"2","nulls":0,"rows":1},"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":1},"v":{"kind":"string","min":"X2","max":"X2","nulls":0,"rows":1}}}}
      |{"add":{"path":"part-<uuid>_00001.parquet","rows":1,"bytes":1182,"kind":"long","min":"1","max":"1","pv":{"p":"a","bucket(2,k)":"1"},"cs":{"k":{"kind":"long","min":"1","max":"1","nulls":0,"rows":1},"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":1},"v":{"kind":"string","min":"x1","max":"x1","nulls":0,"rows":1}}}}
      |{"add":{"path":"part-<uuid>_00001.parquet","rows":1,"bytes":1182,"kind":"long","min":"9","max":"9","pv":{"p":"b","bucket(2,k)":"1"},"cs":{"k":{"kind":"long","min":"9","max":"9","nulls":0,"rows":1},"p":{"kind":"string","min":"b","max":"b","nulls":0,"rows":1},"v":{"kind":"string","min":"x9","max":"x9","nulls":0,"rows":1}}}}
      |{"remove":"part-<uuid>.parquet"}
      |""".stripMargin,
    "t/00000000000000000014.json" ->
      """|{"meta":{"partitionBy":["bucket(4,k)"],"ts":0,"retired":["extra"],"keyCol":"k","op":"replace","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"name\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","check-constraints","drop-columns","partition-transforms","sort-order"]}}
      |{"add":{"path":"part-<uuid>_00000.parquet","rows":1,"bytes":705,"kind":"long","min":"12","max":"12","pv":{"bucket(4,k)":"0"},"cs":{"k":{"kind":"long","min":"12","max":"12","nulls":0,"rows":1},"name":{"kind":"string","min":"n12","max":"n12","nulls":0,"rows":1}}}}
      |{"add":{"path":"part-<uuid>_00001.parquet","rows":2,"bytes":710,"kind":"long","min":"10","max":"11","pv":{"bucket(4,k)":"1"},"cs":{"k":{"kind":"long","min":"10","max":"11","nulls":0,"rows":2},"name":{"kind":"string","min":"n10","max":"n11","nulls":0,"rows":2}}}}
      |{"remove":"part-<uuid>.parquet"}
      |{"remove":"part-<uuid>.parquet"}
      |{"remove":"part-<uuid>.parquet"}
      |{"remove":"part-<uuid>.parquet"}
      |{"remove":"part-<uuid>_00000.parquet"}
      |{"remove":"part-<uuid>_00000.parquet"}
      |{"remove":"part-<uuid>_00001.parquet"}
      |{"remove":"part-<uuid>_00001.parquet"}
      |""".stripMargin,
    "branch/00000000000000000001.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":["p","bucket(2,k)"],"ts":0,"retired":["extra"],"keyCol":"k","branchPoint":11,"sort":["v"],"bloom":{"v":100},"op":"createBranch","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","branches","check-constraints","drop-columns","partition-transforms","sort-order"]}}
      |{"add":{"path":"file:<root>/t/part-<uuid>.parquet","rows":1,"bytes":897,"kind":"long","min":"7","max":"7","pv":{"p":"c"},"cs":{"p":{"kind":"string","min":"c","max":"c","nulls":0,"rows":1},"v":{"kind":"string","min":"x7","max":"x7","nulls":0,"rows":1},"k":{"kind":"long","min":"7","max":"7","nulls":0,"rows":1}}}}
      |{"add":{"path":"file:<root>/t/part-<uuid>.parquet","rows":1,"bytes":898,"kind":"long","min":"5","max":"5","pv":{"p":"a"},"cs":{"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":1},"v":{"kind":"string","min":"x5","max":"x5","nulls":0,"rows":1},"k":{"kind":"long","min":"5","max":"5","nulls":0,"rows":1}}}}
      |{"add":{"path":"file:<root>/t/part-<uuid>.parquet","rows":1,"bytes":898,"kind":"long","min":"6","max":"6","pv":{"p":"c"},"cs":{"p":{"kind":"string","min":"c","max":"c","nulls":0,"rows":1},"v":{"kind":"string","min":"x6","max":"x6","nulls":0,"rows":1},"k":{"kind":"long","min":"6","max":"6","nulls":0,"rows":1}}}}
      |{"add":{"path":"file:<root>/t/part-<uuid>.parquet","rows":2,"bytes":938,"kind":"long","min":"1","max":"2","pv":{"p":"a"},"cs":{"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":2},"v":{"kind":"string","min":"x1","max":"x2","nulls":0,"rows":2},"k":{"kind":"long","min":"1","max":"2","nulls":0,"rows":2}}}}
      |{"add":{"path":"file:<root>/t/part-<uuid>.parquet","rows":2,"bytes":938,"kind":"long","min":"3","max":"4","pv":{"p":"b"},"cs":{"p":{"kind":"string","min":"b","max":"b","nulls":0,"rows":2},"v":{"kind":"string","min":"x3","max":"x4","nulls":0,"rows":2},"k":{"kind":"long","min":"3","max":"4","nulls":0,"rows":2}}}}
      |""".stripMargin,
    "branch/00000000000000000002.json" ->
      """|{"meta":{"colmap":{"label":"v"},"partitionBy":["p","bucket(2,k)"],"ts":0,"retired":["extra"],"keyCol":"k","sort":["v"],"bloom":{"v":100},"op":"append","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"p\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"label\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","branches","check-constraints","drop-columns","partition-transforms","sort-order"]}}
      |{"add":{"path":"part-<uuid>_00000.parquet","rows":1,"bytes":1176,"kind":"long","min":"8","max":"8","pv":{"p":"a","bucket(2,k)":"0"},"cs":{"k":{"kind":"long","min":"8","max":"8","nulls":0,"rows":1},"p":{"kind":"string","min":"a","max":"a","nulls":0,"rows":1},"v":{"kind":"string","min":"x8","max":"x8","nulls":0,"rows":1}}}}
      |""".stripMargin,
    "c/00000000000000000001.json" ->
      """|{"meta":{"partitionBy":["bucket(4,k)"],"ts":0,"retired":["extra"],"keyCol":"k","op":"clone","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{}},{\"name\":\"name\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}}]}","readerFeatures":["column-mapping"],"constraints":{"k_pos":"k > 0"},"writerFeatures":["bloom-index","check-constraints","drop-columns","partition-transforms","sort-order"]}}
      |{"add":{"path":"file:<root>/t/part-<uuid>_00000.parquet","rows":1,"bytes":705,"kind":"long","min":"12","max":"12","pv":{"bucket(4,k)":"0"},"cs":{"name":{"kind":"string","min":"n12","max":"n12","nulls":0,"rows":1},"k":{"kind":"long","min":"12","max":"12","nulls":0,"rows":1}}}}
      |{"add":{"path":"file:<root>/t/part-<uuid>_00001.parquet","rows":2,"bytes":710,"kind":"long","min":"10","max":"11","pv":{"bucket(4,k)":"1"},"cs":{"name":{"kind":"string","min":"n10","max":"n11","nulls":0,"rows":2},"k":{"kind":"long","min":"10","max":"11","nulls":0,"rows":2}}}}
      |""".stripMargin,
    "tb/00000000000000000001.json" ->
      """|{"meta":{"partitionBy":["bucket(2,k)"],"ts":0,"keyCol":"k","idhwm":{"id":20},"schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"graft.keyUnique\":true}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"g\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"GENERATION_EXPRESSION\":\"k * 2\"}},{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"identity.step\":1,\"identity.allowExplicitInsert\":false,\"identity.start\":1}}]}","writerFeatures":["generated-columns","identity-columns","partition-transforms","unique-key"],"op":"create"}}
      |{"add":{"path":"part-<uuid>_00000.parquet","rows":11,"bytes":1357,"kind":"long","min":"2","max":"19","pv":{"bucket(2,k)":"0"},"cs":{"id":{"kind":"long","min":"2","max":"19","nulls":0,"rows":11},"k":{"kind":"long","min":"2","max":"19","nulls":0,"rows":11},"s":{"kind":"string","min":"s0","max":"s2","nulls":0,"rows":11},"g":{"kind":"long","min":"4","max":"38","nulls":0,"rows":11}}}}
      |{"add":{"path":"part-<uuid>_00001.parquet","rows":9,"bytes":1333,"kind":"long","min":"1","max":"20","pv":{"bucket(2,k)":"1"},"cs":{"id":{"kind":"long","min":"1","max":"20","nulls":0,"rows":9},"k":{"kind":"long","min":"1","max":"20","nulls":0,"rows":9},"s":{"kind":"string","min":"s0","max":"s2","nulls":0,"rows":9},"g":{"kind":"long","min":"2","max":"40","nulls":0,"rows":9}}}}
      |""".stripMargin,
    "tb/00000000000000000002.json" ->
      """|{"meta":{"partitionBy":["bucket(2,k)"],"ts":0,"keyCol":"k","idhwm":{"id":21},"schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"graft.keyUnique\":true}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"g\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"GENERATION_EXPRESSION\":\"k * 2\"}},{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"identity.step\":1,\"identity.allowExplicitInsert\":false,\"identity.start\":1}}]}","writerFeatures":["generated-columns","identity-columns","partition-transforms","unique-key"],"op":"append"}}
      |{"add":{"path":"part-<uuid>_00001.parquet","rows":1,"bytes":1162,"kind":"long","min":"21","max":"21","pv":{"bucket(2,k)":"1"},"cs":{"id":{"kind":"long","min":"21","max":"21","nulls":0,"rows":1},"k":{"kind":"long","min":"21","max":"21","nulls":0,"rows":1},"s":{"kind":"string","min":"s0","max":"s0","nulls":0,"rows":1},"g":{"kind":"long","min":"42","max":"42","nulls":0,"rows":1}}}}
      |""".stripMargin,
    "tb/00000000000000000003.json" ->
      """|{"meta":{"partitionBy":["bucket(2,k)"],"ts":0,"keyCol":"k","idhwm":{"id":21},"writerFeatures":["generated-columns","identity-columns","partition-transforms","unique-key"],"op":"delete","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"graft.keyUnique\":true}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"g\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"GENERATION_EXPRESSION\":\"k * 2\"}},{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"identity.step\":1,\"identity.allowExplicitInsert\":false,\"identity.start\":1}}]}","readerFeatures":["deletion-vectors"]}}
      |{"add":{"path":"part-<uuid>_00000.parquet","rows":11,"bytes":1357,"kind":"long","min":"2","max":"19","pv":{"bucket(2,k)":"0"},"cs":{"s":{"kind":"string","min":"s0","max":"s2","nulls":0,"rows":11},"g":{"kind":"long","min":"4","max":"38","nulls":0,"rows":11},"k":{"kind":"long","min":"2","max":"19","nulls":0,"rows":11},"id":{"kind":"long","min":"2","max":"19","nulls":0,"rows":11}},"dvn":1,"dv":"AQ=="}}
      |{"remove":"part-<uuid>_00000.parquet"}
      |""".stripMargin,
    "tb/00000000000000000004.json" ->
      """|{"meta":{"partitionBy":["bucket(2,k)"],"ts":0,"keyCol":"k","idhwm":{"id":21},"dataChange":false,"writerFeatures":["generated-columns","identity-columns","partition-transforms","unique-key"],"op":"compact","schema":"{\"type\":\"struct\",\"fields\":[{\"name\":\"k\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"graft.keyUnique\":true}},{\"name\":\"s\",\"type\":\"string\",\"nullable\":true,\"metadata\":{}},{\"name\":\"g\",\"type\":\"long\",\"nullable\":false,\"metadata\":{\"GENERATION_EXPRESSION\":\"k * 2\"}},{\"name\":\"id\",\"type\":\"long\",\"nullable\":true,\"metadata\":{\"identity.step\":1,\"identity.allowExplicitInsert\":false,\"identity.start\":1}}]}","readerFeatures":["deletion-vectors"]}}
      |{"add":{"path":"part-<uuid>_00000.parquet","rows":10,"bytes":1383,"kind":"long","min":"2","max":"19","pv":{"bucket(2,k)":"0"},"cs":{"id":{"kind":"long","min":"2","max":"19","nulls":0,"rows":10},"k":{"kind":"long","min":"2","max":"19","nulls":0,"rows":10},"s":{"kind":"string","min":"s0","max":"s2","nulls":0,"rows":10},"g":{"kind":"long","min":"4","max":"38","nulls":0,"rows":10}}}}
      |{"add":{"path":"part-<uuid>_00001.parquet","rows":10,"bytes":1383,"kind":"long","min":"1","max":"21","pv":{"bucket(2,k)":"1"},"cs":{"id":{"kind":"long","min":"1","max":"21","nulls":0,"rows":10},"k":{"kind":"long","min":"1","max":"21","nulls":0,"rows":10},"s":{"kind":"string","min":"s0","max":"s2","nulls":0,"rows":10},"g":{"kind":"long","min":"2","max":"42","nulls":0,"rows":10}}}}
      |{"remove":"part-<uuid>_00000.parquet"}
      |{"remove":"part-<uuid>_00001.parquet"}
      |{"remove":"part-<uuid>_00001.parquet"}
      |""".stripMargin)
}
