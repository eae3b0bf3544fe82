package graft.sources.logfile

import java.io.{ByteArrayOutputStream, File, ObjectOutputStream}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import org.apache.hadoop.fs.BlockLocation
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Pins the packing of splits into tasks: a task of several splits reads
  * exactly what its splits read one by one, with the same metrics; a
  * pushed limit stops a task from opening more splits; the conf ships as a
  * broadcast, not inside each task.
  */
class LogfilePackingSpec extends SparkTestBase {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def read(dir: String, maxSplit: Long, vectorized: Boolean = true): DataFrame =
    spark.read.format("logfile")
      .option("pattern", LogfileFixture.PatternA)
      .option("pattern.*_1.log*", LogfileFixture.PatternB)
      .option("maxsplitbytes", maxSplit.toString)
      .option("vectorized", vectorized.toString)
      .load(dir)

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: BatchScanExec => b
    }.getOrElse(fail("no BatchScanExec in plan"))

  private def options(dir: String, maxSplit: Long) = new CaseInsensitiveStringMap(Map(
    "path" -> dir, "pattern" -> LogfileFixture.PatternA,
    "pattern.*_1.log*" -> LogfileFixture.PatternB,
    "maxsplitbytes" -> maxSplit.toString).asJava)

  private def carved(path: String, bytes: Long*): Seq[LogfileSplits.Carved] = {
    var start = 0L
    bytes.map { b =>
      val c = LogfileSplits.Carved(LogfilePartition(path, start, start + b, "x"), start, b,
        Array(new BlockLocation(Array("h:1"), Array("h"), 0L, Long.MaxValue / 2)))
      start += b
      c
    }
  }

  test("pack is next-fit in the given order: a group closes before the split that would overflow it") {
    val splits = carved("a", 40, 30, 30, 10, 90, 5) ++ carved("b", 20)
    val groups = LogfileSplits.pack(splits, target = 100L, openCost = 4L)
    // 40+4, +30+4 = 78; 78+30 > 100 closes; 30+4, +10+4 = 48; 48+90 > 100
    // closes; 90+4, 94+5 ≤ 100 stays; 103+20 > 100 closes
    assert(groups.map(_.splits.map(s => (s.path, s.start)).toSeq) == Seq(
      Seq(("a", 0L), ("a", 40L)), Seq(("a", 70L), ("a", 100L)),
      Seq(("a", 110L), ("a", 200L)), Seq(("b", 0L))))
    assert(groups.forall(_.preferredLocations().toSeq == Seq("h")))
    // splits of the target size or more stay one per task
    val big = carved("c", 128, 128, 128)
    assert(LogfileSplits.pack(big, target = 128L, openCost = 4L).map(_.splits.length) == Seq(1, 1, 1))
  }

  test("the planner packs by Spark's FilePartition settings; maxsplitbytes still sets the splits") {
    val dir = tmpDir("logfile-pack-plan")
    LogfileFixture.ensure(dir, files = 2, recordsPerFile = 400, seed = 61L)
    val conf = spark.sessionState.newHadoopConf() // (the planner needs an active session)
    def plan() = new LogfileScanBuilder(options(dir, 512)).build().toBatch.planInputPartitions()
      .map(_.asInstanceOf[LogfileSplitGroup])
    val packed = plan()
    val splits = packed.flatMap(_.splits).toSeq
    // the same splits as carving each file alone, in (path, start) order
    val codecs = new org.apache.hadoop.io.compress.CompressionCodecFactory(conf)
    val expected = new File(dir).listFiles().filterNot(_.getName.startsWith("_"))
      .map(f => new org.apache.hadoop.fs.Path(f.getAbsolutePath))
      .map(p => p.getFileSystem(conf).getFileStatus(p)).sortBy(_.getPath.toString).toSeq
      .flatMap(st => LogfileSplits.forFile(st, "p", conf, codecs, 512))
    assert(splits.map(s => (s.path, s.start, s.end)) == expected.map(s => (s.path, s.start, s.end)))
    assert(packed.length < splits.length, s"${splits.length} splits in ${packed.length} tasks")
    // maxPartitionBytes caps the target: below any split, every task is one split
    withSQLConf("spark.sql.files.maxPartitionBytes" -> "1") {
      assert(plan().map(_.splits.length).toSeq == Seq.fill(splits.length)(1))
    }
    // minPartitionNum raises the task count toward it
    val fewer = withSQLConf("spark.sql.files.minPartitionNum" -> "1") { plan().length }
    val more = withSQLConf("spark.sql.files.minPartitionNum" -> "64",
      "spark.sql.files.openCostInBytes" -> "1") { plan().length }
    assert(fewer < more, s"minPartitionNum 1: $fewer tasks, 64: $more tasks")
  }

  for (vectorized <- Seq(true, false)) {
    test(s"a packed task reads what its splits read one by one, with summed metrics (vectorized=$vectorized)") {
      val dir = tmpDir("logfile-pack-union")
      val truth = LogfileFixture.ensure(dir, files = 2, recordsPerFile = 600, seed = 62L)
      // plus a file of three-line records, so records span split boundaries
      Files.write(new File(dir, "stack.log").toPath, (0 until 300).map(i =>
        f"2017-01-01 00:00:${i % 60}%02d,${i % 1000}%03d ERROR boom $i\n" +
          "\tat a.B.c(B.java:1)\n\tat d.E.f(E.java:2)\n").mkString.getBytes(StandardCharsets.UTF_8))
      val df = read(dir, maxSplit = 700, vectorized = vectorized)
      val got = df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted.toSeq
      val scan = scanOf(df)
      val groups = scan.inputPartitions.map(_.asInstanceOf[LogfileSplitGroup])
      assert(groups.exists(_.splits.length > 1), "expected at least one task of several splits")

      val conf = spark.sessionState.newHadoopConf()
      val direct = mutable.ArrayBuffer.empty[(String, Long, String)]
      var bytes, assembled, spanning = 0L
      for (g <- groups; split <- g.splits) {
        val r = new LogfilePartitionReader(split, conf, LogfileTable.Schema)
        try while (r.next()) {
          val row = r.get()
          direct += ((row.getUTF8String(0).toString, row.getLong(1), row.getUTF8String(2).toString))
        } finally r.close()
        bytes += r.bytesRead
        assembled += r.assembledCount
        spanning += r.spanningCount
      }
      assert(got.length == truth.total * 2 + 300)
      assert(got == direct.sorted.toSeq)
      assert(spanning > 0, "700-byte splits of multiline records must span boundaries")
      val m = scan.metrics
      assert(m(LogfileMetrics.RecordsAssembled).value == assembled)
      assert(m(LogfileMetrics.RecordsSpanningSplits).value == spanning)
      assert(m(LogfileMetrics.BytesRead).value == bytes)
    }
  }

  test("a pushed limit caps the task: the chain opens no split after `limit` records") {
    val dir = tmpDir("logfile-pack-limit")
    val lines = (1 to 500).map(i => f"2017-01-01 00:00:${i % 60}%02d,001 INFO record $i")
    Files.write(new File(dir, "a.log").toPath,
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val file = new File(dir, "a.log")
    val step = (file.length + 4) / 5
    val splits = (0 until 5).map(i => LogfilePartition(file.getAbsolutePath, i * step,
      math.min((i + 1) * step, file.length), """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*"""))
      .toArray
    val conf = spark.sessionState.newHadoopConf()
    val opened = mutable.ArrayBuffer.empty[LogfilePartition]
    def chain(limit: Option[Int]) = new LogfileChainReader[InternalRow](splits, limit, { (s, left) =>
      opened += s
      val r = new LogfilePartitionReader(s, conf, LogfileTable.Schema, left)
      (r, r)
    })
    val limited = chain(Some(3))
    val offsets = mutable.ArrayBuffer.empty[Long]
    try while (limited.next()) offsets += limited.get().getLong(1) finally limited.close()
    assert(offsets.toSeq == lines.take(3).scanLeft(0L)(_ + _.length + 1).take(3), offsets)
    assert(opened.toSeq == Seq(splits(0)), "only the first split may be opened")

    // without a limit every split opens, and the task's pushed COUNT(*) is
    // one partial count summed over them
    opened.clear()
    val count = new LogfileCountReader(chain(None))
    val rows = mutable.ArrayBuffer.empty[Long]
    try while (count.next()) rows += count.get().getLong(0) finally count.close()
    assert(rows.toSeq == Seq(500L))
    assert(opened.toSeq == splits.toSeq)
  }

  test("the reader factory carries a broadcast conf, not the conf: under 4 KB serialized") {
    val dir = tmpDir("logfile-pack-factory")
    LogfileFixture.ensure(dir, files = 1, recordsPerFile = 10, seed = 63L)
    def serializedSize(o: AnyRef): Int = {
      val bytes = new ByteArrayOutputStream()
      val out = new ObjectOutputStream(bytes)
      out.writeObject(o)
      out.close()
      bytes.size()
    }
    val batch = new LogfileScanBuilder(options(dir, 512)).build().toBatch.createReaderFactory()
    val stream = new LogfileMicroBatchStream(options(dir, 512), LogfileTable.Schema)
      .createReaderFactory()
    for (f <- Seq(batch, stream)) {
      val n = serializedSize(f)
      assert(n < 4096, s"${f.getClass.getSimpleName} serializes to $n bytes")
    }
    // what each task carried before: a bare Configuration alone is larger
    assert(serializedSize(new org.apache.spark.util.SerializableConfiguration(
      new org.apache.hadoop.conf.Configuration())) > 4096)
  }
}
