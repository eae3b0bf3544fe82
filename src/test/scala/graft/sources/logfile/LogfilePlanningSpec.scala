package graft.sources.logfile

import scala.jdk.CollectionConverters._

import graft.SparkTestBase
import graft.tables.CountingFs
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions.count
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Pins when a logfile scan plans: Catalyst's planning carves no file and
  * builds no reader factory (a conf broadcast); the scan does each once,
  * when it runs, and keeps the result.
  */
class LogfilePlanningSpec extends SparkTestBase {

  private val OddFiles = "*[13579].log*"

  private def options(dir: String): Map[String, String] = Map(
    "path" -> dir, "pattern" -> LogfileFixture.PatternA,
    s"pattern.$OddFiles" -> LogfileFixture.PatternB)

  private def read(dir: String): DataFrame =
    spark.read.format("logfile").options(options(dir)).load()

  /** A `countfs://` directory holding the fixture's plain and gzip files. */
  private def fixture(prefix: String, files: Int): (String, LogfileFixture.Truth) = {
    CountingFs.register(spark)
    val dir = CountingFs.tempDir(prefix)
    (dir, LogfileFixture.ensure(new Path(dir).toUri.getPath, files, recordsPerFile = 50,
      seed = 71L))
  }

  /** Broadcasts made while `body` runs. Ids are handed out in order, so a
    * probe broadcast before and after brackets them.
    */
  private def broadcastsDuring(body: => Any): Long = {
    def nextId: Long = {
      val b = spark.sparkContext.broadcast(0)
      try b.id finally b.destroy()
    }
    val before = nextId
    body
    nextId - before - 1
  }

  private def scanOf(plan: SparkPlan): LogfileScan = {
    val physical = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    physical.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[LogfileScan]
    }.getOrElse(fail(s"no logfile scan in\n$plan"))
  }

  test("planning a record scan carves no file and builds no reader factory; running it does each once") {
    val (dir, truth) = fixture("logfile-planning", files = 2)
    val df = read(dir)
    var plan: SparkPlan = null
    var factories = -1L
    val carvedAtPlanning = CountingFs.blockReportsDuring(dir) {
      factories = broadcastsDuring { plan = df.queryExecution.executedPlan }
    }
    assert(carvedAtPlanning == Map.empty, "files carved while planning")
    assert(factories == 0, "conf broadcasts while planning")
    // building the plan's RDD starts no job: every broadcast it makes is a conf
    val carvedAtRun = CountingFs.blockReportsDuring(dir) {
      factories = broadcastsDuring(plan.execute())
    }
    val files = Seq(0, 1).flatMap(i => Seq(s"fixture_$i.log", s"fixture_$i.log.gz"))
    assert(carvedAtRun == files.map(_ -> 1).toMap)
    assert(factories == 1, "conf broadcasts while building the scan's RDD")
    // running the query reads every record through what the scan already made
    val scan = scanOf(plan)
    val factory = scan.createReaderFactory()
    val carvedByJob = CountingFs.blockReportsDuring(dir) {
      assert(df.collect().length == truth.total * 2)
    }
    assert(carvedByJob == Map.empty)
    assert(scanOf(df.queryExecution.executedPlan) eq scan)
    assert(scan.createReaderFactory() eq factory)
  }

  test("a scan plans its partitions and builds its reader factory once, however often asked") {
    val (dir, _) = fixture("logfile-planning-memo", files = 2)
    val batch = new LogfileScanBuilder(new CaseInsensitiveStringMap(options(dir).asJava))
      .build().toBatch
    val carved = CountingFs.blockReportsDuring(dir) {
      assert(batch.planInputPartitions() eq batch.planInputPartitions())
    }
    assert(carved.values.toSeq == Seq(1, 1, 1, 1))
    assert(broadcastsDuring(assert(batch.createReaderFactory() eq batch.createReaderFactory())) == 1)
  }

  test("a record scan is columnar and the pushed COUNT(*) is not, without asking the partitions") {
    val (dir, truth) = fixture("logfile-planning-columnar", files = 1)
    val records = read(dir)
    val recordScan = scanOf(records.queryExecution.executedPlan)
    assert(recordScan.columnarSupportMode() == ColumnarSupportMode.SUPPORTED)
    val counted = records.agg(count("*"))
    val countScan = scanOf(counted.queryExecution.executedPlan)
    assert(countScan.description().contains("PushedAggregation=[COUNT(*)]"), countScan.description())
    assert(countScan.columnarSupportMode() == ColumnarSupportMode.UNSUPPORTED)
    assert(counted.head().getLong(0) == truth.total * 2)
    assert(records.collect().length == truth.total * 2)
  }
}
