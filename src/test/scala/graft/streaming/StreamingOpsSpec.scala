package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** MemoryStream pins for the streaming surface: windowed aggregation,
  * sessionization, watermark late-data semantics, stateful dedup.
  */
class StreamingOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private var qn = 0
  private def runQuery(df: org.apache.spark.sql.DataFrame, mode: OutputMode)(
      feed: => Unit): Array[org.apache.spark.sql.Row] = {
    qn += 1
    val name = s"sink$qn"
    val q = df.writeStream.format("memory").queryName(name).outputMode(mode).start()
    try {
      feed
      q.processAllAvailable()
    } finally q.stop()
    spark.table(name).collect()
  }

  test("tumbling window counts aggregate per (window, type)") {
    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val df = StreamingOps.tumblingCounts(
      in.toDF.toDF("ts_t", "event_type", "value"), "ts_t", "10 minutes", "5 minutes")
    val rows = runQuery(df, OutputMode.Update()) {
      in.addData(
        (ts("2024-01-01 00:01:00"), "click", 1.0),
        (ts("2024-01-01 00:04:00"), "click", 2.0),
        (ts("2024-01-01 00:11:00"), "click", 4.0),
        (ts("2024-01-01 00:02:00"), "view", 8.0))
    }
    val byKey = rows.map(r => (r.getTimestamp(0).toString, r.getString(1)) ->
      (r.getLong(2), r.getDouble(3))).toMap
    assert(byKey(("2024-01-01 00:00:00.0", "click")) == ((2L, 3.0)))
    assert(byKey(("2024-01-01 00:10:00.0", "click")) == ((1L, 4.0)))
    assert(byKey(("2024-01-01 00:00:00.0", "view")) == ((1L, 8.0)))
  }

  test("sliding windows assign events to overlapping windows") {
    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val df = StreamingOps.slidingCounts(
      in.toDF.toDF("ts_t", "event_type", "value"), "ts_t", "10 minutes", "5 minutes",
      "5 minutes")
    val rows = runQuery(df, OutputMode.Update()) {
      in.addData((ts("2024-01-01 00:07:00"), "click", 1.0))
    }
    val starts = rows.map(_.getTimestamp(0).toString).sorted
    assert(starts.toSeq == Seq("2024-01-01 00:00:00.0", "2024-01-01 00:05:00.0"))
  }

  test("session windows merge events within gap, split across gap") {
    val in = MemoryStream[(Timestamp, Long)](spark)
    val df = StreamingOps.sessionCounts(
      in.toDF.toDF("ts_t", "user_id"), "ts_t", "30 minutes", "10 minutes")
    val rows = runQuery(df, OutputMode.Complete()) {
      in.addData(
        (ts("2024-01-01 00:00:00"), 1L),
        (ts("2024-01-01 00:10:00"), 1L), // same session (gap 10m < 30m)
        (ts("2024-01-01 01:30:00"), 1L), // new session (gap 80m)
        (ts("2024-01-01 00:00:00"), 2L))
    }
    val u1 = rows.filter(_.getLong(2) == 1L).map(r => (r.getTimestamp(0).toString, r.getLong(3)))
      .sortBy(_._1)
    assert(u1.toSeq == Seq(("2024-01-01 00:00:00.0", 2L), ("2024-01-01 01:30:00.0", 1L)))
    assert(rows.count(_.getLong(2) == 2L) == 1)
  }

  test("watermark drops events later than the horizon") {
    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val df = StreamingOps.tumblingCounts(
      in.toDF.toDF("ts_t", "event_type", "value"), "ts_t", "10 minutes", "5 minutes")
    val sinkName = "wmsink"
    val q = df.writeStream.format("memory").queryName(sinkName)
      .outputMode(OutputMode.Append()).start()
    try {
      in.addData((ts("2024-01-01 00:01:00"), "click", 1.0))
      q.processAllAvailable()
      // advance watermark far past the first window → it finalizes
      in.addData((ts("2024-01-01 01:00:00"), "click", 1.0))
      q.processAllAvailable()
      // this event is now 54min late, far beyond the 5min watermark → dropped
      in.addData((ts("2024-01-01 00:02:00"), "click", 100.0))
      q.processAllAvailable()
      val rows = spark.table(sinkName).collect()
      val first = rows.filter(_.getTimestamp(0).toString == "2024-01-01 00:00:00.0")
      assert(first.length == 1 && first(0).getLong(2) == 1L,
        "late event must not reopen a finalized window")
    } finally q.stop()
  }

  test("late events INSIDE the watermark horizon still aggregate") {
    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val df = StreamingOps.tumblingCounts(
      in.toDF.toDF("ts_t", "event_type", "value"), "ts_t", "10 minutes", "30 minutes")
    val q = df.writeStream.format("memory").queryName("latesink")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData((ts("2024-01-01 00:01:00"), "click", 1.0))
      q.processAllAvailable()
      // 19 minutes late relative to max event time, but watermark is 30m →
      // must still land in the 00:00 window
      in.addData((ts("2024-01-01 00:20:00"), "click", 1.0))
      q.processAllAvailable()
      in.addData((ts("2024-01-01 00:02:00"), "click", 5.0))
      q.processAllAvailable()
      val first = spark.table("latesink").collect()
        .filter(_.getTimestamp(0).toString == "2024-01-01 00:00:00.0")
        .maxBy(_.getLong(2))
      assert(first.getLong(2) == 2L && first.getDouble(3) == 6.0,
        s"late-but-in-horizon event lost: $first")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups keys inside the horizon") {
    val in = MemoryStream[(Timestamp, String)](spark)
    val df = StreamingOps.dedupWithinWatermark(
      in.toDF.toDF("ts_t", "event_id"), "ts_t", Seq("event_id"), "10 minutes")
    val rows = runQuery(df, OutputMode.Append()) {
      in.addData(
        (ts("2024-01-01 00:00:00"), "a"),
        (ts("2024-01-01 00:01:00"), "a"), // dup within watermark → dropped
        (ts("2024-01-01 00:02:00"), "b"))
    }
    assert(rows.map(_.getString(1)).sorted.toSeq == Seq("a", "b"))
  }

  test("logfile readStream: files arriving across triggers emit records exactly once") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets
    val dir = Files.createTempDirectory("logfile-stream").toFile.getAbsolutePath
    def writeLog(name: String, n: Int, base: Int): Unit = {
      val sb = new StringBuilder
      for (i <- 0 until n) {
        sb.append(f"2017-01-01 00:00:${(base + i) % 60}%02d,000 INFO msg${base + i}\n")
        if (i % 3 == 0) sb.append("\tat continuation.line(X.java:1)\n")
      }
      Files.write(new java.io.File(dir, name).toPath,
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    writeLog("s1.log", 10, 0)
    val stream = spark.readStream.format("logfile")
      .option("pattern", """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*""")
      .load(dir)
    val q = stream.writeStream.format("memory").queryName("logsink")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("logsink").count() == 10)
      writeLog("s2.log", 7, 100)
      q.processAllAvailable()
      val rows = spark.table("logsink").collect()
      assert(rows.length == 17, "second file must add exactly its own records")
      assert(rows.map(r => (r.getString(0), r.getLong(1))).distinct.length == 17,
        "no (file, offset) pair may duplicate across triggers")
      val multiline = rows.count(_.getString(2).contains("\n"))
      assert(multiline == 4 + 3, "multiline records assemble inside one trigger")
    } finally q.stop()
  }

  test("logfile readStream: maxFilesPerTrigger caps batches; offset stays O(watermark window)") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets
    import java.nio.file.attribute.FileTime
    val dir = Files.createTempDirectory("logfile-stream-cap").toFile.getAbsolutePath
    val base = System.currentTimeMillis() - 60000
    def writeLog(name: String, n: Int, mtime: Long): Unit = {
      val sb = new StringBuilder
      for (i <- 0 until n)
        sb.append(f"2017-01-01 00:00:${i % 60}%02d,000 INFO $name-$i\n")
      val p = new java.io.File(dir, name).toPath
      Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
    }
    // distinct mtimes so the watermark window holds exactly one file
    writeLog("f1.log", 3, base)
    writeLog("f2.log", 4, base + 1000)
    writeLog("f3.log", 5, base + 2000)
    val stream = spark.readStream.format("logfile")
      .option("pattern", """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*""")
      .option("maxFilesPerTrigger", "1")
      .option("latenessMs", "0") // boundary window = files AT the watermark only
      .load(dir)
    val q = stream.writeStream.format("memory").queryName("logcap")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      assert(spark.table("logcap").count() == 12)
      // the cap forces one file per batch → at least 3 data-bearing batches
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      assert(dataBatches >= 3, s"expected >=3 capped batches, got $dataBatches")
      // offset is the high-water mark, not all files seen: after f3 the
      // boundary holds only the single file at the watermark
      val endOffset = q.lastProgress.sources.apply(0).endOffset
      val parsed = graft.sources.logfile.LogfileHwmOffset.fromJson(endOffset)
      assert(parsed.watermark == base + 2000, endOffset)
      assert(parsed.boundary.keySet.map(new java.io.File(_).getName) == Set("f3.log"),
        s"boundary must not accumulate history: $endOffset")

      writeLog("f4.log", 2, base + 3000)
      q.processAllAvailable()
      assert(spark.table("logcap").count() == 14)
      val off2 = graft.sources.logfile.LogfileHwmOffset.fromJson(
        q.lastProgress.sources.apply(0).endOffset)
      assert(off2.boundary.size == 1, "offset size grew with total files seen")
    } finally q.stop()
  }

  test("logfile offset serde round-trips hostile paths; isNew honors lateness window") {
    import graft.sources.logfile.LogfileHwmOffset
    val nasty = Map(
      "/data/a \"quoted\".log" -> 100L,
      "/data/tab\there\nnewline.log" -> 200L,
      "/data/unicode-é中.log" -> 200L)
    val off = LogfileHwmOffset(200L, nasty, Seq("/data/unicode-é中.log"))
    val back = LogfileHwmOffset.fromJson(off.json())
    assert(back == off, s"round-trip mangled: ${off.json()}")
    assert(LogfileHwmOffset.fromJson(LogfileHwmOffset.Initial.json()) ==
      LogfileHwmOffset.Initial)

    // isNew: past watermark → new; in-boundary → seen; same-mtime different
    // path → new; older than lateness window → dropped
    assert(off.isNew("/data/later.log", 201L, 0L))
    assert(!off.isNew("/data/unicode-é中.log", 200L, 0L))
    assert(off.isNew("/data/sibling.log", 200L, 0L))
    assert(!off.isNew("/data/backdated.log", 150L, 0L), "outside window must drop")
    assert(off.isNew("/data/backdated.log", 150L, 60L), "lateness window admits it")

    // advance prunes boundary entries that fall out of the window
    val st = new org.apache.hadoop.fs.FileStatus(
      1L, false, 1, 1L, 300L, new org.apache.hadoop.fs.Path("/data/new.log"))
    val adv = off.advance(Seq(st), 0L)
    assert(adv.watermark == 300L && adv.boundary == Map("/data/new.log" -> 300L))
    assert(adv.files == Seq("/data/new.log"), "offset must pin the batch's files")
    val advLate = off.advance(Seq(st), 100L)
    assert(advLate.boundary.size == 3, "lateness window keeps the 200L entries")
  }

  test("end-to-end: logfile stream -> parse -> watermarked tumbling counts") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets
    val dir = Files.createTempDirectory("logfile-e2e").toFile.getAbsolutePath
    def writeLog(name: String, lines: Seq[String]): Unit =
      Files.write(new java.io.File(dir, name).toPath,
        (lines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))
    writeLog("a.log", Seq(
      "2024-01-01 10:05:00,000 INFO start",
      "2024-01-01 10:20:00,000 ERROR boom",
      "\tat x.y(Z.java:1)", // continuation folds into the ERROR record
      "2024-01-01 10:40:00,000 INFO tick"))
    val parsed = spark.readStream.format("logfile")
      .option("pattern", """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*""")
      .load(dir)
      .select(
        to_timestamp(substring(col("record"), 1, 23), "yyyy-MM-dd HH:mm:ss,SSS").as("ts_t"),
        regexp_extract(substring_index(col("record"), "\n", 1),
          "\\b(INFO|WARN|ERROR)\\b", 1).as("event_type"),
        lit(1.0).as("value"))
    val agg = StreamingOps.tumblingCounts(parsed, "ts_t", "30 minutes", "10 minutes")
    val q = agg.writeStream.format("memory").queryName("loge2e")
      .outputMode(OutputMode.Update()).start()
    try {
      q.processAllAvailable()
      // second file lands in a later trigger, inside the watermark horizon
      // (max event 10:40 - 10m = 10:30), joining the open 10:30 window
      writeLog("b.log", Seq("2024-01-01 10:35:00,000 INFO more"))
      q.processAllAvailable()
      val rows = spark.table("loge2e").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1)) -> r.getLong(2)).toMap
      assert(rows(("2024-01-01 10:00:00.0", "INFO")) == 1L)
      assert(rows(("2024-01-01 10:00:00.0", "ERROR")) == 1L,
        "multiline ERROR record must count once, not once per line")
      // the later-trigger INFO updates the open 10:30 window: tick + more
      val updated = spark.table("loge2e").collect()
        .filter(r => r.getTimestamp(0).toString == "2024-01-01 10:30:00.0" &&
          r.getString(1) == "INFO").map(_.getLong(2)).max
      assert(updated == 2L, "file from a later trigger must update the open window")
    } finally q.stop()
  }

  test("logfile stream restart: checkpointed offsets resume exactly-once into a file sink") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets
    val in = Files.createTempDirectory("logfile-restart-in").toFile.getAbsolutePath
    val out = Files.createTempDirectory("logfile-restart-out").toFile.getAbsolutePath + "/data"
    val ckpt = Files.createTempDirectory("logfile-restart-ckpt").toFile.getAbsolutePath
    def writeLog(name: String, n: Int, base: Int): Unit = {
      val sb = new StringBuilder
      for (i <- 0 until n)
        sb.append(f"2017-01-01 00:${(base + i) / 60}%02d:${(base + i) % 60}%02d,000 INFO m${base + i}\n")
      Files.write(new java.io.File(in, name).toPath,
        sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    def start() = spark.readStream.format("logfile")
      .option("pattern", """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*""")
      .load(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()

    writeLog("r1.log", 5, 0)
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    assert(spark.read.parquet(out).count() == 5)

    // the restarted query must deserialize the checkpointed JSON offset
    // (not reuse in-memory state) and read only the new file
    writeLog("r2.log", 7, 100)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(out).collect()
    assert(rows.length == 12, s"restart lost or re-read records: ${rows.length}")
    assert(rows.map(r => (r.getString(0), r.getLong(1))).distinct.length == 12,
      "no (file, offset) may duplicate across the restart")
  }

  test("offset algebra property: random arrival/cap schedules process every file exactly once") {
    import graft.sources.logfile.LogfileHwmOffset
    // pure simulation of the latestOffset/planInputPartitions contract: files
    // arrive with monotone non-decreasing mtimes (the documented producer
    // contract), triggers admit up to `cap` in (mtime, path) order, batches
    // take new(start) && !new(end). No file may be lost or double-read.
    val rng = new scala.util.Random(42)
    for (round <- 0 until 50) {
      val nFiles = 1 + rng.nextInt(30)
      // heavy mtime collisions on purpose: same-millisecond files exercise
      // the boundary set
      var clock = 1000L
      val files = (0 until nFiles).map { i =>
        if (rng.nextBoolean()) clock += rng.nextInt(3)
        (s"/d/f$i.log", clock)
      }
      var offset = LogfileHwmOffset.Initial
      val processed = scala.collection.mutable.ListBuffer.empty[String]
      var triggers = 0
      var visibleCount = 0
      while (processed.size < nFiles && triggers < 200) {
        triggers += 1
        // more files "arrive" each trigger; visibility only ever grows
        visibleCount = math.min(nFiles, visibleCount + 1 + rng.nextInt(5))
        val visible = files.take(visibleCount)
        val cap = 1 + rng.nextInt(4)
        val candidates = visible
          .filter { case (p, m) => offset.isNew(p, m, 0L) }
          .sortBy { case (p, m) => (m, p) }
          .take(cap)
        if (candidates.nonEmpty) {
          val statuses = candidates.map { case (p, m) =>
            new org.apache.hadoop.fs.FileStatus(1L, false, 1, 1L, m,
              new org.apache.hadoop.fs.Path(p))
          }
          val next = offset.advance(statuses, 0L)
          // the batch is exactly next.files (planInputPartitions' source of
          // truth), replay-stable no matter what a later listing shows
          val batch = next.files
          assert(batch.sorted == candidates.map(_._1).sorted,
            s"round $round: batch manifest != admitted set")
          // and every admitted file is no longer new w.r.t. next
          candidates.foreach { case (pp, mm) =>
            assert(!next.isNew(pp, mm, 0L), s"round $round: $pp still new after admit")
          }
          processed ++= batch
          // offset JSON must round-trip at every step
          assert(LogfileHwmOffset.fromJson(next.json()) == next)
          offset = next
        }
      }
      assert(processed.sorted == files.map(_._1).sorted,
        s"round $round: lost or duplicated files: ${processed.sorted} vs all ${files.size}")
      assert(processed.distinct.size == processed.size, s"round $round: double-read")
    }
  }

  test("stream-stream join matches pairs inside the interval, drops outside") {
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val buys = MemoryStream[(Timestamp, Long)](spark)
    val joined = StreamingOps.streamStreamJoin(
      clicks.toDF.toDF("c_ts", "c_user"), "c_ts", "c_user",
      buys.toDF.toDF("b_ts", "b_user"), "b_ts", "b_user",
      watermark = "10 minutes", joinWindow = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:00"), 2L))
      buys.addData(
        (ts("2024-01-01 00:10:00"), 1L),  // within 30m of click → match
        (ts("2024-01-01 01:10:00"), 2L))  // 70m later → outside window
      q.processAllAvailable()
      val rows = spark.table("ssjoin").collect()
      assert(rows.length == 1)
      assert(rows(0).getAs[Long]("c_user") == 1L)
    } finally q.stop()
  }

  test("stream-stream join equals the q134 batch twin on the same data") {
    import spark.implicits._
    // (ts, user) pairs straddling the 10-minute attribution window
    val clickRows = Seq(
      (ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:05:00"), 2L),
      (ts("2024-01-01 01:00:00"), 1L))
    val buyRows = Seq(
      (ts("2024-01-01 00:04:00"), 1L),  // 4m after click 1 → match
      (ts("2024-01-01 00:20:00"), 2L),  // 15m after click 2 → outside
      (ts("2024-01-01 01:09:00"), 1L),  // 9m after click 3 → match
      (ts("2023-12-31 23:59:00"), 1L))  // before any click → no match
    val clicks = MemoryStream[(Timestamp, Long)](spark)
    val buys = MemoryStream[(Timestamp, Long)](spark)
    val joined = StreamingOps.streamStreamJoin(
      clicks.toDF.toDF("c_ts", "c_user"), "c_ts", "c_user",
      buys.toDF.toDF("b_ts", "b_user"), "b_ts", "b_user",
      watermark = "10 minutes", joinWindow = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("ssbatchtwin")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(clickRows: _*)
      buys.addData(buyRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ssbatchtwin")
        .select("c_ts", "c_user", "b_ts").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getTimestamp(2))).toSet
      // batch twin: plain join with the identical key + interval predicate
      val c = clickRows.toDF("c_ts", "c_user")
      val b = buyRows.toDF("b_ts", "b_user")
      val batch = c.join(b,
          col("c_user") === col("b_user") &&
            col("b_ts") >= col("c_ts") &&
            col("b_ts") <= col("c_ts") + org.apache.spark.sql.functions.expr("INTERVAL 10 minutes"))
        .select("c_ts", "c_user", "b_ts").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1), r.getTimestamp(2))).toSet
      assert(streamed == batch, s"stream $streamed != batch $batch")
      assert(batch.size == 2)
    } finally q.stop()
  }

  test("stream-stream join works when both sides share column names") {
    val a = MemoryStream[(Timestamp, Long)](spark)
    val b = MemoryStream[(Timestamp, Long)](spark)
    // identical schemas on both sides — must not hit AMBIGUOUS_REFERENCE
    val joined = StreamingOps.streamStreamJoin(
      a.toDF.toDF("ts_t", "user_id"), "ts_t", "user_id",
      b.toDF.toDF("ts_t", "user_id"), "ts_t", "user_id",
      watermark = "10 minutes", joinWindow = "30 minutes")
    val q = joined.writeStream.format("memory").queryName("samename")
      .outputMode(OutputMode.Append()).start()
    try {
      a.addData((ts("2024-01-01 00:00:00"), 1L))
      b.addData((ts("2024-01-01 00:10:00"), 1L))
      q.processAllAvailable()
      assert(spark.table("samename").count() == 1)
    } finally q.stop()
  }

  test("withEventTime keeps boundary nanos exact (integer div, not float)") {
    import spark.implicits._
    // a timestamp whose nanos exceed double's 2^53 exact-integer range and
    // sit exactly on a minute boundary
    val nanos = 1735689600000000000L // 2025-01-01 00:00:00 UTC in ns
    val df = StreamingOps.withEventTime(Seq(nanos).toDF("ts"))
    val t = df.collect()(0).getTimestamp(1)
    assert(t.toInstant.toEpochMilli == nanos / 1000000,
      s"boundary event shifted: $t")
  }

  test("flatMapGroupsWithState keeps running per-user totals across batches") {
    val in = MemoryStream[UserEvent](spark)
    val df = StreamingOps.runningUserTotals(in.toDS())
    val q = df.toDF().writeStream.format("memory").queryName("statesink")
      .outputMode(OutputMode.Update()).start()
    try {
      in.addData(UserEvent(1L, 10.0), UserEvent(1L, 5.0), UserEvent(2L, 1.0))
      q.processAllAvailable()
      in.addData(UserEvent(1L, 2.0)) // state must carry: 1 → (3, 17.0)
      q.processAllAvailable()
      val latest = spark.table("statesink").collect()
        .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.maxBy(_.getLong(1)) }
      assert(latest(1L).getLong(1) == 3L && latest(1L).getDouble(2) == 17.0)
      assert(latest(2L).getLong(1) == 1L && latest(2L).getDouble(2) == 1.0)
    } finally q.stop()
  }

  test("transformWithState (RocksDB provider) keeps running totals across batches") {
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[UserEvent](spark)
      val q = TwsRunningTotals(in.toDS()).toDF().writeStream.format("memory")
        .queryName("twssink").outputMode(OutputMode.Update()).start()
      try {
        in.addData(UserEvent(7L, 4.0), UserEvent(7L, 6.0))
        q.processAllAvailable()
        in.addData(UserEvent(7L, 5.0))
        q.processAllAvailable()
        val latest = spark.table("twssink").collect()
          .filter(_.getLong(0) == 7L).maxBy(_.getLong(1))
        assert(latest.getLong(1) == 3L && latest.getDouble(2) == 15.0)
      } finally q.stop()
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("checkpoint recovery: stateful query restarts from its state store") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-ckpt").toFile.getAbsolutePath
    val in = MemoryStream[UserEvent](spark)
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, Long, Double)]())
    def start() = StreamingOps.runningUserTotals(in.toDS())
      .writeStream
      .option("checkpointLocation", ckpt) // foreachBatch sinks ARE recoverable
      .outputMode(OutputMode.Update())
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[UserTotal], _: Long) =>
        batch.collect().foreach(t => seen.add((t.user_id, t.n_events, t.total_value)))
      }.start()

    val q1 = start()
    in.addData(UserEvent(9L, 10.0), UserEvent(9L, 20.0))
    q1.processAllAvailable()
    q1.stop()

    val q2 = start() // same checkpoint → state must carry across restarts
    in.addData(UserEvent(9L, 30.0))
    q2.processAllAvailable()
    try {
      val latest = seen.toArray.map(_.asInstanceOf[(Long, Long, Double)])
        .filter(_._1 == 9L).maxBy(_._2)
      assert(latest._2 == 3L && latest._3 == 60.0,
        s"state lost across restart: $latest")
    } finally q2.stop()
  }

  test("stream-static enrichment joins each micro-batch against the dim table, broadcast") {
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val in = MemoryStream[(Long, Double)](spark)
    val enriched = StreamingOps.enrichWithStatic(
      in.toDF.toDF("user_id", "value"), dim, "user_id")
    val rows = runQuery(enriched, OutputMode.Append()) {
      in.addData((1L, 10.0), (2L, 5.0), (3L, 1.0))
    }.map(r => (r.getLong(0), Option(r.getString(2)))).sorted
    assert(rows.toSeq == Seq(
      (1L, Some("gold")), (2L, Some("silver")), (3L, None)),
      "left join must keep unmatched stream rows with null dim columns")
  }

  test("idempotent foreachBatch sink: restart replays a batch into the SAME dir, no dups") {
    import java.nio.file.Files
    val ckpt = Files.createTempDirectory("graft-upsert-ckpt").toFile.getAbsolutePath
    val out = Files.createTempDirectory("graft-upsert-out").toFile.getAbsolutePath
    // file source, not MemoryStream: the file-source log retains each batch's
    // manifest, so a batch whose sink commit is lost can actually be re-read
    // (MemoryStream purges data at source-commit time and cannot replay)
    val inDir = Files.createTempDirectory("graft-upsert-in").toFile
    def writeFile(name: String, lines: Seq[String]): Unit = {
      val tmp = new java.io.File(inDir, s".$name.tmp")
      java.nio.file.Files.write(tmp.toPath,
        lines.mkString("\n").getBytes("UTF-8"))
      assert(tmp.renameTo(new java.io.File(inDir, name))) // atomic publish
    }
    def start() = StreamingOps.idempotentParquetSink(
      spark.readStream.text(inDir.getAbsolutePath)
        .select(
          expr("cast(split(value, ',')[0] as long)").as("k"),
          expr("cast(split(value, ',')[1] as double)").as("v")),
      out, ckpt).start()

    writeFile("a.txt", Seq("1,1.0", "2,2.0"))
    val q1 = start()
    q1.processAllAvailable()
    q1.stop()

    // force a real replay: delete batch 0's commit marker, as if the process
    // died after the sink wrote but before the commit landed — on restart
    // Spark re-runs batch 0 from its offset log into the SAME batch_id dir
    val commit0 = new java.io.File(ckpt, "commits/0")
    assert(commit0.exists(), s"expected commit marker at $commit0")
    assert(commit0.delete())
    // local ChecksumFs keeps a shadow .crc next to the marker; leaving it
    // behind makes the replayed commit's rename collide (not a thing on HDFS)
    new java.io.File(ckpt, "commits/.0.crc").delete()

    writeFile("b.txt", Seq("3,3.0"))
    val q2 = start()
    q2.processAllAvailable()
    q2.stop()

    val result = spark.read.parquet(out)
      .select("k", "v").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(result.toSeq == Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)),
      s"replayed batch must overwrite its own partition, not append: ${result.toSeq}")
    // the replay really happened: batch 0's dir exists and carries only a.txt
    val b0 = spark.read.parquet(s"$out/batch_id=0")
      .select("k").collect().map(_.getLong(0)).sorted
    assert(b0.toSeq == Seq(1L, 2L))
  }

  test("streaming and batch twins produce identical tumbling aggregates") {
    val batch = Seq(
      (ts("2024-01-01 00:01:00"), "click", 1.5),
      (ts("2024-01-01 00:04:00"), "click", 2.5),
      (ts("2024-01-01 00:11:00"), "view", 4.0))
      .toDF("ts_t", "event_type", "value")
    // same transformation applied to a batch frame (unified-plan contract)
    val fromBatch = batch
      .groupBy(window(col("ts_t"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).sorted

    val in = MemoryStream[(Timestamp, String, Double)](spark)
    val streamed = runQuery(
      StreamingOps.tumblingCounts(in.toDF.toDF("ts_t", "event_type", "value"),
        "ts_t", "10 minutes", "5 minutes"), OutputMode.Update()) {
      in.addData(
        (ts("2024-01-01 00:01:00"), "click", 1.5),
        (ts("2024-01-01 00:04:00"), "click", 2.5),
        (ts("2024-01-01 00:11:00"), "view", 4.0))
    }.map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).sorted

    assert(streamed.toSeq == fromBatch.toSeq)
  }

  test("logfile stream: one big plain file is carved into multiple splits per trigger") {
    import java.nio.file.Files
    import java.nio.charset.StandardCharsets
    import graft.sources.logfile.{LogfileHwmOffset, LogfileMicroBatchStream, LogfilePartition,
      LogfileSplitGroup, LogfileTable}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val dir = Files.createTempDirectory("logfile-stream-split").toFile.getAbsolutePath
    val pat = """\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2},\d{3} .*"""
    val sb = new StringBuilder
    for (i <- 0 until 300) {
      sb.append(f"2017-01-01 00:00:${i % 60}%02d,000 INFO message-$i%03d with some padding\n")
      if (i % 5 == 0) sb.append("\tat continuation.spanning.splits(X.java:1)\n")
    }
    val file = new java.io.File(dir, "big.log")
    Files.write(file.toPath, sb.toString.getBytes(StandardCharsets.UTF_8))

    // the unsplit batch read is the truth set (also forces the shared
    // session, which LogfileMicroBatchStream's constructor looks up)
    val expected = spark.read.format("logfile").option("pattern", pat)
      .load(file.getAbsolutePath)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted

    // unit level: the micro-batch planner must carve the single admitted
    // file with the batch planner's maxSplitBytes rule, not one whole-file
    // partition per file
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", file.getAbsolutePath)
    opts.put("pattern", pat)
    opts.put("maxsplitbytes", "2048")
    val ms = new LogfileMicroBatchStream(
      new CaseInsensitiveStringMap(opts), LogfileTable.Schema)
    val end = ms.latestOffset(LogfileHwmOffset.Initial, ReadLimit.allAvailable())
    val parts = ms.planInputPartitions(LogfileHwmOffset.Initial, end)
    def ranges(ps: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      ps.toSeq.flatMap(_.asInstanceOf[LogfileSplitGroup].splits)
        .map { case LogfilePartition(p, s, e, pt) => (p, s, e, pt) }
    assert(ranges(parts).map(_._2) == (0L until file.length() by 2048L),
      s"a ${file.length()}-byte plain file at maxSplitBytes=2048 planned ${ranges(parts)}")
    // replays re-carve identically (pure function of the immutable file)
    assert(ranges(ms.planInputPartitions(LogfileHwmOffset.Initial, end)) == ranges(parts))

    // end-to-end: the split stream emits exactly the unsplit batch record set
    val q = spark.readStream.format("logfile")
      .option("pattern", pat).option("maxSplitBytes", "2048")
      .load(file.getAbsolutePath)
      .writeStream.format("memory").queryName("logsplit")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("logsplit")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).sorted
      assert(got.length == 300, s"expected 300 records, got ${got.length}")
      assert(got.toSeq == expected.toSeq,
        "split streaming batch must equal the unsplit batch read")
    } finally q.stop()
  }
}
