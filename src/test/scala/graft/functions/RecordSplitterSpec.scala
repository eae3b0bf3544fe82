package graft.functions

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import graft.SparkTestBase
import graft.sources.logfile.LogfileFixture

class RecordSplitterSpec extends SparkTestBase {

  test("in-memory splitter agrees with the DSv2 logfile source on the same bytes") {
    val dir = Files.createTempDirectory("splitter-parity").toFile.getAbsolutePath
    LogfileFixture.ensure(dir, files = 1, recordsPerFile = 2000, seed = 99L)
    val file = new java.io.File(dir, "fixture_0.log")
    val text = new String(Files.readAllBytes(file.toPath), StandardCharsets.UTF_8)

    val inMemory = RecordSplitter.split(text, LogfileFixture.PatternA)
    val viaSource = spark.read.format("logfile")
      .option("pattern", LogfileFixture.PatternA)
      .load(file.getAbsolutePath)
      .orderBy("offset").collect().map(_.getAs[String]("record")).toSeq

    assert(inMemory.length == viaSource.length)
    assert(inMemory == viaSource, "record-by-record parity with the source")
  }

  test("CRLF and lone-CR text splits into the records the source reads") {
    val dir = Files.createTempDirectory("splitter-crlf").toFile
    LogfileFixture.ensure(dir.getAbsolutePath, files = 1, recordsPerFile = 300, seed = 7L)
    val lf = new String(Files.readAllBytes(new java.io.File(dir, "fixture_0.log").toPath),
      StandardCharsets.UTF_8)
    for ((terminator, name) <- Seq("\r\n" -> "crlf.log", "\r" -> "cr.log")) {
      val text = lf.replace("\n", terminator)
      val file = new java.io.File(dir, name)
      Files.write(file.toPath, text.getBytes(StandardCharsets.UTF_8))
      val viaSource = spark.read.format("logfile")
        .option("pattern", LogfileFixture.PatternA)
        .load(file.getAbsolutePath)
        .orderBy("offset").collect().map(_.getAs[String]("record")).toSeq
      assert(viaSource.length == 300, name)
      assert(RecordSplitter.split(text, LogfileFixture.PatternA) == viaSource, name)
    }
  }

  test("leading junk dropped; trailing newline doesn't fabricate a continuation") {
    val p = """H\d+"""
    assert(RecordSplitter.split("junk\nH1\nc1\nH2", p) == Seq("H1\nc1", "H2"))
    assert(RecordSplitter.split("H1\nc1\n", p) == Seq("H1\nc1"))
    assert(RecordSplitter.split("H1\n\n", p) == Seq("H1\n")) // real empty continuation
    assert(RecordSplitter.split("no heads at all", p) == Seq.empty)
  }
}
