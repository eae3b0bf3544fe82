package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The harness's argument parsing and the JSON it writes for the driver:
  * both are pure, so neither needs a session.
  */
class BenchSpec extends AnyFunSuite {
  import Bench._

  private val known = SparkEntry.queries.keySet
  private val q1 = "q01_agg_pricing_summary"
  private val q2 = "q19_topk_orders"
  private def parse(args: String*) = Bench.parse(args, known, "sf-default")

  test("arguments name a mode with its defaults") {
    assert(parse() == Right(Suite("sf-default")))
    assert(parse("ab", "sf", s"$q1, $q2") == Right(AB("sf", Seq(q1, q2), 4)))
    assert(parse("ab", "sf", q1, "7") == Right(AB("sf", Seq(q1), 7)))
    assert(parse("profile", "sf", q2) == Right(AB("sf", Seq(q2), 2, profile = true)))
    assert(parse("cold-warm") == Right(ColdWarm("sf-default")))
    assert(parse("cold-warm", "sf") == Right(ColdWarm("sf")))
    assert(parse("explain", "sf") == Right(Explain("sf", ExplainDefault)))
    assert(parse("explain", "sf", q2, q1) == Right(Explain("sf", Seq(q2, q1))))
  }

  test("an unknown mode, an unknown query or a bad count is rejected before any session starts") {
    val bad = Seq(
      Seq("nope"), Seq("ab"), Seq("ab", "sf"), Seq("ab", "sf", ","),
      Seq("ab", "sf", s"$q1,nope"), Seq("ab", "sf", q1, "0"), Seq("ab", "sf", q1, "x"),
      Seq("ab", "sf", q1, "3", "extra"), Seq("profile", "sf", "nope"),
      Seq("profile", "sf", q1, "-1"), Seq("cold-warm", "sf", "extra"),
      Seq("explain"), Seq("explain", "sf", "nope"), Seq("q01_agg_pricing_summary"))
    for (args <- bad) assert(parse(args: _*).isLeft, args.mkString(" "))
    assert(parse("ab", "sf", s"$q1,nope") == Left("unknown query: nope"))
  }

  private val mapper = new ObjectMapper()
  private val hostile = "boom:\ttab\nnewline \"quoted\" back\\slash \u0001 end"

  test("the suite's JSON lines parse and round-trip an error message with control characters") {
    val results = Seq(("q_ok", 1.5, None), ("q_bad", 0.25, Some(hostile)))
    val (full, compact) = suiteLines(results, retried = 1, warmRetimed = 2,
      loadStart = 1.234, loadEnd = -1.0, sfDir = "sf")
    val f = mapper.readTree(full)
    assert(f.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "queries", "errors",
      "n_retimed", "n_warm_retimed", "load_avg_start", "load_avg_end", "bench_cpus", "sf"))
    assert(f.get("errors").get("q_bad").asText == hostile)
    assert(f.get("queries").get("q_bad").asDouble == -0.25, "a failed query's time is negated")
    assert(f.get("value").asDouble == 1.75)
    assert(f.get("load_avg_start").asText == "1.23" && f.get("load_avg_end").isNull)
    val c = mapper.readTree(compact)
    assert(c.fieldNames().asScala.toSeq == Seq("metric", "value", "unit", "n_queries", "n_errors",
      "n_retimed", "n_warm_retimed", "load_avg_start", "load_avg_end", "bench_cpus", "slowest", "sf"))
    assert(c.get("n_errors").asInt == 1)
    assert(c.get("slowest").fieldNames().asScala.toSeq == Seq("q_ok", "q_bad"))
  }

  test("oracle_sql.json parses and round-trips SQL with control characters") {
    val sql = Map("q_hostile" -> s"SELECT '$hostile' AS s", "q_plain" -> "SELECT 1")
    val parsed = mapper.readTree(Verify.oracleJson(sql))
    assert(parsed.fieldNames().asScala.toSet == sql.keySet)
    sql.foreach { case (k, v) => assert(parsed.get(k).asText == v) }
  }
}
