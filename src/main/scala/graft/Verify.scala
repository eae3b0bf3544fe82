package graft
import com.fasterxml.jackson.core.io.JsonStringEncoder
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    if (args.length < 2 || args.length > 3) {
      System.err.println("usage: graft.Verify <sfDir> <outDir> [qname,qname,...]")
      sys.exit(2)
    }
    val (sfDir, outDir) = (args(0), args(1))
    // optional dev-loop filter: only dump the named queries (driver passes 2 args)
    val only: Option[Set[String]] = args.lift(2).map(_.split(",").toSet)
    // the harness's session: GraftExtensions included (the SQL UPDATE /
    // MERGE INTO rewrite and the graft functions need analyzer/planner
    // injection at session build)
    val spark = Bench.session()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** `oracle_sql.json`: query name → DuckDB SQL. Full JSON string escaping
    * (backslash, quote, ALL control chars): one tab or CR in a query's SQL
    * would otherwise make the whole file unparseable for the oracle compare.
    */
  def oracleJson(sql: Map[String, String]): String = {
    def q(s: String): String = "\"" + new String(JsonStringEncoder.getInstance.quoteAsString(s)) + "\""
    sql.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
  }
}
