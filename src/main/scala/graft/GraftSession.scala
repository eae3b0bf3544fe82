package graft

import org.apache.spark.sql.SparkSession

/** Turnkey SparkSession factory with the engine's recommended configuration:
  * UTC semantics, AQE (incl. skew-join handling), nanosecond-parquet
  * compatibility, and the `graft` function extensions (`hamming64`)
  * pre-registered. `shufflePartitions` should track the executor-core count
  * on a real cluster (set to 32 under the project's local[32] contract).
  */
object GraftSession {

  def builder(master: String = "local[*]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // standard INT64 micros, not legacy INT96: INT96 carries no sane
      // footer comparator, so timestamp zone maps (file skipping on the #1
      // pruning dimension of a time-keyed table) only exist for INT64
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .withExtensions(new graft.functions.expressions.GraftExtensions)

  /** Post-build attachment for hooks that cannot ride
    * SparkSessionExtensions (or that must survive `getOrCreate` returning a
    * pre-existing session whose extensions were fixed at creation).
    * Idempotent; called by [[create]] and by the test base.
    */
  def attach(spark: SparkSession): SparkSession = {
    graft.functions.expressions.HammingDistance.register(spark)
    graft.functions.expressions.CosineSimilarity.register(spark)
    if (!spark.experimental.extraOptimizations
        .exists(_.isInstanceOf[graft.plans.RewriteSingletonRepartition]))
      spark.experimental.extraOptimizations ++=
        Seq(graft.plans.RewriteSingletonRepartition(spark))
    // "User Provided Optimizers" is the one optimizer batch that runs AFTER
    // V2ScanRelationPushDown — the only place the graft catalog's
    // log-derived statistics can be re-attached past Spark's V1ScanWrapper
    // (see GraftScanStatsRule) so JoinSelection can auto-broadcast
    if (!spark.experimental.extraOptimizations
        .contains(graft.tables.GraftScanStatsRule))
      spark.experimental.extraOptimizations ++=
        Seq(graft.tables.GraftScanStatsRule)
    // ANALYZE-fed CBO join reorder: Spark's own "Join Reorder" batch runs
    // BEFORE GraftScanStatsRule can re-wrap the V1ScanWrapper, so at that
    // point every graft relation reports no rowCount and CostBasedJoinReorder
    // skips. Re-running the same rule here — the batch runs AFTER the
    // re-wrap — lets it see the log-carried rowCount and the
    // ANALYZE-computed NDV attributeStats. The rule self-gates on
    // spark.sql.cbo.enabled && spark.sql.cbo.joinReorder.enabled, so this
    // is a strict no-op until the user opts into CBO.
    if (!spark.experimental.extraOptimizations
        .contains(org.apache.spark.sql.catalyst.optimizer.CostBasedJoinReorder))
      spark.experimental.extraOptimizations ++=
        Seq(org.apache.spark.sql.catalyst.optimizer.CostBasedJoinReorder)
    // byte-level substring_index / regexp_extract, for a session built
    // without GraftExtensions
    if (!spark.experimental.extraOptimizations.contains(graft.plans.ByteStringKernels))
      spark.experimental.extraOptimizations ++= Seq(graft.plans.ByteStringKernels)
    graft.plans.TopKPerGroup.ensureStrategy(spark)
    spark
  }

  /** Build + register the test tables as views when a data dir is given. */
  def create(master: String = "local[*]", shufflePartitions: Int = 32,
      tablesDir: Option[String] = None): SparkSession = {
    val spark = attach(builder(master, shufflePartitions).getOrCreate())
    tablesDir.foreach(Tables.registerAll(spark, _))
    spark
  }
}
