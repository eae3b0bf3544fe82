package graft.tables

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, V1ScanWrapper}

/** Forward the graft scan's log-derived statistics past Spark's V1 bridge.
  *
  * The catalog's read face is a [[org.apache.spark.sql.connector.read.V1Scan]]
  * (full type support through the public JDBC-v2 bridge), and that scan now
  * reports REAL statistics — zone-map-pruned file bytes, deletion-vector
  * adjusted, column-ratio scaled ([[GraftTable.estimatedScan]]). But
  * `V2ScanRelationPushDown` wraps every V1Scan in a `V1ScanWrapper` that
  * does NOT forward `SupportsReportStatistics`, so by the time JoinSelection
  * reads the relation's stats it sees `defaultSizeInBytes` (effectively
  * infinite) — a KB-scale graft dimension table could never auto-broadcast,
  * and every join against it paid a full shuffle (Spark's own JDBC-v2
  * connector has the same blind spot). This pre-CBO rule re-wraps with a
  * stats-forwarding SUBCLASS: the physical strategy still matches (it
  * type-tests `V1ScanWrapper`), execution is untouched, and `computeStats`
  * now sees the scan's estimate. The estimate only ever errs HIGH (an
  * unresolvable predicate simply doesn't shrink it), so at 100 TB the fact
  * side can never be tricked INTO a broadcast — only the genuinely-small
  * side out of a needless shuffle.
  */
object GraftScanStatsRule extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case rel: DataSourceV2ScanRelation
        if rel.scan.isInstanceOf[V1ScanWrapper] &&
          !rel.scan.isInstanceOf[StatsForwardingV1ScanWrapper] &&
          rel.scan.asInstanceOf[V1ScanWrapper].v1Scan
            .isInstanceOf[SupportsReportStatistics] =>
      rel.copy(scan =
        new StatsForwardingV1ScanWrapper(rel.scan.asInstanceOf[V1ScanWrapper]))
  }
}

/** A `V1ScanWrapper` that also reports the wrapped scan's statistics.
  * Equality/matching stay case-class-compatible (same product elements), so
  * every downstream consumer of the wrapper behaves identically.
  */
private[tables] final class StatsForwardingV1ScanWrapper(w: V1ScanWrapper)
  extends V1ScanWrapper(w.v1Scan, w.handledFilters, w.pushedDownOperators)
  with SupportsReportStatistics {
  override def estimateStatistics(): Statistics =
    w.v1Scan.asInstanceOf[SupportsReportStatistics].estimateStatistics()
  // MUST differ from the plain wrapper under case-class equality: Catalyst's
  // transform keeps the ORIGINAL node when the rewrite compares fastEquals
  // to it, which would silently drop this rewrite (two forwarding wrappers
  // of the same scan still compare equal to each other — reuse intact)
  override def canEqual(that: Any): Boolean =
    that.isInstanceOf[StatsForwardingV1ScanWrapper]
  override def equals(that: Any): Boolean = that match {
    case s: StatsForwardingV1ScanWrapper => super.equals(s)
    case _ => false
  }
}
