package graft.tables

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._

/** Maintenance procedures for the SQL face — the Spark 4 `ProcedureCatalog`
  * surface (`CALL graft.system.<proc>(...)`), the same operational story
  * the published lakehouse catalogs expose as stored procedures:
  *
  * {{{
  *   CALL graft.system.compact(table => 'ns.t')
  *   CALL graft.system.optimize(table => 'ns.t', cluster_by => 'a,b')
  *   CALL graft.system.vacuum(table => 'ns.t', retention_ms => 0)
  * }}}
  *
  * Each procedure resolves the dotted table name through the owning
  * catalog's memoized handles, delegates to the spec-pinned native op
  * (`compact` / `optimize` / `vacuum` — snapshot-atomic commits, Spark
  * jobs for all data movement), and returns a one-row result scan
  * (`LocalScan` — driver metadata, no job). Argument binding, defaults,
  * and named-argument syntax are Spark's; the procedures declare typed
  * parameters with SQL-text default values.
  */
private[tables] object GraftProcedures {

  val Namespace: Array[String] = Array("system")

  def names: Seq[String] =
    Seq("compact", "optimize", "vacuum", "restore", "clone", "expire_history",
      "set_partitioning", "create_branch", "fast_forward", "drop_branch",
      "create_tag", "drop_tag", "analyze")

  def load(resolve: String => GraftTable, name: String,
      pathFor: String => String = _ => throw new UnsupportedOperationException(
        "this catalog does not resolve destination paths"),
      invalidate: String => Unit = _ => ()): Option[UnboundProcedure] =
    name.toLowerCase match {
      case "compact" => Some(CompactProc(resolve))
      case "optimize" => Some(OptimizeProc(resolve))
      case "vacuum" => Some(VacuumProc(resolve))
      case "restore" => Some(RestoreProc(resolve))
      case "clone" => Some(CloneProc(resolve, pathFor))
      case "expire_history" => Some(ExpireHistoryProc(resolve))
      case "set_partitioning" => Some(SetPartitioningProc(resolve, invalidate))
      case "create_branch" => Some(CreateBranchProc(resolve))
      case "fast_forward" => Some(FastForwardProc(resolve, invalidate))
      case "drop_branch" => Some(DropBranchProc(resolve))
      case "create_tag" => Some(CreateTagProc(resolve))
      case "drop_tag" => Some(DropTagProc(resolve))
      case "analyze" => Some(AnalyzeProc(resolve))
      case _ => None
    }

  private def param(name: String, dt: DataType, default: String, doc: String) =
    ProcedureParameter.in(name, dt).defaultValue(default).comment(doc).build()

  private def reqParam(name: String, dt: DataType, doc: String) =
    ProcedureParameter.in(name, dt).comment(doc).build()

  /** One-row driver-side result (version numbers / file counts). */
  private final class ResultScan(schema: StructType, row: InternalRow) extends LocalScan {
    override def rows(): Array[InternalRow] = Array(row)
    override def readSchema(): StructType = schema
  }

  private def result(schema: StructType, values: Any*): util.Iterator[Scan] =
    util.Collections.singletonList[Scan](
      new ResultScan(schema, new GenericInternalRow(values.toArray))).iterator()

  private abstract class GraftProc(resolve: String => GraftTable)
    extends UnboundProcedure with BoundProcedure {
    override def bind(inputType: StructType): BoundProcedure = this
    override def isDeterministic: Boolean = false // side-effecting commits
    protected def table(row: InternalRow): GraftTable = {
      val dotted = row.getUTF8String(0)
      require(dotted != null && dotted.numChars() > 0, "table must be non-empty")
      resolve(dotted.toString)
    }
  }

  private val VersionSchema = StructType(Seq(StructField("version", LongType)))

  private case class CompactProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "compact"
    override def description(): String =
      "coalesce small files into one snapshot-atomic commit"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      param("small_file_bytes", LongType, (32L << 20).toString,
        "files below this size are rewritten together"),
      param("target_bytes", LongType, (128L << 20).toString,
        "approximate output file size"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val v = table(input).compact(input.getLong(1), input.getLong(2))
      result(VersionSchema, v)
    }
  }

  private case class OptimizeProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "optimize"
    override def description(): String =
      "rewrite all active files clustered (range sort / Z-order) for data skipping"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      reqParam("cluster_by", StringType,
        "comma-separated cluster columns (1 = range sort, 2-4 = Z-order)"),
      param("target_bytes", LongType, (128L << 20).toString,
        "approximate output file size"),
      param("where", StringType, "''",
        "partition predicate scoping the rewrite (OPTIMIZE ... WHERE); " +
          "empty = whole table"),
      param("only_unclustered", BooleanType, "false",
        "incremental: skip files a prior optimize produced at this spec — " +
          "pay O(new data), not O(table)"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val cols = input.getUTF8String(1).toString.split(',').toIndexedSeq
        .map(_.trim).filter(_.nonEmpty)
      val whereSql = Option(input.getUTF8String(3)).map(_.toString).filter(_.nonEmpty)
      val onlyUnclustered = !input.isNullAt(4) && input.getBoolean(4)
      val v = table(input).optimize(cols, input.getLong(2),
        whereSql.map(org.apache.spark.sql.functions.expr), onlyUnclustered)
      result(VersionSchema, v)
    }
  }

  /** Partition evolution through SQL — metadata-only spec change; the
    * owning catalog's memoized handle is invalidated afterwards so the next
    * statement writes under the new spec (a stale handle would fail the
    * commit guard loud, but re-opening here keeps the SQL flow seamless).
    */
  private case class SetPartitioningProc(resolve: String => GraftTable,
      invalidate: String => Unit) extends GraftProc(resolve) {
    override def name(): String = "set_partitioning"
    override def description(): String =
      "change the partition spec going forward (metadata-only commit; " +
        "existing files keep their layout and stay exact)"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      param("specs", StringType, "''",
        "semicolon-separated partition specs — identity column names or " +
          "transforms like 'bucket(8,k);days(ts)'; empty = unpartitioned"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val dotted = input.getUTF8String(0).toString
      val specs = Option(input.getUTF8String(1)).map(_.toString).getOrElse("")
        .split(';').toIndexedSeq.map(_.trim).filter(_.nonEmpty)
      val v = table(input).setPartitioning(specs)
      invalidate(dotted)
      result(VersionSchema, v)
    }
  }

  private case class RestoreProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "restore"
    override def description(): String =
      "restore the table to a past version's state (data, schema, column map) as one new commit"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      reqParam("version", LongType, "target version (must predate vacuum)"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val v = table(input).restore(input.getLong(1))
      result(VersionSchema, v)
    }
  }

  /** `CALL graft.system.clone(source => 'ns.t', target => 'ns.t2'
    *  [, version => N])` — shallow clone: one metadata commit at the
    * target referencing the source's files; zero data copied. See
    * [[GraftTable.cloneTo]] for semantics and the source-vacuum hazard.
    */
  private case class CloneProc(resolve: String => GraftTable,
      pathFor: String => String) extends GraftProc(resolve) {
    override def name(): String = "clone"
    override def description(): String =
      "shallow-clone a table: one metadata commit referencing the source's files, zero data copied"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("source", StringType, "dotted source table under this catalog"),
      reqParam("target", StringType, "dotted target table (must not exist)"),
      param("version", LongType, "-1", "source version to clone (-1 = latest)"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val src = table(input)
      val target = input.getUTF8String(1)
      require(target != null && target.numChars() > 0, "target must be non-empty")
      val ver = input.getLong(2)
      val t = src.cloneTo(pathFor(target.toString),
        if (ver < 0) None else Some(ver))
      result(VersionSchema, t.version)
    }
  }

  /** `CALL graft.system.expire_history(table => 'ns.t', before_version
    *  => N)` — bound the commit log: delete commit files below the horizon
    * after making it self-sufficient (state + txn set checkpoint). See
    * [[GraftTable.expireHistory]].
    */
  private case class ExpireHistoryProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "expire_history"
    override def description(): String =
      "delete commit-log history below a version (current reads, newer time travel, txn replays unaffected)"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      reqParam("before_version", LongType,
        "versions below this are expired; it becomes the oldest"),
      param("dry_run", BooleanType, "false",
        "report how many commits would be expired (and validate the " +
          "horizon) without writing or deleting anything"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val dryRun = !input.isNullAt(2) && input.getBoolean(2)
      val n = table(input).expireHistory(input.getLong(1), dryRun)
      result(StructType(Seq(StructField("expired_commits", IntegerType),
        StructField("dry_run", BooleanType))), n, dryRun)
    }
  }

  /** WAP branch surface: `create_branch` cuts an isolated writable branch
    * at the current version, `fast_forward` publishes its net state back
    * as one atomic commit (and consumes it), `drop_branch` abandons it.
    * See [[GraftTable.createBranch]].
    */
  private case class CreateBranchProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "create_branch"
    override def description(): String =
      "cut a writable branch at the current version (write-audit-publish)"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      reqParam("name", StringType, "branch name ([A-Za-z_][A-Za-z0-9_-]*)"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = table(input)
      val name = input.getUTF8String(1).toString
      t.createBranch(name)
      result(StructType(Seq(StructField("branch_point", LongType))),
        t.branchPoint(name))
    }
  }

  private case class FastForwardProc(resolve: String => GraftTable,
      invalidate: String => Unit) extends GraftProc(resolve) {
    override def name(): String = "fast_forward"
    override def description(): String =
      "publish a branch: main's state becomes the branch's state in one atomic commit; the branch is consumed"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      reqParam("name", StringType, "branch to publish"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val dotted = input.getUTF8String(0).toString
      val v = table(input).fastForward(input.getUTF8String(1).toString)
      invalidate(dotted)
      result(VersionSchema, v)
    }
  }

  private case class DropBranchProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "drop_branch"
    override def description(): String =
      "abandon a branch: its local files and log are deleted; main is untouched"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      reqParam("name", StringType, "branch to drop"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      table(input).dropBranch(input.getUTF8String(1).toString)
      result(StructType(Seq(StructField("dropped", BooleanType))), true)
    }
  }

  /** TAG surface: `create_tag` pins an immutable named version (vacuum +
    * expire_history respect it until `drop_tag`). See
    * [[GraftTable.createTag]].
    */
  private case class CreateTagProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "create_tag"
    override def description(): String =
      "pin an immutable named version (read via VERSION AS OF '<tag>'; vacuum/expire respect it)"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      reqParam("name", StringType, "tag name ([A-Za-z_][A-Za-z0-9_-]*)"),
      param("version", LongType, "-1",
        "version to pin (default: the current version)"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val t = table(input)
      val at =
        if (input.isNullAt(2) || input.getLong(2) < 0L) None
        else Some(input.getLong(2))
      val v = t.createTag(input.getUTF8String(1).toString, at)
      result(StructType(Seq(StructField("pinned_version", LongType))), v)
    }
  }

  private case class DropTagProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "drop_tag"
    override def description(): String =
      "delete a tag: its pinned version's files become reclaimable by vacuum/expire"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      reqParam("name", StringType, "tag to drop"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      table(input).dropTag(input.getUTF8String(1).toString)
      result(StructType(Seq(StructField("dropped", BooleanType))), true)
    }
  }

  /** ANALYZE: one-pass per-column approximate distinct counts into the
    * commit log; the scan forwards them as CBO column statistics. See
    * [[GraftTable.analyze]].
    */
  private case class AnalyzeProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "analyze"
    override def description(): String =
      "compute per-column NDV statistics (one pass) for CBO join estimation/reordering"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      param("columns", StringType, "''",
        "comma-separated columns (empty = every atomic column)"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val cols = Option(input.getUTF8String(1)).map(_.toString).getOrElse("")
        .split(',').toIndexedSeq.map(_.trim).filter(_.nonEmpty)
      val ndv = table(input).analyze(cols)
      result(StructType(Seq(StructField("analyzed_columns", LongType))),
        ndv.size.toLong)
    }
  }

  private case class VacuumProc(resolve: String => GraftTable)
    extends GraftProc(resolve) {
    override def name(): String = "vacuum"
    override def description(): String =
      "physically delete files unreferenced by the current snapshot (past the retention window)"
    override def parameters(): Array[ProcedureParameter] = Array(
      reqParam("table", StringType, "dotted table name under this catalog"),
      param("retention_ms", LongType, (7L * 24 * 60 * 60 * 1000).toString,
        "grace window: younger unreferenced files are kept (in-flight writers)"),
      param("dry_run", BooleanType, "false",
        "report what would be reclaimed without deleting anything"))
    override def call(input: InternalRow): util.Iterator[Scan] = {
      val dryRun = !input.isNullAt(2) && input.getBoolean(2)
      val deleted = table(input).vacuum(input.getLong(1), dryRun)
      result(
        StructType(Seq(StructField("deleted_files", LongType),
          StructField("dry_run", BooleanType))),
        deleted.size.toLong, dryRun)
    }
  }
}
