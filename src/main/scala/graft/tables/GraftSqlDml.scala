package graft.tables

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, AttributeSet, Cast, EqualTo, Exists, Expression, InSubquery, Not, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{expr, lit}

/** SQL row-level DML for graft catalog tables — the analyzer rewrite that
  * routes `UPDATE graft.ns.t SET ... WHERE ...` and the upsert-shaped
  * `MERGE INTO graft.ns.t USING src ON t.k = s.k WHEN MATCHED THEN UPDATE
  * SET * WHEN NOT MATCHED THEN INSERT *` to the native log-backed ops
  * ([[GraftTable.update]] / [[GraftTable.merge]]: touched-file rewrite +
  * one snapshot-atomic commit), the same delegation pattern the published
  * lakehouse SQL layers use (an injected resolution rule replacing the
  * unsupported-by-default V2 DML plan with a runnable command).
  *
  * Injected via `GraftExtensions` (post-hoc resolution), so any session
  * built with the engine's extensions speaks DML SQL against the catalog.
  * Scope is loud, never silent: UPDATE takes any non-subquery assignments
  * and condition; MERGE takes exactly the upsert shape `merge` implements
  * (key-equality ON, UPDATE SET * / INSERT *, no extra clauses) — anything
  * else raises an error naming the supported form and the programmatic
  * route, instead of Spark's opaque "table does not support" failure.
  *
  * Expressions cross from the DML plan to the fresh snapshot scan inside
  * `update` as SQL text (qualifiers stripped): the target's attribute ids
  * are meaningless against the re-read files, while the SQL round-trip
  * re-resolves by name with identical semantics — and is byte-for-byte the
  * dialect the oracle cross-checks.
  */
final case class GraftSqlDmlRule(session: SparkSession)
  extends Rule[LogicalPlan] {

  private def graftTarget(p: LogicalPlan): Option[GraftSqlTable] = p match {
    case SubqueryAlias(_, child) => graftTarget(child)
    case r: DataSourceV2Relation => r.table match {
      case g: GraftSqlTable => Some(g)
      case _ => None
    }
    case _ => None
  }

  /** Qualifier-free SQL text of a resolved expression (fails loud on
    * subqueries — a scalar/IN subquery cannot re-resolve against the
    * snapshot scan).
    */
  private def toSql(e: Expression, what: String): String = {
    require(!e.exists(_.isInstanceOf[SubqueryExpression]),
      s"graft SQL $what does not support subqueries; " +
        "compute the subquery into a source frame and use the programmatic " +
        "API (GraftTable.update/merge) or a MERGE USING (...) source")
    e.transform {
      case a: AttributeReference => a.withQualifier(Nil)
    }.sql
  }

  private def requireLive(g: GraftSqlTable, op: String): GraftTable = {
    require(g.timeTravel.isEmpty,
      s"$op must target the live table, not a VERSION AS OF read")
    g.underlying
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
    case u: UpdateTable if u.resolved && graftTarget(u.table).isDefined =>
      val gt = requireLive(graftTarget(u.table).get, "UPDATE")
      val assigns = u.assignments.map { a =>
        a.key match {
          case k: AttributeReference => k.name -> toSql(a.value, "UPDATE SET")
          case other => throw new UnsupportedOperationException(
            s"graft SQL UPDATE supports top-level columns only, got $other")
        }
      }
      u.condition.filter(_.exists(_.isInstanceOf[SubqueryExpression])) match {
        case Some(cond) =>
          // uncorrelated EXISTS gate: constant for the whole statement —
          // evaluate once at run, then the plain-residue update (or no-op)
          val (gate, negate, residue) = existsGate(cond, "UPDATE")
          GraftGatedDmlSqlCommand(gt,
            org.apache.spark.sql.graftbridge.GraftPlanBridge.ofRows(session, gate),
            negate, residue.map(toSql(_, "UPDATE WHERE")), Some(assigns))
        case None =>
          GraftUpdateSqlCommand(gt, assigns, u.condition.map(toSql(_, "UPDATE WHERE")))
      }

    // DELETE with a subquery condition (plain DELETEs keep the
    // SupportsDelete filter path): an uncorrelated `col IN (SELECT …)`
    // lowers to the keyed semi-join delete, an uncorrelated [NOT] EXISTS
    // to a constant-gated predicate delete; anything correlated stays
    // loud naming the MERGE route.
    case d: DeleteFromTable
        if d.resolved && graftTarget(d.table).isDefined &&
          d.condition.exists(_.isInstanceOf[SubqueryExpression]) =>
      val gt = requireLive(graftTarget(d.table).get, "DELETE")
      translateSubqueryDelete(d, gt)

    case m: MergeIntoTable if m.resolved && graftTarget(m.targetTable).isDefined =>
      val gt = requireLive(graftTarget(m.targetTable).get, "MERGE INTO")
      translateMerge(m, gt)

    // dynamic partition overwrite (`partitionOverwriteMode=dynamic` /
    // DataFrameWriterV2.overwritePartitions): Spark has no V1 fallback for
    // OverwritePartitionsDynamic, so route it to the native one-commit
    // replacePartitions here — same delegation as UPDATE / MERGE
    case o: org.apache.spark.sql.catalyst.plans.logical.OverwritePartitionsDynamic
        if o.query.resolved && graftTarget(o.table).isDefined =>
      val gt = requireLive(graftTarget(o.table).get, "dynamic INSERT OVERWRITE")
      GraftReplacePartitionsSqlCommand(gt,
        org.apache.spark.sql.graftbridge.GraftPlanBridge.ofRows(session, o.query))
  }

  private def andConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      andConjuncts(l) ++ andConjuncts(r)
    case other => Seq(other)
  }

  private def uncastExpr(e: Expression): Expression = e match {
    case c: Cast => uncastExpr(c.child)
    case other => other
  }

  /** Split `cond` into ONE uncorrelated [NOT] EXISTS conjunct + a plain
    * residue: (subquery plan, negated?, residue). Loud on anything else.
    */
  private def existsGate(cond: Expression,
      op: String): (LogicalPlan, Boolean, Option[Expression]) = {
    val (subq, plain) = andConjuncts(cond)
      .partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    def loud(what: String): Nothing = throw new UnsupportedOperationException(
      s"graft SQL $op: $what; supported subquery shapes: one uncorrelated " +
        "[NOT] EXISTS (SELECT …) conjunct" +
        (if (op == "DELETE") " or one uncorrelated `col IN (SELECT …)` conjunct"
         else "") +
        " plus plain predicates — correlated subqueries go through " +
        "MERGE INTO … WHEN MATCHED or the programmatic GraftTable API")
    if (subq.size != 1) loud(s"${subq.size} subquery conjuncts")
    val residue = plain.reduceOption(
      org.apache.spark.sql.catalyst.expressions.And(_, _))
    subq.head match {
      case e: Exists if e.outerAttrs.isEmpty => (e.plan, false, residue)
      case Not(e: Exists) if e.outerAttrs.isEmpty => (e.plan, true, residue)
      case e: Exists => loud(s"EXISTS is correlated (outer refs: " +
        s"${e.outerAttrs.map(_.sql).mkString(", ")})")
      case other => loud(s"unsupported subquery conjunct ${other.sql}")
    }
  }

  /** Lower `DELETE … WHERE <cond with a subquery>`: the `col IN (SELECT …)`
    * conjunct becomes the keyed semi-join delete ([[GraftTable
    * .deleteMatching]] — the key set is joined, never collected); an
    * uncorrelated [NOT] EXISTS becomes a statement-constant gate on the
    * plain-residue delete.
    */
  private def translateSubqueryDelete(d: DeleteFromTable, gt: GraftTable): LogicalPlan = {
    val (subq, plain) = andConjuncts(d.condition)
      .partition(_.exists(_.isInstanceOf[SubqueryExpression]))
    def loud(what: String): Nothing = throw new UnsupportedOperationException(
      s"graft SQL DELETE: $what; supported subquery shapes: one " +
        "uncorrelated `col IN (SELECT …)` or uncorrelated [NOT] EXISTS " +
        "conjunct plus plain predicates — correlated subqueries (and NOT " +
        "IN, whose null semantics are a footgun) go through MERGE INTO … " +
        "WHEN MATCHED THEN DELETE or the programmatic GraftTable API")
    if (subq.size != 1) loud(s"${subq.size} subquery conjuncts")
    val residueSql = plain.reduceOption(
        org.apache.spark.sql.catalyst.expressions.And(_, _))
      .map(toSql(_, "DELETE WHERE"))
    subq.head match {
      case InSubquery(Seq(value), l) if l.outerAttrs.isEmpty =>
        val on = uncastExpr(value) match {
          case a: AttributeReference => a.name
          case other => loud(s"IN must test a top-level column, got ${other.sql}")
        }
        GraftDeleteMatchingSqlCommand(gt,
          org.apache.spark.sql.graftbridge.GraftPlanBridge.ofRows(session, l.plan),
          on, residueSql)
      case InSubquery(vs, _) if vs.size != 1 =>
        loud(s"multi-column IN (${vs.size} values) is not lowered")
      case _: InSubquery => loud("the IN subquery is correlated")
      case Not(_: InSubquery) => loud("NOT IN is not lowered")
      case e: Exists if e.outerAttrs.isEmpty =>
        GraftGatedDmlSqlCommand(gt,
          org.apache.spark.sql.graftbridge.GraftPlanBridge.ofRows(session, e.plan),
          negate = false, residueSql, assignments = None)
      case Not(e: Exists) if e.outerAttrs.isEmpty =>
        GraftGatedDmlSqlCommand(gt,
          org.apache.spark.sql.graftbridge.GraftPlanBridge.ofRows(session, e.plan),
          negate = true, residueSql, assignments = None)
      case e: Exists => loud(s"EXISTS is correlated (outer refs: " +
        s"${e.outerAttrs.map(_.sql).mkString(", ")})")
      case other => loud(s"unsupported subquery conjunct ${other.sql}")
    }
  }

  /** Lower a MERGE. The exact upsert shape (`ON t.k = s.k WHEN MATCHED
    * THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *`) takes the
    * fast path ([[GraftTable.merge]] — whole-row replace, anti-join
    * insert); every other conditional-clause combination lowers to the
    * generalized [[GraftTable.mergeInto]]. The ON condition must CONTAIN
    * key equality; extra conjuncts (`ON t.k = s.k AND t.region = s.region
    * AND t.day >= DATE'…'`) ride along as the table op's `extraOn` —
    * standard compound-ON semantics (a key-matching pair failing the
    * residue is NOT matched), with the target-only conjuncts pruning the
    * candidate-file set through the logged zone maps. NOT MATCHED BY
    * SOURCE is supported; a non-conjunctive ON (OR at the top) stays loud.
    */
  private def translateMerge(m: MergeIntoTable, gt: GraftTable): LogicalPlan = {
    val supported = "supported: MERGE INTO t USING s ON t.<key> = s.<key> " +
      "[AND <conjuncts>] with WHEN MATCHED [AND cond] THEN UPDATE SET ... " +
      "| DELETE, WHEN NOT MATCHED [AND cond] THEN INSERT ..., and WHEN NOT " +
      "MATCHED BY SOURCE [AND cond] THEN UPDATE SET ... | DELETE clauses " +
      "(key = the table's 'key' property); ON shapes without a key-equality " +
      "conjunct go through the programmatic GraftTable API"
    def unsupported(what: String): Nothing =
      throw new UnsupportedOperationException(s"graft MERGE INTO: $what; $supported")

    val key = gt.keyCol.getOrElse(unsupported(
      "the target table has no 'key' table property"))
    val targetOut = AttributeSet(m.targetTable.output)
    val sourceOut = AttributeSet(m.sourceTable.output)

    // type coercion wraps narrower source literals/columns in casts
    // (`t.k = CAST(s.k AS BIGINT)`): the SHAPE is still key equality —
    // see through them; real casts are applied on the values below
    def uncast(e: Expression): Expression = e match {
      case c: Cast => uncast(c.child)
      case other => other
    }

    // ON = one key-equality conjunct + any residue; the residue becomes
    // the table op's extraOn (rendered below once toSrcSql is in scope)
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def isKeyEquality(e: Expression): Boolean = e match {
      case EqualTo(lc, rc) => (uncast(lc), uncast(rc)) match {
        case (l: AttributeReference, r: AttributeReference) =>
          l.name.equalsIgnoreCase(key) && r.name.equalsIgnoreCase(key) &&
            ((targetOut.contains(l) && sourceOut.contains(r)) ||
             (targetOut.contains(r) && sourceOut.contains(l)))
        case _ => false
      }
      case _ => false
    }
    val (keyEqs, extraConjuncts) = conjuncts(m.mergeCondition).partition(isKeyEquality)
    if (keyEqs.isEmpty) unsupported(
      s"ON must contain a key-equality conjunct on '$key', got ${m.mergeCondition.sql}")
    /** `SET * / INSERT *` after star expansion: every target column
      * assigned from the same-named source column.
      */
    def isStarAssigns(assigns: Seq[Assignment]): Boolean = {
      val cols = gt.schema.fieldNames.map(_.toLowerCase).toSet
      assigns.size == cols.size &&
        assigns.map { a =>
          (a.key, uncast(a.value)) match {
            case (k: AttributeReference, v: AttributeReference)
              if k.name.equalsIgnoreCase(v.name) &&
                targetOut.contains(k) && sourceOut.contains(v) => k.name.toLowerCase
            case _ => return false
          }
        }.toSet == cols
    }
    val exactUpsert =
      extraConjuncts.isEmpty &&
      m.notMatchedBySourceActions.isEmpty &&
      (m.matchedActions match {
        case Seq(UpdateStarAction(None)) => true
        case Seq(UpdateAction(None, assigns, _)) => isStarAssigns(assigns)
        case _ => false
      }) &&
      (m.notMatchedActions match {
        case Seq(InsertStarAction(None)) => true
        case Seq(InsertAction(None, assigns)) => isStarAssigns(assigns)
        case _ => false
      })

    val src = org.apache.spark.sql.graftbridge.GraftPlanBridge
      .ofRows(session, m.sourceTable)

    if (exactUpsert) {
      // name the source's columns after the target's and cast each to the
      // table's exact type (resolution already validated assignability;
      // the cast makes the coercion concrete)
      val have = src.columns.map(_.toLowerCase).toSet
      val missing = gt.schema.fieldNames.filterNot(c => have.contains(c.toLowerCase))
      if (missing.nonEmpty) unsupported(
        s"source lacks column(s) ${missing.mkString(", ")}")
      return GraftMergeSqlCommand(gt, src.select(gt.schema.fields.toIndexedSeq
        .map(f => org.apache.spark.sql.functions.col(f.name)
          .cast(f.dataType).as(f.name)): _*))
    }

    // GENERAL SHAPE → mergeInto. Source attrs render as __src_<name> (the
    // joined evaluation frame's disambiguation), target attrs plainly.
    def toSrcSql(e: Expression, what: String): String = {
      require(!e.exists(_.isInstanceOf[SubqueryExpression]),
        s"graft MERGE $what does not support subqueries")
      e.transform {
        case a: AttributeReference if sourceOut.contains(a) =>
          a.withQualifier(Nil).withName(s"__src_${a.name}")
        case a: AttributeReference => a.withQualifier(Nil)
      }.sql
    }
    def keyName(e: Expression): String = e match {
      case a: AttributeReference => a.name
      case other => unsupported(s"assignments must target top-level columns, got $other")
    }
    // the compound-ON residue, in the joined frame's vocabulary
    val extraOnSql: Option[String] =
      if (extraConjuncts.isEmpty) None
      else Some(extraConjuncts.map(e => "(" + toSrcSql(e, "ON") + ")").mkString(" AND "))
    val matched = m.matchedActions.map {
      case UpdateStarAction(cond) =>
        (cond.map(toSrcSql(_, "MATCHED AND")), Some(gt.schema.fieldNames.toIndexedSeq
          .map(c => c -> s"`__src_$c`")))
      case UpdateAction(cond, assigns, _) =>
        (cond.map(toSrcSql(_, "MATCHED AND")), Some(assigns.map(a =>
          keyName(a.key) -> toSrcSql(a.value, "UPDATE SET"))))
      case DeleteAction(cond) =>
        (cond.map(toSrcSql(_, "MATCHED AND")), None)
      case other => unsupported(s"unrecognized WHEN MATCHED action $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertStarAction(cond) =>
        (cond.map(toSrcSql(_, "NOT MATCHED AND")), gt.schema.fieldNames.toIndexedSeq
          .map(c => c -> s"`__src_$c`"))
      case InsertAction(cond, assigns) =>
        (cond.map(toSrcSql(_, "NOT MATCHED AND")), assigns.map(a =>
          keyName(a.key) -> toSrcSql(a.value, "INSERT VALUES")))
      case other => unsupported(s"unrecognized WHEN NOT MATCHED action $other")
    }
    val notMatchedBySource = m.notMatchedBySourceActions.map {
      case UpdateAction(cond, assigns, _) =>
        (cond.map(toSrcSql(_, "NOT MATCHED BY SOURCE AND")), Some(assigns.map(a =>
          keyName(a.key) -> toSrcSql(a.value, "UPDATE SET"))))
      case DeleteAction(cond) =>
        (cond.map(toSrcSql(_, "NOT MATCHED BY SOURCE AND")), None)
      case other => unsupported(s"unrecognized WHEN NOT MATCHED BY SOURCE action $other")
    }
    GraftMergeIntoSqlCommand(gt, src, matched, notMatched, notMatchedBySource,
      extraOnSql)
  }
}

/** `DELETE … WHERE col IN (SELECT …)` lowered to the keyed semi-join
  * delete; the key frame evaluates lazily inside the op (never collected).
  */
private[tables] final case class GraftDeleteMatchingSqlCommand(
    gt: GraftTable, keys: DataFrame, on: String, residueSql: Option[String])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    gt.deleteMatching(keys, on, residueSql.map(expr).getOrElse(lit(true)))
    Seq.empty
  }
}

/** `DELETE/UPDATE … WHERE [NOT] EXISTS (<uncorrelated>)` — the gate is
  * constant for the statement: probe ONE row of the subquery at run time,
  * then either the plain-residue op or a no-op.
  */
private[tables] final case class GraftGatedDmlSqlCommand(
    gt: GraftTable, gate: DataFrame, negate: Boolean,
    residueSql: Option[String],
    assignments: Option[Seq[(String, String)]])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val exists = gate.limit(1).count() > 0
    if (exists != negate) {
      val cond = residueSql.map(expr).getOrElse(lit(true))
      assignments match {
        case Some(a) => gt.update(a.map { case (c, s) => c -> expr(s) }.toMap, cond)
        case None => gt.deleteWhere(cond)
      }
    }
    Seq.empty
  }
}

/** `UPDATE` lowered to the native touched-file-rewrite op; runs as one
  * snapshot-atomic commit, returns no rows.
  */
private[tables] final case class GraftUpdateSqlCommand(
    gt: GraftTable, assignments: Seq[(String, String)], condSql: Option[String])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    gt.update(assignments.map { case (c, s) => c -> expr(s) }.toMap,
      condSql.map(expr).getOrElse(lit(true)))
    Seq.empty
  }
}

/** Dynamic partition overwrite lowered to the native one-commit
  * [[GraftTable.replacePartitions]]: every partition the data touches is
  * replaced wholesale, the whole table when it is unpartitioned.
  */
private[tables] final case class GraftReplacePartitionsSqlCommand(
    gt: GraftTable, data: DataFrame)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // the analyzer already aligned the query to the table positionally
    val aligned = SqlInsert.byPosition(gt.schema, data)
    if (gt.partitionBy.isEmpty) gt.overwrite(aligned)
    else gt.replacePartitions(aligned)
    Seq.empty
  }
}

/** Upsert `MERGE INTO` lowered to the native key-pruned merge. */
private[tables] final case class GraftMergeSqlCommand(gt: GraftTable, source: DataFrame)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    gt.merge(source)
    Seq.empty
  }
}

/** General conditional-clause `MERGE INTO` lowered to
  * [[GraftTable.mergeInto]]; clause conditions/assignments travel as SQL
  * text (source refs pre-rewritten to `__src_<name>`) and re-resolve
  * against the joined evaluation frame.
  */
private[tables] final case class GraftMergeIntoSqlCommand(
    gt: GraftTable, source: DataFrame,
    matched: Seq[(Option[String], Option[Seq[(String, String)]])],
    notMatched: Seq[(Option[String], Seq[(String, String)])],
    notMatchedBySource: Seq[(Option[String], Option[Seq[(String, String)]])],
    extraOnSql: Option[String] = None)
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    def assigns(a: Seq[(String, String)]): Map[String, org.apache.spark.sql.Column] =
      a.map { case (k, v) => k -> expr(v) }.toMap
    gt.mergeInto(source,
      matched.map { case (c, a) => (c.map(expr), a.map(assigns)) },
      notMatched.map { case (c, a) => (c.map(expr), assigns(a)) },
      notMatchedBySource.map { case (c, a) => (c.map(expr), a.map(assigns)) },
      extraOnSql.map(expr))
    Seq.empty
  }
}
