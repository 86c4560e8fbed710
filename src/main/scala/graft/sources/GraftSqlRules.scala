package graft.sources

import org.apache.spark.sql.{GraftStreamShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{
  AttributeReference, AttributeSet, EqualNullSafe, EqualTo,
  Expression}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction,
  LogicalPlan, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{expr, lit}

import graft.table.CowTable

/** SQL mutation statements over graft tables, mapped onto the table-format
  * layer by an injected resolution rule (install via
  * [[graft.functions.GraftExtensions]]):
  *
  * {{{
  *   CREATE TEMPORARY VIEW t USING graft OPTIONS (path '...');
  *   MERGE INTO t USING staged s ON t.id = s.id
  *     WHEN MATCHED AND s.op = 'D' THEN DELETE
  *     WHEN MATCHED THEN UPDATE SET *
  *     WHEN NOT MATCHED THEN INSERT *;
  *   UPDATE t SET v = v * 2 WHERE p = 'x';
  *   DELETE FROM t WHERE ts < '2020-01-01';
  * }}}
  *
  * MERGE maps to [[CowTable.mergeInto]] (one full-outer merge commit;
  * MOR compacts pending logs first), UPDATE to a filtered-snapshot upsert,
  * DELETE to a tombstone anti-join — the same partition/bucket-scoped,
  * file-index-pruned write paths the Scala API uses, so SQL text gets the
  * identical 100-TB cost profile.
  *
  * Supported MERGE shape (validated loudly): ON must be key-column
  * equality (key, or key + partition — the table's merge identity; source
  * columns may be renamed through the ON pairs), matched actions are
  * UPDATE SET * / DELETE (each optionally conditional, both orders),
  * unmatched action is INSERT * or absent. Column-level assignments and
  * NOT MATCHED BY SOURCE need the row-level-operation API Spark reserves
  * for its own connectors; the Scala `mergeInto` covers those semantics.
  */
class GraftSqlRule(session: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperators {
      case m: MergeIntoTable if m.resolved && isGraft(m.targetTable) =>
        convertMerge(m)
      case d @ DeleteFromTable(target, condition)
          if d.resolved && isGraft(target) =>
        GraftDeleteCommand(pathOf(target), plainSql(condition))
      case u @ UpdateTable(target, assignments, condition)
          if u.resolved && isGraft(target) =>
        GraftUpdateCommand(pathOf(target),
          assignments.map(a => (attrName(a.key), plainSql(a.value))),
          condition.map(plainSql))
    }

  private def graftRelation(plan: LogicalPlan): Option[GraftWritableTable] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftWritableTable]
        => r.table.asInstanceOf[GraftWritableTable]
    }

  private def isGraft(plan: LogicalPlan): Boolean =
    graftRelation(plan).nonEmpty

  private def pathOf(plan: LogicalPlan): String =
    graftRelation(plan).get.graftBasePath

  private def attrName(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case other => throw new UnsupportedOperationException(
      s"graft UPDATE supports plain column assignments, got: ${other.sql}")
  }

  /** Render a resolved single-relation expression back to SQL with bare
    * column names (runnable against the snapshot DataFrame).
    */
  private def plainSql(e: Expression): String =
    e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    }.sql

  /** Render a condition over the merge join's `c` (current) / `i`
    * (incoming) aliases.
    */
  private def mergeSql(e: Expression, target: AttributeSet): String =
    e.transform {
      case a: AttributeReference if target.contains(a) =>
        UnresolvedAttribute(Seq("c", a.name))
      case a: AttributeReference =>
        UnresolvedAttribute(Seq("i", a.name))
    }.sql

  private def convertMerge(m: MergeIntoTable): LogicalPlan = {
    val targetAttrs = m.targetTable.outputSet
    def bad(msg: String) = throw new UnsupportedOperationException(
      s"graft MERGE INTO: $msg (see GraftSqlRule doc for the supported shape)")

    // ON: equality pairs target-attr = source-attr
    def eqPairs(c: Expression): Seq[(String, String)] = c match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        eqPairs(l) ++ eqPairs(r)
      case EqualTo(a: AttributeReference, b: AttributeReference) => pair(a, b)
      case EqualNullSafe(a: AttributeReference, b: AttributeReference) =>
        pair(a, b)
      case other => bad(s"ON must be key-column equality, got ${other.sql}")
    }
    def pair(a: AttributeReference, b: AttributeReference) =
      if (targetAttrs.contains(a)) Seq((a.name, b.name))
      else Seq((b.name, a.name))
    val onPairs = eqPairs(m.mergeCondition)

    if (m.notMatchedBySourceActions.nonEmpty)
      bad("WHEN NOT MATCHED BY SOURCE is not supported")

    // matched actions: at most one UPDATE-star and one DELETE, in order
    var updateCond: Option[Option[String]] = None // Some(None)=unconditional
    var deleteCond: Option[Option[String]] = None
    var updateFirst = false
    m.matchedActions.foreach {
      case UpdateStarAction(cond) if updateCond.isEmpty =>
        updateCond = Some(cond.map(mergeSql(_, targetAttrs)))
        if (deleteCond.isEmpty) updateFirst = true
      case UpdateAction(cond, as, _) if updateCond.isEmpty && starLike(as) =>
        updateCond = Some(cond.map(mergeSql(_, targetAttrs)))
        if (deleteCond.isEmpty) updateFirst = true
      case DeleteAction(cond) if deleteCond.isEmpty =>
        deleteCond = Some(cond.map(mergeSql(_, targetAttrs)))
      case a => bad(s"unsupported matched action: $a")
    }
    // INSERT * with an optional condition (references the source only —
    // there is no target row on the NOT MATCHED side)
    val (insertUnmatched, insertCond) = m.notMatchedActions match {
      case Nil => (false, None)
      case Seq(InsertStarAction(cond)) =>
        (true, cond.map(mergeSql(_, targetAttrs)))
      case Seq(InsertAction(cond, as)) if starLike(as) =>
        (true, cond.map(mergeSql(_, targetAttrs)))
      case a => bad(s"unsupported NOT MATCHED action: $a")
    }

    GraftMergeCommand(
      path = pathOf(m.targetTable),
      source = m.sourceTable,
      onPairs = onPairs,
      updateCond = updateCond.map(_.getOrElse("true")),
      deleteCond = deleteCond.map(_.getOrElse("true")),
      updateFirst = updateFirst,
      insertUnmatched = insertUnmatched,
      insertCond = insertCond)
  }

  /** Post-resolution star expansion yields name-identical column-to-column
    * assignments; accept exactly that shape as `SET *`.
    */
  private def starLike(as: Seq[Assignment]): Boolean =
    as.forall {
      case Assignment(k: AttributeReference, v: AttributeReference) =>
        k.name == v.name
      case _ => false
    }
}

/** MERGE INTO execution: open the table by path, rename source key columns
  * per the ON pairs, validate the identity, run the conditional merge.
  */
final case class GraftMergeCommand(
    path: String,
    source: LogicalPlan,
    onPairs: Seq[(String, String)],
    updateCond: Option[String],
    deleteCond: Option[String],
    updateFirst: Boolean,
    insertUnmatched: Boolean,
    insertCond: Option[String]) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(source)

  override def run(spark: SparkSession): Seq[Row] = {
    val t = CowTable.open(spark, path)
    val onTargets = onPairs.map(_._1).toSet
    val key = t.keyCols.toSet
    val identity = (t.keyCols ++ t.partitionCols).toSet
    require(onTargets == key || onTargets == identity,
      s"MERGE ON must cover the record key ${t.keyCols} (optionally + " +
        s"partition ${t.partitionCols}); got ${onTargets.toSeq.sorted}")
    val incoming = onPairs.foldLeft(GraftStreamShim.ofRows(spark, source)) {
      case (df, (tn, sn)) if tn != sn => df.withColumnRenamed(sn, tn)
      case (df, _) => df
    }
    // source-only columns (CDC routing like `Op`) steer the conditions
    // but must not evolve the target schema
    val targetCols = t.manifest.schema.fieldNames.map(_.toLowerCase).toSet
    val extras = incoming.columns.filterNot(c => targetCols(c.toLowerCase))
    // SQL evaluates WHEN clauses in order: when UPDATE precedes DELETE,
    // a row matching both must update, so the delete condition excludes it
    val del = (deleteCond, updateCond) match {
      case (None, _) => lit(false)
      case (Some(d), Some(u)) if updateFirst => expr(s"NOT ($u) AND ($d)")
      case (Some(d), _) => expr(d)
    }
    val upd = updateCond.map(expr).getOrElse(lit(false))
    t.mergeInto(incoming,
      whenMatchedDelete = del,
      whenMatchedUpdate = upd,
      insertUnmatched = insertUnmatched,
      insertCondition = insertCond.map(expr).getOrElse(lit(true)),
      conditionCols = extras.toSeq)
    Nil
  }
}

/** UPDATE execution: full rows of the matched snapshot with assignments
  * applied, upserted back — one keyed merge commit.
  */
final case class GraftUpdateCommand(
    path: String,
    assignments: Seq[(String, String)],
    condition: Option[String]) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val t = CowTable.open(spark, path)
    val matched = condition.foldLeft(t.snapshot())((df, c) => df.filter(c))
    val updated = assignments.foldLeft(matched) {
      case (df, (name, valueSql)) => df.withColumn(name, expr(valueSql))
    }
    // a deleteVectors table takes the mask-and-append path: a targeted
    // UPDATE is exactly the scattered-small-batch shape deletion
    // vectors exist for (identical semantics, spec-proven)
    if (t.deleteVectors) t.upsertVectored(updated)
    else t.upsert(updated)
    Nil
  }
}

/** DELETE execution: matched snapshot rows become the tombstone batch for
  * the anti-join delete commit — EXCEPT when the predicate references only
  * partition columns, where the whole statement is one metadata-only
  * [[CowTable.dropPartitions]] commit (the Delta/Hudi partition-delete
  * optimization: `DELETE FROM t WHERE day < '2026-01-01'` on a 100-TB
  * table writes one manifest instead of scanning and rewriting).
  */
final case class GraftDeleteCommand(
    path: String,
    condition: String) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val t = CowTable.open(spark, path)
    val pred = spark.sessionState.sqlParser.parseExpression(condition)
    val refs = pred.collect {
      case u: UnresolvedAttribute => u.nameParts.last
    }.toSet
    // DELETE with no WHERE (the parser supplies literal TRUE): one
    // metadata-only truncate commit instead of scanning the table into
    // a full-size tombstone batch — same change-feed D rows, any size
    val deleteAll = pred match {
      case org.apache.spark.sql.catalyst.expressions
        .Literal(true, org.apache.spark.sql.types.BooleanType) => true
      case _ => false
    }
    val partitionOnly = t.partitionCols.nonEmpty && refs.nonEmpty &&
      refs.subsetOf(t.partitionCols.toSet) && pred.deterministic &&
      !pred.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.SubqueryExpression])
    if (deleteAll) t.truncate()
    else if (partitionOnly) t.dropPartitions(expr(condition))
    else t.delete(t.snapshot().filter(condition))
    Nil
  }
}
