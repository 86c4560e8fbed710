package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Spark-native extension point: install graft's custom Catalyst
  * expressions into a session at construction time —
  *
  * {{{
  *   SparkSession.builder()
  *     .withExtensions(new GraftExtensions)   // or
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *     .getOrCreate()
  * }}}
  *
  * — after which pure-SQL users can call them like built-ins
  * (`SELECT vec_dot(a, b) FROM ...`) with full codegen, no UDF overhead,
  * and no Scala API in sight. The imperative alternative for an existing
  * session is [[VectorExpressions.registerAll]]. graft's own mains and
  * specs get the extension from [[graft.GraftSession.builder]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // deletion-vector read rewrite: relations over DV'd listings become
    // clean-scan UNION ALL (parquet ⟕̸ positions) — injected BEFORE the
    // mutation rule so a MERGE's source rewrites ahead of its conversion
    ext.injectResolutionRule(s => new graft.sources.GraftDvReadRule(s))
    // SQL MERGE INTO / UPDATE / DELETE over graft tables (the analyzer
    // otherwise rejects them for sources without row-level-operation
    // support) — see graft.sources.GraftSqlRule
    ext.injectResolutionRule(s => new graft.sources.GraftSqlRule(s))
    // materialized-view rewrite: GROUP BY over a registered source table
    // answers from its MaintainedAgg state when provably fresh — see
    // graft.sources.MvRewriteRule (runs before V2 scan planning)
    ext.injectOptimizerRule(s => new graft.sources.MvRewriteRule(s))
  }
}

object GraftExtensions {
  type Builder = Seq[Expression] => Expression

  /** Name -> (info, builder) for every SQL-exposed graft expression. */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VectorDot].getName, null, "vec_dot",
        "vec_dot(a, b) - dot product of two float/double arrays, " +
          "accumulated in double in index order", ""),
      (exprs: Seq[Expression]) => {
        require(exprs.length == 2,
          s"vec_dot requires exactly 2 arguments, got ${exprs.length}")
        VectorDot(exprs(0), exprs(1))
      }))
}
