package graft.cdc

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.table.CowTable

/** Incremental maintenance of grouped additive aggregates (COUNT + SUM)
  * over a CDC-maintained keyed table — the 100-TB alternative to
  * re-aggregating the whole table after every batch: the delta touches only
  * the batch's keys (before-images come from [[CowTable.lookupByKeys]], the
  * file-index-pruned point read), so maintenance cost scales with BATCH
  * size while recomputation scales with TABLE size.
  *
  * Algebra (the standard insert/retract form): each upserted key
  * contributes +new-image and, if it previously existed, -old-image; each
  * deleted key contributes -old-image. COUNT and SUM are abelian-group
  * aggregates, so deltas commute and the maintained state is exactly the
  * recomputed aggregate — PROVIDED the sum is exact. The value is summed as
  * DECIMAL(28,6): double retraction would drift (x + v - v != x in IEEE),
  * decimal retraction is exact over any number of batches.
  *
  * The reference has no aggregate maintenance (consumers re-query the Hudi
  * table), so this is a §7 extension, not reference parity.
  */
object IncrementalAgg {

  /** `groupCols` must be stable under updates only if you want per-group
    * movement tracked correctly — a row whose group CHANGES in an update is
    * handled naturally (-old lands in the old group, +new in the new one).
    */
  final case class AggSpec(groupCols: Seq[String], valueCol: String)

  private def dec(c: Column): Column =
    c.cast(org.apache.spark.sql.types.DecimalType(28, 6))

  /** The aggregate state of `df` from scratch — used to seed the maintained
    * table after the initial bulk load, and by tests as the recompute
    * oracle. Output: groupCols..., `cnt`, `total`.
    */
  def recompute(df: DataFrame, spec: AggSpec): DataFrame =
    df.groupBy(spec.groupCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(dec(col(spec.valueCol))).as("total"))

  /** The delta of one CDC batch against the table state BEFORE the batch's
    * commit. `upserts` are the deduped/precombined non-delete rows (new
    * images), `deleteKeys` the deduped delete rows; `before` is the table
    * handle still at the pre-batch version — call this BEFORE the batch
    * is applied. [[CdcPipeline]] hands over disjoint sets (W1 keeps one
    * event per key, applied in one merge); a caller that passes a key in
    * both gets upsert-then-delete semantics: the delete wins. Output
    * rows: groupCols..., `d_cnt`, `d_total`.
    */
  def delta(before: CowTable, upserts: DataFrame, deleteKeys: DataFrame,
      spec: AggSpec): DataFrame = {
    val groups = (c: DataFrame) => spec.groupCols.map(c.apply)
    // record identity is key + partition (the table's non-global index) —
    // every in-batch set operation below must respect it
    val idCols = before.mergeIdCols
    // a record in BOTH sets is upserted then deleted within the batch:
    // its net contribution is -old only, so the upsert's +new must not
    // count
    val delProbe = deleteKeys.select(idCols.map(col): _*)
    val liveUpserts = upserts.join(delProbe,
      idCols.map(c => upserts(c) <=> delProbe(c)).reduce(_ && _),
      "left_anti")
    // the probe keeps the partition columns so lookupByKeys both prunes
    // AND matches the merge identity when retracting before-images
    val probeCols = idCols
    val touchedKeys = upserts.select(probeCols.map(col): _*)
      .union(deleteKeys.select(probeCols.map(col): _*))
    val old = before.lookupByKeys(touchedKeys)
    // _ia_-reserved internal aliases: group columns may be named "v"/"w"
    val adds = liveUpserts.select(
      (groups(liveUpserts) :+ lit(1L).as("_ia_w") :+
        dec(col(spec.valueCol)).as("_ia_v")): _*)
    val retracts = old.select(
      (groups(old) :+ lit(-1L).as("_ia_w") :+
        (-dec(col(spec.valueCol))).as("_ia_v")): _*)
    adds.unionByName(retracts)
      .groupBy(spec.groupCols.map(col): _*)
      .agg(sum(col("_ia_w")).as("d_cnt"), sum(col("_ia_v")).as("d_total"))
  }

  /** A PERSISTED maintained aggregate: the grouped count/sum state stored
    * as its own small [[CowTable]] keyed by the group columns, kept current
    * across [[CdcPipeline.run]] batches via the `preMergeHook`:
    *
    * {{{
    * val view = new IncrementalAgg.MaintainedView(spark, aggPath,
    *   AggSpec(Seq("measurement_date"), "measurement_value"))
    * pipeline.run(cfg, raw, preMergeHook = view.hook)
    * view.commit(pipeline.tableFor(cfg))   // fold the batch's delta
    * view.current                          // the up-to-date aggregate
    * }}}
    *
    * The hook snapshots the batch delta against the PRE-merge table (the
    * lazy plan pins the pre-merge file list, but `commit` must run before
    * retention cleaning drops those files); `commit` folds it in — or, on
    * the first call / after a missed hook, seeds by full recompute.
    * Requires the non-split pipeline path (`cdc_split_upsert: no`, the
    * reference default): the split fast path appends without merging, so
    * an "insert" of an existing key duplicates it in the table and no
    * delta algebra can track that.
    */
  final class MaintainedView(
      spark: org.apache.spark.sql.SparkSession,
      aggPath: String,
      spec: AggSpec) {
    val table = new CowTable(spark, aggPath, keyCols = spec.groupCols)
    private var pending: Option[DataFrame] = None

    val hook: (CowTable, DataFrame, DataFrame) => Unit = (t, ups, dels) => {
      // MOR before-images would come from base files only — unmerged log
      // rows would be invisible and the deltas silently wrong
      require(!t.isInstanceOf[graft.table.MorTable],
        "MaintainedView requires a COW source table (MOR point lookups " +
          "do not see unmerged log rows)")
      pending =
        if (!t.exists || !table.exists) None // seed from scratch instead
        else Some(delta(t, ups, dels, spec).localCheckpoint())
    }

    /** Fold the captured delta (or seed by recompute) and persist — ONE
      * commit: updated groups and vanished groups land together, so a
      * crash cannot leave vanished groups at stale counts. Returns the
      * updated aggregate state.
      */
    def commit(source: CowTable): DataFrame = {
      val next = pending match {
        case Some(d) if table.exists =>
          IncrementalAgg.apply(current, d, spec).localCheckpoint()
        case _ => recompute(source.snapshot(), spec).localCheckpoint()
      }
      pending = None
      if (!table.exists) table.bulkInsert(next)
      else {
        val g = spec.groupCols.map(col)
        table.applyChanges(Some(next),
          Some(current.select(g: _*).except(next.select(g: _*))))
      }
      current
    }

    /** The maintained aggregate as stored. */
    def current: DataFrame =
      table.snapshot().select(
        (spec.groupCols.map(col) :+ col("cnt") :+ col("total")): _*)
  }

  /** Fold a delta into the maintained aggregate table. Groups whose count
    * reaches zero are dropped (fully retracted). Both sides stay decimal,
    * so apply∘delta over any batch sequence equals [[recompute]] exactly.
    */
  def apply(agg: DataFrame, d: DataFrame, spec: AggSpec): DataFrame = {
    val g = spec.groupCols
    agg.select((g.map(col) :+ col("cnt").as("_ia_w") :+
        col("total").as("_ia_v")): _*)
      .unionByName(d.select((g.map(col) :+ col("d_cnt").as("_ia_w") :+
        col("d_total").as("_ia_v")): _*))
      .groupBy(g.map(col): _*)
      .agg(sum(col("_ia_w")).as("cnt"), sum(col("_ia_v")).as("total"))
      .filter(col("cnt") =!= 0)
  }
}
