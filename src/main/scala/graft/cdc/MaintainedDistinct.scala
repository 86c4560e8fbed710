package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.CowTable

/** Maintained EXACT per-group COUNT(DISTINCT value) — the textbook
  * non-abelian aggregate, made maintainable by stacking two abelian
  * folds (the DBToaster-style higher-order IVM arrangement):
  *
  *   - level 1 (support): one row per live (group, value) pair whose
  *     `cnt` is the pair's multiplicity in the source — a support row
  *     exists iff the pair occurs.
  *   - level 2 (rollup): one row per group whose `cnt` counts live
  *     NON-NULL-value support rows (= the distinct count) and whose
  *     `vcnt` sums their multiplicities (= COUNT(valueCol)); NULL values
  *     are excluded, matching SQL COUNT(DISTINCT) exactly.
  *
  * FUSED STORAGE AND COMMITS (round 13): both levels live in ONE state
  * table, discriminated by the `lvl` key column, and every refresh lands
  * both levels' updates + deletes + the source mark in ONE merge commit.
  * The previous arrangement — two stacked [[MaintainedAgg]] instances,
  * level 2 fed from level 1's change feed — was correct but paid the
  * commit-path latency chain TWICE per refresh (two manifest publishes,
  * plus level 2's feed read / preimage point-read, or its in-memory
  * pipelined equivalent). The level-2 delta is a pure function of the
  * level-1 fold's own churn frames (the insight the round-12 fold
  * pipelining proved: the exact U/B window level 2 needs is in memory
  * before level 1 commits), so nothing forces a second commit — a
  * single-table publish makes the two-level fold atomic BY CONSTRUCTION
  * (no crash window between levels, no lag mark, no fallback lattice)
  * and halves both the local job-round chain and the object-store
  * round-trip count (one conditional-put publish per refresh, not two).
  *
  * Fold algebra per source window (U adds, B retracts, D rides its B):
  *
  *   - d1: per churned (group, value) pair, `d_cnt = ΣU − ΣB`;
  *   - one POINT READ fetches both levels' preimages (the churned pairs
  *     at lvl 1 and their groups at lvl 2) — churn-proportional on the
  *     bucketed state, never state-proportional;
  *   - next1 = stored ⊎ d1 (sum, drop zeros); gone1 = pairs whose
  *     multiplicity hits exactly zero;
  *   - d2 derives from (d1 ⟕ stored-pairs) ALONE: a non-null pair moves
  *     the group's distinct count by [old+d > 0] − [old > 0] and its
  *     value count by d_cnt — no level-1 output re-aggregation, no
  *     diamond in the merge plan;
  *   - next2/gone2 fold the same way over the lvl-2 preimages.
  *
  * Each refresh touches the CHURN at both levels; the answer equals
  * `SELECT g, count(DISTINCT v) FROM src GROUP BY g` after every
  * refresh, at delta cost. (KMV sketches — `kmv_distinct` in the query
  * catalog — remain the one-pass approximate alternative; this is the
  * exact, incrementally-maintained one.)
  */
final class MaintainedDistinct(
    spark: SparkSession,
    path: String,
    src: CowTable,
    groupCols: Seq[String],
    valueCol: String,
    /** Buckets for the state (dominated by the support level's one row
      * per distinct (group, value) pair). Bucketing keeps each fold's
      * rewrite scoped to the buckets the window's churn touches instead
      * of the whole state; size it so support-rows/bucket stays a
      * comfortable file size (the usual numBuckets guidance).
      */
    supportBuckets: Int = 16)
  extends FeedView(Seq(MaintainedAgg.SrcVersionMark -> src)) {

  require(!groupCols.contains(valueCol),
    "valueCol must not also be a group column")
  require(!(groupCols :+ valueCol).exists(Seq("cnt", "vcnt", "lvl")
      .contains),
    "cnt/vcnt/lvl are reserved state column names")
  require(src.trackCommitVersions,
    "MaintainedDistinct sources must track commit versions (change feeds)")

  private val ct = CowTable.ChangeTypeCol
  private val g = groupCols
  private val pairCols = groupCols :+ valueCol
  private def stateCols: Seq[String] =
    pairCols ++ Seq("lvl", "cnt", "vcnt")

  /** The fused two-level state table: key = (group..., value, lvl).
    * lvl 1 rows are support pairs (`vcnt` null); lvl 2 rows are per-group
    * rollups (`value` null). Null key components are first-class — the
    * merge identity, bucket routing and point reads are all null-safe.
    */
  val table = new CowTable(spark, s"$path/state", keyCols = pairCols :+ "lvl",
    numBuckets = supportBuckets)

  private lazy val vType =
    src.snapshot().schema(valueCol).dataType

  /** Seed frame: BOTH levels, one bulkInsert. */
  protected def seedFrame(heads: Seq[Long]): DataFrame = {
    // eager checkpoint: the support seed feeds BOTH the lvl-1 branch and
    // the rollup aggregation — lazy/no checkpoint would re-run the
    // source scan + pair aggregation once per branch inside the seed's
    // write job
    val sup = src.snapshotAt(heads.head)
      .groupBy(pairCols.map(col): _*).agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    val cts = sup.filter(col(valueCol).isNotNull)
      .groupBy(g.map(col): _*)
      .agg(count(lit(1)).as("cnt"), sum(col("cnt")).as("vcnt"))
    sup.withColumn("lvl", lit(1)).withColumn("vcnt", lit(null).cast("long"))
      .select(stateCols.map(col): _*)
      .unionByName(cts
        .withColumn(valueCol, lit(null).cast(vType))
        .withColumn("lvl", lit(2))
        .select(stateCols.map(col): _*))
  }

  protected def feedOf(s: CowTable, from: Long, to: Long): DataFrame =
    s.changeFeedWithPreimages(from, to)

  /** One change-feed window's effect on BOTH levels (one commit). */
  protected def fold(feeds: Seq[Option[DataFrame]], heads: Seq[Long],
      ph: graft.util.Phases): FeedView.Fold = {
    val ub = feeds.head.get.filter(col(ct).isin("U", "B"))
    val signed = ub.select((pairCols.map(col) :+
      when(col(ct) === "U", 1L).otherwise(-1L).as("_md_w")): _*)
    // The delta aggregation and the two-level state point-read are
    // INDEPENDENT jobs (the probe keys are the feed's distinct churned
    // pairs + their groups — available without the aggregation); run
    // them on two threads. ONE lookup fetches BOTH levels' preimages:
    // churned (g, v) pairs at lvl 1 plus their groups' (g, null) rollup
    // rows at lvl 2 — bucket/file-index pruned, churn-proportional.
    val ((d1, d1Empty), (aff, touchedKeys)) = graft.util.Overlap.withBg(
      ph("delta") {
        val d0 = signed.groupBy(pairCols.map(col): _*)
          .agg(sum(col("_md_w")).as("d_cnt")).localCheckpoint()
        (d0, d0.isEmpty)
      }) { d =>
      val keys1 = ub.select(pairCols.map(col): _*).distinct()
        .withColumn("lvl", lit(1))
      val keys2 = keys1.select(g.map(col): _*).distinct()
        .withColumn(valueCol, lit(null).cast(vType))
        .withColumn("lvl", lit(2))
        .select((pairCols :+ "lvl").map(col): _*)
      // the lookup's probe routing doubles as the merge's touched-keys
      // hint: every merge output key (next/gone, both levels) comes from
      // the probed churn, so the probe's bucket set is a sound superset
      val a = ph("affected") {
        val (rows, tk) =
          table.lookupByKeysTouched(keys1.unionByName(keys2))
        (rows.select(stateCols.map(col): _*).localCheckpoint(), tk)
      }
      (d(), a)
    }
    // stamp-filtered feed held nothing: only the ledger advances
    if (d1Empty) return FeedView.Empty
    // aff is an EAGER checkpoint; the level slices are trivial filters
    // over its in-memory blocks, so multi-consumer reuse costs nothing
    val aff1 = aff.filter(col("lvl") === 1)
    val aff2 = aff.filter(col("lvl") === 2)
    // ---- level 1: support multiplicities ---------------------------------
    val next1 = aff1.select((pairCols.map(col) :+ col("cnt")): _*)
      .unionByName(d1.select((pairCols.map(col) :+
        col("d_cnt").as("cnt")): _*))
      .groupBy(pairCols.map(col): _*).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0)
    // a stored pair vanishes iff the window's delta exactly cancels it
    // (state stores only nonzero multiplicities)
    val gone1 = aff1.join(d1,
        pairCols.map(c => aff1(c) <=> d1(c)).reduce(_ && _), "inner")
      .filter(aff1("cnt") + d1("d_cnt") === 0)
      .select(pairCols.map(c => aff1(c).as(c)): _*)
    // ---- level 2: rollup delta straight from (d1 ⟕ stored pairs) ---------
    // For a churned NON-NULL pair with stored multiplicity `old` and
    // delta `d`: the group's distinct count moves by
    // [old+d > 0] − [old > 0] and its value count by d. NULL-value pairs
    // contribute nothing (SQL COUNT(DISTINCT)/COUNT skip NULLs).
    val oldCnt = coalesce(aff1("cnt"), lit(0L))
    val d2 = d1.join(aff1,
        pairCols.map(c => d1(c) <=> aff1(c)).reduce(_ && _), "left")
      .filter(d1(valueCol).isNotNull)
      .select((g.map(c => d1(c).as(c)) :+
        (when(oldCnt + d1("d_cnt") > 0, 1L).otherwise(0L) -
          when(oldCnt > 0, 1L).otherwise(0L)).as("_md_dw") :+
        d1("d_cnt").as("_md_dvc")): _*)
      .groupBy(g.map(col): _*)
      .agg(sum(col("_md_dw")).as("d_cnt"), sum(col("_md_dvc")).as("vd"))
    val next2 = aff2.select((g.map(col) :+ col("cnt") :+ col("vcnt")): _*)
      .unionByName(d2.select((g.map(col) :+ col("d_cnt").as("cnt") :+
        col("vd").as("vcnt")): _*))
      .groupBy(g.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"), sum(col("vcnt")).as("vcnt"))
      .filter(col("cnt") =!= 0)
    // a rollup row vanishes iff its last non-null distinct value left
    // (cnt hits zero ⇒ vcnt is zero too — multiplicities are nonnegative)
    val gone2 = aff2.join(d2,
        g.map(c => aff2(c) <=> d2(c)).reduce(_ && _), "inner")
      .filter(aff2("cnt") + d2("d_cnt") === 0)
      .select(g.map(c => aff2(c).as(c)): _*)
    // ---- one commit: both levels' upserts + deletes + the mark -----------
    val nullV = lit(null).cast(vType)
    FeedView.Fold(
      Some(next1.withColumn("lvl", lit(1)).unionByName(
        next2.withColumn(valueCol, nullV).withColumn("lvl", lit(2)),
        allowMissingColumns = true)),
      Some(gone1.withColumn("lvl", lit(1)).unionByName(
        gone2.withColumn(valueCol, nullV).withColumn("lvl", lit(2)))),
      Some(touchedKeys))
  }

  /** groupCols..., `distinct_cnt` (= COUNT(DISTINCT valueCol)),
    * `value_cnt` (= COUNT(valueCol), NULLs excluded). Groups whose only
    * value is NULL carry distinct_cnt = 0 — present iff the group has
    * source rows, exactly like SQL GROUP BY (they have support rows but
    * no rollup row; the left join recovers them at cost O(|state|),
    * never a source scan).
    */
  def current: DataFrame = {
    // both sides slice the SAME snapshot plan — string aliases keep the
    // self-join's column references unambiguous
    val st = table.snapshot()
    val live = st.filter(col("lvl") === 1)
      .select(g.map(col): _*).distinct().alias("l")
    val cts = st.filter(col("lvl") === 2).alias("r")
    val cond = g.map(c => col(s"l.$c") <=> col(s"r.$c")).reduce(_ && _)
    live.join(cts, cond, "left")
      .select((g.map(c => col(s"l.$c").as(c)) :+
        coalesce(col("r.cnt"), lit(0L)).as("distinct_cnt") :+
        coalesce(col("r.vcnt"), lit(0L)).as("value_cnt")): _*)
  }
}
