package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.CowTable

/** FEED-DRIVEN maintained grouped aggregate: COUNT + SUM (and optionally
  * MIN/MAX) state over any commit-stamped table, kept current from the
  * table's own change feed ([[CowTable.changeFeedWithPreimages]]) — no
  * pipeline hook required, so it chains off anything that commits: a
  * CDC-written table, a [[MaintainedJoin]] view with
  * `trackViewVersions = true` (the star-schema pipeline fact ⟕ dim →
  * GROUP BY, maintained end-to-end), or a table fed by the streaming sink.
  *
  * Delta algebra straight off the feed: U rows add (+1, +value), B
  * (preimage) rows retract (-1, -value), D rows contribute nothing (their
  * retraction IS their B row). COUNT/SUM are abelian, and the sum runs in
  * DECIMAL(28,6) ([[IncrementalAgg]]'s exactness argument), so
  * fold∘feed over any commit sequence equals recomputing from the
  * snapshot — per refresh the engine touches the churn, not the table.
  *
  * MIN/MAX (`minMaxCols`) are NOT retractable — the textbook non-abelian
  * case — so they maintain optimistically: window inserts fold with
  * `least`/`greatest`; a retracted image STRICTLY inside a group's stored
  * (min, max) cannot move either bound and costs nothing; only a
  * retraction that ties a stored extreme triggers an authoritative
  * re-aggregation OF THAT GROUP from the source, group-scoped through
  * [[CowTable.snapshotForValuesAt]] (value-set file skipping, pinned at
  * the window end) — so the repair cost scales with the hit groups'
  * stripes, not the table.
  *
  * Seeding, the mark, reseed-on-retention-race and the fold commit are
  * the shared [[FeedView]] protocol: the whole fold (updates +
  * vanished-group deletes + mark) lands in ONE `mergeInto` commit, so
  * there is no crash window where the mark outruns the state.
  *
  * vs [[IncrementalAgg.MaintainedView]]: that form captures deltas inside
  * the CDC pipeline's pre-merge hook (no stamps needed on the source);
  * this form needs `trackCommitVersions` but decouples maintenance from
  * writing entirely — refresh on YOUR cadence, fold many source commits
  * in one window.
  */
final class MaintainedAgg(
    spark: SparkSession,
    aggPath: String,
    src: CowTable,
    spec: IncrementalAgg.AggSpec,
    /** Columns to maintain min/max over (optimistic + group-scoped
      * repair). Empty = count/sum only.
      */
    minMaxCols: Seq[String] = Nil,
    /** Also maintain the sum of squares (`total_sq`) of the value column —
      * squares are as abelian as sums, so it folds exactly through the
      * same +U/−B algebra, and variance/stddev derive at read time:
      * `var = total_sq/cnt − (total/cnt)²`. What makes per-group quality
      * dashboards (mean ± σ of a score column) maintainable without ever
      * rescanning the table.
      */
    trackSquares: Boolean = false,
    /** Maintain the aggregate over only the rows satisfying this
      * predicate (a maintained FILTERED aggregate, e.g. revenue of
      * non-cancelled orders). Applied identically to the recompute seed
      * and to both feed sides, so a row UPDATE that crosses the filter
      * boundary folds correctly: the new image adds iff it passes, the
      * preimage retracts iff it passed.
      */
    rowFilter: Option[Column] = None,
    /** Stamp the STATE table's own commits so it can feed further
      * consumers (a stacked [[MaintainedAgg]] or [[MaintainedJoin]], a
      * table stream, [[CowTable.changeFeed]] readers) — the
      * [[MaintainedJoin]] `trackViewVersions` analog.
      */
    trackStateVersions: Boolean = false,
    /** Key-hash buckets for the STATE table. Essential when the state is
      * large (many groups — [[MaintainedDistinct]]'s support level is
      * |distinct (group, value)| rows): an unbucketed state table is ONE
      * copy-on-write unit, so every fold rewrites the whole state and
      * maintenance cost degenerates to state size. Bucketed, a fold
      * rewrites only the buckets its delta touches.
      */
    stateBuckets: Int = 0)
  extends FeedView(Seq(MaintainedAgg.SrcVersionMark -> src)) {

  require(src.trackCommitVersions,
    "MaintainedAgg sources must track commit versions (change feeds)")

  /** The aggregate state table, keyed by the group columns. */
  val table = new CowTable(spark, aggPath, keyCols = spec.groupCols,
    trackCommitVersions = trackStateVersions, numBuckets = stateBuckets)

  // registration surface for the automatic materialized-view rewrite
  // (graft.sources.MvRegistry.register(this))
  private[graft] def sourceTable: CowTable = src
  private[graft] def aggSpec: IncrementalAgg.AggSpec = spec
  private[graft] def aggMinMaxCols: Seq[String] = minMaxCols
  private[graft] def aggTracksSquares: Boolean = trackSquares
  private[graft] def hasRowFilter: Boolean = rowFilter.nonEmpty

  private val ct = CowTable.ChangeTypeCol
  private val g = spec.groupCols

  private def stateCols: Seq[String] =
    g ++ Seq("cnt", "total") ++
      (if (trackSquares) Seq("total_sq") else Nil) ++
      minMaxCols.flatMap(c => Seq(s"min_$c", s"max_$c"))

  /** The maintained aggregate as stored: groupCols..., cnt, total
    * [, min_c, max_c per minMaxCols entry].
    */
  def current: DataFrame =
    table.snapshot().select(stateCols.map(col): _*)

  private def dec(c: Column) =
    c.cast(org.apache.spark.sql.types.DecimalType(28, 6))

  /** v² at a FIXED decimal type: recompute and the signed fold must
    * produce bit-identical values or retraction drifts, so both route
    * through this one expression. Inputs cast to (18,6) so the product
    * lands at (37,12) — within Spark's 38-digit cap, so no precision-loss
    * scale adjustment fires and the square is EXACT for any |v| < 10¹²
    * (beyond that the (18,6) cast nulls, a loud failure, not drift).
    */
  private def sq(c: Column) = {
    val d18 = org.apache.spark.sql.types.DecimalType(18, 6)
    (c.cast(d18) * c.cast(d18))
      .cast(org.apache.spark.sql.types.DecimalType(38, 12))
  }

  /** The full aggregate state of `df` from scratch (the seed frame and
    * the recompute oracle for tests).
    */
  def recompute(df0: DataFrame): DataFrame = {
    val df = rowFilter.map(df0.filter).getOrElse(df0)
    val aggs = Seq(count(lit(1)).as("cnt"),
        sum(dec(col(spec.valueCol))).as("total")) ++
      (if (trackSquares)
         Seq(sum(sq(col(spec.valueCol))).as("total_sq")) else Nil) ++
      minMaxCols.flatMap(c =>
        Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(g.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** [[current]] plus derived `mean`, `variance` (population) and
    * `stddev` — the read-time payoff of `trackSquares`: per-group
    * dispersion stats that stay current off the change feed without ever
    * rescanning the source. Doubles (dispersion is inherently a
    * floating-point readout); the STORED state stays exact decimal.
    */
  def currentWithStats: DataFrame = {
    require(trackSquares, "currentWithStats requires trackSquares = true")
    val m = col("total").cast("double") / col("cnt")
    current
      .withColumn("mean", m)
      // clamp: total_sq/cnt - mean² can go ~-1e-12 under double rounding
      .withColumn("variance", greatest(
        col("total_sq").cast("double") / col("cnt") - m * m, lit(0.0)))
      .withColumn("stddev", sqrt(col("variance")))
  }

  /** Persist the view's definition next to its state (`_mv.json`) so a
    * NEW session can re-arm the rewrite from the path alone
    * ([[graft.sources.MvRegistry.registerPath]]) — the in-memory
    * registry is per-process; the sidecar is the durable record (the
    * catalog-of-MV-definitions a warehouse engine keeps).
    */
  override protected def seeded(): Unit = {
    def js(s: String) = "\"" + s.replace("\\", "\\\\")
      .replace("\"", "\\\"") + "\""
    def arr(xs: Seq[String]) = xs.map(js).mkString("[", ",", "]")
    val txt = s"""{"srcPath":${js(src.basePath)},""" +
      s""""groupCols":${arr(spec.groupCols)},""" +
      s""""valueCol":${js(spec.valueCol)},""" +
      s""""minMaxCols":${arr(minMaxCols)},""" +
      s""""trackSquares":$trackSquares,""" +
      s""""rewriteEligible":${rowFilter.isEmpty}}"""
    val fs = new org.apache.hadoop.fs.Path(aggPath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(aggPath, MaintainedAgg.MvSidecar), true)
    try out.write(txt.getBytes("UTF-8")) finally out.close()
  }

  protected def seedFrame(heads: Seq[Long]): DataFrame =
    recompute(src.snapshotAt(heads.head))

  /** Filtered aggregates: U adds iff the new image passes, B retracts iff
    * the old image passed — one row-level filter.
    */
  protected def feedOf(s: CowTable, from: Long, to: Long): DataFrame = {
    val f = s.changeFeedWithPreimages(from, to)
    rowFilter.map(f.filter).getOrElse(f)
  }

  /** One change-feed window's next state and vanished groups. */
  protected def fold(feeds: Seq[Option[DataFrame]], heads: Seq[Long],
      ph: graft.util.Phases): FeedView.Fold = {
    val feed = feeds.head.get
    val head = heads.head
    // internal aliases are _ma_-reserved: a GROUP column may legitimately
    // be named "v"/"w" (e.g. MaintainedDistinct's support level groups by
    // the value column)
    val signed = feed.filter(col(ct).isin("U", "B")).select(
      (g.map(col) :+
        when(col(ct) === "U", 1L).otherwise(-1L).as("_ma_w") :+
        when(col(ct) === "U", dec(col(spec.valueCol)))
          .otherwise(-dec(col(spec.valueCol))).as("_ma_v")) ++
      (if (trackSquares)
         Seq(when(col(ct) === "U", sq(col(spec.valueCol)))
           .otherwise(-sq(col(spec.valueCol))).as("_ma_vsq")) else Nil) ++
      // extremes bookkeeping rides the SAME row pass: per-group min/max
      // of inserted values (optimistic fold input) and of retracted
      // values (tie detection: a retracted value ties the stored min iff
      // min(retracted) == stored min — all retracted values are >= it)
      minMaxCols.flatMap(c => Seq(
        when(col(ct) === "U", col(c)).as(s"_ma_u_$c"),
        when(col(ct) === "B", col(c)).as(s"_ma_r_$c"))): _*)
    val dAggs = Seq(sum(col("_ma_w")).as("d_cnt"),
        sum(col("_ma_v")).as("d_total")) ++
      (if (trackSquares)
        Seq(sum(col("_ma_vsq")).as("d_total_sq")) else Nil) ++
      minMaxCols.flatMap(c => Seq(
        min(col(s"_ma_u_$c")).as(s"u_min_$c"),
        max(col(s"_ma_u_$c")).as(s"u_max_$c"),
        min(col(s"_ma_r_$c")).as(s"r_min_$c"),
        max(col(s"_ma_r_$c")).as(s"r_max_$c")))
    // The delta aggregation and the state point-read are INDEPENDENT
    // jobs: the lookup's probe keys are the feed's distinct U/B groups —
    // exactly the delta's group set, available without waiting for the
    // aggregation. Run them on two threads (both scan the feed's lazily
    // checkpointed blocks; concurrent block computation is
    // single-flighted by the block manager), halving this stage of the
    // fold's sequential job-round chain. The empty-window gate probe
    // rides the delta's own thread (a tiny scan of the just-checkpointed
    // blocks), so it costs no sequential job round of its own.
    // fold ONLY the touched groups: a POINT READ of the churned group
    // keys (bucket/file-index pruned on a bucketed state table) replaces
    // a full state scan, so refresh cost scales with the window's churn
    // — never with the number of groups the state has accumulated. The
    // untouched groups are simply not part of the merge.
    val ((delta, deltaEmpty), (affected, touchedKeys)) =
      graft.util.Overlap.withBg(
      ph("delta"){
        val d0 = signed.groupBy(g.map(col): _*)
          .agg(dAggs.head, dAggs.tail: _*).localCheckpoint()
        (d0, d0.isEmpty)
      }) { d =>
      // the lookup's probe routing doubles as the merge's touched-keys
      // hint: every merge output group (next/gone) comes from the probed
      // churn groups, so the probe's unit set is a sound superset
      val aff = ph("affected") {
        val (rows, tk) = table.lookupByKeysTouched(
          feed.filter(col(ct).isin("U", "B"))
            .select(g.map(col): _*).distinct())
        (rows.select(stateCols.map(col): _*).localCheckpoint(), tk)
      }
      (d(), aff)
    }
    // stamp-filtered feed held nothing: only the ledger advances (the
    // concurrently point-read state subset is simply unused)
    if (deltaEmpty) return FeedView.Empty
    // FUSED next state: counts, sums AND the optimistic min/max fold all
    // ride ONE union + aggregation. least(stored_min, inserted_min) over
    // a full-outer group join is exactly min() over the two sides
    // union'd (min/max skip nulls, and a side with no row contributes
    // nothing — the same algebra as an absent join match), so the
    // extremes need no join of their own: the stored extremes enter as
    // the affected side's min_c/max_c, the window-insert extremes as the
    // delta side's u_min_c/u_max_c, and the aggregate folds both. What
    // this buys per fold: the former full-outer (stored ⊕ inserts) and
    // left (state ⟕ extremes) joins vanish from the plan — two fewer
    // exchanges in the commit's write job and a visibly shorter catalyst
    // planning stretch (the fold's biggest driver-side cost). Hit groups
    // (a retraction TIED a stored bound — the only case optimism can't
    // answer) are repaired by a small override join afterwards.
    val sums = Seq("cnt", "total") ++
      (if (trackSquares) Seq("total_sq") else Nil)
    val affSide = affected.select((g.map(col) ++ sums.map(col) ++
      minMaxCols.flatMap(c => Seq(col(s"min_$c"), col(s"max_$c")))): _*)
    val deltaSide = delta.select(((g.map(col) :+
        col("d_cnt").as("cnt") :+ col("d_total").as("total")) ++
      (if (trackSquares) Seq(col("d_total_sq").as("total_sq")) else Nil) ++
      minMaxCols.flatMap(c => Seq(col(s"u_min_$c").as(s"min_$c"),
        col(s"u_max_$c").as(s"max_$c")))): _*)
    val fusedAggs = Seq(sum(col("cnt")).as("cnt"),
        sum(col("total")).as("total")) ++
      (if (trackSquares) Seq(sum(col("total_sq")).as("total_sq")) else Nil) ++
      minMaxCols.flatMap(c => Seq(min(col(s"min_$c")).as(s"min_$c"),
        max(col(s"max_$c")).as(s"max_$c")))
    // Groups whose count reaches zero are dropped (fully retracted) —
    // same contract as IncrementalAgg.apply.
    val nextBase = affSide.unionByName(deltaSide)
      .groupBy(g.map(col): _*).agg(fusedAggs.head, fusedAggs.tail: _*)
      .filter(col("cnt") =!= 0)
    // The final state is NOT checkpointed at all: its single consumer is
    // the merge commit's input, which mergeInto persist()s before its
    // first job — the blocks materialize exactly once there either way,
    // and a localCheckpoint(false) here would only buy a SECOND full
    // optimizer/physical-planning pass (measured ~0.3-0.5s of pure
    // driver latency per fold; the round-18 lazy-ck guidance predates
    // the fused plan). Attribute-id hygiene holds without it: every
    // state-table-reading frame it references (affected) is already an
    // eagerly checkpointed LogicalRDD, so the merge's cur ⋈ incoming
    // self-join sees no shared scan attributes.
    // groups fully retracted this window (cnt hit zero): derived from the
    // checkpointed churn frames ALONE — state stores only cnt != 0 rows,
    // so a stored group vanishes iff the window's delta exactly cancels
    // it (affected ⋈ delta with cnt + d_cnt == 0; a stored group absent
    // from the delta keeps its nonzero cnt, and a delta-only group has no
    // stored row to delete). Equivalent to an anti-join of `affected`
    // against `next`'s keys.
    val goneCond = g.map(c => affected(c) <=> delta(c)).reduce(_ && _)
    val goneKeys = affected.join(delta, goneCond, "inner")
      .filter(affected("cnt") + delta("d_cnt") === 0)
      .select(g.map(c => affected(c).as(c)): _*)
    val next =
      if (minMaxCols.isEmpty) nextBase
      else ph("extremes")(withExtremes(nextBase, delta, head, affected,
        ph))
    // the delete branch is ALWAYS routed (no vanished-group pre-gate):
    // the commit's incoming-only tombstone pass runs UNDER its write job
    // and discovers "no gone groups" at zero wall time, where a pre-gate
    // would spend a dedicated emptiness-probe job on every fold. Gone keys
    // are stored groups by construction, so the pass never
    // over-approximates here.
    FeedView.Fold(Some(next), Some(goneKeys), Some(touchedKeys))
  }

  /** Repair the fused state's min/max where optimism can't answer.
    * `nextBase` already carries the OPTIMISTIC extremes (they rode the
    * fused union + aggregation); the one case that fold cannot decide is
    * a retraction that TIES a stored bound — the bound may shrink and
    * needs source truth. This method detects those hit groups and, in
    * the COMMON window where there are none, returns `nextBase`
    * untouched — zero extra joins, zero extra jobs beyond the one tiny
    * gate probe. Hit windows override exactly the hit groups' extremes
    * with an authoritative group-scoped re-aggregation.
    *
    * Null-safe group joins throughout — a null group value (e.g. the
    * unmatched side of a maintained left join) is a real group. `st` is
    * the point-read state subset for the window's touched groups; both
    * it and `delta` are tiny, churn-sized, already checkpointed: the
    * retraction extremes (r_min/r_max) rode the delta aggregation, so
    * no re-scan of the feed happens here. Tie detection needs only the
    * retraction extremes: every retracted value is >= the stored min,
    * so SOME retracted value equals it iff min(retracted) does (plain
    * `===` — null-false — is exactly right: a stored null min means the
    * group has no non-null values, and retracting a null can never
    * shrink a bound).
    */
  private def withExtremes(nextBase: DataFrame, delta: DataFrame,
      head: Long, st: DataFrame, ph: graft.util.Phases): DataFrame = {
    // hit groups: a retracted image TIES a stored extreme
    val hitCond = g.map(c => delta(c) <=> st(c)).reduce(_ && _)
    val hits = delta.join(st, hitCond, "inner")
      .filter(minMaxCols.map(c =>
          delta(s"r_min_$c") === st(s"min_$c") ||
          delta(s"r_max_$c") === st(s"max_$c"))
        .reduce(_ || _))
      // LAZY: in the common no-hit window the isEmpty gate below scans
      // every partition (finding nothing) and IS the materialization —
      // an eager checkpoint would be a redundant extra job
      .select(g.map(c => delta(c).as(c)): _*).localCheckpoint(false)

    // ONE probe job doubles as the emptiness gate AND the repair read's
    // bounded value collect (single group column): the separate
    // isEmpty-then-collect pair was two jobs over the same tiny frame
    val hitVals: Either[Boolean, Seq[Any]] = ph("ext_hits_gate")(
      if (g.size == 1)
        Right(hits.limit(MaintainedAgg.MaxRepairGroups + 1)
          .collect().map(_.get(0)).toSeq)
      else Left(hits.isEmpty))
    // the COMMON window ties no stored extreme: the fused optimistic
    // fold is already the whole answer
    if (hitVals.fold(identity, _.isEmpty)) return nextBase

    // authoritative re-aggregation of the hit groups, group-scoped and
    // pinned at the window end (same row filter as every other read)
    val srcRows0 = hitVals match {
      case Right(vals) if vals.size <= MaintainedAgg.MaxRepairGroups =>
        src.snapshotForValuesAt(head, g.head, vals)
      case _ => src.snapshotAt(head)
    }
    val srcRows = rowFilter.map(srcRows0.filter).getOrElse(srcRows0)
    val recCond = g.map(c => srcRows(c) <=> hits(c)).reduce(_ && _)
    val recAggs = minMaxCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    // the marker column distinguishes "repaired, bound is genuinely
    // NULL" (an all-null hit group) from "not a hit group" after the
    // left join below — a bare coalesce would silently fall back to the
    // optimistic bound on the former
    val rec = srcRows.join(hits, recCond, "left_semi")
      .groupBy(g.map(col): _*).agg(recAggs.head, recAggs.tail: _*)
      .withColumn("_ma_rep", lit(true))

    // override ONLY the hit groups' extremes; counts/sums and every
    // non-hit group pass through unchanged. A hit group always has a
    // stored row (a tie needs a stored bound), so it is present in
    // nextBase unless it fully vanished this window — in which case the
    // left join drops its repair row with it, matching the gone-delete.
    val ovCond = g.map(c => nextBase(c) <=> rec(c)).reduce(_ && _)
    nextBase.join(rec, ovCond, "left")
      .select((g.map(c => nextBase(c).as(c)) ++
        Seq(nextBase("cnt"), nextBase("total")) ++
        (if (trackSquares) Seq(nextBase("total_sq")) else Nil) ++
        minMaxCols.flatMap(c => Seq(
          when(rec("_ma_rep"), rec(s"min_$c"))
            .otherwise(nextBase(s"min_$c")).as(s"min_$c"),
          when(rec("_ma_rep"), rec(s"max_$c"))
            .otherwise(nextBase(s"max_$c")).as(s"max_$c"))))
        .toIndexedSeq: _*)
  }

}

object MaintainedAgg {
  /** Commit-metrics key carrying the last folded source version — the
    * freshness signal the materialized-view rewrite gate reads
    * ([[graft.sources.MvRewriteRule]]).
    */
  val SrcVersionMark: String = CowTable.MonotoneMarkPrefix + "ma_src_version"

  /** Durable view-definition sidecar file name (see writeMvSidecar). */
  val MvSidecar: String = "_mv.json"

  /** Hit-group cap for the group-scoped repair read: beyond this many
    * groups the repair reads the pinned snapshot (the driver-side value
    * collect stays bounded; at that churn stripes cover the table).
    */
  val MaxRepairGroups = 10000
}
