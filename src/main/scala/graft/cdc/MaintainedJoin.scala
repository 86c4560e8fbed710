package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.{CowTable, TableProps}

/** Incrementally maintained LEFT-OUTER enrichment join: a materialized
  * `A LEFT JOIN B ON A.fk = B.id` stored as its own [[CowTable]], kept
  * current from the two source tables' change feeds ([[CowTable.changeFeed]])
  * — maintenance cost scales with the CHURN of A and B, not with |A ⋈ B|.
  *
  * WHY left-outer (not inner): the view then contains EVERY A row — matched
  * or not — so the rows affected by B-side churn (including a B insert that
  * creates a brand-new match) are found by probing the view's own stored fk
  * columns. An inner-join view loses unmatched A rows and cannot recover
  * them without a secondary index on A.fk; inner semantics remain one
  * `WHERE b_id IS NOT NULL` filter away. The delta algebra per refresh
  * window:
  *
  *   - ΔA upserts: new A images, re-joined against CURRENT B → upsert view.
  *   - ΔA deletes: drop the view rows by A identity.
  *   - ΔB (U or D): view rows whose fk hits a changed B identity are
  *     re-joined (a B delete leaves them with null payload — left-outer
  *     semantics; a B insert/update refreshes them). ΔA images win over
  *     stale view images for keys in both sets.
  *
  * The B-side probe is a point read through B's record-key file index
  * ([[CowTable.lookupByKeys]]); the view-side fk probe benefits from the
  * view table's `clusterCols`/`statsCols` on fk (set automatically).
  * Service-layout guidance, measured in BASELINE.md ("Round-8
  * maintained-join-view probe"):
  * dim-dominated churn wants `recluster(fk)` (tightest fk stripes);
  * churn on BOTH sides wants `reclusterZOrder(aKey, fk)` — legal on the
  * fk-declared view via the manifest's unordered-file tracking, and it
  * cut fact-churn rewrites 11x over fk-linear at ~2x the dim-churn
  * candidates; scattered/fact-heavy churn wants `viewStorage = "mor"`.
  *
  * Seeding, marks, reseed-on-retention-race and the fold commit are the
  * shared [[FeedView]] protocol; a mixed-churn fold on a COW view is one
  * merge commit, a MOR view appends an upsert log and a delete log.
  *
  * Requirements: both sources track commit versions (feeds need stamps);
  * `on` maps A columns onto ALL of B's merge identity columns (key +
  * partition — the probe must prune); A and B payload column names must
  * not collide (pass `bPrefix` to rename B's payload into the view).
  * Like [[IncrementalAgg.MaintainedView]], sources must be COW (MOR point
  * lookups do not see unmerged log rows).
  */
final class MaintainedJoin(
    spark: SparkSession,
    viewPath: String,
    a: CowTable,
    b: CowTable,
    /** A-column -> B-identity-column join map; must cover b.mergeIdCols. */
    on: Seq[(String, String)],
    /** Prefix for B's payload columns in the view (avoids collisions). */
    bPrefix: String = "",
    /** Stamp the VIEW's own commits so it can feed further consumers —
      * a downstream [[MaintainedJoin]] (star-schema chains: (A⋈B)⋈C),
      * a [[graft.sources.GraftStreamSource table stream]], or
      * [[CowTable.changeFeed]] readers. Costs one long column.
      */
    trackViewVersions: Boolean = false,
    /** Storage backing the VIEW: `"cow"` rewrites churned files in place
      * (read-optimal), `"mor"` appends churn as delta logs and defers the
      * rewrite to compaction. Measured tradeoff (BASELINE.md, "Round-8
      * maintained-join-view probe": 31.5M-row view, 256 files): scattered dim churn touches EVERY file — COW
      * rewrites all 256 (30s) where MOR appends one log run — so choose
      * `"mor"` when B-churn is uniform over the fk domain, `"cow"` when
      * churn is clustered or reads dominate. MOR implies version stamps.
      */
    viewStorage: String = "cow")
  extends FeedView(Seq(MaintainedJoin.MarkA -> a, MaintainedJoin.MarkB -> b)) {

  require(a.trackCommitVersions && b.trackCommitVersions,
    "MaintainedJoin sources must track commit versions (change feeds)")
  require(!a.isInstanceOf[graft.table.MorTable] &&
    !b.isInstanceOf[graft.table.MorTable],
    "MaintainedJoin requires COW sources (MOR point lookups do not see " +
      "unmerged log rows)")
  require(on.map(_._2).toSet == b.mergeIdCols.toSet,
    s"`on` must map onto exactly B's merge identity ${b.mergeIdCols}; " +
      s"got ${on.map(_._2)}")
  require(viewStorage == "cow" || viewStorage == "mor",
    s"viewStorage must be cow|mor, got $viewStorage")

  private val fkCols = on.map(_._1)
  private def aCols: Seq[String] =
    a.manifest.schema.fieldNames.toSeq.filterNot(_ == CowTable.CommitVerCol)
  private def bPayloadCols: Seq[String] =
    b.manifest.schema.fieldNames.toSeq
      .filterNot(b.mergeIdCols.contains)
      .filterNot(_ == CowTable.CommitVerCol)
  private def viewBCols: Seq[String] = bPayloadCols.map(bPrefix + _)

  /** The view table: keyed by A's merge identity, fk-clustered so B-churn
    * probes prune files after a recluster service pass.
    */
  val table: CowTable = CowTable.create(spark, viewPath,
    keyCols = a.mergeIdCols, storageType = viewStorage,
    props = TableProps(clusterCols = fkCols, fileIndex = true,
      statsCols = fkCols, trackCommitVersions = trackViewVersions))

  /** The maintained join as stored (A columns, then B payload columns). */
  def current: DataFrame = {
    val cols = aCols ++ viewBCols
    table.snapshot().select(cols.map(col): _*)
  }

  /** Recompute the view content from the sources' current snapshots — the
    * test oracle. One shuffle join; the incremental path exists so this
    * never has to run on a 100-TB table twice.
    */
  def recompute(): DataFrame =
    joinAgainstB(a.snapshot().select(aCols.map(col): _*), b.snapshot())

  protected def seedFrame(heads: Seq[Long]): DataFrame =
    joinAgainstB(a.snapshotAt(heads(0)).select(aCols.map(col): _*),
      b.snapshotAt(heads(1)))

  protected def feedOf(src: CowTable, from: Long, to: Long): DataFrame =
    src.changeFeed(from, to)

  /** Left-join `aRows` against the given B rows on the fk map, renaming B
    * payload columns with the prefix.
    */
  private def joinAgainstB(aRows: DataFrame, bRows: DataFrame): DataFrame = {
    val bSel = bRows.select(
      (b.mergeIdCols.map(c => bRows(c).as(s"__b_$c")) ++
        bPayloadCols.map(c => bRows(c).as(bPrefix + c))).toIndexedSeq: _*)
    val cond = on.map { case (f, k) => aRows(f) === bSel(s"__b_$k") }
      .reduce(_ && _)
    aRows.join(bSel, cond, "left")
      .select((aCols.map(aRows.apply) ++ viewBCols.map(bSel.apply))
        .toIndexedSeq: _*)
  }

  /** The view read backing the B-churn probe: the view is fk-clustered
    * with fk column stats (set at construction), so a BOUNDED churn key
    * set prunes to the files whose fk stripe it touches
    * ([[CowTable.snapshotForValues]] — superset contract, so the semi
    * join stays exact). Composite fks prune on the first mapped column.
    * Unbounded churn (> [[MaintainedJoin.MaxProbeValues]] distinct keys)
    * falls back to the full scan — at that churn the stripes cover the
    * view anyway.
    */
  private def viewRowsForBIds(bIds: DataFrame): DataFrame = {
    val (f, k) = on.head
    val vals = bIds.select(col(k)).distinct()
      .limit(MaintainedJoin.MaxProbeValues + 1)
      .collect().map(_.get(0)).toSeq
    if (vals.size > MaintainedJoin.MaxProbeValues) table.snapshot()
    else table.snapshotForValues(f, vals)
  }

  protected def fold(feeds: Seq[Option[DataFrame]], heads: Seq[Long],
      ph: graft.util.Phases): FeedView.Fold = {
    val Seq(feedA, feedB) = feeds
    val ct = CowTable.ChangeTypeCol
    // --- A-side churn: authoritative new images + deletes
    val upsA = feedA.map(_.filter(col(ct) === "U")
      .select(aCols.map(col): _*))
    // delA re-evaluates as a filter+project over the CACHED feed — cheap
    // per use, so a dedicated materialization would cost more than the
    // re-evaluations it saves
    val delA = feedA.map(_.filter(col(ct) === "D")
      .select(a.mergeIdCols.map(col): _*))
    // Mixed-churn folds: the A feed's lazy checkpoint would otherwise
    // materialize inside the affected checkpoint, AFTER the B-probe round
    // — two independent churn-sized jobs run back to back. Materialize
    // the A blocks on a background thread WHILE the B probe runs (a
    // cheap count over the checkpointing scan; concurrent block
    // computation is single-flighted by the block manager). A-only or
    // B-only folds skip this — there is nothing to overlap with.
    def withAWarm[X](body: => X): X = (feedA, feedB) match {
      case (Some(fa), Some(_)) =>
        graft.util.Overlap.withBg { fa.count(); () } { warm =>
          val r = body; warm(); r
        }
      case _ => body
    }
    // --- B-side churn: view rows whose fk hits a changed B identity.
    // The view holds every A row (left-outer), so this finds them ALL —
    // including rows a new B key now matches for the first time.
    val hitByB = withAWarm { feedB.map { fb => ph("hit_by_b"){
      val bIds = fb.select(b.mergeIdCols.map(col): _*).distinct()
      val viewRows = viewRowsForBIds(bIds)
      val cond = on.map { case (f, k) => viewRows(f) <=> bIds(k) }
        .reduce(_ && _)
      viewRows.join(bIds, cond, "left_semi")
        .select(aCols.map(col): _*)
    }}}
    // ΔA images win over view images for identities in both sets; rows
    // ΔA DELETES are dropped from the image set outright (a B-churn hit
    // on a concurrently-deleted A row must not resurrect it — and
    // re-joining it is wasted work). Checkpointed EAGERLY (multi-consumer:
    // the emptiness gate, the B-probe distinct AND the merge input all
    // read it — a lazy checkpoint referenced twice inside one job
    // computes its subtree twice), so the plan behind it (feed joins +
    // the pruned view probe) runs exactly once, at the checkpoint.
    val affected = ((upsA, hitByB) match {
      case (Some(u), Some(h)) =>
        val uIds = u.select(a.mergeIdCols.map(col): _*)
        val cond = a.mergeIdCols.map(c => h(c) <=> uIds(c)).reduce(_ && _)
        Some(u.unionByName(h.join(uIds, cond, "left_anti")))
      case (Some(u), None) => Some(u)
      case (None, Some(h)) => Some(h)
      case (None, None) => None
    }).map { aff => ph("affected"){
      (delA match {
        case Some(d) =>
          val dIds = d.select(a.mergeIdCols.map(col): _*)
          val cond = a.mergeIdCols.map(c => aff(c) <=> dIds(c))
            .reduce(_ && _)
          aff.join(dIds, cond, "left_anti")
        case None => aff
      }).localCheckpoint()
    }}
    // the two emptiness gates probe INDEPENDENT frames (the checkpointed
    // affected images; the cached feed's delete slice) — run them
    // concurrently, one job round instead of two
    val (hasUps, hasDel) = graft.util.Overlap.withBg(
      ph("gate_ups")(affected.exists(!_.isEmpty))) { up =>
      val hd = ph("gate_del")(delA.exists(!_.isEmpty))
      (up(), hd)
    }
    // re-joined new images for the affected A rows: point-read the B rows
    // their fks reference, then re-join
    def upImages(): DataFrame = {
      val aff = affected.get
      val probe = aff
        .select(on.map { case (f, k) => col(f).as(k) }.toIndexedSeq: _*)
        .distinct()
      joinAgainstB(aff, b.lookupByKeys(probe))
    }
    // deleted source-A keys are essentially always present in a
    // left-outer view, so the incoming-only tombstone pass never
    // over-approximates here
    FeedView.Fold(
      if (hasUps) Some(ph("up_images")(upImages())) else None,
      if (hasDel) delA else None)
  }
}

object MaintainedJoin {
  /** Churn-key cap for the fk-pruned B-probe read: beyond this many
    * distinct changed fks the probe scans the view (the driver-side
    * value collect stays bounded, and stripes would cover it anyway).
    */
  val MaxProbeValues = 10000

  // monotone-mark metrics: folded forward into every view commit by the
  // table layer, so they are always readable from the head manifest
  private val MarkA = CowTable.MonotoneMarkPrefix + "mj_src_a_version"
  private val MarkB = CowTable.MonotoneMarkPrefix + "mj_src_b_version"
}
