package graft.cdc

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.CowTable

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
  * High-water marks (the last folded version of each source) ride the
  * view's OWN commit metrics — the view is its own exactly-once ledger,
  * like [[graft.streaming.GraftSink]]'s batch marks. If a mark falls out
  * of a source's retained timeline the refresh transparently reseeds by
  * full recompute (same contract as a streaming source falling behind
  * retention).
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
    viewStorage: String = "cow") {

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
  val table: CowTable =
    if (viewStorage == "mor")
      new graft.table.MorTable(spark, viewPath, keyCols = a.mergeIdCols,
        clusterCols = fkCols, fileIndexEntries = 60000, statsCols = fkCols)
    else
      new CowTable(spark, viewPath, keyCols = a.mergeIdCols,
        clusterCols = fkCols, fileIndexEntries = 60000, statsCols = fkCols,
        trackCommitVersions = trackViewVersions)

  // monotone-mark metrics: folded forward into every view commit by the
  // table layer, so the ledger survives unrelated service commits and is
  // always readable from the head manifest
  private val MarkA = CowTable.MonotoneMarkPrefix + "mj_src_a_version"
  private val MarkB = CowTable.MonotoneMarkPrefix + "mj_src_b_version"

  /** The maintained join as stored (A columns, then B payload columns). */
  def current: DataFrame = {
    val cols = aCols ++ viewBCols
    table.snapshot().select(cols.map(col): _*)
  }

  /** Recompute the view content from the sources' current snapshots — the
    * seed path and the test oracle. One shuffle join; the incremental path
    * exists so this never has to run on a 100-TB table twice.
    */
  def recompute(): DataFrame =
    joinAgainstB(a.snapshot().select(aCols.map(col): _*), b.snapshot())

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

  private def marks(): (Long, Long) = {
    val m = table.manifest.metrics
    (m.getOrElse(MarkA, 0L), m.getOrElse(MarkB, 0L))
  }

  /** Fold all source commits since the last refresh into the view — or
    * seed/reseed by full recompute when the view doesn't exist yet or the
    * marks fell behind source retention. Returns the refreshed view.
    */
  def refresh(): DataFrame = {
    val ea = a.manifest.version
    val eb = b.manifest.version
    if (!table.exists) return seed(ea, eb)
    val (sa, sb) = marks()
    if (sa == ea && sb == eb) return current // nothing to fold
    // LAZY localCheckpoint(false), not eager: each feed still truncates
    // lineage (fresh attribute ids for the self-join algebra below) but
    // materializes inside the first job that consumes it — the B-probe
    // collect or `affected`'s EAGER checkpoint — instead of paying a
    // dedicated round per feed. Downstream consumers then read the
    // checkpointed blocks. Driver-side manifest resolution errors still
    // surface here (manifestAt is eager), but laziness moves the DATA
    // FILE reads into fold()'s first consuming job — a retention clean
    // racing the fold surfaces there instead, so fold() is wrapped in the
    // same reseed net below.
    // ... and the two lazy checkpoints still pay their catalyst planning
    // (toRdd) up front on the driver — two independent plans, so the B
    // side plans on a background thread while the A side plans inline
    // (Overlap.withBg: the bg side is awaited even when the inline side
    // throws, so no detached planning races the reseed below)
    // fold phase timings ride the fold commit's metrics
    val ph = new graft.util.Phases
    val windows =
      try ph("feeds"){
        Some(graft.util.Overlap.withBg(
          if (sb < eb) Some(b.changeFeed(sb, eb).localCheckpoint(false))
          else None) { fb =>
          val fa = if (sa < ea)
            Some(a.changeFeed(sa, ea).localCheckpoint(false))
          else None
          (fa, fb())
        })
      } catch {
        // a mark aged out of a source's retained timeline (driver-side
        // manifest miss) or a data/tombstone file already cleaned at
        // DataFrame construction: reseed
        case t: Throwable if t.isInstanceOf[IllegalArgumentException] ||
            MaintainedJoin.sourceRetentionRace(t,
              Seq(a.basePath, b.basePath), table.basePath) =>
          None
      }
    windows match {
      case None => reseed(ea, eb)
      case Some((feedA, feedB)) =>
        // the lazily-checkpointed feeds read their data files inside
        // fold()'s first consuming job; a retention clean racing the fold
        // surfaces there as a (Spark-wrapped) FileNotFoundException —
        // route it to the same reseed path as a driver-side manifest miss.
        // Reseed is a full overwrite from the current sources, so it is
        // correct even if fold already committed part of its work.
        try fold(feedA, feedB, ea, eb, ph)
        catch {
          case t: Throwable if MaintainedJoin.sourceRetentionRace(t,
              Seq(a.basePath, b.basePath), table.basePath) =>
            reseed(ea, eb)
        }
    }
  }

  private def seed(ea: Long, eb: Long): DataFrame = {
    table.bulkInsert(recompute(),
      extraMetrics = Map(MarkA -> ea, MarkB -> eb))
    current
  }

  private def reseed(ea: Long, eb: Long): DataFrame = {
    table.overwrite(recompute(),
      extraMetrics = Map(MarkA -> ea, MarkB -> eb))
    current
  }

  private def fold(feedA: Option[DataFrame], feedB: Option[DataFrame],
      ea: Long, eb: Long, ph: graft.util.Phases): DataFrame = {
    val ct = CowTable.ChangeTypeCol
    // --- A-side churn: authoritative new images + deletes
    val upsA = feedA.map(_.filter(col(ct) === "U")
      .select(aCols.map(col): _*))
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
    // delA re-evaluates as a filter+project over the CACHED feed — cheap
    // per use, so a dedicated materialization would cost more than the
    // re-evaluations it saves
    val delAck = delA
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
      (delAck match {
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
      val hd = ph("gate_del")(delAck.exists(!_.isEmpty))
      (up(), hd)
    }
    // the marks advance with the fold's last commit, which also records
    // the fold phases timed up to it
    def marksM = Map(MarkA -> ea, MarkB -> eb) ++ ph.metrics
    // re-joined new images for the affected A rows (lazy: only built when
    // the fold has upserts)
    def upImages(): DataFrame = {
      // point-read the B rows these fks reference, then re-join
      val aff = affected.get
      val probe = aff
        .select(on.map { case (f, k) => col(f).as(k) }.toIndexedSeq: _*)
        .distinct()
      val bRows = b.lookupByKeys(probe)
      joinAgainstB(aff, bRows)
    }
    // delete identities padded to the given column shape (only identity
    // matters; payloads ride as typed nulls)
    def delPadded(shape: org.apache.spark.sql.types.StructType): DataFrame =
      shape.fieldNames.foldLeft(delAck.get)((df, c) =>
        if (df.columns.contains(c)) df
        else df.withColumn(c, lit(null).cast(shape(c).dataType)))
    if (hasUps && hasDel && viewStorage == "cow") {
      // Both sides in ONE atomic merge commit: images and deletes ride a
      // routing column, so the fold is one rewrite pass instead of two
      // and the marks advance atomically with the whole window's effect
      // (a crash can no longer land between the image and delete halves;
      // replay-on-stale-marks still holds and stays idempotent). MOR
      // views keep the two-commit path: their upsert/delete are pure log
      // appends, while mergeInto would force a compaction first.
      val up = ph("up_images")(upImages()).withColumn("__mj_op", lit("U"))
      val dn = delPadded(org.apache.spark.sql.types.StructType(
          up.schema.fields.filterNot(_.name == "__mj_op")))
        .withColumn("__mj_op", lit("D"))
      // routed by one op column, so delete/insert conditions are disjoint
      // on incoming rows — the incoming-only tombstone pass applies
      // (deleted source-A keys are essentially always present in a
      // left-outer view, so its over-approximation never materializes)
      table.mergeInto(up.unionByName(dn),
        whenMatchedDelete = col("i.__mj_op") === "D",
        insertCondition = col("i.__mj_op") =!= "D",
        conditionCols = Seq("__mj_op"),
        tombstonesFromIncoming = true,
        extraMetrics = marksM)
    } else {
      // Only the LAST commit of the fold advances the marks: a crash
      // after an earlier commit leaves the marks behind, so the next
      // refresh replays the window — image folds are idempotent (the
      // images are a deterministic function of the feed window + source
      // snapshots), so re-applying is exact. Marks advanced PAST a lost
      // delete commit would corrupt the view permanently.
      if (hasUps)
        table.upsert(upImages(),
          extraMetrics = if (hasDel) Map.empty else marksM)
      if (hasDel)
        table.delete(delPadded(table.manifest.schema),
          extraMetrics = marksM)
      if (!hasUps && !hasDel) {
        // feeds held only superseded/no-op rows: still advance the ledger
        table.delete(current.limit(0), extraMetrics = marksM)
      }
    }
    current
  }
}

object MaintainedJoin {
  /** Churn-key cap for the fk-pruned B-probe read: beyond this many
    * distinct changed fks the probe scans the view (the driver-side
    * value collect stays bounded, and stripes would cover it anyway).
    */
  val MaxProbeValues = 10000

  /** True when the throwable (or any nested cause — executor failures
    * arrive Spark-wrapped) is a missing-data-file error, the signature of
    * a retention clean racing an incremental fold. Two shapes exist:
    * `FileNotFoundException` from an executor task whose file vanished
    * after resolution, and a driver-side `AnalysisException` with the
    * `PATH_NOT_FOUND` condition when the file was already gone at
    * DataFrame construction. Callers route both to a full reseed rather
    * than failing the refresh.
    */
  private[cdc] def retentionRace(t: Throwable): Boolean =
    missingFileMessage(t).isDefined

  /** [[retentionRace]] SCOPED to the maintained view's sources: a
    * missing-file failure whose message names a file under the VIEW's
    * own basePath (and under no source) is NOT a retention race on a
    * source — it is the view's own state going missing (a misbehaving
    * cleaner, manual deletion, a commit-path bug), and silently reseeding
    * would mask that corruption behind an every-refresh full recompute.
    * Ambiguous failures (no path in the message, executor-wrapped causes
    * without one, or a path matching both sides) keep the RESILIENT
    * default: reseed.
    */
  private[cdc] def sourceRetentionRace(t: Throwable,
      srcPaths: Seq[String], ownPath: String): Boolean =
    missingFileMessage(t) match {
      case None => false
      case Some(msg) =>
        !(msg.contains(ownPath) && !srcPaths.exists(msg.contains))
    }

  /** The first missing-file failure in the cause chain (bounded walk),
    * as its message — FileNotFoundException or PATH_NOT_FOUND analysis
    * errors, nested arbitrarily (Spark wraps executor-side reads).
    */
  private def missingFileMessage(t: Throwable): Option[String] = {
    var c: Throwable = t
    var hops = 0
    while (c != null && hops < 16) {
      c match {
        case f: java.io.FileNotFoundException =>
          return Some(Option(f.getMessage).getOrElse(""))
        case a: org.apache.spark.sql.AnalysisException
            if Option(a.getCondition).exists(_.startsWith("PATH_NOT_FOUND"))
          => return Some(Option(a.getMessage).getOrElse(""))
        case _ =>
      }
      c = if (c.getCause eq c) null else c.getCause
      hops += 1
    }
    None
  }
}
