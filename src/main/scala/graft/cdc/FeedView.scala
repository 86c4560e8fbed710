package graft.cdc

import org.apache.spark.sql.DataFrame

import graft.table.CowTable

/** The refresh protocol every feed-driven maintained view shares
  * ([[MaintainedJoin]], [[MaintainedAgg]], [[MaintainedDistinct]]); a view
  * supplies only its seed frame, the change feed it reads per source and
  * its fold algebra (DBSP's integrate/differentiate skeleton around a
  * view-specific delta).
  *
  * High-water marks (the last folded version of each source) ride the
  * view table's OWN commit metrics as monotone marks — the view is its
  * own exactly-once ledger, like [[graft.streaming.GraftSink]]'s batch
  * marks, and the ledger survives unrelated service commits. A refresh:
  *
  *   - seeds when the view table does not exist: a `bulkInsert` of the
  *     seed frame, pinned at the source versions the marks record (an
  *     unpinned snapshot could hold a source commit that lands mid-seed
  *     and that the next refresh would fold again — agg deltas are not
  *     replay-idempotent);
  *   - returns [[current]] when every mark is at its source's head;
  *   - otherwise builds each lagging source's lazily checkpointed feed,
  *     folds the window and lands it with ONE
  *     [[graft.table.CowTable.applyChanges]] call carrying the marks: the
  *     view table picks the plan (one commit on COW; an upsert then a
  *     delete log append on MOR, the marks on the last; a ledger-only
  *     commit for an empty window);
  *   - reseeds (an `overwrite` pinned at the then-current heads) when a
  *     mark fell out of a source's retained timeline or a retention clean
  *     raced the fold — the same contract as a streaming source falling
  *     behind retention. The fold is one commit on COW, so a caught crash
  *     left no partial state; on a MOR view the marks ride only the last
  *     append, and the overwrite is correct from any prior state.
  */
abstract class FeedView(
    /** (mark metrics key, source) per source, in the order the feeds and
      * heads reach [[fold]].
      */
    ledger: Seq[(String, CowTable)]) {

  /** The table the view is stored in. */
  def table: CowTable

  /** The view as stored. */
  def current: DataFrame

  /** The full view content of the sources at `heads` (one version per
    * ledger source, each within retention).
    */
  protected def seedFrame(heads: Seq[Long]): DataFrame

  /** Runs after the first seed commit. */
  protected def seeded(): Unit = ()

  /** The change-feed window `(from, to]` of one source, as the fold
    * consumes it (before its lazy checkpoint).
    */
  protected def feedOf(src: CowTable, from: Long, to: Long): DataFrame

  /** Fold one window: `feeds` holds each source's checkpointed feed, None
    * for a source already at its head.
    */
  protected def fold(feeds: Seq[Option[DataFrame]], heads: Seq[Long],
      ph: graft.util.Phases): FeedView.Fold

  private def sources = ledger.map(_._2)
  private def marksAt(heads: Seq[Long]): Map[String, Long] =
    ledger.map(_._1).zip(heads).toMap

  private def raced(t: Throwable): Boolean =
    FeedView.sourceRetentionRace(t, sources.map(_.basePath), table.basePath)

  /** Fold all source commits since the last refresh into the view — or
    * seed/reseed it. Returns [[current]].
    */
  final def refresh(): DataFrame = {
    val heads = sources.map(_.manifest.version)
    if (!table.exists) {
      table.bulkInsert(seedFrame(heads), extraMetrics = marksAt(heads))
      seeded()
      return current
    }
    val stored = table.manifest.metrics
    val marks = ledger.map { case (k, _) => stored.getOrElse(k, 0L) }
    if (marks == heads) return current
    val ph = new graft.util.Phases
    // LAZY localCheckpoint(false), not eager: each feed truncates lineage
    // now (fresh attribute ids for the fold's self-join algebra) but fills
    // its blocks inside the fold's first consuming job instead of a
    // dedicated round. Catalyst planning still runs at the call, so every
    // source after the first plans on a background thread (awaited even
    // when the inline side throws, so no detached planning races a
    // reseed).
    def feeds(i: Int): List[Option[DataFrame]] =
      if (i == ledger.size) Nil
      else {
        def one = if (marks(i) == heads(i)) None
          else Some(feedOf(sources(i), marks(i), heads(i))
            .localCheckpoint(false))
        if (i == ledger.size - 1) List(one)
        else graft.util.Overlap.withBg(feeds(i + 1))(rest => one :: rest())
      }
    val window =
      try Some(ph("feed")(feeds(0)))
      catch {
        // a mark aged out of retention (driver-side manifest miss) or a
        // file already cleaned at DataFrame construction
        case t: Throwable if t.isInstanceOf[IllegalArgumentException] ||
            raced(t) => None
      }
    window match {
      case None => reseed()
      case Some(w) =>
        // the lazy feeds read their data files inside the fold's jobs,
        // where a racing retention clean surfaces as a Spark-wrapped
        // FileNotFoundException
        try {
          val f = fold(w, heads, ph)
          table.applyChanges(f.next, f.gone,
            extraMetrics = marksAt(heads) ++ ph.metrics,
            touchedKeys = f.touchedKeys)
        } catch { case t: Throwable if raced(t) => reseed() }
    }
    current
  }

  private def reseed(): Unit = {
    // pinned at the NOW-current heads: the newest version is always
    // inside retention
    val heads = sources.map(_.manifest.version)
    table.overwrite(seedFrame(heads), extraMetrics = marksAt(heads))
  }
}

object FeedView {
  /** One fold window's effect on the view table, the arguments of its
    * [[CowTable.applyChanges]]: `next` rows to upsert (None: none), `gone`
    * identities to delete (None: none; Some may still turn out empty),
    * disjoint from `next`, and, optionally, a superset of the rewrite
    * units both touch ([[CowTable.lookupByKeysTouched]]'s probe set).
    */
  final case class Fold(next: Option[DataFrame], gone: Option[DataFrame],
      touchedKeys: Option[Set[String]] = None)

  /** Empty window: no upserts, no deletes — only the ledger advances. */
  val Empty: Fold = Fold(None, None)

  /** True when the throwable (or any nested cause — executor failures
    * arrive Spark-wrapped) is a missing-data-file error, the signature of
    * a retention clean racing an incremental fold. Two shapes exist:
    * `FileNotFoundException` from an executor task whose file vanished
    * after resolution, and a driver-side `AnalysisException` with the
    * `PATH_NOT_FOUND` condition when the file was already gone at
    * DataFrame construction.
    */
  private[cdc] def retentionRace(t: Throwable): Boolean =
    missingFileMessage(t).isDefined

  /** [[retentionRace]] SCOPED to the view's sources: a missing-file
    * failure whose message names a file under the VIEW's own basePath
    * (and under no source) is NOT a retention race on a source — it is
    * the view's own state going missing (a misbehaving cleaner, manual
    * deletion, a commit-path bug), and silently reseeding would mask that
    * corruption behind an every-refresh full recompute. Ambiguous
    * failures (no path in the message, executor-wrapped causes without
    * one, or a path matching both sides) keep the RESILIENT default:
    * reseed.
    */
  private[cdc] def sourceRetentionRace(t: Throwable,
      srcPaths: Seq[String], ownPath: String): Boolean =
    missingFileMessage(t) match {
      case None => false
      case Some(msg) =>
        !(msg.contains(ownPath) && !srcPaths.exists(msg.contains))
    }

  /** The first missing-file failure in the cause chain (bounded walk),
    * as its message.
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
