package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.cdc.CdcOps

/** Merge-on-read table: the MOR storage type the reference selects via
  * `hudi_storage_type` (reference: processData.py:150-155, 220-221).
  *
  * Write path: [[applyChanges]] ([[upsert]]/[[delete]]) APPENDS small
  * delta-log parquet files (payload + `_graft_log_op` U/D + the
  * `_graft_commit_version` stamp) instead of rewriting base files — the
  * write amplification of a COW merge (read + anti-join + rewrite of
  * every touched partition) drops to one append, which is what makes MOR
  * the right storage type for hot, frequently-updated tables at scale.
  *
  * Read paths, named after the reference's `_ro`/`_rt` Hive tables
  * (processData.py:131-132):
  *   - [[readOptimized]] (`_ro`): base files only — cheap, possibly stale.
  *   - [[realtime]] (`_rt`, also [[snapshot]], matching Hudi's MOR snapshot
  *     query): base files merged with delta logs at read time. Only
  *     partitions that HAVE pending logs pay the merge (a window over the
  *     record key within those partitions); untouched partitions stream
  *     through file-pruned, so read-merge cost scales with the amount of
  *     un-compacted change, not table size.
  *
  * Merge semantics match the COW sequence of the same operations: for each
  * record key (non-global index — key includes the partition value) the
  * record with the highest commit version wins; a winning delete tombstone
  * drops the key. Rows carry their writing commit in
  * [[CowTable.CommitVerCol]] ([[CowTable.trackCommitVersions]] is forced on)
  * so appended base files and delta logs order correctly against each other.
  *
  * Compaction ([[compactLogs]]): folds each logged partition's base + logs
  * into fresh base files and resets the delta-commit counter — the
  * every-N-delta-commits cadence of `hoodie.compact.inline.max.delta.commits`
  * (reference: processData.py:152-153, cadence 20; the reference runs it
  * out-of-line, here `compactEvery` also supports inline triggering).
  */
class MorTable(
    spark: SparkSession,
    basePath: String,
    keyCols: Seq[String],
    partitionCols: Seq[String] = Nil,
    precombineField: String = "",
    keepCommits: Int = 10,
    numBuckets: Int = 0,
    clusterCols: Seq[String] = Nil,
    /** Inline-compact after this many delta commits; 0 disables (the
      * reference's `hoodie.compact.inline=false` mode, :152).
      */
    val compactEvery: Int = 20,
    fileIndex: Boolean = false,
    statsCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil,
    checkConstraints: Seq[String] = Nil)
  extends CowTable(spark, basePath, keyCols, partitionCols, precombineField,
    keepCommits, numBuckets, clusterCols, trackCommitVersions = true,
    fileIndex = fileIndex, statsCols = statsCols,
    bloomCols = bloomCols, checkConstraints = checkConstraints) {

  import CowTable._
  import MorTable._

  override protected def storageTypeName: String = "mor"

  override protected def inlineCompactEvery: Int = compactEvery

  // ------------------------------------------------------------- write path

  /** K2/K3 on MOR: upserts and deletes APPEND delta logs (no base
    * rewrite) — an upsert log, then a delete log, with `extraMetrics` only
    * on the last, so a crash between them leaves the metrics (a view's
    * ledger marks) behind and a replay re-applies the window. Cold-start
    * exception: a table with NO files at all (DDL-created empty) has
    * nothing to merge against, so its first upserts write BASE files —
    * the read-optimized view starts non-empty instead of hiding the
    * initial data behind the compaction cadence. A call with neither side
    * is the ledger commit of [[CowTable.applyChanges]] and counts no delta
    * commit. `incomingUnique` skips the upsert log's precombine window;
    * the other hints are not needed: an append reads no stored row.
    */
  override def applyChanges(upserts: Option[DataFrame],
      deletes: Option[DataFrame], parallelism: Int = 0,
      extraMetrics: Map[String, Long] = Map.empty,
      touchedKeys: Option[Set[String]] = None,
      incomingUnique: Boolean = false,
      incomingDeletes: Option[Long] = None): Unit = {
    if (upserts.isEmpty && deletes.isEmpty)
      return super.applyChanges(None, None, extraMetrics = extraMetrics)
    upserts.foreach { df =>
      val metrics =
        if (deletes.isEmpty) extraMetrics else Map.empty[String, Long]
      if (manifest.files.isEmpty)
        insertAppend(precombined(df, incomingUnique), parallelism, metrics)
      else logAppend(df, parallelism, LogUpsert, metrics, incomingUnique)
    }
    deletes.foreach(logAppend(_, parallelism, LogDelete, extraMetrics))
  }

  /** Partial-column upserts and conditional merges read stored values
    * (the coalesce; `c.*` conditions), so they cannot be pure log
    * appends: compact pending logs first and merge against clean base
    * files.
    */
  override protected def compactBeforeRewrite(parallelism: Int): Unit = {
    compactLogs(parallelism); ()
  }

  /** Intra-batch conflict resolution, as on the COW write path; none for a
    * batch the caller vouches is one row per identity (`unique`).
    */
  private def precombined(df: DataFrame, unique: Boolean): DataFrame =
    if (precombineField.isEmpty || unique) df
    else CdcOps.precombine(df, mergeIdCols, precombineField)

  private def logAppend(df: DataFrame, parallelism: Int, op: String,
      extraMetrics: Map[String, Long], unique: Boolean = false): Unit = {
    val m = manifest
    val v = m.version + 1
    val stamped = stamp(df, v)
    val evolved = evolveSchema(m, stamped.schema)
    val incoming0 = pad(stamped, evolved)
    val incoming = if (op != LogUpsert) incoming0
      else precombined(incoming0,
        unique && uniqueThroughPad(stamped.schema, evolved))
    // delta logs never receive FileStats — skip the key-stats tracker
    val newLogs = writeCommit(incoming.withColumn(LogOpCol, lit(op)), v,
      parallelism, idSchema = evolved, collectKeyStats = false)
    writeManifest(m.copy(version = v, schemaJson = evolved.json,
      logPartitions = mergeListings(m.logPartitions, newLogs),
      deltaCommits = m.deltaCommits + 1,
      operation = if (op == LogUpsert) "log_upsert" else "log_delete",
      metrics = CowTable.writeStats(newLogs) ++ extraMetrics))
    clean()
    if (compactEvery > 0 && manifest.deltaCommits >= compactEvery)
      compactLogs(parallelism)
  }

  // -------------------------------------------------------------- read path

  /** `_ro` — base files only: no merge cost, staleness bounded by the
    * compaction cadence.
    */
  def readOptimized(): DataFrame = readFiles(manifest, manifest.baseFiles)

  /** `_rt` — read-time merged current state: Hudi's MOR snapshot query,
    * so every snapshot read ([[snapshot]], [[snapshotAt]], the
    * data-skipping `snapshotFor*` scans) is merged the same way.
    */
  def realtime(): DataFrame = snapshot()

  /** Time travel on the merged view (any retained commit). */
  def realtimeAt(version: Long): DataFrame = snapshotAt(version)

  /** Every snapshot read is merged: `files` selects BASE files only (a
    * data-skipping scan's stats superset — a pruned base row cannot match
    * the probe), and every pending log stays in the merge.
    */
  override protected def readSnapshot(m: Manifest,
      files: Seq[String]): DataFrame =
    if (m.logPartitions.isEmpty) readFiles(m, files)
    else mergedRead(m, m.partitions.keySet ++ m.logPartitions.keySet,
      files.toSet)

  /** The merged read of a unit set, behind every MOR read path: the
    * base files of `units` that pass `keep`, where a unit with pending
    * logs merges latest-commit-wins with ALL of them (log rows are
    * unindexed, so `keep` never drops one; a log winner whose base row was
    * filtered out still surfaces on its own) and a unit without logs
    * passes through unmerged. Files in sorted unit order.
    */
  private def mergedRead(m: Manifest, units: Set[String],
      keep: String => Boolean = _ => true): DataFrame = {
    val logged = m.logPartitions.keySet & units
    def base(us: Set[String]) = readFiles(m, us.toSeq.sorted
      .flatMap(k => m.partitions.getOrElse(k, Nil)).filter(keep))
    if (logged.isEmpty) base(units)
    else base(units -- logged).unionByName(
      mergeBaseWithLogs(m, base(logged), readLogs(m, logged))
        .select(m.schema.fieldNames.toIndexedSeq.map(col): _*))
  }

  private def readLogs(m: Manifest, partKeys: Set[String]): DataFrame =
    readFilesWithSchema(logSchema(m.schema),
      partKeys.toSeq.sorted.flatMap(k => m.logPartitions.getOrElse(k, Nil)))

  /** Latest-commit-wins window keeping each winner's [[LogOpCol]] (and
    * any extra columns the caller attached). Input rows must already
    * carry [[LogOpCol]]. Record identity is (key, partition value) — the
    * non-global index, as in the COW merge. U and D never share a commit
    * (separate write calls), so (identity, commit) is unique; the op
    * tie-break only makes the window deterministic against misuse.
    */
  private def mergeWinners(m: Manifest, all: DataFrame): DataFrame = {
    val identity = (keyCols ++ partitionCols).distinct.map(col)
    val w = Window.partitionBy(identity: _*)
      .orderBy(col(CommitVerCol).desc, col(LogOpCol).desc)
    all.withColumn("_graft_rn", row_number().over(w))
      .filter(col("_graft_rn") === 1).drop("_graft_rn")
  }

  /** Latest-commit-wins merge of base rows and delta-log records. */
  private def mergeBaseWithLogs(
      m: Manifest, base: DataFrame, logs: DataFrame): DataFrame =
    mergeWinners(m,
      base.withColumn(LogOpCol, lit(LogUpsert)).unionByName(logs))
      .filter(col(LogOpCol) === LogUpsert)
      .drop(LogOpCol)

  /** Incremental query on MOR: rows written after `sinceVersion`, from only
    * the base/log files that commits after it added, merged so each changed
    * key surfaces once (deletes don't surface, matching the COW shape).
    */
  override def changesBetween(
      sinceVersion: Long, asOfVersion: Long): DataFrame =
    changeWindow(sinceVersion, asOfVersion)
      .filter(col(LogOpCol) === LogUpsert)
      .drop(ChangedFlagCol, LogOpCol)

  /** Winners of the window's merge with their log op and changed-row flag
    * retained — the shared core of [[changesBetween]] (drops deletes) and
    * [[changeFeed]] (types them "D").
    */
  private def changeWindow(
      sinceVersion: Long, asOfVersion: Long): DataFrame = {
    require(sinceVersion <= asOfVersion,
      s"changesBetween: since=$sinceVersion > asOf=$asOfVersion")
    val cur = manifestAt(asOfVersion)
    val oldFiles =
      if (sinceVersion == 0L) Set.empty[String]
      else manifestAt(sinceVersion).files.toSet
    val newBase = cur.baseFiles.filterNot(oldFiles)
    val newLogKeys = cur.logPartitions.filter {
      case (_, fs) => fs.exists(f => !oldFiles(f))
    }.keySet
    // the changed-row predicate reads input_file_name: evaluate AT SCAN,
    // carry the flag through the merge window on the winning row
    def flagged(df: DataFrame) = df.withColumn(ChangedFlagCol,
      CowTable.changedRowPredicate(sinceVersion))
    val base = flagged(readFiles(cur, newBase))
      .withColumn(LogOpCol, lit(LogUpsert))
    val merged =
      if (newLogKeys.isEmpty) base
      else mergeWinners(cur,
        base.unionByName(flagged(readLogs(cur, newLogKeys))))
    merged.filter(col(ChangedFlagCol))
  }

  // ------------------------------------------------------------- compaction

  /** Fold pending delta logs into fresh base files (one commit). Only
    * logged partitions are rewritten; empty merge results (fully deleted
    * partitions) drop out of the snapshot. Returns false when there was
    * nothing to compact.
    */
  def compactLogs(parallelism: Int = 0): Boolean = {
    val m = manifest
    if (m.logPartitions.isEmpty) return false
    val logged = m.logPartitions.keySet
    val base = readFiles(m,
      logged.toSeq.sorted.flatMap(k => m.partitions.getOrElse(k, Nil)))
    val winners = mergeWinners(m,
      base.withColumn(LogOpCol, lit(LogUpsert))
        .unionByName(readLogs(m, logged))).persist()
    try {
      val merged = winners.filter(col(LogOpCol) === LogUpsert)
        .select(m.schema.fieldNames.toIndexedSeq.map(col): _*)
      val v = m.version + 1
      val width = if (parallelism > 0) parallelism else logged.size
      val newFiles = writeCommit(merged, v, width, idSchema = m.schema)
      // compaction folds delete-log records away: record them as feed
      // tombstones (original stamps kept) so a change feed spanning the
      // compaction still surfaces them
      val dWinners = winners.filter(col(LogOpCol) === LogDelete)
        .select(((keyCols ++ partitionCols).distinct :+ CommitVerCol)
          .map(col): _*)
      val tombstones =
        if (dWinners.limit(1).isEmpty) m.tombstones
        else m.tombstones + (v.toString -> writeTombstones(dWinners, v))
      writeManifest(withFileStats(
        m.copy(version = v,
          partitions = m.partitions -- logged ++ newFiles,
          logPartitions = Map.empty, deltaCommits = 0, lastCompaction = v,
          tombstones = tombstones,
          operation = "log_compaction",
          metrics = CowTable.writeStats(newFiles) +
            ("units_rewritten" -> logged.size.toLong)),
        newFiles, m.schema))
    } finally winners.unpersist()
    clean()
    true
  }

  /** Change feed on MOR: window winners typed U, delete-log winners and
    * compaction-folded tombstones typed D (see [[CowTable.changeFeed]]).
    */
  override def changeFeed(
      sinceVersion: Long, asOfVersion: Long): DataFrame = {
    val cur = manifestAt(asOfVersion)
    val win = changeWindow(sinceVersion, asOfVersion)
    val ups = win.filter(col(LogOpCol) === LogUpsert)
      .drop(ChangedFlagCol, LogOpCol)
      .withColumn(CowTable.ChangeTypeCol, lit("U"))
    val idAndVer = ((keyCols ++ partitionCols).distinct :+ CommitVerCol)
    val logDels = win.filter(col(LogOpCol) === LogDelete)
      .select(idAndVer.map(col): _*)
    val dels = tombstoneRows(cur, sinceVersion, asOfVersion) match {
      case Some(ts) => ts.unionByName(logDels)
      case None => logDels
    }
    shapeFeed(ups, Some(dels), cur.schema)
  }

  /** MOR-aware [[CowTable.diff]]: a log append changes rows WITHOUT
    * touching base files, so the COW file-set comparison would miss
    * unmerged deltas. Units whose (base files, log files) signature
    * differs between the two versions are read MERGED on both sides and
    * classified by the shared join; unchanged units are skipped entirely
    * (same churn-proportional cost model, at unit granularity — rows
    * carried identically through a log fold or compaction pair up and
    * drop).
    */
  override def diff(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"diff: from=$fromVersion > to=$toVersion")
    val m1 = manifestAt(fromVersion)
    val m2 = manifestAt(toVersion)
    def sig(m: Manifest, k: String) =
      (m.partitions.get(k), m.logPartitions.get(k))
    val units = (m1.partitions.keySet ++ m2.partitions.keySet ++
      m1.logPartitions.keySet ++ m2.logPartitions.keySet)
      .filter(k => sig(m1, k) != sig(m2, k))
    diffFrames(mergedRead(m1, units), mergedRead(m2, units), m1, m2)
  }

  /** Preimages on MOR must merge delta logs — unmerged log rows are
    * invisible to the base-file index — so resolve through the realtime
    * view pinned at `version` (unpruned; bounded by the probe semi join).
    */
  override protected def preimagesAt(
      version: Long, probe: DataFrame): DataFrame = {
    val rt = realtimeAt(version)
    val idCols = (keyCols ++ partitionCols).distinct
    val p = probe.select(idCols.map(col): _*).distinct()
    rt.join(p, idCols.map(c => rt(c) <=> p(c)).reduce(_ && _), "left_semi")
  }

  /** Drop-record identities on MOR fold the dropped partitions' pending
    * delta logs: a key whose latest log record is a delete was already
    * dead before the drop and must not resurface as a drop "D"; a key
    * living only in logs (inserted after the last compaction) must.
    */
  override protected def droppedIdentities(
      m: Manifest, rec: DropRecord): DataFrame = {
    if (rec.logPartitions.isEmpty) return super.droppedIdentities(m, rec)
    val idCols = (keyCols ++ partitionCols).distinct
    val base = readFiles(m, rec.partitions.valuesIterator.flatten.toSeq)
    val logs = readFilesWithSchema(MorTable.logSchema(m.schema),
      rec.logPartitions.valuesIterator.flatten.toSeq)
    mergeBaseWithLogs(m, base, logs).select(idCols.map(col): _*)
  }

  // ---------------------------------------------------------------- catalog

  /** K6 on MOR: sync BOTH query views, named like the reference's Hive
    * tables `<name>_ro` / `<name>_rt` (processData.py:131-132).
    */
  override def registerView(name: String): Unit = {
    readOptimized().createOrReplaceTempView(s"${name}_ro")
    realtime().createOrReplaceTempView(s"${name}_rt")
    // plain name resolves to the snapshot (= realtime) view, like Hudi's
    // default MOR snapshot query
    realtime().createOrReplaceTempView(name)
  }
}

object MorTable {
  /** Delta-log record type column: U (upsert payload) or D (tombstone). */
  val LogOpCol = "_graft_log_op"
  val LogUpsert = "U"
  val LogDelete = "D"
  /** Scan-time changed-row flag carried through the merge window (the
    * predicate reads input_file_name, which blanks after a shuffle).
    */
  val ChangedFlagCol = "_graft_changed"

  private[table] def logSchema(tableSchema: StructType): StructType =
    tableSchema.add(LogOpCol, StringType)
}
