package graft.sources

import org.apache.spark.sql.{DataFrame, GraftStreamShim, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.table.{CowTable, FileIndex}

/** Incremental TABLE-as-stream source: read a graft table's commits as a
  * Structured Streaming source —
  *
  * {{{
  *   spark.readStream.format("graft").load(pathA)        // full table,
  *     ...transforms...                                   // then new commits
  *     .writeStream (e.g. into GraftSink on table B)
  * }}}
  *
  * This is the Hudi incremental-query-as-stream chaining feature
  * (`hoodie.datasource.query.type=incremental` under `readStream`): the
  * reference only bookmarks RAW FILES (processData.py:298 via Glue job
  * bookmarks — covered by [[graft.streaming.CdcStream]]); table→table
  * chaining needs the COMMIT timeline as the offset axis, which is what
  * this source serves.
  *
  * Semantics and scale:
  *   - The offset is the committed table VERSION (one long — O(1) state).
  *     Batch (s, e] = `changesBetween(s, e)`: only files that commits in
  *     the window ADDED are read (file-pruned, not a table scan), filtered
  *     row-level on the commit stamp — at 100 TB a micro-batch costs the
  *     window's churn, never the table size.
  *   - Requires `trackCommitVersions` on the source table (the stamp IS
  *     the row-level offset; tables without it cannot bound a replayed
  *     batch exactly). Enforced loudly at stream construction.
  *   - UPSERT stream: each batch carries the latest image of every row
  *     changed in the window (MOR log windows are merged latest-wins, so
  *     a key surfaces once per batch). Deletes do not surface — the same
  *     contract as the batch incremental query and Hudi's default
  *     incremental payload.
  *   - Exactly-once end-to-end when chained into [[graft.streaming
  *     .GraftSink]]: the engine checkpoints the version offset, getBatch
  *     re-serves any window whose manifests are retained (`keepCommits`
  *     bounds replay depth — size it above the checkpoint lag), and the
  *     sink's batch-id high-water mark dedups re-delivery.
  *   - The first batch (start = None, or `startingVersion` = 0) is the
  *     full snapshot as of the current version — initial load + chaining
  *     in one stream, like Delta's initial snapshot. Pass
  *     `startingVersion` = v to begin after an already-copied version,
  *     or `startingTimestamp` (epoch ms / date-time string) to begin
  *     after the newest commit at-or-before that wall-clock time.
  *   - `maxVersionsPerTrigger` bounds how many commits one micro-batch
  *     folds (rate limiting for backlogged streams);
  *     `maxBytesPerTrigger` bounds the window by ADDED bytes instead
  *     (per-file manifest stats; at least one version always admits).
  *
  * Schema is pinned at stream construction (additive table evolution mid-
  * stream needs a restart, as in Delta/Hudi); the commit-stamp column is
  * dropped from the output unless `includeCommitVersion = true`.
  */
final class GraftStreamSource(
    spark: SparkSession,
    basePath: String,
    parameters: Map[String, String]) extends Source
  with org.apache.spark.sql.connector.read.streaming
    .SupportsTriggerAvailableNow {

  private def opt(key: String): Option[String] =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase(key) => v
    }

  private val fullSchema: StructType =
    CowTable.openManifest(spark, basePath).schema
  require(fullSchema.fieldNames.contains(CowTable.CommitVerCol),
    s"graft streaming read needs a table with trackCommitVersions=true " +
      s"(no ${CowTable.CommitVerCol} column recorded at $basePath): " +
      "the commit stamp is the row-level offset")

  private val includeVer =
    opt("includeCommitVersion").exists(_.toBoolean)
  /** CHANGE-FEED mode: rows gain [[CowTable.ChangeTypeCol]] ("U" | "D";
    * "D" rows carry identity columns + stamp, other columns null), so
    * deletes chain too — [[graft.streaming.GraftSink]] applies such
    * batches as one atomic conditional merge.
    */
  private val includeChanges =
    opt("includeChangeType").exists(_.toBoolean)
  private val startingVersion =
    opt("startingVersion").map(_.toLong)
      .orElse(opt("startingTimestamp").map { raw =>
        // start AFTER the newest commit at-or-before the timestamp —
        // the stream serves commits (v, head], mirroring Delta's
        // startingTimestamp semantics on a version timeline
        val ms = raw.toLongOption.getOrElse(
          java.sql.Timestamp.valueOf(
            if (raw.length == 10) raw + " 00:00:00" else raw).getTime)
        CowTable.open(spark, basePath).versionAtTimestamp(ms)
      })
      .getOrElse(0L)
  private val maxVersions = opt("maxVersionsPerTrigger").map(_.toLong)
  /** Byte-bounded admission: cap one micro-batch's window at the sum of
    * bytes its commits ADDED (the operational knob when commit sizes
    * vary — a backfill commit shouldn't ride the same trigger as ten
    * trickle commits). Bytes come from the manifest's per-file stats
    * (file index on), falling back to one FS stat per new file; always
    * admits at least one version so the stream can't stall on a single
    * over-bound commit.
    */
  private val maxBytes = opt("maxBytesPerTrigger").map(_.toLong)

  /** Window end for a batch starting after `start`: version cap first,
    * then walk forward accumulating added bytes until the bound.
    */
  private def admitTo(start: Long, head: Long): Long = {
    val capped = maxVersions match {
      case Some(n) => math.min(head, start + n)
      case None => head
    }
    maxBytes match {
      case None => capped
      case Some(bound) =>
        val fs = new org.apache.hadoop.fs.Path(basePath).getFileSystem(
          spark.sparkContext.hadoopConfiguration)
        var prev: Set[String] = scala.util.Try(
          CowTable.openManifest(spark, basePath, Some(start)).files.toSet)
          .getOrElse(Set.empty)
        var end = start
        var acc = 0L
        while (end < capped && acc < bound) {
          val m = CowTable.openManifest(spark, basePath, Some(end + 1))
          val added = m.files.filterNot(prev)
          acc += added.iterator.map(f =>
            FileIndex.fileSize(fs, basePath, m, f).getOrElse(0L)).sum
          prev = m.files.toSet
          end += 1
        }
        end
    }
  }
  // rate-limit cursor: the highest offset already handed to the engine
  // (never below startingVersion); getOffset advances it by at most
  // maxVersions per call
  @volatile private var cursor: Long = startingVersion

  override val schema: StructType = {
    val base =
      if (includeVer) fullSchema
      else StructType(fullSchema.filterNot(_.name == CowTable.CommitVerCol))
    if (includeChanges)
      base.add(CowTable.ChangeTypeCol, org.apache.spark.sql.types.StringType,
        nullable = false)
    else base
  }

  override def getOffset: Option[Offset] = {
    val head = CowTable.openManifest(spark, basePath).version
    val next = admitTo(cursor, head)
    if (next > cursor) cursor = next
    if (cursor <= startingVersion) None else Some(LongOffset(cursor))
  }

  // ---- admission control: the engine drives pacing through these when
  // implemented (getOffset above remains the plain-Source fallback), and
  // Trigger.AvailableNow pages through a backlog instead of degrading to
  // single-batch execution (same arrangement as Spark's FileStreamSource).

  /** Pinned at AvailableNow start: the trigger drains commits up to HERE
    * and terminates even if writers keep committing.
    */
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(CowTable.openManifest(spark, basePath).version)

  // version-count and added-bytes pacing are applied inside latestOffset
  // (admitTo); the engine-level ReadLimit stays allAvailable
  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val start = Option(startOffset)
      .map(o => o.json.trim.toLong).getOrElse(startingVersion)
    val head = availableNowCap
      .getOrElse(CowTable.openManifest(spark, basePath).version)
    val target = admitTo(start, head)
    if (target <= start) null else LongOffset(target)
  }

  override def reportLatestOffset()
      : org.apache.spark.sql.connector.read.streaming.Offset =
    LongOffset(CowTable.openManifest(spark, basePath).version)

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val s = start.map(version).getOrElse(startingVersion)
    val e = version(end)
    if (e > cursor) cursor = e // restart: resume rate limiting past the log
    val t = CowTable.open(spark, basePath)
    val changes =
      if (includeChanges) t.changeFeed(s, e) else t.changesBetween(s, e)
    // pin the output to the stream's construction-time schema (additive
    // evolution inside the window must not widen a running stream)
    val projected = changes.select(schema.fieldNames.toIndexedSeq.map(col): _*)
    GraftStreamShim.asStreamingDataFrame(projected)
  }

  // Offsets arrive as LongOffset from this process and as SerializedOffset
  // after a checkpoint restart; LongOffset.json is the bare number either way.
  private def version(o: Offset): Long = o.json.trim.toLong

  override def stop(): Unit = ()

  override def toString: String = s"GraftStreamSource[$basePath]"
}
