package graft.cdc

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, collect_set, count, lit, when}
import org.apache.spark.storage.StorageLevel

import graft.table.{CowTable, TableProps}

/** Outcome summary of one pipeline run (the reference only logs counts —
  * processData.py:303,351,362,366 — we return them).
  */
final case class RunSummary(
    table: String,
    initialLoad: Boolean,
    inputRows: Long,
    inserted: Long = 0L,
    upserted: Long = 0L,
    deleted: Long = 0L)

/** Orchestration of one CDC processing run for one table — the Spark-native
  * equivalent of the reference's `process_raw_data`
  * (reference: processData.py:272-390).
  *
  * Dataflow (initial): scan → lowercase (P1) → count (M2) → empty-guard
  * (M3) → drop bookkeeping (P2) → bulk insert (K1).
  * Dataflow (incremental): scan → lowercase → latest-per-key ranking (W1,
  * BEFORE Op routing — required for intra-batch insert-then-delete
  * correctness, SURVEY.md §7.4), persisted → ONE route aggregate over the
  * ranked batch: the raw event count (M2, for the empty-guard M3), the
  * routed counts of the rank-1 survivors (P3-P6) and the rewrite units
  * they touch → writes:
  *   - by default ONE [[CowTable.applyChanges]] call with the non-D rows as
  *     upserts and the D rows as deletes (K2+K3), plus the aggregate's
  *     units, its D count and W1's one-row-per-key guarantee as hints. The
  *     table picks the plan: on copy-on-write one merge commit, on
  *     merge-on-read an upsert log append, then a delete log append;
  *   - `cdc_split_upsert`: insert append (K4), upsert of the U rows (K2),
  *     then delete (K3).
  * The two- and three-write shapes keep the reference's order, inserts and
  * updates before deletes (processData.py:348-382).
  */
final class CdcPipeline(spark: SparkSession, warehousePath: String) {

  def tablePath(cfg: TableConfig): String =
    s"$warehousePath/${cfg.relativePath}"

  /** Table handle for a config. An existing table opens with the props
    * its manifest records, so a batch keeps what `alterProps` or ALTER
    * TABLE set. A new one is created by the `hudi_storage_type` routing
    * (reference: processData.py:150-155, 220-221): `mor` selects
    * merge-on-read (log-append writes, `_ro`/`_rt` views), anything else
    * copy-on-write.
    */
  def tableFor(cfg: TableConfig): CowTable = {
    val path = tablePath(cfg)
    if (CowTable.existsAt(spark, path)) CowTable.open(spark, path)
    else CowTable.create(spark, path, cfg.pkCols, cfg.partitionCols,
      cfg.precombineField, cfg.storageType,
      TableProps(numBuckets = cfg.numBuckets))
  }

  /** Session view name for a table — the `dl_<db>_<schema>.<table>` catalog
    * identity of the reference's hive sync, flattened for temp-view rules.
    */
  def viewName(cfg: TableConfig): String =
    s"${cfg.catalogDb}__${cfg.tableName}"

  /** Process one raw batch (full-load or CDC parquet already read into `raw`).
    * Mirrors processData.py:272-390 minus the AWS plumbing. Every
    * successful write re-syncs the session catalog view (K6 — the
    * reference's per-write hive sync, processData.py:160-169); an empty
    * batch writes nothing and syncs nothing.
    *
    * `preMergeHook` (optional) observes the batch's FINAL routed images —
    * (table-before-merges, deduped non-delete rows, deduped delete rows) —
    * before any merge commits, the interception point incremental-view
    * maintenance needs ([[IncrementalAgg.MaintainedView]]). Not invoked on
    * initial loads (views seed from the loaded table instead) nor on
    * empty batches.
    */
  def run(cfg: TableConfig, raw: DataFrame,
      preMergeHook: (CowTable, DataFrame, DataFrame) => Unit =
        CdcPipeline.NoHook): RunSummary = {
    val df = CdcOps.lowercaseColumns(raw)
    val table = tableFor(cfg)
    val existed = table.exists
    val summary =
      if (existed && CdcPipeline.cdcShaped(df))
        runIncremental(cfg, table, df, preMergeHook)
      else {
        // persist: the count and the write both read the source
        // (reference: processData.py:301)
        val cached = df.persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val n = cached.count() // M2 (reference: processData.py:303)
          if (n == 0)            // M3 (reference: processData.py:305)
            RunSummary(cfg.tableName, initialLoad = false, inputRows = 0)
          else if (!existed) runInitial(cfg, table, cached, n)
          else runUpsertAll(cfg, table, cached, n, preMergeHook)
        } finally cached.unpersist()
      }
    if (summary.inputRows > 0) {
      table.registerView(viewName(cfg))
      // K6 persistent half: record the table in the warehouse catalog so
      // later sessions can re-attach it (the reference's Glue sync).
      new WarehouseCatalog(spark, warehousePath).sync(cfg)
    }
    summary
  }

  /** Initial/full load: no dedup (full loads assumed clean), bulk insert
    * (reference: processData.py:311,337-342).
    */
  private def runInitial(
      cfg: TableConfig, table: CowTable, df: DataFrame, n: Long): RunSummary = {
    // the reference's emptiness guard (processData.py:340) is `run`'s n > 0
    table.bulkInsert(CdcOps.dropBookkeeping(df), cfg.bulkInsertParallelism)
    RunSummary(cfg.tableName, initialLoad = true, inputRows = n, inserted = n)
  }

  /** A batch WITHOUT CDC columns arriving at an existing table — e.g. a
    * full-load file replayed after the bookmark state was lost — is a pure
    * upsert of all rows, making re-runs idempotent. Robustness beyond the
    * reference, which assumes incremental batches are always CDC-shaped
    * and would fail analysis otherwise.
    */
  private def runUpsertAll(
      cfg: TableConfig, table: CowTable, df: DataFrame, n: Long,
      preMergeHook: (CowTable, DataFrame, DataFrame) => Unit): RunSummary = {
    val payload0 = CdcOps.dropBookkeeping(df)
    // The hook must observe the images the merge will ACTUALLY apply:
    // mergeCommit precombines duplicate keys (greatest wins), so a raw
    // payload with in-batch duplicates would make a MaintainedView count
    // +1/+value per duplicate while the table keeps one row per key.
    // Only paid when a hook is installed — mergeCommit runs the same
    // precombine anyway, so without an observer the pass here would be
    // a wasted second shuffle+sort over the batch.
    val payload =
      if ((preMergeHook ne CdcPipeline.NoHook) &&
          table.precombineField.nonEmpty)
        CdcOps.precombine(payload0, table.mergeIdCols,
          table.precombineField)
      else payload0
    preMergeHook(table, payload, payload.limit(0))
    table.upsert(payload, cfg.upsertParallelism)
    RunSummary(cfg.tableName, initialLoad = false, inputRows = n,
      upserted = n)
  }

  /** Incremental CDC batch (reference: processData.py:313-388).
    *
    * CAUTION (faithful to the reference, SURVEY.md §7.4): when the CDC
    * columns are PRESENT but null — e.g. a full-load file read through a
    * CDC superset schema, as a streaming file source does — the three-valued
    * Op filters drop those rows entirely, exactly as the reference's
    * `Op != 'D'` / `Op = 'D'` pair does. Stage full loads before the first
    * incremental pass (their natural order) to avoid the trap.
    */
  private def runIncremental(
      cfg: TableConfig, table: CowTable, df: DataFrame,
      preMergeHook: (CowTable, DataFrame, DataFrame) => Unit): RunSummary = {
    // W1 — rank each key's events; rank 1 is the final one of the batch.
    // The ranked frame is persisted: the route aggregate fills it and
    // every later consumer reads its survivors. The aggregate's time
    // rides the metrics of applyChanges' (last) commit as `phase_route_ms`.
    val ranked = CdcOps.rankPerKey(df, cfg.pkCols)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val ph = new graft.util.Phases
      val r = ph("route")(
        CdcPipeline.Route(ranked, table.unitKey(df.schema)))
      if (r.events == 0) // M3 (reference: processData.py:305)
        return RunSummary(cfg.tableName, initialLoad = false, inputRows = 0)
      val latest = ranked.filter(col(CdcOps.SeqByPk) === 1)
      val upserts = CdcOps.dropBookkeeping(CdcOps.nonDeletes(latest))
      val deletes = CdcOps.dropBookkeeping(CdcOps.deletes(latest))
      preMergeHook(table, upserts, deletes)
      if (cfg.cdcSplitUpsert) {
        // K4 — route pure inserts through the cheap append path
        // (reference: processData.py:348-362)
        if (r.inserts > 0)
          table.insertAppend(CdcOps.dropBookkeeping(CdcOps.inserts(latest)),
            cfg.bulkInsertParallelism)
        if (r.updates > 0)
          table.upsert(CdcOps.dropBookkeeping(CdcOps.updates(latest)),
            cfg.upsertParallelism)
        // K3 — deletes last (reference: processData.py:377-382)
        if (r.deletes > 0) table.delete(deletes, cfg.upsertParallelism)
      } else if (r.nonDeletes + r.deletes > 0)
        // K2 + K3 in one call; the table picks the plan. W1 left one row
        // per key, so no key is on both sides (the disjointness contract),
        // and the route aggregate knows the touched units and the delete
        // count. A batch with nothing to apply publishes no version.
        table.applyChanges(
          Option.when(r.nonDeletes > 0)(upserts),
          Option.when(r.deletes > 0)(deletes),
          cfg.upsertParallelism,
          extraMetrics = ph.metrics ++ Map(
            "cdc_upserted" -> r.nonDeletes, "cdc_deleted" -> r.deletes),
          touchedKeys = Some(r.units),
          incomingUnique = true,
          incomingDeletes = Some(r.deletes))
      val summary = RunSummary(cfg.tableName, initialLoad = false,
        inputRows = r.events, deleted = r.deletes)
      if (cfg.cdcSplitUpsert)
        summary.copy(inserted = r.inserts, upserted = r.updates)
      else summary.copy(upserted = r.nonDeletes)
    } finally ranked.unpersist()
  }

  /** Entry point A — the reference's `main()`: fetch the job's control
    * records and process each table's raw data in turn
    * (reference: processData.py:393-402). Raw paths follow the reference's
    * `raw/<db>/<schema>/<table>` layout with lower/UPPER-case dir spellings
    * both probed (processData.py:286-290); tables whose raw paths don't
    * exist yet are skipped with an empty summary.
    */
  def runAll(
      configs: Seq[TableConfig],
      jobName: String,
      rawRoot: String): Seq[RunSummary] =
    TableConfig.forJob(configs, jobName).map { cfg =>
      val candidates = Seq(
        s"$rawRoot/${cfg.relativePath}",
        s"$rawRoot/${cfg.dbName}/${cfg.schemaName}/${cfg.tableName.toUpperCase}")
      val existing = candidates.filter { p =>
        val hp = new org.apache.hadoop.fs.Path(p)
        hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
      }
      if (existing.isEmpty)
        RunSummary(cfg.tableName, initialLoad = false, inputRows = 0)
      else run(cfg, readRaw(existing))
    }

  /** S1 — multi-path recursive parquet scan with case-variant candidate
    * paths, tolerant of candidates that don't exist
    * (reference: processData.py:286-298).
    */
  def readRaw(paths: Seq[String]): DataFrame = {
    val existing = paths.filter { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
    }
    require(existing.nonEmpty, s"no input paths exist among $paths")
    spark.read.option("recursiveFileLookup", "true").parquet(existing: _*)
  }
}

object CdcPipeline {
  /** The default no-op pre-merge hook. Compared by REFERENCE (`ne`) so the
    * pipeline can skip hook-only preparation work when nothing observes it.
    */
  val NoHook: (CowTable, DataFrame, DataFrame) => Unit = (_, _, _) => ()

  /** Whether a batch carries the CDC columns the incremental routing
    * needs (column names already lowercased).
    */
  private def cdcShaped(df: DataFrame): Boolean =
    Set("op", "transaction_id").subsetOf(df.columns.toSet)

  /** The routing facts of a W1-ranked batch, from ONE aggregate job: the
    * raw event count (every ranked row) and, over the W1 survivors, the
    * routed row counts and the rewrite units their non-null-op rows touch
    * (`unitKey` values; bounded by unit cardinality). Null-`op` rows count
    * nowhere, as the three-valued Op filters of [[CdcOps]] drop them;
    * `nonDeletes` counts every non-null op but D.
    */
  private final case class Route(events: Long, inserts: Long, updates: Long,
      nonDeletes: Long, deletes: Long, units: Set[String])

  private object Route {
    def apply(ranked: DataFrame, unitKey: Column): Route = {
      val op = col("op")
      val last = col(CdcOps.SeqByPk) === 1
      def rows(c: Column) = count(when(last && c, 1))
      val r = ranked.agg(count(lit(1)), rows(op === "I"), rows(op === "U"),
        rows(op =!= "D"), rows(op === "D"),
        collect_set(when(last && op.isNotNull, unitKey))).head()
      Route(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getSeq[String](5).toSet)
    }
  }
}
