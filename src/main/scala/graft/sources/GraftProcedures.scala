package graft.sources

import java.util.{Collections, Iterator => JIterator}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.procedures.{
  BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.table.{CowTable, FileIndex, MorTable}

/** Table-maintenance stored procedures (the Iceberg `CALL cat.system.…`
  * surface) over graft tables — SQL access to every table service, so an
  * operator can run the 100-TB maintenance cadence from SQL text alone:
  *
  * {{{
  *   CALL graft.system.compact(table => 'lake.users');
  *   CALL graft.system.compact_by_size(table => 'lake.users',
  *     target_bytes => 134217728);
  *   CALL graft.system.recluster(table => 'lake.users', sort_cols => 'ts');
  *   CALL graft.system.zorder(table => 'lake.users',
  *     col_a => 'ts', col_b => 'user_id');
  *   CALL graft.system.drop_partitions(table => 'lake.users',
  *     predicate => "day < '2026-01-01'");
  *   CALL graft.system.expire_partitions(table => 'lake.users',
  *     column => 'day', older_than => '2026-01-01');
  *   CALL graft.system.restore(table => 'lake.users', version => 3);
  *   CALL graft.system.clean(table => 'lake.users');
  *   CALL graft.system.vacuum(table => 'lake.users');
  *   CALL graft.system.history(table => 'lake.users', limit => 10);
  * }}}
  *
  * Each call returns one (metric, value) result set summarizing what the
  * service did. Registered by [[GraftCatalog]] under the `system`
  * namespace ([[GraftCatalog.loadProcedure]]).
  */
private[sources] object GraftProcedures {

  /** One procedure: its SQL parameters (name, type, optional default —
    * required params lead, as CALL binding demands) and its action.
    */
  final case class Spec(
      name: String,
      description: String,
      params: Seq[(String, DataType, Option[String])],
      run: (CowTable, InternalRow) => Seq[(String, Long)],
      /** Procedures whose natural result is a TABLE, not a metric list
        * (e.g. `history`): when set, overrides `run` with an explicit
        * (schema, rows) result scan.
        */
      runTable: Option[(CowTable, InternalRow) =>
        (StructType, Array[InternalRow])] = None)

  private def b2l(b: Boolean): Long = if (b) 1L else 0L

  /** `pathOf` maps a catalog-relative dotted table name to its warehouse
    * path — for procedures whose target does NOT exist yet (clone dest).
    */
  def specs(pathOf: String => String): Seq[Spec] = Seq(
    Spec("compact",
      "fold crowded units (COW) or pending delta logs (MOR); optional " +
        "partition predicate scopes the sweep (OPTIMIZE ... WHERE)",
      Seq(("table", StringType, None),
        ("max_files_per_unit", IntegerType, Some("4")),
        ("where", StringType, Some("''"))),
      (t, in) => Seq("compacted" -> b2l(t match {
        case m: MorTable => m.compactLogs()
        case c =>
          val pred = in.getString(2)
          if (pred == null || pred.isEmpty) c.compact(in.getInt(1))
          else c.compactWhere(
            org.apache.spark.sql.functions.expr(pred), in.getInt(1))
      }))),
    Spec("compact_by_size",
      "bin-pack small base files toward the target file size",
      Seq(("table", StringType, None),
        ("target_bytes", LongType, Some("134217728")),
        ("small_bytes", LongType, Some("0"))),
      (t, in) => Seq("compacted" ->
        b2l(t.compactBySize(in.getLong(1), in.getLong(2))))),
    Spec("recluster",
      "rewrite base files range-sorted by the given columns",
      Seq(("table", StringType, None), ("sort_cols", StringType, None)),
      (t, in) => Seq("reclustered" -> b2l(t.recluster(
        in.getUTF8String(1).toString.split(',').map(_.trim)
          .filter(_.nonEmpty).toSeq)))),
    Spec("zorder",
      "rewrite base files in N-D Morton order (2 columns + optional more)",
      Seq(("table", StringType, None),
        ("col_a", StringType, None), ("col_b", StringType, None),
        ("more_cols", StringType, Some("''"))),
      (t, in) => {
        val more = in.getUTF8String(3).toString.split(',')
          .map(_.trim).filter(_.nonEmpty).toSeq
        Seq("reclustered" -> b2l(t.reclusterZOrder(
          Seq(in.getUTF8String(1).toString,
            in.getUTF8String(2).toString) ++ more,
          parallelism = 0, bits = 20)))
      }),
    Spec("drop_partitions",
      "metadata-only drop of partitions matching a partition predicate",
      Seq(("table", StringType, None), ("predicate", StringType, None)),
      (t, in) => Seq("units_dropped" ->
        t.dropPartitions(expr(in.getUTF8String(1).toString)).toLong)),
    Spec("expire_partitions",
      "metadata-only TTL drop of partitions below the cutoff",
      Seq(("table", StringType, None),
        ("column", StringType, None), ("older_than", StringType, None)),
      (t, in) => Seq("units_dropped" -> t.expirePartitions(
        in.getUTF8String(1).toString,
        in.getUTF8String(2).toString).toLong)),
    Spec("restore",
      "publish a retained version's state as the new head commit",
      Seq(("table", StringType, None), ("version", LongType, None)),
      (t, in) => { t.restoreTo(in.getLong(1))
        Seq("restored_version" -> in.getLong(1)) }),
    Spec("clean",
      "apply commit retention and reclaim unreferenced data dirs",
      Seq(("table", StringType, None)),
      (t, _) => { t.clean(); Seq("cleaned" -> 1L) }),
    Spec("truncate",
      "drop every row as one metadata-only commit (change-feed " +
        "tombstones recorded; history retained)",
      Seq(("table", StringType, None)),
      (t, _) => Seq("units_dropped" -> t.truncate())),
    Spec("maintain",
      "one-call housekeeping: fold MOR logs, bin-pack small files, " +
        "apply retention, reclaim crash debris",
      Seq(("table", StringType, None),
        ("target_bytes", LongType, Some("134217728"))),
      (t, in) => t.maintain(in.getLong(1)).toSeq.sortBy(_._1)),
    Spec("analyze",
      "compute table-level column statistics (approx NDV, exact nulls, " +
        "length estimates; optional equi-height histograms for numeric " +
        "columns) in 1-3 passes; served to CBO while fresh",
      Seq(("table", StringType, None),
        ("histogram_bins", IntegerType, Some("0"))),
      (t, _) => Nil,
      runTable = Some { (t, in) =>
        val stats = t.analyze(histogramBins = in.getInt(1))
        val schema = StructType(Seq(
          StructField("column", StringType, nullable = false),
          StructField("ndv", LongType, nullable = false),
          StructField("nulls", LongType, nullable = false),
          StructField("avg_len", LongType, nullable = false),
          StructField("max_len", LongType, nullable = false)))
        val rows = stats.toSeq.sortBy(_._1).map { case (c, st) =>
          new GenericInternalRow(Array[Any](UTF8String.fromString(c),
            st.ndv, st.nulls, st.avgLen, st.maxLen)): InternalRow
        }
        (schema, rows.toArray)
      }),
    Spec("purge_dropped_columns",
      "rewrite base files so dropped columns' values are physically " +
        "gone; re-adding their names unlocks (Delta REORG PURGE analog)",
      Seq(("table", StringType, None)),
      (t, _) => Seq("purged" -> b2l(t.purgeDroppedColumns()))),
    Spec("savepoint",
      "pin a retained version against clean/expire (durable restore " +
        "point)",
      Seq(("table", StringType, None), ("version", LongType, None)),
      (t, in) => { t.savepoint(in.getLong(1))
        Seq("savepointed_version" -> in.getLong(1)) }),
    Spec("release_savepoint",
      "drop a savepoint; the next clean may reclaim the version",
      Seq(("table", StringType, None), ("version", LongType, None)),
      (t, in) => Seq("released" ->
        b2l(t.releaseSavepoint(in.getLong(1))))),
    Spec("expire_commits",
      "time-based retention: drop commits older than a timestamp",
      Seq(("table", StringType, None),
        ("older_than", StringType, None),
        ("keep_last", IntegerType, Some("1"))),
      (t, in) => {
        val raw = in.getUTF8String(1).toString
        val ms = raw.toLongOption.getOrElse(
          java.sql.Timestamp.valueOf(
            if (raw.length == 10) raw + " 00:00:00" else raw).getTime)
        Seq("versions_expired" ->
          t.expireCommits(ms, in.getInt(2)).toLong)
      }),
    Spec("vacuum",
      "reclaim crashed/aborted commit debris (no writer may be inflight)",
      Seq(("table", StringType, None)),
      (t, _) => Seq("orphans_removed" -> t.vacuumOrphans().size.toLong)),
    Spec("clone",
      "zero-copy shallow clone into a new table (one manifest write)",
      Seq(("table", StringType, None), ("dest", StringType, None),
        ("version", LongType, Some("0"))),
      (t, in) => {
        val destRef = in.getUTF8String(1).toString
        val v = in.getLong(2)
        val c = t.cloneTo(pathOf(destRef),
          if (v > 0) Some(v) else None)
        Seq("cloned_from_version" ->
          c.manifest.metrics("cloned_from_version"))
      }),
    Spec("partitions",
      "per-partition files/rows/bytes from the manifest (SHOW PARTITIONS)",
      Seq(("table", StringType, None)),
      (_, _) => Nil,
      runTable = Some { (t, _) =>
        val m = t.manifest
        val schema = StructType(Seq(
          StructField("partition", StringType, nullable = false),
          StructField("files", LongType, nullable = false),
          StructField("log_files", LongType, nullable = false),
          StructField("rows", LongType, nullable = true),
          StructField("bytes", LongType, nullable = true)))
        val keys =
          (m.partitions.keySet ++ m.logPartitions.keySet).toSeq.sorted
        val rows = keys.map { k =>
          val base = m.partitions.getOrElse(k, Nil)
          val logs = m.logPartitions.getOrElse(k, Nil)
          // exact only when every file has a recorded stat; else null —
          // never a misleading partial sum
          def sumStat(get: graft.table.FileStat => Long): Any =
            (if (logs.isEmpty) FileIndex.statTotal(m, base)(get) else None)
              .getOrElse(null)
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(if (k.isEmpty) "<unpartitioned>" else k),
            base.size.toLong, logs.size.toLong,
            sumStat(_.rows), sumStat(_.bytes))): InternalRow
        }.toArray
        (schema, rows)
      }),
    Spec("detail",
      "one-row table summary from the manifest (DESCRIBE DETAIL)",
      Seq(("table", StringType, None)),
      (_, _) => Nil,
      runTable = Some { (t, _) =>
        val m = t.manifest
        val p = m.tableProps
        val schema = StructType(Seq(
          StructField("location", StringType, nullable = false),
          StructField("storage_type", StringType, nullable = false),
          StructField("version", LongType, nullable = false),
          StructField("key_cols", StringType, nullable = false),
          StructField("partition_cols", StringType, nullable = false),
          StructField("num_buckets", LongType, nullable = false),
          StructField("num_files", LongType, nullable = false),
          StructField("num_log_files", LongType, nullable = false),
          StructField("num_rows", LongType, nullable = true),
          StructField("size_bytes", LongType, nullable = true),
          StructField("num_dv_files", LongType, nullable = false),
          StructField("num_dv_rows", LongType, nullable = false),
          StructField("dropped_cols", StringType, nullable = false),
          StructField("check_constraints", StringType, nullable = false)))
        val files = m.baseFiles
        // deletion vectors: num_rows reports LIVE rows (physical minus
        // masked), with the masked state surfaced in its own columns
        val dvRows = files.flatMap(m.dvs.get).map(_.rows).sum
        // exact only when every base file has stats and no logs pend
        def total(get: graft.table.FileStat => Long): Option[Long] =
          if (m.logPartitions.valuesIterator.flatten.nonEmpty) None
          else FileIndex.statTotal(m, files)(get)
        val row = new GenericInternalRow(Array[Any](
          UTF8String.fromString(t.basePath),
          UTF8String.fromString(m.storageType),
          m.version,
          UTF8String.fromString(m.keyCols.mkString(",")),
          UTF8String.fromString(m.partitionCols.mkString(",")),
          p.numBuckets.toLong,
          files.size.toLong,
          m.logPartitions.valuesIterator.flatten.size.toLong,
          total(_.rows).map(_ - dvRows).getOrElse(null),
          total(_.bytes).getOrElse(null),
          m.dvSidecarFiles.size.toLong,
          dvRows,
          UTF8String.fromString(m.droppedCols.mkString(",")),
          UTF8String.fromString(
            p.checkConstraints.mkString("; ")))): InternalRow
        (schema, Array(row))
      }),
    Spec("publish",
      "write-audit-publish: adopt a staged clone's state as one commit " +
        "(aborts if the table advanced since the staging clone)",
      Seq(("table", StringType, None), ("staging", StringType, None)),
      (t, in) => {
        val staging = CowTable.open(t.spark,
          pathOf(in.getUTF8String(1).toString))
        t.publishFrom(staging)
        Seq("published_from_version" ->
          t.manifest.metrics("published_from_version"))
      }),
    Spec("diff_summary",
      "manifest-level what-changed between two retained versions " +
        "(file/row deltas from metadata only — zero data pages; the " +
        "row-level A/R/C classification is the CowTable.diff API)",
      Seq(("table", StringType, None),
        ("from_version", LongType, None),
        ("to_version", LongType, Some("0"))),
      (_, _) => Nil,
      runTable = Some { (t, in) =>
        val from = in.getLong(1)
        val to = if (in.getLong(2) > 0) in.getLong(2)
          else t.manifest.version
        val m1 = t.manifestAt(from); val m2 = t.manifestAt(to)
        val f1 = m1.baseFiles.toSet; val f2 = m2.baseFiles.toSet
        // a file without stats: null, no misleading partial sum
        def rows(m: graft.table.Manifest, fs: Iterable[String]): Any =
          FileIndex.statTotal(m, fs)(_.rows).getOrElse(null)
        val schema = StructType(Seq(
          StructField("from_version", LongType, nullable = false),
          StructField("to_version", LongType, nullable = false),
          StructField("files_added", LongType, nullable = false),
          StructField("files_removed", LongType, nullable = false),
          StructField("files_kept", LongType, nullable = false),
          StructField("rows_in_added_files", LongType, nullable = true),
          StructField("rows_in_removed_files", LongType, nullable = true),
          StructField("units_touched", LongType, nullable = false)))
        val added = f2 -- f1; val removed = f1 -- f2
        val touched = (m2.partitions.filter(_._2.exists(added)).keySet ++
          m1.partitions.filter(_._2.exists(removed)).keySet).size.toLong
        val row = new GenericInternalRow(Array[Any](
          from, to,
          added.size.toLong, removed.size.toLong,
          (f1 & f2).size.toLong,
          rows(m2, added), rows(m1, removed),
          touched)): InternalRow
        (schema, Array(row))
      }),
    Spec("history",
      "the retained commit timeline, newest first (DESCRIBE HISTORY)",
      Seq(("table", StringType, None),
        ("limit", IntegerType, Some("100"))),
      (_, _) => Nil,
      runTable = Some { (t, in) =>
        val schema = StructType(Seq(
          StructField("version", LongType, nullable = false),
          StructField("commit_time", TimestampType, nullable = true),
          StructField("operation", StringType, nullable = false),
          StructField("files", LongType, nullable = false),
          StructField("units", LongType, nullable = false),
          StructField("metrics", StringType, nullable = false)))
        val rows = t.history()
          .select("version", "commit_time", "operation", "files", "units",
            "metrics")
          .limit(in.getInt(1)).collect().map { r =>
          new GenericInternalRow(Array[Any](
            r.getLong(0),
            if (r.isNullAt(1)) null
            else r.getTimestamp(1).getTime * 1000L,
            UTF8String.fromString(r.getString(2)),
            r.getLong(3), r.getLong(4),
            UTF8String.fromString(r.getMap[String, Long](5).toSeq
              .sortBy(_._1).map { case (k, v) => s"$k=$v" }
              .mkString(", ")))): InternalRow
        }
        (schema, rows)
      }))

  def names: Seq[String] = specs(identity).map(_.name)

  def load(name: String, resolve: String => CowTable,
      pathOf: String => String): Option[UnboundProcedure] =
    specs(pathOf).find(_.name.equalsIgnoreCase(name))
      .map(new GraftProcedure(_, resolve))
}

/** Adapter from a [[GraftProcedures.Spec]] to Spark's two-phase procedure
  * API. Binding is trivial (parameters are statically typed); `call`
  * resolves the table by catalog-relative name and returns one in-memory
  * (metric, value) result scan.
  */
private[sources] final class GraftProcedure(
    spec: GraftProcedures.Spec,
    resolve: String => CowTable)
  extends UnboundProcedure with BoundProcedure {

  override def name(): String = spec.name
  override def description(): String = spec.description
  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def parameters(): Array[ProcedureParameter] =
    spec.params.map { case (n, dt, dflt) =>
      val b = ProcedureParameter.in(n, dt)
      dflt.foreach(b.defaultValue)
      b.build()
    }.toArray

  override def call(input: InternalRow): JIterator[Scan] = {
    val t = resolve(input.getUTF8String(0).toString)
    val (schema, rows) = spec.runTable match {
      case Some(f) => f(t, input)
      case None =>
        val out = spec.run(t, input)
        (StructType(Seq(
          StructField("metric", StringType, nullable = false),
          StructField("value", LongType, nullable = false))),
          out.map { case (k, v) =>
            new GenericInternalRow(
              Array[Any](UTF8String.fromString(k), v)): InternalRow
          }.toArray)
    }
    Collections.singletonList[Scan](
      GraftProcedureResult(schema, rows)).iterator()
  }
}

private[sources] final case class GraftProcedureResult(
    schema: StructType, data: Array[InternalRow]) extends LocalScan {
  override def rows(): Array[InternalRow] = data
  override def readSchema(): StructType = schema
}
