package graft.cdc

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Persistent warehouse-level catalog: the cross-session counterpart of the
  * reference's per-write Glue-catalog sync (processData.py:160-169), which
  * makes every written table visible to LATER jobs and other engines
  * without re-running the pipeline that created it.
  *
  * Temp views die with the session, so the durable state lives next to the
  * data: `<warehouse>/_catalog/v{N}.json` holds one control record per
  * table, rendered with the reference's own field names — a catalog file IS
  * a valid control file ([[TableConfig.fromJson]] parses it back). A new
  * session calls [[attachAll]] to re-register every table's session views
  * (including a MOR table's `_ro`/`_rt` pair) straight from the manifests
  * on disk.
  *
  * Durability uses the SAME commit protocol as table manifests: each sync
  * writes the next `v{N}.json` via tmp + rename, so there is never a
  * moment without a complete catalog file; readers take the highest
  * version; old versions are pruned after the new one is durable.
  * Unlike table manifests the catalog is shared across tables, so
  * [[sync]] retries on publish conflicts instead of assuming a single
  * writer (see its doc).
  */
class WarehouseCatalog(spark: SparkSession, warehousePath: String) {

  import WarehouseCatalog._

  private def fs = new Path(warehousePath)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def catDir = new Path(warehousePath, "_catalog")

  private def versions: Seq[Long] = {
    if (!fs.exists(catDir)) return Nil
    fs.listStatus(catDir).iterator.map(_.getPath.getName)
      .collect { case VersionName(n) => n.toLong }.toSeq.sorted
  }

  /** All registered table records (empty if no catalog exists yet). */
  def tables(): Seq[TableConfig] = {
    val vs = versions
    if (vs.isEmpty) return Nil
    val in = fs.open(new Path(catDir, s"v${vs.last}.json"))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
    TableConfig.fromJson(txt)
  }

  /** Upsert one table's record (identity: db/schema/table).
    *
    * The catalog is warehouse-GLOBAL while table commits are per-table, so
    * two jobs writing DIFFERENT tables legitimately race here even under
    * the reference's per-job `maxConcurrentRuns: 1`. A publish conflict is
    * therefore retried — re-read the latest records, merge this table's
    * record in, and target the next version — rather than failing a run
    * whose table commit already succeeded. Conflict detection itself is
    * best-effort on local filesystems (POSIX rename(2) replaces silently;
    * the exists() probe narrows but cannot close that window). A record
    * the catalog already holds unchanged publishes nothing.
    */
  def sync(cfg: TableConfig, maxAttempts: Int = 5): Unit = {
    var attempt = 0
    var published = false
    while (!published) {
      attempt += 1
      try {
        publishOnce(cfg)
        published = true
      } catch {
        // ONLY the version-taken conflict retries — a failed rename is a
        // genuine I/O error (permissions, disk, transient FS failure) and
        // retrying it would both mask the root cause and re-run with a
        // stale version number.
        case e: VersionTakenException if attempt < maxAttempts =>
          // another writer took our version slot: re-read and re-merge
          WarehouseCatalog.log.warn(
            s"catalog publish conflict, retrying: ${e.getMessage}")
      }
    }
  }

  protected def publishOnce(cfg: TableConfig): Unit = {
    val current = tables()
    // re-syncing an unchanged record (every batch of a running job) is a
    // no-op: no tmp write, rename or prune. Compared as stored, since the
    // record round-trips through the control-file rendering.
    if (current.contains(TableConfig.fromJValue(TableConfig.toJValue(cfg))))
      return
    val others = current.filterNot(c =>
      c.dbName == cfg.dbName && c.schemaName == cfg.schemaName &&
        c.tableName == cfg.tableName)
    val next = versions.lastOption.getOrElse(0L) + 1
    fs.mkdirs(catDir)
    val tmp = new Path(catDir, s".v$next.json.tmp")
    val dst = new Path(catDir, s"v$next.json")
    val out = fs.create(tmp, true)
    try out.write(TableConfig.renderJson(others :+ cfg).getBytes("UTF-8"))
    finally out.close()
    if (fs.exists(dst)) {
      fs.delete(tmp, false)
      throw new VersionTakenException(s"catalog version taken: $dst")
    }
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      // the exists() probe above is TOCTOU: a rival can rename between the
      // probe and ours, and on filesystems that refuse to replace, our
      // rename then fails — that lost race IS a publish conflict, not an
      // I/O error, and must stay retryable
      if (fs.exists(dst))
        throw new VersionTakenException(
          s"catalog version taken (lost rename race): $dst")
      throw new IllegalStateException(s"catalog publish failed: $dst")
    }
    // prune only after the new version is durable
    versions.dropRight(KeepVersions).foreach(v =>
      fs.delete(new Path(catDir, s"v$v.json"), false))
  }

  /** Re-register session views for every cataloged table that exists on
    * disk (K6 for a fresh session). Returns the attached view names.
    */
  def attachAll(pipe: CdcPipeline): Seq[String] =
    tables().flatMap { cfg =>
      val table = pipe.tableFor(cfg)
      if (table.exists) {
        table.registerView(pipe.viewName(cfg))
        Some(pipe.viewName(cfg))
      } else None
    }
}

object WarehouseCatalog {
  /** Another writer published the version this sync targeted — the one
    * retryable publish outcome (distinct from I/O failures, which are not).
    */
  final class VersionTakenException(msg: String)
    extends IllegalStateException(msg)

  private val log = org.apache.logging.log4j.LogManager.getLogger(
    "graft.cdc.WarehouseCatalog")

  private val VersionName = "v(\\d+)\\.json".r
  /** Catalog versions retained (mirrors manifest retention). */
  val KeepVersions = 10
}
