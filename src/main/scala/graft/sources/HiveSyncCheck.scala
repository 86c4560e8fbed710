package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.table.CowTable

/** End-to-end check that [[CatalogSync.syncToSessionCatalog]] lands its
  * registration in a REAL Hive metastore — the reference's hive-sync shape
  * (`processData.py:160-169`): register once, then discover and read the
  * table BY NAME from a completely fresh session against the same
  * metastore. The in-memory session catalog (what `CatalogSyncSpec`
  * certifies) forgets registrations at session end; only a metastore-backed
  * catalog makes the sync durable, which is the property an external
  * engine (Trino/Athena/a second Spark cluster) actually relies on.
  *
  * Runs as its own MAIN because `spark.sql.catalogImplementation` is a
  * static conf: a JVM whose shared test session already started in-memory
  * can never switch to Hive. `CatalogSyncHiveSpec` forks this class and
  * asserts on its exit code + marker lines. The metastore is embedded
  * Derby under the given work dir — hermetic, no services.
  *
  * Usage: `HiveSyncCheck <workDir>`; prints `[hivesync] ...` markers and
  * exits non-zero on any failed assertion.
  */
object HiveSyncCheck {

  private def session(workDir: String): SparkSession =
    graft.GraftSession.builder(2)
      .appName("graft-hive-sync-check")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$workDir/metastore_db;create=true")
      .enableHiveSupport()
      .getOrCreate()

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: HiveSyncCheck <workDir>")
    val workDir = args(0)
    Files.createDirectories(Paths.get(workDir))
    val tablePath = s"$workDir/tbl"
    val name = "graft_hive_synced"

    // ---- session 1: create a graft table, sync it into the metastore
    val s1 = session(workDir)
    try {
      require(s1.conf.get("spark.sql.catalogImplementation") == "hive",
        "session must be hive-backed")
      import s1.implicits._
      val t = new CowTable(s1, tablePath, keyCols = Seq("id"))
      t.bulkInsert(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
      CatalogSync.syncToSessionCatalog(s1, name, t)
      require(s1.catalog.tableExists(name), s"$name missing after sync")
      println(s"[hivesync] registered $name in hive metastore")
    } finally {
      s1.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }

    // ---- session 2: FRESH SparkContext, same metastore — the entry must
    // survive and serve reads by name (this is what separates a durable
    // hive sync from the forget-at-exit in-memory catalog)
    val s2 = session(workDir)
    try {
      require(s2.catalog.tableExists(name),
        s"$name not found by a fresh session: sync was not durable")
      val meta = s2.sharedState.externalCatalog.getTable("default", name)
      require(meta.provider.contains("graft"),
        s"metastore entry has provider ${meta.provider}, expected graft")
      val rows = s2.table(name).collect().map(r => r.getLong(0)).sorted
      require(rows.toSeq == Seq(1L, 2L, 3L),
        s"read-by-name returned ${rows.toSeq}")
      // the registration points at the manifest, not a snapshot: a write
      // from this session is visible immediately with NO re-sync
      import s2.implicits._
      CowTable.open(s2, tablePath)
        .upsert(Seq((4L, "d")).toDF("id", "v"))
      require(s2.table(name).count() == 4L,
        "post-sync write must be visible by name without re-sync")
      println(s"[hivesync] re-opened $name from a fresh session: " +
        "provider=graft, 3 rows + live head")
      println("[hivesync] OK")
    } finally {
      s2.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
