package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.CowTable

/** External-catalog bridge: session-catalog registration round trip and
  * the SymlinkTextInputFormat manifest export (the Presto/Trino/Athena
  * integration shape).
  */
class CatalogSyncSpec extends SparkSpec {
  import spark.implicits._

  private def mk(dir: String, partitioned: Boolean = true): CowTable = {
    val t = new CowTable(spark, dir, keyCols = Seq("id"),
      partitionCols = if (partitioned) Seq("p") else Nil,
      fileIndex = true)
    t.bulkInsert((0 until 60).map(i => (i.toLong, s"p${i % 3}", i * 10L))
      .toDF("id", "p", "v"), parallelism = 2)
    t
  }

  test("session-catalog registration: listTables + read-by-name, fresh") {
    val t = mk(tmpDir("cs-sess"))
    val name = "cs_sync_" + java.util.UUID.randomUUID.toString.take(8)
    try {
      CatalogSync.syncToSessionCatalog(spark, name, t)
      assert(spark.catalog.listTables().collect()
        .exists(_.name.equalsIgnoreCase(name)),
        "registered table must appear in spark.catalog.listTables")
      assert(spark.table(name).count() == 60L)
      // the registration is metadata-only: later commits serve through
      // the SAME entry with no re-sync (manifest resolves at scan time)
      t.upsert(Seq((1000L, "p0", 5L)).toDF("id", "p", "v"))
      assert(spark.table(name).count() == 61L)
      assert(spark.sql(s"SELECT v FROM $name WHERE id = 1000")
        .as[Long].head() == 5L)
      // replace = the sync-on-every-write caller shape
      CatalogSync.syncToSessionCatalog(spark, name, t, replace = true)
      assert(spark.table(name).count() == 61L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("symlink manifest lists exactly the committed snapshot's files") {
    val t = mk(tmpDir("cs-sym"))
    // churn so the directory contains DEAD files a raw listing would see
    t.upsert((0 until 20).map(i => (i.toLong, s"p${i % 3}", i * 100L))
      .toDF("id", "p", "v"))
    val written = CatalogSync.writeSymlinkManifest(spark, t)
    assert(written.size == 3, s"one manifest per partition: $written")
    val listed = written.flatMap { p =>
      scala.io.Source.fromFile(new java.net.URI(p).getPath).getLines().toSeq
    }
    val expected = t.manifest.baseFiles
      .map(f => CowTable.resolveFile(t.basePath, f))
    assert(listed.size == expected.size)
    assert(listed.forall(u => u.startsWith("file:")),
      s"absolute URIs expected, got ${listed.take(2)}")
    // same physical files (suffix match: manifest lines are qualified)
    expected.foreach(f => assert(listed.exists(_.endsWith(f)),
      s"missing $f"))
    // an external parquet reader over the manifest sees the exact
    // snapshot (no dead pre-churn rows)
    val viaManifest = spark.read.parquet(listed.map(u =>
      new java.net.URI(u).getPath): _*)
    assert(viaManifest.count() == 60L)
    assert(viaManifest.filter(col("id") === 5).head().getAs[Long]("v")
      == 500L, "must read the post-churn file, not the dead one")
  }

  test("symlink manifest refuses DV'd tables until vectors fold") {
    val t = new CowTable(spark, tmpDir("cs-dv"), keyCols = Seq("id"),
      deleteVectors = true)
    t.bulkInsert((0 until 30).map(i => (i.toLong, i.toString))
      .toDF("id", "s"))
    t.delete(Seq(3L).toDF("id"))
    val e = intercept[IllegalArgumentException] {
      CatalogSync.writeSymlinkManifest(spark, t)
    }
    assert(e.getMessage.contains("deletion vectors"))
    t.maintain() // folds the vectors
    val written = CatalogSync.writeSymlinkManifest(spark, t)
    assert(written.nonEmpty)
    val listed = written.flatMap(p =>
      scala.io.Source.fromFile(new java.net.URI(p).getPath).getLines())
    assert(spark.read.parquet(listed.map(u =>
      new java.net.URI(u).getPath): _*).count() == 29L)
  }
}
