package graft.cdc

import graft.SparkSpec

/** Cross-session table visibility: the persistent half of K6 catalog sync. */
class WarehouseCatalogSpec extends SparkSpec {

  private lazy val fullLoad = GoldenFixtures.fullLoad(spark)
  private lazy val cfg = TableConfig.fromFile(
    GoldenFixtures.controlFile).head

  test("control-record render/parse round-trips every field") {
    val c = cfg.copy(storageType = "mor", cdcSplitUpsert = true,
      numBuckets = 4, dmsFullLoadPartitioned = true)
    val back = TableConfig.fromJson(TableConfig.renderJson(Seq(c)))
    assert(back == Seq(c))
  }

  test("sync commits versioned catalog files and prunes old versions") {
    val wh = tmpDir("wh-catv")
    val cat = new WarehouseCatalog(spark, wh)
    for (i <- 1 to WarehouseCatalog.KeepVersions + 3)
      cat.sync(cfg.copy(upsertParallelism = i))
    val files = new java.io.File(s"$wh/_catalog").list().sorted.toSeq
      .filter(_.matches("v\\d+\\.json")) // ignore local-FS .crc sidecars
    assert(files.length == WarehouseCatalog.KeepVersions,
      s"old versions must prune: $files")
    // a complete catalog file existed at every moment: latest wins
    assert(cat.tables().head.upsertParallelism ==
      WarehouseCatalog.KeepVersions + 3)
  }

  test("repeating an identical sync leaves the version files unchanged") {
    val wh = tmpDir("wh-cat-same")
    val cat = new WarehouseCatalog(spark, wh)
    def files = new java.io.File(s"$wh/_catalog").listFiles()
      .map(f => (f.getName, f.lastModified, f.length)).sorted.toSeq
    cat.sync(cfg)
    val before = files
    cat.sync(cfg)
    cat.sync(cfg)
    assert(files == before, s"identical syncs must publish nothing: $files")
    assert(cat.tables() == Seq(cfg))
    cat.sync(cfg.copy(upsertParallelism = cfg.upsertParallelism + 1))
    assert(files.count(_._1.matches("v\\d+\\.json")) == 2,
      "a changed record still publishes")
  }

  test("sync upserts by table identity") {
    val wh = tmpDir("wh-cat")
    val cat = new WarehouseCatalog(spark, wh)
    assert(cat.tables().isEmpty)
    cat.sync(cfg)
    cat.sync(cfg.copy(tableName = "other"))
    cat.sync(cfg.copy(upsertParallelism = 7)) // replaces the first record
    val got = cat.tables()
    assert(got.map(_.tableName).sorted ==
      Seq(cfg.tableName, "other").sorted)
    assert(got.find(_.tableName == cfg.tableName).get.upsertParallelism == 7)
  }

  test("sync retries a taken version slot but not other failures") {
    val wh = tmpDir("wh-cat-conflict")
    // two simulated lost races, then the real publish goes through
    var conflicts = 2
    val cat = new WarehouseCatalog(spark, wh) {
      override protected def publishOnce(c: TableConfig): Unit = {
        if (conflicts > 0) {
          conflicts -= 1
          throw new WarehouseCatalog.VersionTakenException("slot taken")
        }
        super.publishOnce(c)
      }
    }
    cat.sync(cfg)
    assert(conflicts == 0 && cat.tables().map(_.tableName) ==
      Seq(cfg.tableName), "sync must retry past version conflicts")
    // a genuine I/O failure (failed rename) must PROPAGATE, not retry
    var attempts = 0
    val bad = new WarehouseCatalog(spark, wh) {
      override protected def publishOnce(c: TableConfig): Unit = {
        attempts += 1
        throw new IllegalStateException("catalog publish failed: rename")
      }
    }
    val e = intercept[IllegalStateException] { bad.sync(cfg) }
    assert(attempts == 1, s"I/O failures must not retry: $attempts attempts")
    assert(e.getMessage.contains("rename"))
  }

  test("a fresh session object re-attaches cataloged tables from disk") {
    val wh = tmpDir("wh-cat2")
    val pipe = new CdcPipeline(spark, wh)
    pipe.run(cfg, spark.read.parquet(fullLoad))
    val view = pipe.viewName(cfg)
    spark.catalog.dropTempView(view) // simulate the session ending

    // "new session": fresh pipeline + catalog objects, state only on disk
    val pipe2 = new CdcPipeline(spark, wh)
    val attached = new WarehouseCatalog(spark, wh).attachAll(pipe2)
    assert(attached == Seq(view))
    assert(spark.sql(s"SELECT count(*) FROM $view")
      .collect()(0).getLong(0) == 100)
  }

  test("attachAll registers a MOR table's _ro/_rt views") {
    val wh = tmpDir("wh-cat3")
    val mor = cfg.copy(storageType = "mor")
    val pipe = new CdcPipeline(spark, wh)
    pipe.run(mor, spark.read.parquet(fullLoad))
    val view = pipe.viewName(mor)
    Seq(view, s"${view}_ro", s"${view}_rt")
      .foreach(spark.catalog.dropTempView)

    new WarehouseCatalog(spark, wh).attachAll(new CdcPipeline(spark, wh))
    assert(spark.sql(s"SELECT count(*) FROM ${view}_ro")
      .collect()(0).getLong(0) == 100)
    assert(spark.sql(s"SELECT count(*) FROM ${view}_rt")
      .collect()(0).getLong(0) == 100)
  }
}
