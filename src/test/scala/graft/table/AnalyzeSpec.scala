package graft.table

import graft.SparkSpec

/** ANALYZE statistics: one-pass computation, manifest persistence,
  * freshness gating, and the end goal — Spark's cost-based optimizer
  * consuming the served NDV/null/length stats through the DSv2 scan.
  */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private def mk(dir: String): CowTable = {
    val t = new CowTable(spark, dir, keyCols = Seq("id"),
      fileIndex = true)
    t.bulkInsert((1L to 1000L).map(i =>
        (i, s"cat${i % 7}", if (i % 10 == 0) null else s"v$i"))
      .toDF("id", "cat", "v"), parallelism = 4)
    t
  }

  test("analyze computes sane stats and records them in the manifest") {
    val t = mk(tmpDir("an"))
    val stats = t.analyze()
    assert(stats("id").ndv > 900 && stats("id").ndv < 1100,
      s"HLL ndv of 1000 distinct ids: ${stats("id").ndv}")
    assert(stats("cat").ndv >= 6 && stats("cat").ndv <= 8)
    assert(stats("v").nulls == 100L, s"exact nulls: ${stats("v").nulls}")
    assert(stats("cat").maxLen == 4L && stats("cat").avgLen == 4L)
    val m = t.manifest
    assert(m.operation == "analyze" &&
      m.tableColStatsVersion == m.version)
    // stats survive a re-open (manifest round trip)
    assert(CowTable.open(spark, t.basePath).manifest
      .tableColStats == stats)
  }

  test("CBO consumes fresh stats; a data commit makes them stale") {
    val t = mk(tmpDir("an-cbo"))
    t.analyze()
    def attrStats(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.stats.attributeStats
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df = spark.read.format("graft").load(t.basePath)
      val s = attrStats(df)
      assert(s.nonEmpty, "CBO must see the served column stats")
      val idStat = s.find(_._1.name == "id").map(_._2)
      assert(idStat.exists(_.distinctCount.exists(n =>
        n > 900 && n < 1100)), s"id NDV through CBO: $idStat")
      val vStat = s.find(_._1.name == "v").map(_._2)
      assert(vStat.exists(_.nullCount.contains(BigInt(100))))
      // exact row count flows too
      assert(df.queryExecution.optimizedPlan.stats.rowCount
        .contains(BigInt(1000)))
      // stale after a data commit: stats stop being served
      t.upsert(Seq((2000L, "cat9", "x")).toDF("id", "cat", "v"))
      val df2 = spark.read.format("graft").load(t.basePath)
      assert(attrStats(df2).isEmpty,
        "stale ANALYZE stats must not be served")
      // re-analyze restores service
      t.analyze()
      val df3 = spark.read.format("graft").load(t.basePath)
      assert(attrStats(df3).nonEmpty)
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("histograms: equi-height bins computed, persisted, served to CBO") {
    val t = mk(tmpDir("an-hist"))
    val stats = t.analyze(histogramBins = 4)
    val h = stats("id").histogram
    assert(h.size == 4, s"4 bins: $h")
    assert(h.head._1 == 1.0 && h.last._2 == 1000.0,
      s"bounds cover the value range: $h")
    assert(h.forall { case (lo, hi, ndv) => lo <= hi && ndv > 0 })
    // equi-height: each bin holds ~rows/bins values
    assert(stats("id").histoHeight == 250.0)
    // string column gets NO histogram
    assert(stats("cat").histogram.isEmpty)
    // round-trips through the manifest
    assert(CowTable.open(spark, t.basePath).manifest
      .tableColStats("id").histogram == h)
    // consumed by CBO: the attribute stat carries the histogram
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val df = spark.read.format("graft").load(t.basePath)
      val s = df.queryExecution.optimizedPlan.stats.attributeStats
      val idStat = s.find(_._1.name == "id").map(_._2)
      assert(idStat.exists(_.histogram.isDefined),
        s"CBO must see the histogram: $idStat")
      assert(idStat.flatMap(_.histogram).exists(_.bins.length == 4))
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("maintain() renews stale ANALYZE stats with the same shape") {
    val t = mk(tmpDir("an-maint"))
    // never analyzed: maintenance must not invent statistics
    assert(t.maintain()("stats_refreshed") == 0L)
    t.analyze(columns = Seq("id", "cat"), histogramBins = 4)
    t.upsert(Seq((2000L, "cat9", "x")).toDF("id", "cat", "v"))
    assert(t.manifest.tableColStatsVersion != t.manifest.version,
      "data commit must stale the stats")
    val res = t.maintain()
    assert(res("stats_refreshed") == 1L)
    val m = t.manifest
    assert(m.tableColStatsVersion == m.version,
      "maintenance must leave the stats fresh (served to CBO again)")
    // same column selection and bin count as the last ANALYZE chose
    assert(m.tableColStats.keySet == Set("id", "cat"))
    assert(m.tableColStats("id").histogram.size == 4)
    assert(m.tableColStats("id").histogram.last._2 == 2000.0,
      "renewed histogram must cover the post-commit value range")
    // nothing stale left: a second pass has nothing to do
    assert(t.maintain()("stats_refreshed") == 0L)
  }

  test("DROP/RENAME COLUMN scrub the ANALYZE record; maintain() survives") {
    val t = mk(tmpDir("an-ddl"))
    t.analyze(columns = Seq("cat", "v"), histogramBins = 0)
    // DROP an analyzed column: its record must go with it, and the next
    // maintain() must renew the survivors instead of throwing on the
    // unknown column (the round-7 advice flag: every maintain() failed
    // until a manual re-ANALYZE)
    val t2 = t.alterSchema(dropCols = Seq("v"))
    assert(t2.manifest.tableColStats.keySet == Set("cat"))
    t2.upsert(Seq((3000L, "catX")).toDF("id", "cat"))
    assert(t2.maintain()("stats_refreshed") == 1L)
    assert(t2.manifest.tableColStats.keySet == Set("cat"))
    // RENAME an analyzed column: the record re-keys and keeps renewing
    val t3 = t2.renameColumn("cat", "category")
    assert(t3.manifest.tableColStats.keySet == Set("category"))
    t3.upsert(Seq((3001L, "catY")).toDF("id", "category"))
    assert(t3.maintain()("stats_refreshed") == 1L)
    assert(t3.manifest.tableColStats.keySet == Set("category"))
    assert(t3.manifest.tableColStatsVersion == t3.manifest.version)
  }

  test("CALL system.analyze returns the per-column stats table") {
    val wh = tmpDir("an-wh")
    spark.conf.set("spark.sql.catalog.ancat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.ancat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS ancat.lake")
    spark.sql("""CREATE TABLE ancat.lake.t (id BIGINT, s STRING)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO ancat.lake.t VALUES (1, 'a'), (2, 'b'), " +
      "(3, NULL)")
    val rows = spark.sql("CALL ancat.system.analyze('lake.t')")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(rows("id")._1 == 3L && rows("id")._2 == 0L)
    assert(rows("s")._2 == 1L, s"null count via SQL: ${rows("s")}")
  }
}
