package graft.cdc

import graft.SparkSpec
import graft.table.CowTable
import org.apache.spark.JobCount
import org.apache.spark.sql.functions._

/** How `CdcPipeline.run` commits an incremental batch: one merge commit per
  * copy-on-write batch, an upsert log and a delete log per merge-on-read
  * batch, and the same [[RunSummary]] counts as the reference's routing.
  */
class CdcPipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fullLoad = GoldenFixtures.fullLoad(spark)
  private lazy val cdcBatch = GoldenFixtures.cdcBatch(spark)
  private lazy val cfg = TableConfig.fromFile(
    GoldenFixtures.controlFile).head

  /** A pipeline over a fresh warehouse holding the golden full load, and
    * the table version the load published.
    */
  private def loaded(c: TableConfig, tag: String): (CdcPipeline, Long) = {
    val pipe = new CdcPipeline(spark, tmpDir(tag))
    pipe.run(c, spark.read.parquet(fullLoad))
    (pipe, pipe.tableFor(c).manifest.version)
  }

  /** (operation, metrics) of every version after `since`, oldest first. */
  private def commitsAfter(t: CowTable, since: Long)
      : Seq[(String, Map[String, Long])] =
    t.history().filter(col("version") > since).orderBy("version")
      .select("operation", "metrics").as[(String, Map[String, Long])]
      .collect().toSeq

  test("a COW batch of I/U/D rows publishes ONE merge version carrying " +
      "the upsert/delete split") {
    val (pipe, v0) = loaded(cfg, "wh-fused")
    pipe.run(cfg, spark.read.parquet(cdcBatch))
    val t = pipe.tableFor(cfg)
    assert(t.snapshot().count() == 190)
    val commits = commitsAfter(t, v0)
    assert(commits.map(_._1) == Seq("merge"),
      s"one commit per batch, got $commits")
    val m = commits.head._2
    assert(m.get("cdc_upserted").contains(100L) &&
      m.get("cdc_deleted").contains(10L), s"metrics $m")
  }

  test("the merge version records the batch's phase timings; a later " +
      "commit does not inherit them") {
    val (pipe, v0) = loaded(cfg, "wh-phases")
    pipe.run(cfg, spark.read.parquet(cdcBatch))
    val t = pipe.tableFor(cfg)
    val Seq((op, m)) = commitsAfter(t, v0)
    assert(op == "merge")
    Seq("route", "touched", "prune", "write", "tombstones", "stats")
      .map(p => s"phase_${p}_ms")
      .foreach(k => assert(m.get(k).exists(_ >= 0L), s"$k in $m"))
    val v1 = t.manifest.version
    t.analyze()
    val later = commitsAfter(t, v1)
    assert(later.map(_._1) == Seq("analyze") &&
      !later.head._2.keys.exists(_.startsWith("phase_")), s"$later")
  }

  test("a batch keeps the props an ALTER set on the existing table") {
    val (pipe, _) = loaded(cfg, "wh-props")
    pipe.tableFor(cfg)
      .alterProps(Map("keepCommits" -> "3", "fileIndex" -> "true"))
    pipe.run(cfg, spark.read.parquet(cdcBatch))
    val t = CowTable.open(spark, pipe.tablePath(cfg))
    assert(t.keepCommits == 3 && t.fileIndex,
      s"props reset by the batch: ${t.manifest.props}")
  }

  test("RunSummary counts follow the reference's routing on the golden " +
      "batch (COW, cdc_split_upsert, MOR)") {
    // 120 events; after W1: 90 I (ids 210-299), 10 U (100-109), 10 D
    // (200-209, inserted then deleted within the batch)
    val base = RunSummary(cfg.tableName, initialLoad = false,
      inputRows = 120, deleted = 10)
    Seq(
      cfg -> base.copy(upserted = 100),
      cfg.copy(cdcSplitUpsert = true) ->
        base.copy(inserted = 90, upserted = 10),
      cfg.copy(storageType = "mor") -> base.copy(upserted = 100)
    ).zipWithIndex.foreach { case ((c, want), i) =>
      val (pipe, _) = loaded(c, s"wh-summary-$i")
      assert(pipe.run(c, spark.read.parquet(cdcBatch)) == want, s"for $c")
    }
  }

  test("null-op rows neither insert nor delete; a batch of only null-op " +
      "rows publishes no version") {
    val c = TableConfig(dbName = "np", schemaName = "s", tableName = "t",
      primaryKey = "id", partitionKey = "part", precombineField = "value",
      glueJobName = "j")
    val pipe = new CdcPipeline(spark, tmpDir("wh-nullop"))
    pipe.run(c, Seq(("k1", "p0", 1.0), ("k2", "p0", 2.0))
      .toDF("id", "part", "value"))
    val t = pipe.tableFor(c)
    def state = t.snapshot().select("id", "value")
      .as[(String, Double)].collect().toMap
    val s = pipe.run(c, Seq(
      PropEv(null, "k1", "p0", 10.0, "000000001"), // stored: not touched
      PropEv(null, "k3", "p0", 3.0, "000000002"),  // new: not inserted
      PropEv("U", "k2", "p0", 20.0, "000000003")).toDF())
    assert(s.upserted == 1 && s.deleted == 0, s"$s")
    assert(state == Map("k1" -> 1.0, "k2" -> 20.0))
    val v = t.manifest.version
    val none = pipe.run(c, Seq(
      PropEv(null, "k2", "p0", 0.0, "000000004")).toDF())
    assert(none.upserted == 0 && none.deleted == 0, s"$none")
    assert(t.manifest.version == v, "nothing to apply: no new version")
    assert(state == Map("k1" -> 1.0, "k2" -> 20.0))
  }

  test("the change feed's tombstones at the merge version list the D keys") {
    val (pipe, _) = loaded(cfg, "wh-feed")
    pipe.run(cfg, spark.read.parquet(cdcBatch))
    val t = pipe.tableFor(cfg)
    // the pipeline's handle does not stamp commit versions, so read the
    // feed's D source (tombstone files) directly
    val feed = new CowTable(spark, t.basePath, t.keyCols, t.partitionCols) {
      def deletedIds(v: Long): Set[String] =
        tombstoneRows(manifest, v - 1, v).toSeq
          .flatMap(_.select("measurement_id").as[String].collect()).toSet
    }
    assert(feed.deletedIds(t.manifest.version) ==
      (200 to 209).map(i => s"MeasurementID-$i").toSet)
  }

  test("the golden batch stays within its Spark job budget (COW 11, " +
      "MOR 8)") {
    // Measured counts; every added job round fails this. Before the
    // one-aggregate routing the batch ran 16 (COW) and 11 (MOR) jobs.
    Seq(cfg -> 11, cfg.copy(storageType = "mor") -> 8).foreach {
      case (c, budget) =>
        val (pipe, _) = loaded(c, s"wh-jobs-${c.storageType}")
        val batch = spark.read.parquet(cdcBatch)
        val (s, jobs) = JobCount(spark.sparkContext)(pipe.run(c, batch))
        assert(s.inputRows == 120)
        assert(jobs <= budget, s"${c.storageType}: $jobs jobs > $budget")
    }
  }

  test("a bucketed batch touching the null partition applies exactly and " +
      "rewrites only its touched units") {
    val hive = CowTable.HiveDefaultPartition
    val c = TableConfig(dbName = "bk", schemaName = "s", tableName = "t",
      primaryKey = "id", partitionKey = "part", precombineField = "value",
      glueJobName = "j", numBuckets = 4)
    val pipe = new CdcPipeline(spark, tmpDir("wh-bucket-null"))
    // k40 is alone in p5, so only its D touches that unit
    val init = (0 until 20).map(i =>
      (s"k$i", if (i % 4 == 0) null else s"p${i % 2}", i.toDouble)) :+
      (("k40", "p5", 40.0))
    pipe.run(c, init.toDF("id", "part", "value"))
    val t = pipe.tableFor(c)
    val before = t.manifest
    val batch = Seq(
      PropEv("U", "k0", null, 100.0, "000000001"),
      PropEv("D", "k4", null, 4.0, "000000002"),
      PropEv("U", "k1", "p1", 101.0, "000000003"),
      PropEv("I", "k30", null, 30.0, "000000004"),
      PropEv("I", "k31", "p9", 31.0, "000000005"),
      PropEv("I", "k32", "p0", 32.0, "000000006"),
      PropEv("D", "k32", "p0", 32.0, "000000007"),
      PropEv("U", "k2", "p0", 50.0, "000000008"),
      PropEv("U", "k2", "p0", 52.0, "000000009"),
      PropEv(null, "k3", "p1", 0.0, "000000010"),
      PropEv("D", "k40", "p5", 40.0, "000000011"))
    val s = pipe.run(c, batch.toDF())
    assert(s.inputRows == batch.size && s.upserted == 5 && s.deleted == 3,
      s"$s")
    // the replay model: the last event per key, D removes, null op ignored
    val latest = batch.groupBy(_.id).values.map(_.maxBy(_.transaction_id))
      .filter(_.op != null)
    val want = latest.foldLeft(init.map(r => r._1 -> (r._2, r._3)).toMap) {
      (m, e) => if (e.op == "D") m - e.id else m + (e.id -> (e.part, e.value))
    }
    val got = t.snapshot().select("id", "part", "value")
      .as[(String, String, Double)].collect()
    assert(got.map(_._1).distinct.length == got.length,
      s"duplicate keys: ${got.toSeq.sortBy(_._1)}")
    assert(got.map(r => r._1 -> (r._2, r._3)).toMap == want)
    // the units the batch's routed rows fall in (Hudi-style key-hash
    // buckets), of which the pre-existing ones are rewritten
    val touched = latest.toSeq.map(e => (e.id, e.part)).toDF("id", "part")
      .select(col("part"), pmod(xxhash64(col("id")), lit(4L)))
      .as[(String, Long)].collect()
      .map { case (p, b) => s"part=${Option(p).getOrElse(hive)}/__bucket=$b" }
      .toSet.intersect(before.partitions.keySet)
    assert(touched.exists(_.startsWith(s"part=$hive/")))
    val Seq((op, m)) = commitsAfter(t, before.version)
    assert(op == "merge" &&
      m.get("units_rewritten").contains(touched.size.toLong), s"$m")
  }

  test("a MOR batch still publishes an upsert log and then a delete log") {
    val mor = cfg.copy(storageType = "mor")
    val (pipe, v0) = loaded(mor, "wh-mor")
    pipe.run(mor, spark.read.parquet(cdcBatch))
    val t = pipe.tableFor(mor)
    assert(commitsAfter(t, v0).map(_._1) == Seq("log_upsert", "log_delete"))
    assert(t.snapshot().count() == 190)
  }
}
