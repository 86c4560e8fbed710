package graft.cdc

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end replay of the reference's own operational validation scenario
  * (SURVEY.md §3.2/§3.3/§5) against its shipped parquet fixtures:
  *   initial load of 100 rows (IDs 100-199, date 2022-05-01), then a 120-row
  *   CDC batch (100 I for IDs 200-299 on 2022-05-02, 10 U setting IDs 100-109
  *   to 100.00, 10 D for IDs 200-209 with higher transaction_id than their
  *   I's). Golden outcome: exactly 190 rows.
  */
class GoldenScenarioSpec extends SparkSpec {
  import spark.implicits._

  lazy val fullLoad = GoldenFixtures.fullLoad(spark)
  lazy val cdcBatch = GoldenFixtures.cdcBatch(spark)

  lazy val cfg = TableConfig.fromFile(
    GoldenFixtures.controlFile).head

  test("golden scenario: initial 100 + CDC 120 -> exactly 190 rows") {
    val wh = tmpDir("warehouse")
    val pipe = new CdcPipeline(spark, wh)

    val s1 = pipe.run(cfg, spark.read.parquet(fullLoad))
    assert(s1.initialLoad && s1.inputRows == 100)

    val table = pipe.tableFor(cfg)
    assert(table.snapshot().count() == 100)

    val s2 = pipe.run(cfg, spark.read.parquet(cdcBatch))
    assert(!s2.initialLoad && s2.inputRows == 120)

    val snap = table.snapshot().cache()
    assert(snap.count() == 190, "golden outcome is 190 rows")

    // K6 — the run synced a queryable session view
    val viaSql = spark.sql(
      s"SELECT count(*) AS n FROM ${pipe.viewName(cfg)}")
      .collect()(0).getLong(0)
    assert(viaSql == 190)

    // IDs 100-109 updated to 100.00
    val updated = snap
      .filter($"measurement_id".isin((100 to 109)
        .map(i => s"MeasurementID-$i"): _*))
      .select($"measurement_value".cast("string")).as[String].collect()
    assert(updated.length == 10)
    assert(updated.forall(_ == "100.00"), s"got ${updated.toSeq}")

    // IDs 200-209 inserted-then-deleted within the batch: absent
    val ghosts = snap.filter($"measurement_id".isin((200 to 209)
      .map(i => s"MeasurementID-$i"): _*)).count()
    assert(ghosts == 0, "intra-batch insert-then-delete keys must be absent")

    // IDs 210-299 present in partition 2022-05-02
    val newPart = snap
      .filter($"measurement_date" === lit("2022-05-02").cast("date")).count()
    assert(newPart == 90)
    assert(table.manifest.partitions.keySet ==
      Set("measurement_date=2022-05-01", "measurement_date=2022-05-02"))
    snap.unpersist()
  }

  test("golden scenario with cdc_split_upsert=yes reaches the same state") {
    val wh = tmpDir("warehouse")
    val pipe = new CdcPipeline(spark, wh)
    val split = cfg.copy(cdcSplitUpsert = true)
    pipe.run(split, spark.read.parquet(fullLoad))
    pipe.run(split, spark.read.parquet(cdcBatch))
    val snap = pipe.tableFor(split).snapshot()
    // Note: split routing appends I rows without merge; the 10 D keys are
    // still removed afterwards because deletes run last. IDs 200-209 were
    // appended then deleted -> absent; total is again 190.
    assert(snap.count() == 190)
  }

  test("replaying the scenario against existing state is idempotent") {
    val wh = tmpDir("warehouse")
    val pipe = new CdcPipeline(spark, wh)
    pipe.run(cfg, spark.read.parquet(fullLoad))
    pipe.run(cfg, spark.read.parquet(cdcBatch))
    // second replay: full load now lacks CDC columns but table exists —
    // must degrade to pure upsert, not fail analysis
    val s3 = pipe.run(cfg, spark.read.parquet(fullLoad))
    assert(!s3.initialLoad && s3.upserted == 100)
    pipe.run(cfg, spark.read.parquet(cdcBatch))
    assert(pipe.tableFor(cfg).snapshot().count() == 190)
  }

  test("empty input batch is a guarded no-op") {
    val wh = tmpDir("warehouse")
    val pipe = new CdcPipeline(spark, wh)
    pipe.run(cfg, spark.read.parquet(fullLoad))
    val table = pipe.tableFor(cfg)
    def catalogVersions = new java.io.File(s"$wh/_catalog").list()
      .filter(_.matches("v\\d+\\.json")).sorted.toSeq
    val (v0, cat0) = (table.manifest.version, catalogVersions)
    // a hook-carrying run: the hook sees only the table's columns, and
    // nothing at all for an empty batch
    val view = new IncrementalAgg.MaintainedView(spark, tmpDir("agg"),
      IncrementalAgg.AggSpec(Seq("measurement_date"), "measurement_value"))
    val seen = scala.collection.mutable.Buffer.empty[Set[String]]
    val hook: (graft.table.CowTable, DataFrame, DataFrame) => Unit =
      (t, ups, dels) => {
        seen += ups.columns.toSet += dels.columns.toSet
        view.hook(t, ups, dels)
      }
    val empty = spark.read.parquet(cdcBatch).limit(0)
    val s = pipe.run(cfg, empty, preMergeHook = hook)
    assert(s.inputRows == 0)
    assert(seen.isEmpty, "no hook call for an empty batch")
    assert(table.manifest.version == v0, "no version for an empty batch")
    assert(catalogVersions == cat0, "no catalog version for an empty batch")
    assert(table.snapshot().count() == 100)
    view.commit(table)
    pipe.run(cfg, spark.read.parquet(cdcBatch), preMergeHook = hook)
    val cols = table.snapshot().columns.toSet
    assert(seen.nonEmpty && seen.forall(_ == cols), s"$seen vs $cols")
    view.commit(table)
    assert(view.current.agg(sum("cnt")).head().getLong(0) == 190)
  }

  test("recursive multi-path raw scan skips missing candidate paths") {
    val pipe = new CdcPipeline(spark, tmpDir("wh"))
    val df = pipe.readRaw(Seq(fullLoad, "/nonexistent/path"))
    assert(df.count() == 100)
  }

  test("runAll: metadata-driven multi-table job over a raw layout") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val rawRoot = tmpDir("raw-root")
    val tableDir = s"$rawRoot/${cfg.relativePath}"
    Files.createDirectories(Paths.get(tableDir))
    Files.copy(Paths.get(fullLoad), Paths.get(s"$tableDir/full.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val pipe = new CdcPipeline(spark, tmpDir("wh"))
    // two records for this job (same table twice is fine for the loop),
    // plus one for another job that must be filtered out
    val other = cfg.copy(tableName = "other", glueJobName = "other_job")
    val summaries = pipe.runAll(Seq(cfg, other), cfg.glueJobName, rawRoot)
    assert(summaries.length == 1)
    assert(summaries.head.initialLoad && summaries.head.inputRows == 100)
    assert(pipe.tableFor(cfg).snapshot().count() == 100)
    // second run: bookmark-less rerun takes the incremental branch
    val again = pipe.runAll(Seq(cfg), cfg.glueJobName, rawRoot)
    assert(!again.head.initialLoad)
    assert(pipe.tableFor(cfg).snapshot().count() == 100)
  }
}
