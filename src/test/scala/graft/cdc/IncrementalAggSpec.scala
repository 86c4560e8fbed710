package graft.cdc

import org.apache.spark.JobCount

import graft.SparkSpec
import graft.table.CowTable
import IncrementalAgg.AggSpec

/** Incremental-view-maintenance invariant: folding per-batch deltas into
  * the maintained aggregate equals recomputing the aggregate from the
  * post-batch table — exactly, over a random interleaving of upserts
  * (new keys + overwrites, in-batch duplicates) and deletes (existing and
  * missing keys), because the sums are decimal (retraction is exact).
  */
class IncrementalAggSpec extends SparkSpec {
  import spark.implicits._

  private def rows(xs: Seq[(String, String, Double)]) =
    xs.toDF("id", "p", "v")

  private def collectAgg(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      ((r.getLong(1), r.getDecimal(2)))).toMap

  test("maintained aggregate equals recompute across random CDC batches") {
    val rnd = new scala.util.Random(42)
    val t = new CowTable(spark, tmpDir("ivm"), keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v",
      fileIndex = true)
    val spec = AggSpec(Seq("p"), "v")
    def part(i: Int) = s"p${i % 3}"
    t.bulkInsert(rows((0 until 60).map(i =>
      (s"k$i", part(i), rnd.nextInt(100).toDouble))))
    val none = rows(Nil)
    var agg = IncrementalAgg.recompute(t.snapshot(), spec).localCheckpoint()
    for (_ <- 1 to 4) {
      // upserts: mix of overwrites and brand-new keys, with in-batch dups
      // the engine resolves by precombine — mirror that before the delta
      val ups = CdcOps.precombine(
        rows((0 until 15).map { _ =>
          val i = rnd.nextInt(80)
          (s"k$i", part(i), rnd.nextInt(100).toDouble)
        }), Seq("id"), "v")
      agg = IncrementalAgg.apply(
        agg, IncrementalAgg.delta(t, ups, none, spec), spec)
        .localCheckpoint()
      t.upsert(ups)
      // deletes: some keys exist, some never did (must be no-ops)
      val dels = rows((0 until 6).map { _ =>
        val i = rnd.nextInt(100)
        (s"k$i", part(i), 0.0)
      }).dropDuplicates("id")
      agg = IncrementalAgg.apply(
        agg, IncrementalAgg.delta(t, none, dels, spec), spec)
        .localCheckpoint()
      t.delete(dels)
      val expect = IncrementalAgg.recompute(t.snapshot(), spec)
      assert(collectAgg(agg) == collectAgg(expect),
        s"maintained state diverged at version ${t.manifest.version}")
    }
  }

  test("key upserted AND deleted in one batch nets to -old only") {
    val t = new CowTable(spark, tmpDir("ivm3"), keyCols = Seq("id"),
      precombineField = "v")
    val spec = AggSpec(Seq("p"), "v")
    t.bulkInsert(rows(Seq(("a", "g1", 10.0), ("b", "g1", 4.0))))
    var agg = IncrementalAgg.recompute(t.snapshot(), spec)
    // one delta for the whole batch: a is overwritten AND deleted (delete
    // wins, matching the pipeline's upsert-then-delete merge order);
    // c is inserted then deleted (net no-op)
    val ups = rows(Seq(("a", "g1", 99.0), ("c", "g1", 50.0)))
    val dels = rows(Seq(("a", "g1", 0.0), ("c", "g1", 0.0)))
    agg = IncrementalAgg.apply(
      agg, IncrementalAgg.delta(t, ups, dels, spec), spec)
    t.upsert(ups)
    t.delete(dels)
    val got = collectAgg(agg)
    assert(got == collectAgg(IncrementalAgg.recompute(t.snapshot(), spec)))
    assert(got("g1")._1 == 1L && got("g1")._2.doubleValue == 4.0,
      s"only b survives: $got")
  }

  test("maintained view tracks the golden scenario through the pipeline") {
    val pipe = new CdcPipeline(spark, tmpDir("ivm-wh"))
    val cfg = TableConfig.fromFile(GoldenFixtures.controlFile).head
    val vSpec = AggSpec(Seq("measurement_date"), "measurement_value")
    val view = new IncrementalAgg.MaintainedView(
      spark, tmpDir("ivm-view"), vSpec)
    val fullLoad = GoldenFixtures.fullLoad(spark)
    val cdcBatch = GoldenFixtures.cdcBatch(spark)

    pipe.run(cfg, spark.read.parquet(fullLoad), preMergeHook = view.hook)
    view.commit(pipe.tableFor(cfg))
    val afterLoad = view.current.collect()
      .map(r => r.get(0).toString -> r.getLong(1)).toMap
    assert(afterLoad == Map("2022-05-01" -> 100L), s"seed: $afterLoad")

    pipe.run(cfg, spark.read.parquet(cdcBatch), preMergeHook = view.hook)
    view.commit(pipe.tableFor(cfg))
    val afterCdc = view.current.collect()
      .map(r => r.get(0).toString -> ((r.getLong(1), r.getDecimal(2))))
    // golden outcome: 100 rows on 05-01 (10 updated in place), 90 on 05-02
    assert(afterCdc.toMap.view.mapValues(_._1).toMap ==
      Map("2022-05-01" -> 100L, "2022-05-02" -> 90L), s"cdc: $afterCdc")
    // exact: maintained state == recompute from the merged table
    val expect = IncrementalAgg
      .recompute(pipe.tableFor(cfg).snapshot(), vSpec).collect()
      .map(r => r.get(0).toString -> ((r.getLong(1), r.getDecimal(2))))
    assert(afterCdc.toMap == expect.toMap)
  }

  test("a commit where a group vanishes is one version within its job " +
      "budget") {
    val t = new CowTable(spark, tmpDir("ivm-one"), keyCols = Seq("id"),
      precombineField = "v")
    val spec = AggSpec(Seq("p"), "v")
    t.bulkInsert(rows(Seq(("a", "g1", 1.0), ("b", "g2", 2.0))))
    val view = new IncrementalAgg.MaintainedView(spark, tmpDir("ivm-one-v"),
      spec)
    view.commit(t)
    val ups = rows(Seq(("a", "g1", 3.0)))
    val dels = rows(Seq(("b", "g2", 0.0)))
    view.hook(t, ups, dels)
    t.upsert(ups)
    t.delete(dels)
    val v0 = view.table.manifest.version
    val (_, jobs) = JobCount(spark.sparkContext)(view.commit(t))
    // g2 vanishes in the same commit that updates g1 (measured 12 jobs;
    // the upsert-then-delete form took 16 jobs and two versions)
    assert(view.table.manifest.version == v0 + 1)
    assert(jobs <= 12, s"$jobs jobs > 12")
    assert(collectAgg(view.current) == Map("g1" -> ((1L,
      new java.math.BigDecimal("3.000000")))))
  }

  test("retraction respects key+partition identity across partitions") {
    val t = new CowTable(spark, tmpDir("ivm4"), keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v")
    val spec = AggSpec(Seq("p"), "v")
    // the SAME record key in two partitions: distinct records under the
    // table's non-global (key+partition) identity
    t.bulkInsert(rows(Seq(
      ("k", "p0", 10.0), ("k", "p1", 20.0), ("x", "p1", 1.0))))
    var agg = IncrementalAgg.recompute(t.snapshot(), spec)
    // one batch touches BOTH partitions but overwrites only p1's copy of k
    // — a key-only retraction probe would also retract p0's untouched image
    val ups = rows(Seq(("k", "p1", 99.0), ("y", "p0", 5.0)))
    agg = IncrementalAgg.apply(
      agg, IncrementalAgg.delta(t, ups, rows(Nil), spec), spec)
    t.upsert(ups)
    val got = collectAgg(agg)
    assert(got == collectAgg(IncrementalAgg.recompute(t.snapshot(), spec)),
      s"maintained state diverged: $got")
    assert(got("p0")._1 == 2L && got("p0")._2.doubleValue == 15.0,
      s"p0 must keep its own copy of k: $got")
    assert(got("p1")._1 == 2L && got("p1")._2.doubleValue == 100.0, s"$got")
  }

  test("non-CDC incremental batch with duplicate keys keeps view exact") {
    val pipe = new CdcPipeline(spark, tmpDir("ivm-dup-wh"))
    val cfg = TableConfig.fromFile(GoldenFixtures.controlFile).head
    val vSpec = AggSpec(Seq("measurement_date"), "measurement_value")
    val view = new IncrementalAgg.MaintainedView(
      spark, tmpDir("ivm-dup-view"), vSpec)
    val full = spark.read.parquet(GoldenFixtures.fullLoad(spark))
    pipe.run(cfg, full, preMergeHook = view.hook)
    view.commit(pipe.tableFor(cfg))
    // a non-CDC batch (no Op/transaction_id — replayed-full-load shape)
    // carrying the SAME key twice with different precombine values: the
    // merge keeps one row per key (greatest precombine), so the hook must
    // see the deduped image, not +1 per duplicate
    import org.apache.spark.sql.functions._
    val one = full.limit(1)
    val dup = one.withColumn("MEASUREMENT_VALUE",
        lit(java.math.BigDecimal.valueOf(111, 2))
          .cast(one.schema("MEASUREMENT_VALUE").dataType))
      .unionByName(one.withColumn("MEASUREMENT_VALUE",
        lit(java.math.BigDecimal.valueOf(999, 2))
          .cast(one.schema("MEASUREMENT_VALUE").dataType)))
    pipe.run(cfg, dup, preMergeHook = view.hook)
    view.commit(pipe.tableFor(cfg))
    val got = view.current.collect()
      .map(r => r.get(0).toString -> ((r.getLong(1), r.getDecimal(2)))).toMap
    val expect = IncrementalAgg
      .recompute(pipe.tableFor(cfg).snapshot(), vSpec).collect()
      .map(r => r.get(0).toString -> ((r.getLong(1), r.getDecimal(2)))).toMap
    assert(got == expect,
      s"view drifted on duplicate-key non-CDC batch: $got vs $expect")
    assert(got("2022-05-01")._1 == 100L, s"row count must not inflate: $got")
  }

  test("group-changing update moves the row between groups") {
    val t = new CowTable(spark, tmpDir("ivm2"), keyCols = Seq("id"),
      precombineField = "v")
    val spec = AggSpec(Seq("p"), "v")
    t.bulkInsert(rows(Seq(("a", "g1", 10.0), ("b", "g1", 5.0))))
    var agg = IncrementalAgg.recompute(t.snapshot(), spec)
    // a moves from g1 to g2 with a new value
    val ups = rows(Seq(("a", "g2", 7.0)))
    agg = IncrementalAgg.apply(
      agg, IncrementalAgg.delta(t, ups, rows(Nil), spec), spec)
    t.upsert(ups)
    val got = collectAgg(agg)
    assert(got.keySet == Set("g1", "g2"))
    assert(got("g1")._1 == 1L && got("g1")._2.doubleValue == 5.0)
    assert(got("g2")._1 == 1L && got("g2")._2.doubleValue == 7.0)
    assert(collectAgg(IncrementalAgg.recompute(t.snapshot(), spec)) == got)
  }
}
