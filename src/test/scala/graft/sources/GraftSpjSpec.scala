package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{
  BroadcastExchangeExec, ShuffleExchangeExec}

/** Storage-partitioned joins: two graft tables bucketed the same way on
  * the join key must join with NO shuffle (and no broadcast) on either
  * side — the scan reports `KeyGroupedPartitioning(bucket(n, k))`,
  * resolved through the catalog's `bucket` function.
  */
class GraftSpjSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val wh = tmpDir("spj-wh")
  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.spj", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.spj.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS spj.lake")
  }

  private def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val olds = pairs.map { case (k, _) =>
      k -> util.Try(spark.conf.get(k)).toOption }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def shuffles(df: DataFrame): Seq[ShuffleExchangeExec] = {
    df.collect() // materialize so AQE finalizes the plan
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec => s }
  }

  private def broadcasts(df: DataFrame): Seq[BroadcastExchangeExec] =
    collectWithSubqueries(df.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b }

  private def mkTable(name: String, buckets: Int, rows: Seq[(Long, Double)],
      extra: String = ""): Unit = {
    spark.sql(s"""CREATE TABLE spj.lake.$name (k BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='k', 'numBuckets'='$buckets')""")
    rows.toDF("k", "v").createOrReplaceTempView(s"spj_src_$name")
    spark.sql(
      s"INSERT INTO spj.lake.$name SELECT k, v FROM spj_src_$name")
  }

  test("co-bucketed tables join with zero exchanges") {
    init()
    val left = (1L to 400L).map(k => k -> k * 1.0)
    val right = (200L to 600L).map(k => k -> k * 10.0)
    mkTable("a", 8, left)
    mkTable("b", 8, right)
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("""SELECT a.k, a.v AS va, b.v AS vb
        FROM spj.lake.a a JOIN spj.lake.b b ON a.k = b.k""")
      val got = df.as[(Long, Double, Double)].collect().toSet
      val want = (200L to 400L).map(k => (k, k * 1.0, k * 10.0)).toSet
      assert(got == want, s"join result wrong: ${got.size} rows")
      assert(shuffles(df).isEmpty,
        s"expected storage-partitioned join, got shuffles:\n" +
          df.queryExecution.executedPlan)
      assert(broadcasts(df).isEmpty)
    }
  }

  test("opt-out and mismatched layouts fall back to shuffle, correctly") {
    init()
    val rows = (1L to 100L).map(k => k -> k * 1.0)
    mkTable("c", 4, rows)
    mkTable("d", 2, rows) // different bucket count: not co-partitioned
    // conf off: plain scan, normal shuffle join
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("""SELECT a.k FROM spj.lake.a a
        JOIN spj.lake.b b ON a.k = b.k""")
      assert(shuffles(df).nonEmpty, "without the opt-in there must be " +
        "ordinary shuffles (negative control for the SPJ assertion)")
    }
    // conf on but bucket counts differ: must still answer correctly
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("""SELECT c.k, d.v FROM spj.lake.c c
        JOIN spj.lake.d d ON c.k = d.k""")
      assert(df.as[(Long, Double)].collect().toSet ==
        rows.map { case (k, v) => (k, v) }.toSet)
    }
  }

  test("bucketed aggregation groups without a shuffle on the bucket key") {
    init()
    // grouping by the full key set: every group lives in one bucket, so
    // KeyGroupedPartitioning satisfies the aggregation's distribution too
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql(
        "SELECT k, sum(v) AS s FROM spj.lake.a GROUP BY k")
      assert(df.as[(Long, Double)].collect().toMap ==
        (1L to 400L).map(k => k -> k * 1.0).toMap)
      assert(shuffles(df).isEmpty,
        s"group-by on the bucket key must not shuffle:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("one-side shuffle: a plain DF re-buckets to the table's layout") {
    init()
    // the non-graft side hash-partitions USING GraftBucketFunction
    // (produceResult) to match table a's storage — one shuffle instead of
    // two. This is also the end-to-end proof that produceResult computes
    // exactly the writer's routing: any divergence loses join matches.
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.shuffle.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      (150L to 450L).map(k => (k, k * 2.0)).toDF("k", "w")
        .createOrReplaceTempView("spj_plain")
      val df = spark.sql("""SELECT a.k, a.v, p.w
        FROM spj.lake.a a JOIN spj_plain p ON a.k = p.k""")
      val got = df.as[(Long, Double, Double)].collect().toSet
      val want = (150L to 400L).map(k => (k, k * 1.0, k * 2.0)).toSet
      assert(got == want,
        s"one-side-shuffle join lost/invented rows (diff=${got.diff(want).take(3)}" +
          s"/${want.diff(got).take(3)}) — produceResult must equal bucketExpr")
      val sh = shuffles(df)
      assert(sh.size == 1,
        s"expected exactly one exchange (the plain side), got ${sh.size}:\n" +
          df.queryExecution.executedPlan)
    }
  }

  test("upserts preserve bucket routing: SPJ stays exchange-free") {
    init()
    // churn table a across several commits, then re-join
    spark.sql("INSERT INTO spj.lake.a VALUES (1, 100.0), (401, 401.0)")
    spark.sql("DELETE FROM spj.lake.a WHERE k = 2")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("""SELECT a.k, a.v AS va, b.v AS vb
        FROM spj.lake.a a JOIN spj.lake.b b ON a.k = b.k""")
      val got = df.as[(Long, Double, Double)].collect().toSet
      val want = ((200L to 400L).map(k => (k, k * 1.0, k * 10.0)) ++
        Seq((401L, 401.0, 4010.0))).toSet
      assert(got == want, s"post-churn join wrong")
      assert(shuffles(df).isEmpty, "churned table must stay SPJ-joinable")
    }
  }

  test("key-sorted single-file buckets join with no exchange AND no sort") {
    init()
    def mkSorted(name: String, rows: Seq[(Long, Double)]): Unit = {
      spark.sql(s"""CREATE TABLE spj.lake.$name (k BIGINT, v DOUBLE)
        USING graft TBLPROPERTIES ('keyCols'='k', 'numBuckets'='4',
          'clusterCols'='k')""")
      rows.toDF("k", "v").createOrReplaceTempView(s"spj_src_$name")
      spark.sql(
        s"INSERT INTO spj.lake.$name SELECT k, v FROM spj_src_$name")
      // fold each bucket to ONE file: the precondition for the scan's
      // reported per-partition ordering (two sorted files concatenated
      // are not sorted, so multi-file buckets claim nothing)
      val t = graft.table.CowTable.open(spark, s"$wh/lake/$name")
      t.compact(maxFilesPerUnit = 1)
      assert(t.manifest.partitions.valuesIterator.forall(_.size == 1))
    }
    mkSorted("sa", (1L to 500L).map(k => k -> k * 1.0))
    mkSorted("sb", (300L to 700L).map(k => k -> k * 10.0))
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      // force the sort-merge join path (no hash join) so the assertion
      // targets exactly the sorts SMJ would otherwise insert
      "spark.sql.join.preferSortMergeJoin" -> "true",
      "spark.sql.join.forceApplyShuffledHashJoin" -> "false") {
      val df = spark.sql("""SELECT a.k, a.v AS va, b.v AS vb
        FROM spj.lake.sa a JOIN spj.lake.sb b ON a.k = b.k""")
      val got = df.as[(Long, Double, Double)].collect().toSet
      assert(got == (300L to 500L).map(k => (k, k * 1.0, k * 10.0)).toSet)
      assert(shuffles(df).isEmpty,
        s"sorted SPJ must not shuffle:\n${df.queryExecution.executedPlan}")
      val sorts = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.isEmpty,
        "co-bucketed KEY-SORTED single-file tables must sort-merge join " +
          s"with no SortExec:\n${df.queryExecution.executedPlan}")
    }
  }

  test("multi-file buckets do NOT claim ordering (sorts reappear)") {
    init()
    // table sa compacted to 1 file/bucket; APPEND more rows so the touched
    // buckets hold a second file. The append goes through insertAppend
    // (the split-upsert routing path) because the catalog INSERT now
    // clusters bucketed writes to one file per bucket AND the upsert
    // rewrites the touched bucket — either way INSERT alone can no longer
    // construct the multi-file state this spec guards.
    val sa = graft.table.CowTable.open(spark, s"$wh/lake/sa")
    sa.insertAppend(Seq((501L, 501.0), (502L, 502.0)).toDF("k", "v"))
    assert(sa.manifest.partitions.valuesIterator.exists(_.size > 1),
      "precondition: the append must leave a multi-file bucket")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val df = spark.sql("""SELECT a.k, a.v AS va, b.v AS vb
        FROM spj.lake.sa a JOIN spj.lake.sb b ON a.k = b.k""")
      val got = df.as[(Long, Double, Double)].collect().toSet
      assert(got ==
        ((300L to 502L).map(k => (k, k * 1.0, k * 10.0)).toSet),
        "post-append join must stay correct")
      val sorts = collectWithSubqueries(df.queryExecution.executedPlan) {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sorts.nonEmpty,
        "multi-file buckets are unsorted: SMJ must re-sort (claiming " +
          "otherwise would return wrong join results)")
    }
  }

  test("z-ordered files suppress the ordering claim until rewritten") {
    init()
    def mk(name: String, rows: Seq[(Long, Double)]): graft.table.CowTable = {
      spark.sql(s"""CREATE TABLE spj.lake.$name (k BIGINT, v DOUBLE)
        USING graft TBLPROPERTIES ('keyCols'='k', 'numBuckets'='4',
          'clusterCols'='k')""")
      rows.toDF("k", "v").createOrReplaceTempView(s"spj_src_$name")
      spark.sql(
        s"INSERT INTO spj.lake.$name SELECT k, v FROM spj_src_$name")
      val t = graft.table.CowTable.open(spark, s"$wh/lake/$name")
      t.compact(maxFilesPerUnit = 1)
      t
    }
    val ta = mk("za", (1L to 500L).map(k => k -> (k % 7) * 1.0))
    mk("zb", (300L to 700L).map(k => k -> k * 10.0))
    // a 2-axis z-order on the clusterCols-declared table is LEGAL now:
    // the rewrite records its files as unordered instead of refusing
    assert(ta.reclusterZOrder("k", "v", parallelism = 4))
    assert(ta.manifest.unorderedFiles.nonEmpty &&
      ta.manifest.unorderedFiles.toSet ==
        ta.manifest.partitions.valuesIterator.flatten.toSet,
      "every z-written file must carry the unordered mark")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.join.preferSortMergeJoin" -> "true") {
      def join() = spark.sql("""SELECT a.k, a.v AS va, b.v AS vb
        FROM spj.lake.za a JOIN spj.lake.zb b ON a.k = b.k""")
      val df = join()
      val got = df.as[(Long, Double, Double)].collect().toSet
      assert(got ==
        (300L to 500L).map(k => (k, (k % 7) * 1.0, k * 10.0)).toSet,
        "join over z-ordered files must stay correct")
      val sorts = collectWithSubqueries(df.queryExecution.executedPlan) {
        case x: org.apache.spark.sql.execution.SortExec => x }
      assert(sorts.nonEmpty,
        "z-ordered files are not key-sorted: SMJ must keep its sorts " +
          s"(claiming otherwise corrupts the join):\n" +
          s"${df.queryExecution.executedPlan}")
      // a recluster back to the declared layout clears the marks and
      // restores the no-sort join
      assert(ta.recluster(Seq("k"), parallelism = 4))
      ta.compact(maxFilesPerUnit = 1)
      assert(ta.manifest.unorderedFiles.isEmpty,
        "rewritten files must drop their unordered marks at publish")
      val df2 = join()
      df2.collect()
      val sorts2 = collectWithSubqueries(df2.queryExecution.executedPlan) {
        case x: org.apache.spark.sql.execution.SortExec => x }
      assert(sorts2.isEmpty,
        "restored key order must bring the sort-free SMJ back:\n" +
          s"${df2.queryExecution.executedPlan}")
    }
  }
}
