package graft.sources

import graft.SparkSpec
import graft.table.{CowTable, MorTable}
import org.apache.spark.sql.functions._

/** Metadata-only aggregates: footer-stats MIN/MAX/COUNT pushed through
  * the DSv2 scan (delegated to Spark's parquet aggregate pushdown), and
  * the manifest-level `fastCount` (zero jobs). Both must stay EXACT
  * across upserts/deletes and refuse when they cannot certify exactness.
  */
class AggPushdownSpec extends SparkSpec {
  import spark.implicits._

  private def withAggPushdown[A](body: => A): A = {
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    try body
    finally spark.conf.set("spark.sql.parquet.aggregatePushdown", "false")
  }

  private def mkTable(dir: String, index: Boolean): CowTable = {
    val t = new CowTable(spark, tmpDir(dir), Seq("id"), Seq("p"),
      fileIndex = index)
    t.bulkInsert((1 to 100).map(i => (i, i * 2L, s"p${i % 3}"))
      .toDF("id", "v", "p"))
    t
  }

  test("count/min/max push to footer stats through format(graft)") {
    val t = mkTable("aggpd", index = false)
    t.upsert(Seq((101, 999L, "p0")).toDF("id", "v", "p"))
    t.delete(Seq((1, 0L, "p1")).toDF("id", "v", "p"))
    withAggPushdown {
      val df = spark.read.format("graft").load(t.basePath)
        .agg(count(lit(1)).as("n"), min($"v").as("lo"), max($"v").as("hi"))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedAggregation"),
        s"aggregates must push to the parquet scan:\n$plan")
      assert(!plan.contains("PushedAggregation: []"),
        s"pushed aggregation list must be non-empty:\n$plan")
      assert(df.as[(Long, Long, Long)].collect().head == ((100L, 4L, 999L)))
    }
  }

  test("filtered aggregates keep the exact row-by-row path") {
    val t = mkTable("aggpd-filter", index = false)
    withAggPushdown {
      // a data-column filter cannot be answered from footers alone:
      // Spark must NOT push the aggregate, and the result must be exact
      val byData = spark.read.format("graft").load(t.basePath)
        .filter($"v" > 100L).agg(count(lit(1)))
      val dataPlan = byData.queryExecution.executedPlan.toString
      assert(!dataPlan.contains("PushedAggregation: [COUNT"), dataPlan)
      assert(!dataPlan.contains("LocalTableScan"), dataPlan)
      assert(byData.as[Long].collect().head == 50L)
      // an equality on a string partition column is exact on the pruned
      // listing, so its COUNT(*) is answered from metadata
      val byPart = spark.read.format("graft").load(t.basePath)
        .filter($"p" === "p1").agg(count(lit(1)))
      val partPlan = byPart.queryExecution.executedPlan.toString
      assert(partPlan.contains("LocalTableScan") &&
        !partPlan.contains("BatchScan"), partPlan)
      assert(byPart.as[Long].collect().head ==
        (1 to 100).count(_ % 3 == 1).toLong)
    }
  }

  test("time travel composes with pushed aggregates") {
    val t = mkTable("aggpd-tt", index = false)   // v1: 100 rows
    t.delete(Seq((1, 0L, "x")).toDF("id", "v", "p")) // v2: 99 rows
    withAggPushdown {
      val df = spark.read.format("graft").option("versionAsOf", "1")
        .load(t.basePath).agg(count(lit(1)))
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        plan)
      assert(df.as[Long].collect().head == 100L)
    }
  }

  test("SPJ bucketed tables still answer pushed aggregates") {
    spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    try withAggPushdown {
      val t = new CowTable(spark, tmpDir("aggpd-spj"), Seq("id"),
        numBuckets = 4)
      t.bulkInsert((1 to 50).map(i => (i, i.toLong)).toDF("id", "v"))
      val df = spark.read.format("graft").load(t.basePath)
        .agg(count(lit(1)), max($"v"))
      assert(df.as[(Long, Long)].collect().head == ((50L, 50L)))
    } finally
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
  }

  test("fastCount answers from the manifest and tracks mutations") {
    val t = mkTable("fastcount", index = true)
    assert(t.fastCount() == Some(100L))
    t.upsert((90 to 110).map(i => (i, i * 3L, s"p${i % 3}"))
      .toDF("id", "v", "p"))
    assert(t.fastCount() == Some(110L))
    t.delete((1 to 10).map(i => (i, 0L, s"p${i % 3}")).toDF("id", "v", "p"))
    assert(t.fastCount() == Some(100L))
    assert(t.fastCount().get == t.snapshot().count())
  }

  test("fastCount refuses when exactness is uncertifiable") {
    // no file index -> no per-file counts
    val plain = mkTable("fastcount-off", index = false)
    assert(plain.fastCount().isEmpty)
    // MOR with pending delta logs -> unknown until compaction
    val mor = new MorTable(spark, tmpDir("fastcount-mor"), Seq("id"),
      fileIndex = true, compactEvery = 0)
    mor.bulkInsert(Seq((1, "a")).toDF("id", "v"))
    assert(mor.fastCount() == Some(1L))
    mor.upsert(Seq((2, "b")).toDF("id", "v")) // pending log
    assert(mor.fastCount().isEmpty)
    mor.compactLogs()
    assert(mor.fastCount() == Some(2L))
  }
}
