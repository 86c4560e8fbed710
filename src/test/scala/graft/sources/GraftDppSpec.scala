package graft.sources

import graft.SparkSpec
import graft.table.CowTable
import org.apache.spark.sql.functions._

/** Runtime (dynamic) file pruning: a join against a selectively-filtered
  * dimension must prune the graft fact scan's file listing at EXECUTION
  * time, from the broadcast build side's distinct keys — no static
  * predicate on the fact in the query text.
  */
class GraftDppSpec extends SparkSpec {
  import spark.implicits._

  /** Four single-file commits with disjoint `k` stripes (0-9, 10-19,
    * 20-29, 30-39), stats recorded on `k`.
    */
  private def clusteredFact(): CowTable = {
    val t = new CowTable(spark, tmpDir("dpp-fact"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("k"))
    def stripe(lo: Int) = (lo until lo + 10)
      .map(i => (i.toLong, i.toLong, i * 2.0)).toDF("id", "k", "v")
    t.bulkInsert(stripe(0), parallelism = 1)
    t.insertAppend(stripe(10), parallelism = 1)
    t.insertAppend(stripe(20), parallelism = 1)
    t.insertAppend(stripe(30), parallelism = 1)
    t
  }

  /** A filter over a LocalRelation constant-folds away before the
    * PartitionPruning rule looks for a selective build side, so the
    * dimension is parquet-backed — as a real star schema's would be.
    */
  private def parquetDim(rows: Seq[(Long, String)]):
      org.apache.spark.sql.DataFrame = {
    val p = tmpDir("dpp-dim")
    rows.toDF("k", "flag").write.mode("overwrite").parquet(p)
    spark.read.parquet(p)
  }

  test("join-side runtime filter prunes fact files to the matching stripe") {
    val t = clusteredFact()
    GraftRuntimeScan.pruneLog.remove(t.basePath)
    val fact = spark.read.format("graft").load(t.basePath)
    val dim = parquetDim(Seq((12L, "x"), (15L, "x"), (25L, "y"), (33L, "y")))
    val q = fact.join(dim.filter($"flag" === "x"), Seq("k"))
      .agg(sum($"v").as("s"), count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a planned runtime filter on the graft scan:\n$plan")
    val row = q.collect().head
    assert(row.getDouble(0) == (12 * 2.0 + 15 * 2.0) && row.getLong(1) == 2)
    val pruned = GraftRuntimeScan.pruneLog.get(t.basePath)
    assert(pruned == (4, 1),
      s"runtime filter must keep only the 10-19 stripe's file, got $pruned")
  }

  test("runtime pruning composes with a static pushed filter") {
    val t = clusteredFact()
    GraftRuntimeScan.pruneLog.remove(t.basePath)
    // static filter keeps stripes 10-19 and 20-29; runtime keys hit only
    // 20-29 — the runtime prune starts FROM the statically-pruned listing
    val fact = spark.read.format("graft").load(t.basePath)
      .filter($"k" >= 10L && $"k" <= 29L)
    val dim = parquetDim(Seq((21L, "x"), (27L, "x"), (5L, "y")))
    val q = fact.join(dim.filter($"flag" === "x"), Seq("k"))
      .agg(sum($"v").as("s"))
    assert(q.collect().head.getDouble(0) == (21 * 2.0 + 27 * 2.0))
    val pruned = GraftRuntimeScan.pruneLog.get(t.basePath)
    assert(pruned == (2, 1),
      s"runtime prune must start from the static listing, got $pruned")
  }

  test("key-equality joins prune through the record-key index alone") {
    // NO statsCols: the join is on the table's single-column key, so the
    // file index (range + sidecar bloom) carries the runtime prune
    val t = new CowTable(spark, tmpDir("dpp-key"), keyCols = Seq("id"),
      fileIndex = true)
    def stripe(lo: Int) = (lo until lo + 10)
      .map(i => (i.toLong, i * 2.0)).toDF("id", "v")
    t.bulkInsert(stripe(0), parallelism = 1)
    t.insertAppend(stripe(10), parallelism = 1)
    t.insertAppend(stripe(20), parallelism = 1)
    GraftRuntimeScan.pruneLog.remove(t.basePath)
    val fact = spark.read.format("graft").load(t.basePath)
    val dim = parquetDim(Seq((3L, "x"), (7L, "x"), (15L, "y")))
    val q = fact.join(dim.filter($"flag" === "x"), $"id" === $"k")
      .agg(sum($"v").as("s"))
    assert(q.collect().head.getDouble(0) == (3 * 2.0 + 7 * 2.0))
    val pruned = GraftRuntimeScan.pruneLog.get(t.basePath)
    assert(pruned == (3, 1),
      s"key index must keep only the 0-9 stripe's file, got $pruned")
  }

  test("a join on a date partition column prunes partitions at runtime") {
    // no statsCols and no key index on `d`: only the rendered partition
    // segments can prune, through the column's date type
    val t = new CowTable(spark, tmpDir("dpp-date"), keyCols = Seq("id"),
      partitionCols = Seq("d"))
    val days = (1 to 4).map(i => java.sql.Date.valueOf(s"2024-03-0$i"))
    t.bulkInsert((0 until 40).map(i => (i.toLong, days(i % 4), i * 2.0))
      .toDF("id", "d", "v"), parallelism = 1)
    assert(t.manifest.baseFiles.size == 4)
    GraftRuntimeScan.pruneLog.remove(t.basePath)
    val p = tmpDir("dpp-date-dim")
    Seq((days(1), "x"), (days(3), "y")).toDF("d", "flag")
      .write.mode("overwrite").parquet(p)
    val dim = spark.read.parquet(p)
    val q = spark.read.format("graft").load(t.basePath)
      .join(dim.filter($"flag" === "x"), Seq("d"))
      .agg(sum($"v").as("s"), count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"expected a planned runtime filter on the date partition:\n$plan")
    val row = q.collect().head
    val expect = (0 until 40).filter(_ % 4 == 1)
    assert(row.getDouble(0) == expect.map(_ * 2.0).sum &&
      row.getLong(1) == expect.size)
    val pruned = GraftRuntimeScan.pruneLog.get(t.basePath)
    assert(pruned == (4, 1),
      s"runtime filter must keep only the matching date's file, got $pruned")
  }

  test("superset contract: build keys missing from every stripe lose no rows") {
    val t = clusteredFact()
    val fact = spark.read.format("graft").load(t.basePath)
    // one key present, one absent from the table entirely
    val dim = Seq((12L, "x"), (999L, "x")).toDF("k", "flag")
    val got = fact.join(dim.filter($"flag" === "x"), Seq("k"))
      .select("id").as[Long].collect().toSet
    assert(got == Set(12L))
    // and with no selective dim filter at all, results are unchanged
    val all = fact.join(Seq(5L, 15L, 25L, 35L).toDF("k"), Seq("k"))
      .select("id").as[Long].collect().toSet
    assert(all == Set(5L, 15L, 25L, 35L))
  }
}
