package graft.sources

import java.sql.Date

import graft.SparkSpec
import graft.table.{CowTable, MorTable}
import org.apache.spark.JobCount
import org.apache.spark.sql.{Column, DataFrame}

/** Partition-exact connector reads: equality, IN and IS NOT NULL on a
  * string, date or integral partition column prune whole partitions and
  * are not re-evaluated over the rows, so a `COUNT(*)` over them is
  * answered from metadata as a one-row local scan. Every answer must
  * equal the table API's over the same filter.
  */
class PartitionReadSpec extends SparkSpec {
  import spark.implicits._

  private val days = Seq("2024-01-01", "2024-01-02", "2024-01-03")
    .map(Date.valueOf)

  /** 60 rows: `d` (date, null every 7th row), `n` (int 0-3), `s`
    * (string: null every 5th row, "" every 11th, one "a/b", else s0/s1).
    */
  private def rows(from: Int, to: Int): DataFrame =
    (from to to).map { i =>
      (i.toLong, i * 3L,
        if (i % 7 == 0) null else days(i % 3),
        i % 4,
        if (i % 5 == 0) null else if (i % 11 == 0) "" else if (i == 13) "a/b"
        else s"s${i % 2}")
    }.toDF("id", "v", "d", "n", "s")

  /** Two commits, so a partition holds up to two files. */
  private def table(part: String, index: Boolean): CowTable = {
    val t = new CowTable(spark, tmpDir(s"pread-$part"), Seq("id"), Seq(part),
      fileIndex = index)
    t.bulkInsert(rows(1, 40), parallelism = 1)
    t.insertAppend(rows(41, 60), parallelism = 1)
    t
  }

  private def graft(t: CowTable): DataFrame =
    spark.read.format("graft").load(t.basePath)

  private def plan(df: DataFrame): String =
    df.groupBy().count().queryExecution.executedPlan.toString

  /** The count through the connector, its job count and stage tasks. */
  private def counted(df: DataFrame): (Long, Int, Seq[Int]) =
    JobCount.withTasks(spark.sparkContext)(df.count())

  private def assertMetadataCount(df: DataFrame, expect: Long,
      what: String): Unit = {
    val p = plan(df)
    assert(p.contains("LocalTableScan") && !p.contains("BatchScan"),
      s"$what: expected a metadata count:\n$p")
    val (n, jobs, stages) = counted(df)
    assert(n == expect, s"$what: count")
    assert(jobs == 1 && stages == Seq(1),
      s"$what: expected one job of one task, got $jobs jobs, stages $stages")
  }

  private def assertScanCount(df: DataFrame, expect: Long,
      what: String): Unit = {
    val p = plan(df)
    assert(p.contains("BatchScan"), s"$what: expected a row scan:\n$p")
    assert(df.count() == expect, s"$what: count")
  }

  private val exactFilters: Map[String, Seq[(String, Column)]] = Map(
    "d" -> Seq(
      "d =" -> ($"d" === Date.valueOf("2024-01-02")),
      "d IN" -> $"d".isin(days(0), days(2)),
      "d IS NOT NULL" -> $"d".isNotNull,
      "d = absent" -> ($"d" === Date.valueOf("1999-01-01"))),
    "n" -> Seq(
      "n =" -> ($"n" === 2),
      "n IN" -> $"n".isin(1, 3),
      "n IS NOT NULL" -> $"n".isNotNull),
    "s" -> Seq(
      "s =" -> ($"s" === "s1"),
      "s IN" -> $"s".isin("s0", "a/b"),
      "s = a/b" -> ($"s" === "a/b")))

  for (part <- Seq("d", "n", "s"); index <- Seq(true, false)) {
    test(s"partition counts on `$part` answer from metadata " +
        s"(fileIndex=$index)") {
      val t = table(part, index)
      assertMetadataCount(graft(t), 60L, "no filter")
      exactFilters(part).foreach { case (what, f) =>
        assertMetadataCount(graft(t).filter(f),
          t.snapshot().filter(f).count(), what)
      }
    }
  }

  test("string partitions: the empty value shares the null partition") {
    val t = table("s", index = false)
    // "" and null rows share the default partition, so neither filter is
    // exact on the partition listing: both keep the row-level filter
    for ((what, f) <- Seq(
        "s IS NOT NULL" -> $"s".isNotNull,
        "s = ''" -> ($"s" === ""),
        "s = default name" -> ($"s" === CowTable.HiveDefaultPartition))) {
      assertScanCount(graft(t).filter(f), t.snapshot().filter(f).count(), what)
    }
    assert(t.snapshot().filter($"s" === "").count() > 0)
  }

  test("data-column and mixed filters fall back to the row path exactly") {
    for (index <- Seq(true, false)) {
      val t = table("d", index)
      for ((what, f) <- Seq(
          "data" -> ($"v" > 30L),
          "mixed" -> ($"d" === days(1) && $"v" > 30L),
          "partition OR data" -> ($"d" === days(1) || $"v" > 150L))) {
        assertScanCount(graft(t).filter(f), t.snapshot().filter(f).count(),
          s"$what (fileIndex=$index)")
        assert(graft(t).filter(f).select("id").as[Long].collect().sorted
          .toSeq == t.snapshot().filter(f).select("id").as[Long].collect()
          .sorted.toSeq, s"$what rows")
      }
    }
  }

  test("a date-equality scan reads one partition's file") {
    val t = new CowTable(spark, tmpDir("pread-files"), Seq("id"), Seq("d"))
    t.bulkInsert(rows(1, 60).filter($"d".isNotNull), parallelism = 1)
    val files = t.manifest.baseFiles.size
    assert(files == 3)
    val df = graft(t).filter($"d" === days(1)).select("id", "v")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains(s"GraftRuntimeScan(files=1/$files)"), p)
    assert(df.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FilterExec => f
    }.isEmpty, s"the partition filter is exact:\n$p")
    assert(df.count() == t.snapshot().filter($"d" === days(1)).count())
  }

  test("versionAsOf counts the version's partition from metadata") {
    val t = table("d", index = true)
    val v1 = t.manifest.version - 1
    val f = $"d" === days(1)
    val df = spark.read.format("graft").option("versionAsOf", v1.toString)
      .load(t.basePath).filter(f)
    assertMetadataCount(df, t.snapshotAt(v1).filter(f).count(), "versionAsOf")
    assert(t.snapshotAt(v1).filter(f).count() != t.snapshot().filter(f).count())
  }

  test("a MOR table counts its read-optimized base files") {
    val t = new MorTable(spark, tmpDir("pread-mor"), Seq("id"), Seq("d"),
      fileIndex = true, compactEvery = 0)
    t.bulkInsert(rows(1, 40), parallelism = 1)
    t.upsert(rows(41, 60))
    val f = $"d" === days(2)
    // pending logs: the connector serves the base files only
    assertMetadataCount(graft(t).filter(f),
      t.readOptimized().filter(f).count(), "MOR base")
    t.compactLogs()
    assertMetadataCount(graft(t).filter(f), t.snapshot().filter(f).count(),
      "MOR compacted")
  }

  test("past the footer-read bound the count declines and scans exactly") {
    // one file per partition, none with a recorded row count
    val parts = GraftScanBuilder.MaxFooterReads + 2
    val t = new CowTable(spark, tmpDir("pread-decline"), Seq("id"), Seq("n"))
    t.bulkInsert((0 until parts).map(i => (i.toLong, i)).toDF("id", "n"),
      parallelism = 1)
    assert(t.manifest.baseFiles.size == parts)
    GraftScanBuilder.declinedTables.remove(t.basePath)
    assertScanCount(graft(t), parts.toLong, "every partition")
    assert(GraftScanBuilder.declinedTables.contains(t.basePath))
    // a narrower count stays under the bound
    assertMetadataCount(graft(t).filter($"n".isin(1, 2, 3)), 3L, "three")
  }
}
