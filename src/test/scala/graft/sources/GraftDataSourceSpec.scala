package graft.sources

import graft.SparkSpec
import graft.table.{CowTable, MorTable}
import org.apache.spark.sql.functions._

/** `format("graft")` V2 read path: snapshot parity, time travel, pushdown
  * through the stock parquet scan, and MOR read-optimized semantics.
  */
class GraftDataSourceSpec extends SparkSpec {
  import spark.implicits._

  private def freshCow(): CowTable = {
    val t = new CowTable(spark, tmpDir("dsv2"), Seq("id"), Seq("p"))
    t.bulkInsert(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))
      .toDF("id", "v", "p"))
    t
  }

  test("format(graft) reads the current snapshot with the manifest schema") {
    val t = freshCow()
    t.upsert(Seq((2, "b2", "p1"), (4, "d", "p2")).toDF("id", "v", "p"))
    val got = spark.read.format("graft").load(t.basePath)
    assert(got.schema == t.snapshot().schema)
    assert(got.select("id", "v").as[(Int, String)].collect().toMap ==
      Map(1 -> "a", 2 -> "b2", 3 -> "c", 4 -> "d"))
  }

  test("versionAsOf time travel through the source API") {
    val t = freshCow()                       // v1: 3 rows
    t.delete(Seq((1, "a", "p1")).toDF("id", "v", "p")) // v2: 2 rows
    val v1 = spark.read.format("graft")
      .option("versionAsOf", "1").load(t.basePath)
    assert(v1.count() == 3)
    assert(spark.read.format("graft").load(t.basePath).count() == 2)
  }

  test("filters and pruning ride the native parquet scan") {
    val t = freshCow()
    val df = spark.read.format("graft").load(t.basePath)
      .filter($"id" > 1).select("id")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"),
      s"filter must push to the parquet scan:\n$plan")
    assert(df.as[Int].collect().sorted.toSeq == Seq(2, 3))
  }

  test("SQL DDL: CREATE TABLE USING graft") {
    val t = freshCow()
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW graft_sql_t " +
      s"USING graft OPTIONS (path '${t.basePath}')")
    assert(spark.sql("SELECT count(*) FROM graft_sql_t")
      .collect()(0).getLong(0) == 3)
  }

  test("MOR tables read as the read-optimized view") {
    val t = new MorTable(spark, tmpDir("dsv2-mor"), Seq("id"), Seq("p"),
      compactEvery = 0)
    t.bulkInsert(Seq((1, "a", "p1")).toDF("id", "v", "p"))
    t.upsert(Seq((2, "b", "p1")).toDF("id", "v", "p")) // pending log
    assert(spark.read.format("graft").load(t.basePath).count() == 1,
      "V2 source serves base files only (_ro) until compaction")
    t.compactLogs()
    assert(spark.read.format("graft").load(t.basePath).count() == 2)
  }

  test("bucketed tables and evolved schemas read correctly through the source") {
    val t = new CowTable(spark, tmpDir("dsv2-b"), Seq("id"), Seq("p"),
      numBuckets = 4)
    t.bulkInsert(Seq((1, "a", "p1"), (2, "b", "p1"), (3, "c", "p2"))
      .toDF("id", "v", "p"))
    // schema evolution: later commit adds a column; old rows null-fill
    t.upsert(Seq((4, "d", "p2", "note4")).toDF("id", "v", "p", "extra"))
    val got = spark.read.format("graft").load(t.basePath)
    assert(got.columns.toSeq == t.snapshot().columns.toSeq)
    val byId = got.select("id", "v", "extra")
      .as[(Int, String, Option[String])].collect()
      .map { case (i, v, e) => i -> ((v, e)) }.toMap
    assert(byId == Map(1 -> (("a", None)), 2 -> (("b", None)),
      3 -> (("c", None)), 4 -> (("d", Some("note4")))))
  }

  test("non-table paths fail with a clear error") {
    val e = intercept[Exception] {
      spark.read.format("graft").load(tmpDir("not-a-table")).collect()
    }
    assert(e.getMessage.contains("_commits"), e.getMessage)
  }

  test("write append creates a table and upserts into it by key") {
    val path = tmpDir("dsv2-w")
    Seq((1, "a", "p1"), (2, "b", "p2")).toDF("id", "v", "p")
      .write.format("graft")
      .option("keyCols", "id").option("partitionCols", "p")
      .mode("append").save(path)
    // second append: keyed UPSERT semantics (2 replaced, 3 inserted)
    Seq((2, "b2", "p2"), (3, "c", "p1")).toDF("id", "v", "p")
      .write.format("graft").mode("append").save(path)
    val got = spark.read.format("graft").load(path)
      .select("id", "v").as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "a", 2 -> "b2", 3 -> "c"))
    val t = CowTable.open(spark, path)
    assert(t.manifest.keyCols == Seq("id") &&
      t.manifest.partitionCols == Seq("p"))
    assert(t.manifest.operation == "upsert")
  }

  test("write overwrite fully replaces the table, history retained") {
    val path = tmpDir("dsv2-ow")
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.format("graft")
      .option("keyCols", "id").mode("append").save(path)
    Seq((9, "z")).toDF("id", "v").write.format("graft")
      .mode("overwrite").save(path)
    val got = spark.read.format("graft").load(path)
      .select("id", "v").as[(Int, String)].collect().toMap
    assert(got == Map(9 -> "z"))
    val t = CowTable.open(spark, path)
    assert(t.manifest.operation == "overwrite")
    assert(t.snapshotAt(1).count() == 2, "overwritten version time-travels")
  }

  test("a first write creates the table with every creation option") {
    val path = tmpDir("dsv2-props")
    Seq((1, 1.0), (2, 2.0)).toDF("id", "v").write.format("graft")
      .option("keyCols", "id").option("numBuckets", "4")
      .option("fileIndex", "true")
      .mode("append").save(path)
    val m = CowTable.open(spark, path).manifest
    val p = m.props.get
    assert(p.numBuckets == 4 && p.fileIndex, s"props: $p")
    assert(m.fileStats.keySet == m.baseFiles.toSet,
      "the index is maintained from the first write")
  }

  test("writes route to the manifest's storage type: MOR stays log-append") {
    val path = tmpDir("dsv2-mor")
    Seq((1, 1.0), (2, 2.0)).toDF("id", "v").write.format("graft")
      .option("keyCols", "id").option("storageType", "mor")
      .option("precombineField", "v")
      .mode("append").save(path)
    // the second source-level append must be a LOG append, not a rewrite
    Seq((1, 10.0)).toDF("id", "v").write.format("graft")
      .mode("append").save(path)
    val t = CowTable.open(spark, path).asInstanceOf[MorTable]
    assert(t.manifest.storageType == "mor")
    assert(t.manifest.deltaCommits == 1,
      s"source append on MOR must log, got ${t.manifest.operation}")
    assert(t.realtime().select("id", "v").as[(Int, Double)].collect().toMap
      == Map(1 -> 10.0, 2 -> 2.0))
    assert(t.readOptimized().select("id", "v").as[(Int, Double)]
      .collect().toMap == Map(1 -> 1.0, 2 -> 2.0))
  }

  test("SQL INSERT INTO a graft table routes through the keyed upsert") {
    val path = tmpDir("dsv2-sql-ins")
    Seq((1, "a"), (2, "b")).toDF("id", "v").write.format("graft")
      .option("keyCols", "id").mode("append").save(path)
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW graft_ins_t " +
      s"USING graft OPTIONS (path '$path')")
    spark.sql("INSERT INTO graft_ins_t VALUES (2, 'b2'), (3, 'c')")
    // the view pinned v1's file list at creation; re-open for current state
    val got = spark.read.format("graft").load(path)
      .select("id", "v").as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "a", 2 -> "b2", 3 -> "c"),
      s"INSERT INTO must upsert by key: $got")
  }

  test("misnamed by-name writes fail loudly, not positionally") {
    val path = tmpDir("dsv2-misnamed")
    Seq((1, "a")).toDF("id", "v").write.format("graft")
      .option("keyCols", "id").mode("append").save(path)
    // same arity, zero name overlap, NOT Spark's synthetic col1..colN:
    // positional misassignment would silently write ("x" -> id); the key
    // require must reject it instead
    val ex = intercept[IllegalArgumentException] {
      Seq((9, "x")).toDF("ident", "val").write.format("graft")
        .mode("append").save(path)
    }
    assert(ex.getMessage.contains("id"),
      s"must name the missing key column: ${ex.getMessage}")
    // synthetic positional VALUES names still map
    Seq((2, "b")).toDF("col1", "col2").write.format("graft")
      .mode("append").save(path)
    val got = spark.read.format("graft").load(path)
      .select("id", "v").as[(Int, String)].collect().toMap
    assert(got == Map(1 -> "a", 2 -> "b"))
  }

  test("pushed-down filters skip files automatically (no options)") {
    val path = tmpDir("dsv2-autoskip")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("ts"))
    def batch(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-${i / 100 + 1}%02d 00:00:00"), i.toDouble))
      .toDF("id", "ts", "v")
    t.bulkInsert(batch(0, 100), parallelism = 1)
    t.insertAppend(batch(100, 200), parallelism = 1)
    t.insertAppend(batch(200, 300), parallelism = 1)
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          (b.scan match {
            case g: graft.sources.GraftRuntimeScan => g.innerScan
            case s => s
          }).asInstanceOf[
            org.apache.spark.sql.execution.datasources.v2.FileScan]
            .fileIndex.inputFiles.length
      }.sum

    val all = spark.read.format("graft").load(path)
    assert(scanned(all) == 3, "three files without a filter")

    // a plain WHERE on the stats column prunes to the matching file
    val day2 = spark.read.format("graft").load(path)
      .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-02 23:59:59").cast("timestamp"))
    assert(scanned(day2) == 1,
      s"one day must scan one file, got ${scanned(day2)}")
    // strict bounds stay supersets: ts < day3-start keeps day 3's file
    // (its min equals the literal) but never loses rows
    val strict = spark.read.format("graft").load(path)
      .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
    assert(scanned(strict) <= 2 && strict.count() == 100)
    assert(day2.count() == 100)
    // oracle: pruned result == unpruned result under the same predicate
    val expect = t.snapshot()
      .filter(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
        col("ts") <= lit("2024-01-02 23:59:59").cast("timestamp"))
      .select("id").as[Long].collect().toSet
    assert(day2.select("id").as[Long].collect().toSet == expect)

    // row-level filters still apply on top of the file superset
    val one = spark.read.format("graft").load(path)
      .filter(col("ts") === lit("2024-01-03 00:00:00").cast("timestamp"))
    assert(scanned(one) == 1 && one.count() == 100)

    // IN-list predicates prune by value set: days 1 and 3, never day 2
    val inq = spark.read.format("graft").load(path)
      .filter(col("ts").isin(
        java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
        java.sql.Timestamp.valueOf("2024-01-03 00:00:00")))
    assert(scanned(inq) == 2,
      s"IN over two days must scan two files, got ${scanned(inq)}")
    assert(inq.count() == 200)
  }

  test("stacked bounds on one column prune with the tightest window") {
    val path = tmpDir("dsv2-tightest")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("x"))
    def stripe(lo: Int) = (lo until lo + 5)
      .map(i => (i.toLong, i.toLong)).toDF("id", "x")
    t.bulkInsert(stripe(0), parallelism = 1)
    t.insertAppend(stripe(5), parallelism = 1)
    t.insertAppend(stripe(10), parallelism = 1)
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.scan.asInstanceOf[GraftRuntimeScan].currentFiles.size
      }.sum
    // both spellings keep only the [10, 14] file, whatever the order
    for (cond <- Seq(col("x") >= 10L && col("x") >= 5L,
        col("x") >= 5L && col("x") >= 10L)) {
      val df = spark.read.format("graft").load(path).filter(cond)
      assert(scanned(df) == 1, s"$cond must keep one file: ${scanned(df)}")
      assert(df.count() == 5)
    }
    for (cond <- Seq(col("x") <= 4L && col("x") <= 9L,
        col("x") <= 9L && col("x") <= 4L)) {
      val df = spark.read.format("graft").load(path).filter(cond)
      assert(scanned(df) == 1, s"$cond must keep one file: ${scanned(df)}")
      assert(df.count() == 5)
    }
  }

  test("plain equality on a bloomCols column prunes through the bloom") {
    val path = tmpDir("dsv2-eqbloom")
    // fk values interleave mod 4 across three files: every file's
    // [min, max] covers the whole domain — only the bloom can prune
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("fk"),
      bloomCols = Seq("fk"))
    def batch(res: Int) = (0 until 100)
      .map(i => ((i * 4 + res).toLong, (i * 4 + res).toLong, 1.0))
      .toDF("id", "fk", "v")
    t.bulkInsert(batch(0), parallelism = 1)
    t.insertAppend(batch(1), parallelism = 1)
    t.insertAppend(batch(2), parallelism = 1)
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          (b.scan match {
            case g: graft.sources.GraftRuntimeScan => g.innerScan
            case s => s
          }).asInstanceOf[
            org.apache.spark.sql.execution.datasources.v2.FileScan]
            .fileIndex.inputFiles.length
      }.sum
    // fk = 41 ≡ 1 (mod 4): only the second file can contain it
    val one = spark.read.format("graft").load(path)
      .filter(col("fk") === 41L)
    assert(scanned(one) == 1,
      s"equality must reach the bloom: ${scanned(one)} files")
    assert(one.count() == 1)
    // fk = 3 ≡ 3 (mod 4): in-range everywhere, present nowhere
    val none = spark.read.format("graft").load(path)
      .filter(col("fk") === 3L)
    assert(scanned(none) == 0 && none.count() == 0,
      "absent in-range value must scan zero files")
  }

  test("partition equality predicates prune whole partition listings") {
    val path = tmpDir("dsv2-partskip")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"))
    t.bulkInsert((0 until 90).map(i => (s"k$i", s"part${i % 3}", i.toDouble))
      .toDF("id", "p", "v"), parallelism = 3)
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          (b.scan match {
            case g: graft.sources.GraftRuntimeScan => g.innerScan
            case s => s
          }).asInstanceOf[
            org.apache.spark.sql.execution.datasources.v2.FileScan]
            .fileIndex.inputFiles.length
      }.sum
    val total = scanned(spark.read.format("graft").load(path))
    val pruned = spark.read.format("graft").load(path)
      .filter(col("p") === "part1")
    assert(scanned(pruned) < total,
      s"partition filter must drop listings: ${scanned(pruned)}/$total")
    assert(pruned.count() == 30)
    assert(pruned.select("id").as[String].collect()
      .forall(_.drop(1).toInt % 3 == 1))
  }

  test("rangeColumn options skip files at the source level") {
    val path = tmpDir("dsv2-range")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("ts"))
    def batch(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-${i / 100 + 1}%02d 00:00:00"), i.toDouble))
      .toDF("id", "ts", "v")
    t.bulkInsert(batch(0, 100), parallelism = 1)
    t.insertAppend(batch(100, 200), parallelism = 1)
    t.insertAppend(batch(200, 300), parallelism = 1)
    // Dataset.inputFiles only recognizes FileTable relations, and the
    // writable wrapper isn't one — read the scan's file index instead
    def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.queryExecution.executedPlan.collectLeaves().collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          (b.scan match {
            case g: graft.sources.GraftRuntimeScan => g.innerScan
            case s => s
          }).asInstanceOf[
            org.apache.spark.sql.execution.datasources.v2.FileScan]
            .fileIndex.inputFiles.toSeq
      }.flatten
    val day2 = spark.read.format("graft")
      .option("rangeColumn", "ts")
      .option("rangeLo", "2024-01-02 00:00:00")
      .option("rangeHi", "2024-01-02 23:59:59")
      .load(path)
    assert(scannedFiles(day2).length == 1,
      s"one day must read one file: ${scannedFiles(day2)}")
    assert(day2.count() == 100)
    // open-ended bound: everything from day 2 onward
    val tail = spark.read.format("graft")
      .option("rangeColumn", "ts")
      .option("rangeLo", "2024-01-02 00:00:00")
      .load(path)
    assert(scannedFiles(tail).length == 2 && tail.count() == 200)
  }

  test("scan statistics report exact numRows from the manifest") {
    val path = tmpDir("dsv2-stats")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      fileIndex = true)
    t.bulkInsert((0 until 500).map(i => (i.toLong, i.toDouble))
      .toDF("id", "v"), parallelism = 4)
    val df = spark.read.format("graft").load(path)
    val scan = df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }.head
    val stats = scan.asInstanceOf[GraftRuntimeScan].estimateStatistics()
    assert(stats.numRows().isPresent && stats.numRows().getAsLong == 500L,
      s"exact rows from the manifest: ${stats.numRows()}")
    // a pushed row-level filter must not claim the UNFILTERED total as
    // exact (it may delegate to the inner scan's estimate or stay empty)
    val filtered = spark.read.format("graft").load(path)
      .filter(col("v") > 99999.0) // selects nothing
    val fscan = filtered.queryExecution.executedPlan.collectLeaves()
      .collect {
        case b: org.apache.spark.sql.execution.datasources.v2
          .BatchScanExec => b.scan
      }.head
    assert(filtered.count() == 0)
    fscan.asInstanceOf[GraftRuntimeScan].estimateStatistics() // no crash
  }

  test("timestampAsOf load option time-travels like versionAsOf") {
    val path = tmpDir("dsv2-tsasof")
    val t = new CowTable(spark, path, keyCols = Seq("id"))
    t.bulkInsert(Seq((1L, "a")).toDF("id", "s"))
    val t1 = t.manifest.commitTimeMs
    Thread.sleep(15)
    t.upsert(Seq((2L, "b")).toDF("id", "s"))

    val atT1 = spark.read.format("graft")
      .option("timestampAsOf", t1.toString).load(path)
    assert(atT1.select("id").as[Long].collect().toSet == Set(1L))
    val now = spark.read.format("graft")
      .option("timestampAsOf", System.currentTimeMillis.toString)
      .load(path)
    assert(now.select("id").as[Long].collect().toSet == Set(1L, 2L))
    // date-time string form resolves through Timestamp.valueOf; a
    // future-by-seconds string lands at the head like any future ts
    val str = new java.sql.Timestamp(
      ((System.currentTimeMillis / 1000) + 5) * 1000)
      .toString.takeWhile(_ != '.')
    val byStr = spark.read.format("graft")
      .option("timestampAsOf", str).load(path)
    assert(byStr.select("id").as[Long].collect().toSet == Set(1L, 2L))
    intercept[Exception] {
      spark.read.format("graft")
        .option("timestampAsOf", (t1 - 60000).toString).load(path)
        .collect()
    }
  }

  test("creating a table without keyCols fails with a clear message") {
    val e = intercept[Exception] {
      Seq((1, "a")).toDF("id", "v").write.format("graft")
        .mode("append").save(tmpDir("dsv2-nokeys"))
    }
    assert(e.getMessage.contains("keyCols"), e.getMessage)
  }
}
