package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CowTableSpec extends SparkSpec {
  import spark.implicits._

  def freshTable(partCols: Seq[String] = Seq("p")): CowTable =
    new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      partitionCols = partCols, precombineField = "v")

  def rows(xs: (String, String, Double)*) =
    xs.toDF("id", "p", "v")

  test("bulkInsert then snapshot round-trips, partition cols intact") {
    val t = freshTable()
    assert(!t.exists)
    t.bulkInsert(rows(("a", "p1", 1.0), ("b", "p2", 2.0)), 2)
    assert(t.exists)
    val snap = t.snapshot()
    assert(snap.columns.toSeq == Seq("id", "p", "v"))
    assert(snap.count() == 2)
    assert(t.manifest.partitions.keySet == Set("p=p1", "p=p2"))
  }

  test("upsert replaces matched keys, inserts new, keeps others") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0), ("b", "p1", 2.0), ("c", "p2", 3.0)))
    t.upsert(rows(("b", "p1", 20.0), ("d", "p1", 4.0)))
    val got = t.snapshot().select("id", "v").as[(String, Double)]
      .collect().toMap
    assert(got == Map("a" -> 1.0, "b" -> 20.0, "c" -> 3.0, "d" -> 4.0))
  }

  test("upsert rewrites only touched partitions") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0), ("c", "p2", 3.0)))
    val filesP2Before = t.manifest.partitions("p=p2")
    t.upsert(rows(("a", "p1", 10.0)))
    assert(t.manifest.partitions("p=p2") == filesP2Before,
      "untouched partition must keep its files")
    assert(t.manifest.version == 2)
  }

  test("upsert applies precombine within the batch") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0)))
    t.upsert(rows(("a", "p1", 5.0), ("a", "p1", 9.0), ("a", "p1", 7.0)))
    val got = t.snapshot().select("v").as[Double].collect().toSeq
    assert(got == Seq(9.0))
  }

  test("delete removes matched keys; emptied partition disappears") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0), ("b", "p2", 2.0)))
    t.delete(rows(("b", "p2", 2.0)))
    assert(t.snapshot().select("id").as[String].collect().toSeq == Seq("a"))
    assert(!t.manifest.partitions.contains("p=p2"))
    // deleting a nonexistent key is a no-op
    t.delete(rows(("zz", "p1", 0.0)))
    assert(t.snapshot().count() == 1)
  }

  test("upsertPartial keeps stored values for null incoming columns") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      partitionCols = Seq("p"))
    t.bulkInsert(Seq(("a", "p1", 1.0, "keepme"), ("b", "p1", 2.0, "orig"))
      .toDF("id", "p", "v", "note"))
    // change only v for a; brand-new key c has null note
    t.upsertPartial(Seq(
      ("a", "p1", Some(10.0), None: Option[String]),
      ("c", "p1", Some(3.0), None: Option[String]))
      .toDF("id", "p", "v", "note"))
    val got = t.snapshot().select("id", "v", "note")
      .as[(String, Double, Option[String])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("a") == ((10.0, Some("keepme"))), s"partial update: $got")
    assert(got("b") == ((2.0, Some("orig"))))
    assert(got("c") == ((3.0, None)))
  }

  test("empty upsert batch bumps the version but changes nothing") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0)))
    t.upsert(rows().limit(0))
    assert(t.snapshot().count() == 1)
    assert(t.manifest.partitions("p=p1").nonEmpty)
  }

  test("insertAppend adds files without merging") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0)))
    t.insertAppend(rows(("b", "p1", 2.0)))
    assert(t.snapshot().count() == 2)
    assert(t.manifest.partitions("p=p1").size >= 2)
  }

  test("unpartitioned table works end to end") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"))
    t.bulkInsert(Seq(("a", 1.0), ("b", 2.0)).toDF("id", "v"))
    t.upsert(Seq(("b", 20.0), ("c", 3.0)).toDF("id", "v"))
    t.delete(Seq(("a", 0.0)).toDF("id", "v"))
    val got = t.snapshot().select("id", "v").as[(String, Double)]
      .collect().toMap
    assert(got == Map("b" -> 20.0, "c" -> 3.0))
    assert(t.manifest.partitions.keySet == Set(""))
  }

  test("composite keys merge on all columns") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id", "sub"))
    t.bulkInsert(Seq(("a", "x", 1.0), ("a", "y", 2.0)).toDF("id", "sub", "v"))
    t.upsert(Seq(("a", "x", 10.0)).toDF("id", "sub", "v"))
    val got = t.snapshot().select("sub", "v").as[(String, Double)]
      .collect().toMap
    assert(got == Map("x" -> 10.0, "y" -> 2.0))
  }

  test("date-typed partition column round-trips through dir names") {
    val df = Seq(
      ("a", java.sql.Date.valueOf("2022-05-01"), 1.0),
      ("b", java.sql.Date.valueOf("2022-05-02"), 2.0)
    ).toDF("id", "d", "v")
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      partitionCols = Seq("d"))
    t.bulkInsert(df)
    assert(t.manifest.partitions.keySet ==
      Set("d=2022-05-01", "d=2022-05-02"))
    t.upsert(Seq(("a", java.sql.Date.valueOf("2022-05-01"), 9.0))
      .toDF("id", "d", "v"))
    val got = t.snapshot().select("id", "v").as[(String, Double)]
      .collect().toMap
    assert(got == Map("a" -> 9.0, "b" -> 2.0))
  }

  test("string partition values with special chars round-trip") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "x y:z", 1.0)))
    assert(t.manifest.partitions.keySet == Set("p=x y:z"))
    t.upsert(rows(("a", "x y:z", 2.0)))
    assert(t.snapshot().select("v").as[Double].collect().toSeq == Seq(2.0))
  }

  test("null partition values route through the hive default partition") {
    val t = freshTable()
    t.bulkInsert(Seq(("a", Some("p1"), 1.0), ("b", None, 2.0))
      .toDF("id", "p", "v"))
    assert(t.manifest.partitions.keySet ==
      Set("p=p1", s"p=${CowTable.HiveDefaultPartition}"))
    t.upsert(Seq(("b", None: Option[String], 20.0)).toDF("id", "p", "v"))
    val got = t.snapshot().select("id", "v").as[(String, Double)]
      .collect().toMap
    assert(got == Map("a" -> 1.0, "b" -> 20.0))
    t.delete(Seq(("b", None: Option[String], 0.0)).toDF("id", "p", "v"))
    assert(t.snapshot().count() == 1)
  }

  test("unitKey's distinct values are touchedPartitionKeys and the " +
      "written units") {
    val hive = CowTable.HiveDefaultPartition
    def check(t: CowTable, df: org.apache.spark.sql.DataFrame,
        want: Set[String]): Unit = {
      t.bulkInsert(df)
      val viaExpr = df.select(collect_set(t.unitKey(df.schema))).head()
        .getSeq[String](0).toSet
      assert(viaExpr == t.touchedPartitionKeys(df, t.manifest.schema),
        s"${t.partitionCols}")
      assert(viaExpr == t.manifest.partitions.keySet, s"${t.partitionCols}")
      if (want.nonEmpty) assert(viaExpr == want)
    }
    check(new CowTable(spark, tmpDir("cow"), keyCols = Seq("id")),
      Seq(("a", 1.0), ("b", 2.0)).toDF("id", "v"), Set(""))
    check(new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
        partitionCols = Seq("p", "q")),
      Seq(("a", "p1", 1, 1.0), ("b", "p1", 2, 2.0), ("c", "p2", 1, 3.0))
        .toDF("id", "p", "q", "v"),
      Set("p=p1/q=1", "p=p1/q=2", "p=p2/q=1"))
    check(freshTable(),
      Seq(("a", Some("p1"), 1.0), ("b", None, 2.0)).toDF("id", "p", "v"),
      Set("p=p1", s"p=$hive"))
    val bucketed = (1 to 40).map(i =>
      (i.toLong, if (i % 5 == 0) None else Some(s"p${i % 2}"), i.toDouble))
      .toDF("id", "p", "v")
    val tb = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      partitionCols = Seq("p"), numBuckets = 4)
    check(tb, bucketed, Set.empty)
    assert(tb.manifest.partitions.keySet.exists(_.startsWith(s"p=$hive/")))
    // an int-keyed batch against long keys: each row's bucket hashes the
    // key as the merge writes it (long), not as the batch carries it
    val ints = bucketed.withColumn("id", col("id").cast("int"))
    def units(df: org.apache.spark.sql.DataFrame) =
      df.select(col("id").cast("long"), tb.unitKey(df.schema))
        .as[(Long, String)].collect().toMap
    assert(units(ints) == units(bucketed))
  }

  test("int probes of a bucketed long key route to the stored buckets") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      numBuckets = 4, deleteVectors = true)
    t.bulkInsert((1 to 40).map(i => (i.toLong, i.toDouble)).toDF("id", "v"))
    val probe = Seq(7, 18, 33).toDF("id")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("id").as[Long].collect().toSet
    assert(ids(t.lookupByKeys(probe)) == Set(7L, 18L, 33L))
    assert(ids(t.lookupByKeysTouched(probe)._1) == Set(7L, 18L, 33L))
    t.deleteVectored(probe)
    assert(ids(t.snapshot()) == (1 to 40).map(_.toLong).toSet --
      Set(7L, 18L, 33L))
  }

  test("cleaner retains keepCommits manifests and live data dirs") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v", keepCommits = 3)
    t.bulkInsert(rows(("a", "p1", 0.0)))
    (1 to 6).foreach(i => t.upsert(rows(("a", "p1", i.toDouble))))
    assert(t.manifest.version == 7)
    assert(t.latestVersion.contains(7L))
    // only 3 manifests retained
    val commits = new java.io.File(s"${t.basePath}/_commits")
      .list().count(_.matches("v\\d+\\.json"))
    assert(commits == 3)
    // snapshot still reads fine
    assert(t.snapshot().select("v").as[Double].collect().toSeq == Seq(6.0))
  }

  test("bucketed table: upsert rewrites only touched buckets") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v", numBuckets = 8)
    val many = (1 to 200).map(i => (s"k$i", "p1", i.toDouble))
    t.bulkInsert(many.toDF("id", "p", "v"))
    val m1 = t.manifest
    assert(m1.partitions.keySet.forall(_.matches("p=p1/__bucket=\\d+")))
    assert(m1.partitions.size > 1, "keys should spread across buckets")
    // upsert ONE key -> exactly one bucket rewritten
    t.upsert(Seq(("k42", "p1", 999.0)).toDF("id", "p", "v"))
    val m2 = t.manifest
    val changed = m2.partitions.filter { case (k, files) =>
      m1.partitions.get(k) != Some(files) }
    assert(changed.size == 1, s"expected 1 rewritten bucket, got $changed")
    // correctness identical to unbucketed semantics
    val got = t.snapshot().filter($"id" === "k42").select("v")
      .as[Double].collect().toSeq
    assert(got == Seq(999.0))
    assert(t.snapshot().count() == 200)
    // delete routes to the right bucket too
    t.delete(Seq(("k42", "p1", 0.0)).toDF("id", "p", "v"))
    assert(t.snapshot().count() == 199)
  }

  test("clusterCols sorts rows within written files") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      partitionCols = Seq("p"), clusterCols = Seq("v"))
    val shuffled = scala.util.Random.shuffle((1 to 100).toList)
      .map(i => (s"k$i", "p1", i.toDouble))
    t.bulkInsert(shuffled.toDF("id", "p", "v"), 1)
    // single file per unit with parallelism=1: rows inside must be sorted
    val file = t.manifest.partitions("p=p1") match {
      case Seq(f) => s"${t.basePath}/$f"
      case fs => fail(s"expected one file, got $fs")
    }
    val vs = spark.read.parquet(file).select("v").as[Double].collect()
    assert(vs.toSeq == vs.sorted.toSeq, "rows must be v-sorted in file")
    // data correctness preserved through upsert with clustering
    t.upsert(Seq(("k50", "p1", 999.0)).toDF("id", "p", "v"))
    assert(t.snapshot().count() == 100)
  }

  test("bucketed unpartitioned table works") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      numBuckets = 4)
    t.bulkInsert((1 to 50).map(i => (s"k$i", i.toDouble)).toDF("id", "v"))
    assert(t.manifest.partitions.keySet.forall(_.matches("__bucket=\\d+")))
    t.upsert(Seq(("k7", 70.0)).toDF("id", "v"))
    val got = t.snapshot().filter($"id" === "k7").select("v")
      .as[Double].collect().toSeq
    assert(got == Seq(70.0))
    assert(t.snapshot().count() == 50)
  }

  test("compact folds small append files back into few per unit") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0)))
    (1 to 5).foreach(i => t.insertAppend(rows((s"x$i", "p1", i.toDouble))))
    assert(t.manifest.partitions("p=p1").size == 6)
    assert(t.compact(maxFilesPerUnit = 2))
    assert(t.manifest.partitions("p=p1").size <= 2)
    assert(t.snapshot().count() == 6)
    assert(!t.compact(maxFilesPerUnit = 2), "nothing left to compact")
  }

  test("registerView exposes the snapshot to spark.sql") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0), ("b", "p2", 2.0)))
    t.registerView("cow_test_view")
    val n = spark.sql("SELECT count(*) FROM cow_test_view").collect()(0).getLong(0)
    assert(n == 2)
  }

  test("time travel: snapshotAt returns historical versions") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0)))
    t.upsert(rows(("a", "p1", 2.0)))
    t.upsert(rows(("b", "p1", 3.0)))
    assert(t.snapshotAt(1).select("v").as[Double].collect().toSeq == Seq(1.0))
    assert(t.snapshotAt(2).select("v").as[Double].collect().toSeq == Seq(2.0))
    assert(t.snapshotAt(3).count() == 2)
  }

  test("commit-version tracking gives row-level incremental reads") {
    val t = new CowTable(spark, tmpDir("cow"), keyCols = Seq("id"),
      partitionCols = Seq("p"), trackCommitVersions = true)
    t.bulkInsert(rows(("a", "p1", 1.0), ("b", "p1", 2.0), ("c", "p2", 3.0)))
    t.upsert(rows(("a", "p1", 10.0), ("d", "p1", 4.0)))
    // whole p1 was rewritten, but row-level changes are only a (updated)
    // and d (inserted) — b keeps its v1 stamp even though copied
    val changed = t.changesSince(1).select("id").as[String].collect().toSet
    assert(changed == Set("a", "d"), s"row-level changes: $changed")
    val snap = t.snapshot()
    assert(snap.columns.contains(CowTable.CommitVerCol))
    val stamps = snap.select("id", CowTable.CommitVerCol)
      .as[(String, Long)].collect().toMap
    assert(stamps == Map("a" -> 2L, "b" -> 1L, "c" -> 1L, "d" -> 2L))
    // delete produces no new rows -> nothing "changed" row-wise after v2
    t.delete(rows(("b", "p1", 0.0)))
    assert(t.changesSince(2).isEmpty)
    assert(t.snapshot().count() == 3)
  }

  test("incremental query: changesSince returns only rewritten units") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0), ("b", "p2", 2.0)))
    t.upsert(rows(("a", "p1", 10.0)))
    val changes = t.changesSince(1)
    // p2 untouched -> its rows are NOT in the incremental read
    assert(changes.select("id").as[String].collect().toSeq == Seq("a"))
    assert(t.changesSince(2).isEmpty)
  }

  test("additive schema evolution on upsert") {
    val t = freshTable()
    t.bulkInsert(rows(("a", "p1", 1.0)))
    val evolved = Seq(("b", "p1", 2.0, "extra")).toDF("id", "p", "v", "note")
    t.upsert(evolved)
    val snap = t.snapshot()
    assert(snap.columns.toSeq == Seq("id", "p", "v", "note"))
    val got = snap.select("id", "note").as[(String, Option[String])]
      .collect().toMap
    assert(got == Map("a" -> None, "b" -> Some("extra")))
    // delete batches may carry only key+partition columns
    t.delete(Seq(("a", "p1")).toDF("id", "p"))
    assert(t.snapshot().select("id").as[String].collect().toSeq == Seq("b"))
  }

  test("type widening evolves the stored schema; old files upcast") {
    import org.apache.spark.sql.types._
    val t = new CowTable(spark, tmpDir("widen"), keyCols = Seq("id"))
    t.bulkInsert(Seq(("a", 1, 1.5f), ("b", 2, 2.5f)).toDF("id", "n", "f"))
    assert(t.manifest.schema("n").dataType == IntegerType)
    // a batch with wider types: int->long (beyond Int range), float->double
    t.upsert(Seq(("b", 5000000000L, 2.25), ("c", 3L, 3.25))
      .toDF("id", "n", "f"))
    val sch = t.manifest.schema
    assert(sch("n").dataType == LongType, s"int widens to long: $sch")
    assert(sch("f").dataType == DoubleType, s"float widens to double: $sch")
    // OLD files (written as int/float) read back through the widened
    // schema — no rewrite happened, Parquet promotes at scan
    val got = t.snapshot().select("id", "n", "f")
      .as[(String, Long, Double)].collect()
      .map { case (i, n, f) => i -> ((n, f)) }.toMap
    assert(got == Map("a" -> ((1L, 1.5)), "b" -> ((5000000000L, 2.25)),
      "c" -> ((3L, 3.25))), s"got $got")
    // a NARROWER batch does not un-widen; values upcast on pad
    t.upsert(Seq(("d", 4, 4.5f)).toDF("id", "n", "f"))
    assert(t.manifest.schema("n").dataType == LongType)
    assert(t.snapshot().filter($"id" === "d").select("n")
      .as[Long].head() == 4L)
    // an incompatible type change keeps the stored type (cast semantics)
    t.upsert(Seq(("e", "7", "9.5")).toDF("id", "n", "f"))
    assert(t.manifest.schema("n").dataType == LongType)
    assert(t.snapshot().filter($"id" === "e").select("n", "f")
      .as[(Long, Double)].head() == ((7L, 9.5)))
  }

  test("open() restores creation-time config from the manifest props") {
    val dir = tmpDir("cow-open")
    val t = new CowTable(spark, dir, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v",
      keepCommits = 7, numBuckets = 4, trackCommitVersions = true,
      fileIndex = true, statsCols = Seq("v2"))
    t.bulkInsert((0 until 40)
      .map(i => (s"k$i", s"p${i % 2}", i.toDouble, i.toLong))
      .toDF("id", "p", "v", "v2"))
    val m1 = t.manifest
    assert(m1.props.contains(TableProps(keepCommits = 7, numBuckets = 4,
      trackCommitVersions = true, fileIndex = true,
      statsCols = Seq("v2"), compactEvery = 0)))
    assert(ManifestCodec.parseManifest(ManifestCodec.renderManifest(m1)) == m1)

    // a path-only open must keep stamping commit versions and maintaining
    // the index — the round-6 regression was open() silently losing both
    val o = CowTable.open(spark, dir)
    o.upsert(Seq(("k1", "p1", 100.0, 999L)).toDF("id", "p", "v", "v2"))
    val changed = o.changesSince(1L)
      .select("id", "v").as[(String, Double)].collect().toSeq
    assert(changed == Seq(("k1", 100.0)),
      s"opened table must stamp commit versions: $changed")
    val m2 = o.manifest
    assert(m2.fileStats.keySet == m2.baseFiles.toSet,
      "opened table must keep maintaining the file index")
    assert(m2.fileStats.values.forall(_.colStats.contains("v2")),
      "opened table must keep recording statsCols ranges")
    assert(m2.partitions.keySet.forall(_.contains("__bucket=")),
      "opened table must keep bucket routing")
  }

  test("inferProps reconstructs legacy manifests without a props record") {
    val dir = tmpDir("cow-legacy")
    val t = new CowTable(spark, dir, keyCols = Seq("id"),
      numBuckets = 3, trackCommitVersions = true, fileIndex = true,
      statsCols = Seq("v"))
    t.bulkInsert((0 until 30).map(i => (s"k$i", i.toDouble)).toDF("id", "v"))
    val legacy = t.manifest.copy(props = None) // pre-round-7 manifest shape
    val p = CowTable.inferProps(legacy)
    assert(p.trackCommitVersions, "CommitVerCol in schema implies tracking")
    assert(p.fileIndex, "fileStats imply an index")
    assert(p.statsCols == Seq("v"))
    assert(p.numBuckets == 3, s"bucket count from partition keys: $p")
  }

  test("a manifest's legacy integer fileIndexEntries opens as the switch") {
    for ((entries, on) <- Seq(500 -> true, 0 -> false)) {
      val dir = tmpDir("cow-legacy-index")
      val t = new CowTable(spark, dir, keyCols = Seq("id"), fileIndex = true)
      t.bulkInsert(Seq(("a", 1.0)).toDF("id", "v"))
      // through the Hadoop FS, which keeps the checksum sidecar current
      val f = new org.apache.hadoop.fs.Path(dir,
        s"_commits/v${t.manifest.version}.json")
      val fs = f.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val in = fs.open(f)
      val txt = try new String(in.readAllBytes(), "UTF-8") finally in.close()
      val legacy = txt.replaceAll("\"fileIndex\"\\s*:\\s*true",
        s"\"fileIndexEntries\" : $entries")
      assert(legacy != txt, "the manifest records the switch")
      val out = fs.create(f, true)
      try out.write(legacy.getBytes("UTF-8")) finally out.close()
      val o = CowTable.open(spark, dir)
      assert(o.fileIndex == on && o.manifest.tableProps.fileIndex == on,
        s"fileIndexEntries = $entries")
    }
  }

  test("manifest render/parse round-trip") {
    val m = Manifest(3L, rows(("a", "p1", 1.0)).schema.json, Seq("id"),
      Seq("p"), "v", Map("p=p1" -> Seq("files/c3/x.parquet"), "" -> Nil),
      storageType = "mor")
    assert(ManifestCodec.parseManifest(ManifestCodec.renderManifest(m)) == m)
    // pre-round-6 manifests lack storageType -> parse defaults to cow
    val legacy = ManifestCodec.renderManifest(m.copy(storageType = "cow"))
      .replaceAll(",?\\s*\"storageType\"\\s*:\\s*\"cow\"", "")
    assert(ManifestCodec.parseManifest(legacy).storageType == "cow")
  }

  test("unescapePathName handles hive escapes") {
    assert(CowTable.unescapePathName("2022-05-01 10%3A00%3A00") ==
      "2022-05-01 10:00:00")
    assert(CowTable.unescapePathName("plain") == "plain")
    assert(CowTable.unescapePathName("a%2Fb") == "a/b")
  }
}
