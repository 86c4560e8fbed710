package graft.table

import graft.SparkSpec

/** Clustering + restore table services (the Hudi clustering and
  * savepoint/restore analogs).
  */
class TableServicesSpec extends SparkSpec {
  import spark.implicits._

  private def overlaps(a: (String, String), b: (String, String)): Boolean =
    a._1 <= b._2 && b._1 <= a._2

  test("recluster makes file key ranges disjoint and keeps data identical") {
    val t = new CowTable(spark, tmpDir("svc"), keyCols = Seq("id"),
      fileIndex = true)
    // shuffled insert across 4 tasks: every file spans ~the whole key range
    val keys = new scala.util.Random(7).shuffle((0 until 400).toVector)
    t.bulkInsert(keys.map(i => (f"k$i%03d", i.toDouble)).toDF("id", "v"),
      parallelism = 4)
    val before = t.manifest
    val ranges0 = before.fileStats.values.map(s => (s.keyMin, s.keyMax)).toSeq
    assert(ranges0.size >= 2)
    assert(ranges0.combinations(2).exists(p => overlaps(p(0), p(1))),
      s"unsorted write must interleave ranges: $ranges0")
    val snap0 = t.snapshot().as[(String, Double)].collect().toMap

    assert(t.recluster(Seq("id"), parallelism = 4))
    val after = t.manifest
    assert(after.version == before.version + 1 &&
      after.operation == "cluster")
    val ranges1 = after.fileStats.values.map(s => (s.keyMin, s.keyMax)).toSeq
    assert(ranges1.size >= 2, "range partitioning must keep multiple files")
    assert(!ranges1.combinations(2).exists(p => overlaps(p(0), p(1))),
      s"reclustered files must carry disjoint key ranges: $ranges1")
    // stats refreshed: every live file indexed, no dead entries
    assert(after.fileStats.keySet ==
      after.partitions.valuesIterator.flatten.toSet)
    // data identical, point reads stay 1-file
    assert(t.snapshot().as[(String, Double)].collect().toMap == snap0)
    assert(t.lookupByKeys(Seq(("k042", 0.0)).toDF("id", "v"))
      .inputFiles.length == 1)
  }

  test("recluster respects partition dirs") {
    val t = new CowTable(spark, tmpDir("svc-part"), keyCols = Seq("id"),
      partitionCols = Seq("p"), fileIndex = true)
    t.bulkInsert((0 until 200).map(i => (f"k$i%03d", s"p${i % 2}", i.toDouble))
      .toDF("id", "p", "v"), parallelism = 4)
    val snap0 = t.snapshot().as[(String, String, Double)].collect().toSet
    assert(t.recluster(Seq("id"), parallelism = 4))
    val m = t.manifest
    assert(m.partitions.keySet == Set("p=p0", "p=p1"),
      s"partition layout must survive: ${m.partitions.keySet}")
    assert(t.snapshot().as[(String, String, Double)].collect().toSet == snap0)
  }

  test("reclusterZOrder prunes range scans on BOTH axes; data identical") {
    val t = new CowTable(spark, tmpDir("svc-z"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("a", "b"))
    // two independent axes: a = 0..799 in order, b = a fixed-seed shuffle
    val rnd = new scala.util.Random(11)
    val bs = rnd.shuffle((0 until 800).toVector)
    val data = (0 until 800).map(i =>
      (f"k$i%04d", i.toLong, bs(i).toLong, i.toDouble))
    t.bulkInsert(rnd.shuffle(data).toDF("id", "a", "b", "v"),
      parallelism = 8)
    val total = t.manifest.baseFiles.size
    assert(total >= 4, s"need a multi-file layout, got $total")
    // a narrow (1/16-domain) range probe per axis
    def cand(c: String): Int = FileIndex.filesForRange(
      spark, t.manifest, c, Some(300L), Some(349L)).size
    assert(cand("a") == total && cand("b") == total,
      "shuffled files span both domains: nothing prunes")
    val snap0 = t.snapshot().as[(String, Long, Long, Double)].collect().toSet

    assert(t.recluster(Seq("a"), parallelism = 8))
    assert(cand("a") <= 2, s"linear sort prunes its own axis: ${cand("a")}")
    assert(cand("b") >= total - 1,
      s"linear sort cannot prune the other axis: ${cand("b")}/$total")

    assert(t.reclusterZOrder("a", "b", parallelism = 8))
    assert(t.manifest.operation == "cluster_z")
    val (ca, cb) = (cand("a"), cand("b"))
    // at F=8 the sqrt(F) z-curve behavior is noisy per axis; require both
    // axes to prune and the AVERAGE to hit half the files or better
    assert(ca < total && cb < total && ca + cb <= total + 1,
      s"z-order must prune BOTH axes: a=$ca b=$cb of $total")
    // the synthetic z-key never lands in the files
    assert(t.snapshot().columns.toSeq ==
      Seq("id", "a", "b", "v"))
    assert(t.snapshot().as[(String, Long, Long, Double)].collect().toSet
      == snap0)
    // stats refreshed: every live file indexed
    assert(t.manifest.fileStats.keySet ==
      t.manifest.partitions.valuesIterator.flatten.toSet)
  }

  test("reclusterZOrder rejects non-numeric axes and no-ops on empty") {
    import org.apache.spark.sql.types._
    val t = new CowTable(spark, tmpDir("svc-z-bad"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("a"))
    t.createEmpty(StructType(Seq(
      StructField("id", StringType), StructField("a", LongType),
      StructField("b", StringType), StructField("v", DoubleType))))
    assert(!t.reclusterZOrder("a", "a"), "empty table: clean no-op")
    t.insertAppend(Seq(("x", 1L, "s", 1.0), ("y", 2L, "t", 2.0))
      .toDF("id", "a", "b", "v"))
    intercept[IllegalArgumentException] { t.reclusterZOrder("a", "b") }
    intercept[IllegalArgumentException] { t.reclusterZOrder("a", "nope") }
    // same-column z-order degenerates to a plain sort but stays legal
    assert(t.reclusterZOrder("a", "a"))
    assert(t.snapshot().count() == 2)
  }

  test("compactBySize folds only small-file debris, keeps big files") {
    val t = new CowTable(spark, tmpDir("szc"), keyCols = Seq("id"),
      partitionCols = Seq("p"), fileIndex = true)
    // one big-ish initial file per partition...
    t.bulkInsert((0 until 4000).map(i => (s"k$i", s"p${i % 2}", i.toDouble))
      .toDF("id", "p", "v"), parallelism = 1)
    // ...then small-file debris from append-ish upserts
    (0 until 4).foreach { b =>
      t.upsert((0 until 20).map(i => (s"n$b-$i", s"p${i % 2}", i.toDouble))
        .toDF("id", "p", "v"), parallelism = 1)
    }
    val m0 = t.manifest
    val sizes = m0.fileStats
    assert(sizes.valuesIterator.forall(_.bytes > 0L),
      "every indexed file must record its on-disk size")
    val big = m0.baseFiles.filter(f => sizes(f).bytes >= 10000L).toSet
    val smallCount = m0.baseFiles.count(f => sizes(f).bytes < 10000L)
    assert(big.nonEmpty && smallCount >= 4,
      s"setup needs big+small mix, got ${sizes.map(_._2.bytes)}")
    val snap0 = t.snapshot().as[(String, String, Double)].collect().toSet

    assert(t.compactBySize(targetBytes = 8000L, smallBytes = 10000L))
    val m1 = t.manifest
    assert(m1.operation == "compact_size")
    assert(big.subsetOf(m1.baseFiles.toSet),
      "files at or above the small threshold are kept verbatim")
    assert(m1.baseFiles.size < m0.baseFiles.size,
      s"debris must fold: ${m0.baseFiles.size} -> ${m1.baseFiles.size}")
    assert(t.snapshot().as[(String, String, Double)].collect().toSet
      == snap0)
    // stats stay consistent: every live file has an entry, no dead ones
    assert(m1.fileStats.keySet == m1.baseFiles.toSet)
    // second run: nothing left to fold
    assert(!t.compactBySize(targetBytes = 8000L, smallBytes = 10000L))
  }

  test("restoreTo publishes a new commit with the old state") {
    val t = new CowTable(spark, tmpDir("svc-restore"), keyCols = Seq("id"),
      precombineField = "v")
    t.bulkInsert(Seq(("a", 1.0), ("b", 2.0)).toDF("id", "v"))      // v1
    t.upsert(Seq(("a", 10.0), ("c", 3.0)).toDF("id", "v"))         // v2
    t.delete(Seq(("b", 0.0)).toDF("id", "v"))                      // v3
    assert(t.manifest.version == 3)
    t.restoreTo(2)                                                 // v4
    val m = t.manifest
    assert(m.version == 4 && m.operation == "restore" &&
      m.metrics("restored_version") == 2L)
    assert(t.snapshot().as[(String, Double)].collect().toMap ==
      Map("a" -> 10.0, "b" -> 2.0, "c" -> 3.0))
    // history keeps the undone delete; writes build on the restored state
    t.upsert(Seq(("d", 4.0)).toDF("id", "v"))                      // v5
    assert(t.snapshot().count() == 4)
    assert(t.snapshotAt(3).count() == 2, "the undone delete stays queryable")
  }

  test("mergeInto: conditional update, delete, and insert in one commit") {
    import org.apache.spark.sql.functions.col
    val t = new CowTable(spark, tmpDir("svc-merge"), keyCols = Seq("id"))
    t.bulkInsert(Seq(("a", 5.0, "live"), ("b", 7.0, "live"),
      ("c", 1.0, "live")).toDF("id", "v", "status"))
    // a: incoming v is LOWER -> update condition fails -> kept as stored;
    // b: incoming tombstone -> deleted;
    // c: incoming v higher -> replaced;
    // d: unmatched -> inserted
    val batch = Seq(("a", 3.0, "live"), ("b", 0.0, "dead"),
      ("c", 9.0, "live"), ("d", 4.0, "live")).toDF("id", "v", "status")
    t.mergeInto(batch,
      whenMatchedDelete = col("i.status") === "dead",
      whenMatchedUpdate = col("i.v") > col("c.v"))
    val got = t.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 5.0, "c" -> 9.0, "d" -> 4.0), s"$got")
    assert(t.manifest.operation == "merge")
    // insertUnmatched=false: update-only merge ignores new keys
    t.mergeInto(Seq(("c", 10.0, "live"), ("z", 1.0, "live"))
        .toDF("id", "v", "status"),
      insertUnmatched = false)
    val got2 = t.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap
    assert(got2 == Map("a" -> 5.0, "c" -> 10.0, "d" -> 4.0), s"$got2")
  }

  test("mergeInto on MOR compacts pending logs first") {
    import org.apache.spark.sql.functions.col
    val t = new MorTable(spark, tmpDir("svc-merge-mor"), keyCols = Seq("id"),
      precombineField = "v")
    t.bulkInsert(Seq(("a", 5.0), ("b", 7.0)).toDF("id", "v"))
    t.upsert(Seq(("a", 6.0)).toDF("id", "v")) // pending log
    // condition must see the LOGGED value 6.0, not the base 5.0
    t.mergeInto(Seq(("a", 5.5), ("b", 9.0)).toDF("id", "v"),
      whenMatchedUpdate = col("i.v") > col("c.v"))
    assert(t.realtime().select("id", "v").as[(String, Double)]
      .collect().toMap == Map("a" -> 6.0, "b" -> 9.0))
  }

  test("restoreTo on MOR restores the delta-log listing too") {
    val t = new MorTable(spark, tmpDir("svc-mor"), keyCols = Seq("id"),
      precombineField = "v")
    t.bulkInsert(Seq(("a", 1.0), ("b", 2.0)).toDF("id", "v"))      // v1
    t.upsert(Seq(("a", 10.0)).toDF("id", "v"))                     // v2: log
    assert(t.manifest.deltaCommits == 1)
    t.compactLogs()                                                // v3
    assert(t.manifest.deltaCommits == 0)
    t.restoreTo(2)                                                 // v4
    assert(t.manifest.deltaCommits == 1,
      "restored manifest must carry v2's pending log")
    assert(t.realtime().select("id", "v")
      .as[(String, Double)].collect().toMap ==
      Map("a" -> 10.0, "b" -> 2.0))
    assert(t.readOptimized().select("id", "v")
      .as[(String, Double)].collect().toMap ==
      Map("a" -> 1.0, "b" -> 2.0), "read-optimized view back to v1 base")
  }

  test("expireCommits drops old versions by time, keeps contiguity") {
    val t = new CowTable(spark, tmpDir("svc-exp"), keyCols = Seq("id"),
      keepCommits = 100)
    t.bulkInsert(Seq(("a", 1.0)).toDF("id", "v"))                  // v1
    t.upsert(Seq(("b", 2.0)).toDF("id", "v"))                      // v2
    val cut = t.manifest.commitTimeMs + 1
    Thread.sleep(15)
    t.upsert(Seq(("c", 3.0)).toDF("id", "v"))                      // v3
    t.upsert(Seq(("d", 4.0)).toDF("id", "v"))                      // v4

    assert(t.expireCommits(cut) == 2, "v1 and v2 predate the cutoff")
    val left = t.history().select("version").as[Long].collect().toSeq.sorted
    assert(left == Seq(3L, 4L), s"contiguous tail: $left")
    // data still complete (v3/v4 manifests list all live files)
    assert(t.snapshot().count() == 4)
    // head is never expirable even with a future cutoff
    assert(t.expireCommits(Long.MaxValue) == 1, "only v3 may drop")
    assert(t.manifest.version == 4L)
    assert(t.expireCommits(Long.MaxValue) == 0)
    assert(t.snapshot().count() == 4)
  }

  test("savepoints survive retention; release reclaims") {
    val t = new CowTable(spark, tmpDir("svc-sp"), keyCols = Seq("id"),
      keepCommits = 3)
    t.bulkInsert(Seq(("a", 1.0)).toDF("id", "v"))                  // v1
    t.upsert(Seq(("b", 2.0)).toDF("id", "v"))                      // v2
    t.savepoint(2L)
    // push v2 far outside the 3-commit retention window
    (3 to 8).foreach(i => t.upsert(Seq((s"k$i", i.toDouble))
      .toDF("id", "v")))
    assert(t.manifest.version == 8L)
    val retained = t.history().select("version").as[Long].collect().toSet
    assert(retained.contains(2L),
      s"savepointed v2 must survive the cleaner: $retained")
    assert(!retained.contains(3L), "non-savepointed old versions drop")
    // the savepointed snapshot still READS (its data dirs are live)
    assert(t.snapshotAt(2L).select("id").as[String].collect().toSet ==
      Set("a", "b"))
    // durable restore target beyond the window
    t.restoreTo(2L)
    assert(t.snapshot().select("id").as[String].collect().toSet ==
      Set("a", "b"))
    // expiry skips savepoints too
    t.upsert(Seq(("c", 3.0)).toDF("id", "v"))
    assert(t.expireCommits(Long.MaxValue) >= 1)
    assert(t.history().select("version").as[Long].collect()
      .toSet.contains(2L), "expire must skip savepoints")

    t.releaseSavepoint(2L)
    // retention is over EXISTING versions: push three more so v2 falls
    // out of the newest-3 tail, then clean
    (1 to 3).foreach(i => t.upsert(Seq((s"d$i", i.toDouble))
      .toDF("id", "v")))
    t.clean()
    assert(!t.history().select("version").as[Long].collect().toSet
      .contains(2L), "released savepoint reclaims on the next clean")
  }

  test("history lists the retained timeline newest first with times") {
    val t = new CowTable(spark, tmpDir("svc-hist"), keyCols = Seq("id"))
    t.bulkInsert(Seq(("a", 1.0)).toDF("id", "v"))                  // v1
    t.upsert(Seq(("b", 2.0)).toDF("id", "v"))                      // v2
    t.delete(Seq(("a", 0.0)).toDF("id", "v"))                      // v3
    val h = t.history()
      .select("version", "operation", "files")
      .as[(Long, String, Long)].collect()
    assert(h.map(_._1).toSeq == Seq(3L, 2L, 1L), h.mkString(", "))
    assert(h.map(_._2).toSeq == Seq("delete", "upsert", "bulk_insert"),
      s"operations: ${h.mkString(", ")}")
    val times = t.history().select("commit_time")
      .collect().map(_.getTimestamp(0))
    assert(times.forall(_ != null) &&
      times.zip(times.tail).forall { case (a, b) => !a.before(b) },
      s"commit times must be non-increasing newest-first: ${times.toSeq}")
  }

  test("compactWhere scopes the sweep to matching partitions") {
    import org.apache.spark.sql.functions.col
    val t = new CowTable(spark, tmpDir("svc-cw"), keyCols = Seq("id"),
      partitionCols = Seq("p"))
    // several files per partition: seed + pure-insert appends
    t.bulkInsert((0 until 100).map(i => (f"k$i%03d", s"p${i % 2}", i))
      .toDF("id", "p", "v"))
    (1 to 2).foreach { b =>
      t.upsert((0 until 50).map(i =>
        (f"n$b-$i%03d", s"p${i % 2}", i)).toDF("id", "p", "v"))
    }
    val before = t.manifest
    assert(before.partitions.valuesIterator.forall(_.size > 1))
    assert(t.compactWhere(col("p") === "p1", maxFilesPerUnit = 1))
    val after = t.manifest
    assert(after.partitions("p=p1").size == 1, "scoped unit folds")
    assert(after.partitions("p=p0") == before.partitions("p=p0"),
      "out-of-scope unit untouched")
    assert(t.snapshot().count() == 200L)
    // no-op when the scope matches nothing crowded
    assert(!t.compactWhere(col("p") === "p1", maxFilesPerUnit = 1))
  }
}
