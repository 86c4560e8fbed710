package graft.table

import graft.SparkSpec

/** Deletion vectors: positional deletes without file rewrites (the Delta
  * DV / Iceberg position-delete analog). Core invariants: logical reads
  * are exact everywhere (snapshot, merges, lookups, time travel, change
  * feed), physical files are untouched by the delete, and any rewrite or
  * compaction folds the vectors away.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(dir: String, buckets: Int = 0): CowTable =
    new CowTable(spark, dir, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "ts",
      fileIndex = true, trackCommitVersions = true,
      numBuckets = buckets, deleteVectors = true)

  private def rows(n: Int): Seq[(String, String, Long, Double)] =
    (0 until n).map(i => (f"k$i%04d", s"p${i % 3}", 1L, i.toDouble))

  test("vectored delete removes rows logically, rewrites no file") {
    val t = mkTable(tmpDir("dv"))
    t.bulkInsert(rows(300).toDF("id", "p", "ts", "v"), parallelism = 4)
    val before = t.manifest
    val victims = Seq(("k0001", "p1"), ("k0050", "p2"), ("k0299", "p2"))
    t.delete(victims.toDF("id", "p"))

    val m = t.manifest
    assert(m.operation == "delete_vectored")
    // the LISTING is byte-identical: no data file was rewritten
    assert(m.partitions == before.partitions)
    assert(m.dvs.nonEmpty && m.dvs.valuesIterator.map(_.rows).sum == 3)
    val snap = t.snapshot().select("id").as[String].collect().toSet
    assert(snap.size == 297)
    assert(victims.map(_._1).forall(!snap.contains(_)))
    // manifest count stays exact
    assert(t.fastCount().contains(297L))
  }

  test("applyChanges with deletes only takes the vectored path") {
    val t = mkTable(tmpDir("dv-apply"))
    t.bulkInsert(rows(30).toDF("id", "p", "ts", "v"), parallelism = 2)
    val before = t.manifest
    t.applyChanges(None, Some(Seq(("k0001", "p1"), ("k0002", "p2"))
      .toDF("id", "p")), extraMetrics = Map("mark_x" -> 1L))
    val m = t.manifest
    assert(m.operation == "delete_vectored")
    assert(m.partitions == before.partitions, "no data file rewritten")
    assert(m.metrics.get("mark_x").contains(1L))
    assert(t.snapshot().count() == 28)
  }

  test("relocated table keeps its deletion vectors effective") {
    val dir = tmpDir("dv-move")
    val t = mkTable(dir)
    t.bulkInsert(rows(200).toDF("id", "p", "ts", "v"))
    t.delete(Seq(("k0001", "p1"), ("k0010", "p1")).toDF("id", "p"))
    assert(t.snapshot().count() == 198L)

    // move the whole table directory: sidecars key positions by
    // basePath-RELATIVE canonical path, so reads at the new location
    // must still subtract the deleted rows (a silent resurrection here
    // was the round-7 advice flag)
    val moved = tmpDir("dv-moved-target") + "/t"
    assert(new java.io.File(dir).renameTo(new java.io.File(moved)))
    val t2 = CowTable.open(spark, moved)
    assert(t2.fastCount().contains(198L))
    assert(t2.snapshot().count() == 198L,
      "scan and metadata counts must agree after relocation")
    val ids = t2.snapshot().select("id").as[String].collect().toSet
    assert(!ids.contains("k0001") && !ids.contains("k0010"))
    // SQL/source read path (GraftDvReadRule) at the new location
    val viaSource = spark.read.format("graft").load(moved)
    assert(viaSource.count() == 198L)
    // and further vectored deletes at the new location compose
    t2.delete(Seq(("k0020", "p2")).toDF("id", "p"))
    assert(t2.snapshot().count() == 197L)
  }

  test("vectors accumulate across deletes; positions never double-count") {
    val t = mkTable(tmpDir("dv-acc"))
    t.bulkInsert(rows(120).toDF("id", "p", "ts", "v"))
    t.delete(Seq(("k0000", "p0"), ("k0003", "p0")).toDF("id", "p"))
    // overlapping second delete: k0003 is already dead and must not be
    // recorded again; k0006 is new
    t.delete(Seq(("k0003", "p0"), ("k0006", "p0")).toDF("id", "p"))
    val m = t.manifest
    assert(m.dvs.valuesIterator.map(_.rows).sum == 3)
    assert(t.fastCount().contains(117L))
    assert(t.snapshot().count() == 117L)
  }

  test("upsert on a DV'd unit merges against live rows and folds vectors") {
    val t = mkTable(tmpDir("dv-upsert"))
    t.bulkInsert(rows(90).toDF("id", "p", "ts", "v"))
    t.delete(Seq(("k0000", "p0")).toDF("id", "p"))
    // upsert a DIFFERENT key in the same partition: the rewrite of that
    // unit's candidate files must not resurrect k0000
    t.upsert(Seq(("k0003", "p0", 2L, 99.0)).toDF("id", "p", "ts", "v"))
    val snap = t.snapshot()
    assert(snap.count() == 89L)
    assert(snap.filter($"id" === "k0000").isEmpty)
    assert(snap.filter($"id" === "k0003").select("v")
      .as[Double].head() == 99.0)
    // the rewritten file's vector folded at the publish funnel
    val live = t.manifest.partitions.valuesIterator.flatten.toSet
    assert(t.manifest.dvs.keySet.forall(live))
  }

  test("compaction folds all vectors; snapshot identical") {
    val t = mkTable(tmpDir("dv-compact"))
    t.bulkInsert(rows(150).toDF("id", "p", "ts", "v"), parallelism = 6)
    t.delete(rows(150).take(10).map(r => (r._1, r._2)).toDF("id", "p"))
    val before = t.snapshot().select("id").as[String].collect().toSet
    assert(before.size == 140)
    assert(t.compact(maxFilesPerUnit = 1))
    val m = t.manifest
    assert(m.dvs.isEmpty, s"compaction must fold vectors: ${m.dvs.keySet}")
    assert(t.snapshot().select("id").as[String].collect().toSet == before)
    assert(t.fastCount().contains(140L))
  }

  test("time travel reads pre-delete state; change feed carries the Ds") {
    val t = mkTable(tmpDir("dv-tt"))
    t.bulkInsert(rows(60).toDF("id", "p", "ts", "v"))
    val v1 = t.manifest.version
    t.delete(Seq(("k0007", "p1"), ("k0013", "p1")).toDF("id", "p"))
    assert(t.snapshotAt(v1).count() == 60L)
    assert(t.snapshot().count() == 58L)
    val feed = t.changeFeed(v1, t.manifest.version)
    val dels = feed.filter(feed(CowTable.ChangeTypeCol) === "D")
      .select("id").as[String].collect().toSet
    assert(dels == Set("k0007", "k0013"))
  }

  test("point lookups and bucketed tables respect vectors") {
    val t = mkTable(tmpDir("dv-bucket"), buckets = 4)
    t.bulkInsert(rows(200).toDF("id", "p", "ts", "v"))
    t.delete(Seq(("k0010", "p1"), ("k0011", "p2")).toDF("id", "p"))
    val hit = t.lookupByKeys(
      Seq(("k0010", "p1"), ("k0012", "p0")).toDF("id", "p"))
    assert(hit.select("id").as[String].collect().toSet == Set("k0012"))
  }

  test("cleaner retains DV sidecars while any manifest references them") {
    val t = new CowTable(spark, tmpDir("dv-clean"), keyCols = Seq("id"),
      partitionCols = Seq("p"), keepCommits = 2, deleteVectors = true)
    t.bulkInsert(rows(40).toDF("id", "p", "ts", "v"))
    t.delete(Seq(("k0000", "p0")).toDF("id", "p"))
    val dvRefs = t.manifest.dvSidecarFiles
    assert(dvRefs.nonEmpty)
    // push the delete commit to the edge of retention with no-op-ish
    // upserts in another partition; head still carries the dv entry, so
    // the sidecar must survive every clean
    t.upsert(Seq(("x1", "p1", 1L, 1.0)).toDF("id", "p", "ts", "v"))
    t.upsert(Seq(("x2", "p1", 2L, 2.0)).toDF("id", "p", "ts", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    dvRefs.foreach { f =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(t.basePath, f)),
        s"sidecar $f reclaimed while referenced")
    }
    assert(t.snapshot().filter($"id" === "k0000").isEmpty)
    // fold the vector; once no retained manifest references the sidecar
    // the cleaner may reclaim it (vacuum backstop covers the rest)
    t.compact(maxFilesPerUnit = 1)
    assert(t.manifest.dvs.isEmpty)
  }

  test("open() by path preserves the deleteVectors routing") {
    val dir = tmpDir("dv-open")
    mkTable(dir).bulkInsert(rows(30).toDF("id", "p", "ts", "v"))
    val t = CowTable.open(spark, dir)
    t.delete(Seq(("k0001", "p1")).toDF("id", "p"))
    assert(t.manifest.operation == "delete_vectored")
    assert(t.snapshot().count() == 29L)
  }

  test("concurrent vectored delete vs rewrite of the same unit conflicts") {
    val dir = tmpDir("dv-occ")
    val a = mkTable(dir)
    a.bulkInsert(rows(60).toDF("id", "p", "ts", "v"))
    // stage both writers on the same head
    val b = mkTable(dir)
    // writer A: vectored delete in p0; writer B: upsert rewrite in p0.
    // Whichever publishes second must abort (same unit) — run them
    // sequentially against the same base version via direct manifest
    // race: b's upsert lands first, then a's delete sees a NEW head and
    // must either rebase (disjoint) or abort (overlap). Same-unit here.
    b.upsert(Seq(("k0000", "p0", 5L, 5.0)).toDF("id", "p", "ts", "v"))
    // a's delete now starts from the new head (sequential API), so to
    // exercise the REBASE path we race two real threads below instead
    val t1 = new Thread(() => a.delete(Seq(("k0003", "p0")).toDF("id", "p")))
    val t2 = new Thread(() => b.upsert(
      Seq(("k0006", "p0", 6L, 6.0)).toDF("id", "p", "ts", "v")))
    var failed: Throwable = null
    t1.setUncaughtExceptionHandler((_, e) => failed = e)
    t2.setUncaughtExceptionHandler((_, e) => failed = e)
    t1.start(); t2.start(); t1.join(); t2.join()
    val t = CowTable.open(spark, dir)
    val snap = t.snapshot()
    if (failed == null) {
      // both landed (interleaved cleanly): all effects visible
      assert(snap.filter($"id" === "k0003").isEmpty)
      assert(snap.filter($"id" === "k0006").count() == 1)
    } else {
      // one writer aborted with a clean typed conflict; no lost update
      // from the WINNER and no partial state from the loser
      assert(failed.isInstanceOf[ConcurrentWriteException] ||
        failed.getCause.isInstanceOf[ConcurrentWriteException],
        s"unexpected failure: $failed")
      assert(snap.count() == 60L ||
        snap.filter($"id" === "k0003").isEmpty ||
        snap.filter($"id" === "k0006").count() == 1)
    }
    // either way the table stays consistent and vacuum finds no debris
    // referenced by the head
    t.vacuumOrphans()
    assert(t.snapshot().count() >= 59L)
  }

  test("disjoint-unit vectored deletes both commit via rebase") {
    val dir = tmpDir("dv-occ2")
    val a = mkTable(dir)
    a.bulkInsert(rows(90).toDF("id", "p", "ts", "v"))
    val b = mkTable(dir)
    val t1 = new Thread(() => a.delete(Seq(("k0000", "p0")).toDF("id", "p")))
    val t2 = new Thread(() => b.delete(Seq(("k0001", "p1")).toDF("id", "p")))
    var failed: Throwable = null
    t1.setUncaughtExceptionHandler((_, e) => failed = e)
    t2.setUncaughtExceptionHandler((_, e) => failed = e)
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(failed == null, s"disjoint units must both commit: $failed")
    val t = CowTable.open(spark, dir)
    val snap = t.snapshot().select("id").as[String].collect().toSet
    assert(!snap.contains("k0000") && !snap.contains("k0001"))
    assert(snap.size == 88)
    assert(t.manifest.dvs.valuesIterator.map(_.rows).sum == 2)
  }

  test("upsertVectored equals the rewrite upsert on every surface") {
    def seed(dir: String, dv: Boolean): CowTable = {
      val t = new CowTable(spark, dir, keyCols = Seq("id"),
        partitionCols = Seq("p"), precombineField = "ts",
        fileIndex = true, trackCommitVersions = true,
        deleteVectors = dv)
      t.bulkInsert(rows(120).toDF("id", "p", "ts", "v"), parallelism = 4)
      t
    }
    val a = seed(tmpDir("dvu-a"), dv = false)
    val b = seed(tmpDir("dvu-b"), dv = true)
    // batch: updates (incl. an intra-batch conflict the precombine must
    // resolve greatest-wins), inserts, and a brand-new partition
    val batch = Seq(
      ("k0005", "p2", 9L, 500.0), ("k0005", "p2", 7L, 700.0), // conflict
      ("k0010", "p1", 5L, 10.5),                              // update
      ("x9999", "p0", 2L, -3.0),                              // insert
      ("n0001", "p9", 1L, 1.0))                               // new unit
      .toDF("id", "p", "ts", "v")
    a.upsert(batch)
    b.upsertVectored(batch)
    val sa = a.snapshot().select("id", "p", "ts", "v")
      .as[(String, String, Long, Double)].collect().toSet
    val sb = b.snapshot().select("id", "p", "ts", "v")
      .as[(String, String, Long, Double)].collect().toSet
    assert(sa == sb, s"snapshots diverge: ${sa.diff(sb)} / ${sb.diff(sa)}")
    assert(sb.contains(("k0005", "p2", 9L, 500.0)),
      "precombine greatest-wins must hold")
    // B rewrote NOTHING: its original files are all still listed
    assert(b.manifest.dvs.valuesIterator.map(_.rows).sum == 2,
      "exactly the two replaced rows are masked")
    // incremental readers see the same changed keys
    val ca = a.changesSince(1L).select("id").as[String].collect().toSet
    val cb = b.changesSince(1L).select("id").as[String].collect().toSet
    assert(ca == cb && cb == Set("k0005", "k0010", "x9999", "n0001"))
    // fastCount exact, compaction folds, snapshot stable
    assert(b.fastCount().contains(122L))
    b.compact(maxFilesPerUnit = 64)
    assert(b.manifest.dvs.isEmpty)
    assert(b.snapshot().select("id", "p", "ts", "v")
      .as[(String, String, Long, Double)].collect().toSet == sa)
  }

  test("repeated vectored upserts accumulate masks, reads stay exact") {
    val t = mkTable(tmpDir("dvu-rep"))
    t.bulkInsert(rows(60).toDF("id", "p", "ts", "v"))
    (1 to 5).foreach { i =>
      t.upsertVectored(Seq(("k0000", "p0", i.toLong, i * 1.0))
        .toDF("id", "p", "ts", "v"))
    }
    val got = t.snapshot().filter($"id" === "k0000")
      .select("ts", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((5L, 5.0)), s"latest image must win: $got")
    assert(t.snapshot().count() == 60L)
    assert(t.fastCount().contains(60L))
  }

  test("maintain() folds leftover vectors on big files") {
    val t = mkTable(tmpDir("dv-maint"))
    t.bulkInsert(rows(90).toDF("id", "p", "ts", "v"))
    t.delete(Seq(("k0002", "p2")).toDF("id", "p"))
    // tiny target: bin-packing finds nothing "small", so the DV'd file
    // is exactly the big-file case the dedicated fold step exists for
    val got = t.maintain(targetFileBytes = 4)
    assert(got("dvs_folded") == 1L, got.toString)
    assert(t.manifest.dvs.isEmpty)
    assert(t.snapshot().count() == 89L)
  }

  test("diff and scd2History see vectored deletes and updates") {
    val t = mkTable(tmpDir("dv-diff"))
    t.bulkInsert(rows(60).toDF("id", "p", "ts", "v"))
    val v1 = t.manifest.version
    t.delete(Seq(("k0004", "p1")).toDF("id", "p"))
    t.upsertVectored(Seq(("k0006", "p0", 9L, 99.0))
      .toDF("id", "p", "ts", "v"))
    val d = t.diff(v1, t.manifest.version)
      .select("_graft_change_type", "id")
      .as[(String, String)].collect().toSet
    assert(d == Set(("R", "k0004"), ("C", "k0006")),
      s"DV-only commits must surface in diff: $d")
    // and the fix is listing-pruned, not a full-table compare: an
    // untouched-partition row set stays out of the compared frames
    val hist = t.scd2History()
    val k4 = hist.filter($"id" === "k0004")
      .select("valid_to").collect()
    assert(k4.nonEmpty && k4.forall(!_.isNullAt(0)),
      "deleted key's interval must close")
  }

  test("clone shares vectors by reference and diverges locally") {
    val src = mkTable(tmpDir("dv-clone-src"))
    src.bulkInsert(rows(50).toDF("id", "p", "ts", "v"))
    src.delete(Seq(("k0004", "p1")).toDF("id", "p"))
    val dst = src.cloneTo(tmpDir("dv-clone-dst") + "/t")
    assert(dst.snapshot().count() == 49L)
    assert(dst.snapshot().filter($"id" === "k0004").isEmpty)
    // divergence: delete in the clone, source unaffected
    dst.delete(Seq(("k0007", "p1")).toDF("id", "p"))
    assert(dst.snapshot().count() == 48L)
    assert(src.snapshot().count() == 49L)
  }
}
