package graft.table

import java.util.concurrent.{CyclicBarrier, TimeUnit}

import graft.SparkSpec

/** Optimistic concurrency control on table commits: disjoint-unit writers
  * both commit (loser rebases, reusing its data files); overlapping
  * writers abort cleanly with no lost update.
  */
class ConcurrencySpec extends SparkSpec {
  import spark.implicits._

  private def seed(path: String): Unit =
    new CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v")
      .bulkInsert(Seq(("a", "p1", 1.0), ("b", "p2", 2.0)).toDF("id", "p", "v"))

  /** Both writers pause at the publish gate until the other arrives, so
    * both compute against the SAME base version — a guaranteed conflict.
    */
  private def racingPair(path: String): (CowTable, CowTable, CyclicBarrier) = {
    val barrier = new CyclicBarrier(2)
    class Racing extends CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v") {
      override protected def writeManifest(m: Manifest): Unit = {
        barrier.await(60, TimeUnit.SECONDS)
        super.writeManifest(m)
      }
    }
    (new Racing, new Racing, barrier)
  }

  private def runBoth(fa: => Unit, fb: => Unit): (Option[Throwable], Option[Throwable]) = {
    var ea: Option[Throwable] = None; var eb: Option[Throwable] = None
    val ta = new Thread(() => try fa catch { case t: Throwable => ea = Some(t) })
    val tb = new Thread(() => try fb catch { case t: Throwable => eb = Some(t) })
    ta.start(); tb.start(); ta.join(120000); tb.join(120000)
    (ea, eb)
  }

  test("disjoint-partition writers both commit; loser rebases") {
    val path = tmpDir("occ-disjoint")
    seed(path)
    val (a, b, _) = racingPair(path)
    val (ea, eb) = runBoth(
      a.upsert(Seq(("a", "p1", 10.0), ("c", "p1", 3.0)).toDF("id", "p", "v")),
      b.upsert(Seq(("b", "p2", 20.0), ("d", "p2", 4.0)).toDF("id", "p", "v")))
    assert(ea.isEmpty && eb.isEmpty,
      s"both disjoint writers must commit: $ea / $eb")

    val t = CowTable.open(spark, path)
    val m = t.manifest
    assert(m.version == 3L, s"two commits after the seed: v${m.version}")
    assert(m.metrics.contains("rebased_over"),
      "the loser must have rebased, not overwritten")
    val got = t.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap
    assert(got == Map("a" -> 10.0, "b" -> 20.0, "c" -> 3.0, "d" -> 4.0),
      s"no lost update: $got")
    // every file the merged manifest references exists on disk
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    m.files.foreach(f => assert(
      fs.exists(new org.apache.hadoop.fs.Path(path, f)), s"missing $f"))
    assert(t.vacuumOrphans().isEmpty, "no orphan dirs after a clean rebase")
  }

  test("overlapping writers: one clean abort, no lost update") {
    val path = tmpDir("occ-overlap")
    seed(path)
    val (a, b, _) = racingPair(path)
    val (ea, eb) = runBoth(
      a.upsert(Seq(("a", "p1", 100.0)).toDF("id", "p", "v")),
      b.upsert(Seq(("a", "p1", 999.0)).toDF("id", "p", "v")))
    val failures = Seq(ea, eb).flatten
    assert(failures.size == 1,
      s"exactly one writer must abort: ${Seq(ea, eb)}")
    assert(failures.head.isInstanceOf[ConcurrentWriteException],
      s"clean typed abort: ${failures.head}")

    val t = CowTable.open(spark, path)
    assert(t.manifest.version == 2L, "only the winner committed")
    val v = t.snapshot().filter($"id" === "a")
      .select("v").as[Double].collect().toSeq
    assert(v == Seq(100.0) || v == Seq(999.0),
      s"winner's value intact, no torn state: $v")
    // the loser's data directories are not referenced and are reclaimed
    assert(t.vacuumOrphans().isEmpty,
      "aborted attempt already dropped its dirs")
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    t.manifest.files.foreach(f => assert(
      fs.exists(new org.apache.hadoop.fs.Path(path, f))))
  }

  test("incremental reads see a rebased commit's rows (stamp rescue)") {
    // A rebased commit publishes at head+1 while its rows keep the
    // TENTATIVE stamp of the original attempt (base+1). changesSince must
    // still surface them — via the commit-dir stamp rescue — for every
    // consumer position, including one that already consumed the winner.
    val path = tmpDir("occ-stamps")
    new CowTable(spark, path, keyCols = Seq("id"), partitionCols = Seq("p"),
      precombineField = "v", trackCommitVersions = true)
      .bulkInsert(Seq(("a", "p1", 1.0), ("b", "p2", 2.0)).toDF("id", "p", "v"))
    val barrier = new CyclicBarrier(2)
    class Racing extends CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v",
      trackCommitVersions = true) {
      override protected def writeManifest(m: Manifest): Unit = {
        barrier.await(60, TimeUnit.SECONDS)
        super.writeManifest(m)
      }
    }
    val (a, b) = (new Racing, new Racing)
    val (ea, eb) = runBoth(
      a.upsert(Seq(("a", "p1", 10.0)).toDF("id", "p", "v")),
      b.upsert(Seq(("b", "p2", 20.0)).toDF("id", "p", "v")))
    assert(ea.isEmpty && eb.isEmpty, s"$ea / $eb")
    val t = CowTable.open(spark, path)
    assert(t.manifest.version == 3L)
    def changed(since: Long): Set[(String, Double)] =
      t.changesSince(since).select("id", "v")
        .as[(String, Double)].collect().toSet
    // from the seed: both writers' rows
    assert(changed(1L) == Set(("a", 10.0), ("b", 20.0)),
      s"both commits' changes must surface: ${changed(1L)}")
    // from the WINNER's version: exactly the rebased commit's row — its
    // stamp is 2 (tentative) but its commit is v3; without the dir-stamp
    // rescue this set would be empty (silent data loss)
    val afterWinner = changed(2L)
    assert(afterWinner.size == 1 &&
      Set(("a", 10.0), ("b", 20.0)).contains(afterWinner.head),
      s"the rebased commit's change must surface past the winner: " +
        s"$afterWinner")
    // change feed agrees
    val feed = t.changeFeed(1L, 3L)
      .select("id", "v").as[(String, Double)].collect().toSet
    assert(feed == Set(("a", 10.0), ("b", 20.0)))
  }

  test("compaction racing a disjoint-partition writer: both commit") {
    // the 100-TB steady state: an async maintenance sweep folding cold
    // partitions while ingest appends to hot ones — the service is just
    // another OCC writer, so both must land with no coordination
    val path = tmpDir("occ-svc-disjoint")
    val seedT = new CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v")
    // fragment p1 with successive insert-appending commits
    seedT.bulkInsert(Seq(("k0", "p1", 1.0), ("k1", "p1", 1.0))
      .toDF("id", "p", "v"))
    (1 until 6).foreach { i =>
      seedT.upsert(Seq((s"k${i * 2}", "p1", 1.0), (s"k${i * 2 + 1}", "p1", 1.0))
        .toDF("id", "p", "v"))
    }
    seedT.upsert(Seq(("x", "p2", 2.0)).toDF("id", "p", "v"))
    val fragBefore = seedT.manifest.partitions("p=p1").size
    assert(fragBefore > 2, s"seed must fragment p1: $fragBefore files")
    val (a, b, _) = racingPair(path)
    val (ea, eb) = runBoth(
      assert(a.compactWhere(
        org.apache.spark.sql.functions.col("p") === "p1",
        maxFilesPerUnit = 2), "compaction must find the crowded unit"),
      b.upsert(Seq(("y", "p2", 3.0)).toDF("id", "p", "v")))
    assert(ea.isEmpty && eb.isEmpty,
      s"disjoint service and writer must both commit: $ea / $eb")
    val t = CowTable.open(spark, path)
    assert(t.manifest.version == 9L, s"v${t.manifest.version}")
    assert(t.manifest.partitions("p=p1").size < fragBefore,
      "the compaction must have taken effect")
    val got = t.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap
    assert(got.size == 14 && got("x") == 2.0 && got("y") == 3.0 &&
      got("k0") == 1.0, s"no lost update: $got")
    assert(t.vacuumOrphans().isEmpty)
  }

  test("compaction racing a same-partition writer: typed abort, no lost " +
      "update, retry folds") {
    val path = tmpDir("occ-svc-overlap")
    val seedT = new CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v")
    seedT.bulkInsert(Seq(("k0", "p1", 1.0), ("k1", "p1", 1.0))
      .toDF("id", "p", "v"))
    (1 until 6).foreach { i =>
      seedT.upsert(Seq((s"k${i * 2}", "p1", 1.0), (s"k${i * 2 + 1}", "p1", 1.0))
        .toDF("id", "p", "v"))
    }
    assert(seedT.manifest.partitions("p=p1").size > 2,
      s"seed must fragment p1")
    val (a, b, _) = racingPair(path)
    val (ea, eb) = runBoth(
      a.compactWhere(org.apache.spark.sql.functions.col("p") === "p1",
        maxFilesPerUnit = 2),
      b.upsert(Seq(("k0", "p1", 9.0)).toDF("id", "p", "v")))
    val failures = Seq(ea, eb).flatten
    assert(failures.size == 1,
      s"same-unit service and writer: exactly one aborts: $ea / $eb")
    assert(failures.head.isInstanceOf[ConcurrentWriteException] ||
      failures.head.getCause.isInstanceOf[ConcurrentWriteException],
      s"typed conflict, got: ${failures.head}")
    // retry the losing op against the new head — both effects then hold
    val t = CowTable.open(spark, path)
    if (ea.isDefined)
      assert(t.compactWhere(
        org.apache.spark.sql.functions.col("p") === "p1",
        maxFilesPerUnit = 2))
    else t.upsert(Seq(("k0", "p1", 9.0)).toDF("id", "p", "v"))
    val t2 = CowTable.open(spark, path)
    val got = t2.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap
    assert(got.size == 12 && got("k0") == 9.0, s"$got")
    assert(t2.manifest.partitions("p=p1").size <= 3,
      "the retried/winning compaction must have folded the unit")
    assert(t2.vacuumOrphans().isEmpty,
      "the aborted attempt must leave no debris")
  }

  test("stale lock from a crashed claimant is broken after timeout") {
    val path = tmpDir("occ-stale")
    seed(path)
    // simulate a claimant that died between claim and publish
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    fs.create(new org.apache.hadoop.fs.Path(path, "_commits/.v2.lock"),
      false).close()
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v") {
      override protected def lockStaleMs: Long = 500L
    }
    t.upsert(Seq(("a", "p1", 42.0)).toDF("id", "p", "v"))
    assert(t.manifest.version == 2L, "slot retaken after breaking the lock")
    assert(t.snapshot().filter($"id" === "a").select("v")
      .as[Double].collect().toSeq == Seq(42.0))
  }

  test("a failed publish releases its slot: the next commit does not wait") {
    val path = tmpDir("occ-failed-publish")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v")
    t.bulkInsert(Seq(("a", "p1", 1.0)).toDF("id", "p", "v"))
    val e = intercept[Throwable] {
      graft.util.FailingLocalFs.failingCreates(spark, f =>
          f.contains("/_commits/.v2.json.") && f.endsWith(".tmp")) {
        t.upsert(Seq(("a", "p1", 2.0)).toDF("id", "p", "v"))
      }
    }
    assert(graft.util.FailingLocalFs.injected(e), s"unexpected failure: $e")
    val lock = new java.io.File(path, "_commits/.v2.lock")
    assert(!lock.exists, "the failed publish left its slot claimed")
    assert(t.manifest.version == 1L)
    // the same handle, default lockStaleMs (60 s): without the release
    // this commit waits out the timeout on its own stale lock
    val t0 = System.nanoTime
    t.upsert(Seq(("a", "p1", 3.0)).toDF("id", "p", "v"))
    val secs = (System.nanoTime - t0) / 1e9
    assert(t.manifest.version == 2L)
    assert(secs < 10.0, f"next commit took $secs%.1f s")
    assert(t.snapshot().select("v").as[Double].collect().toSeq == Seq(3.0))
  }
}
