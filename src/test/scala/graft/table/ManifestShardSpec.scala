package graft.table

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Sharded manifests: above [[ManifestCodec.ShardFileThreshold]] the
  * file-scale maps externalize into content-addressed shard files.
  * Invariants: transparent round trip (readers always see full maps),
  * shard REUSE across commits (small commit rewrites ~1/32 of the
  * metadata), retention GC of unreferenced shards, and DV/bucket state
  * riding along.
  */
class ManifestShardSpec extends SparkSpec {
  import spark.implicits._

  private def withThreshold[A](t: Int)(body: => A): A = {
    val old = ManifestCodec.ShardFileThreshold
    ManifestCodec.ShardFileThreshold = t
    try body finally ManifestCodec.ShardFileThreshold = old
  }

  private def shardFiles(t: CowTable): Seq[String] = {
    val dir = new Path(t.basePath, "_commits/shards")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).map(_.getPath.getName).toSeq.sorted
  }

  test("sharded write/read round-trips transparently") {
    withThreshold(4) {
      val t = new CowTable(spark, tmpDir("shard-rt"), keyCols = Seq("id"),
        partitionCols = Seq("p"), fileIndex = true)
      t.bulkInsert((0 until 120).map(i => (i.toLong, s"p${i % 5}", i * 2L))
        .toDF("id", "p", "v"), parallelism = 4)
      val m = t.manifest
      assert(m.shardRefs.nonEmpty, "above threshold the root must shard")
      assert(shardFiles(t).nonEmpty)
      assert(m.shardRefs.forall(shardFiles(t).contains))
      // the in-memory manifest carries the FULL maps (merge on read)
      assert(m.baseFiles.nonEmpty && m.fileStats.nonEmpty)
      assert(m.partitions.keySet == (0 until 5).map(i => s"p=p$i").toSet)
      // a cache-bypassing fresh open reads the same table
      ManifestCodec.clearCacheForTest()
      val t2 = CowTable.open(spark, t.basePath)
      assert(t2.manifest.partitions.view.mapValues(_.toSet).toMap ==
        m.partitions.view.mapValues(_.toSet).toMap)
      assert(t2.snapshot().count() == 120L)
      assert(t2.fastCount().contains(120L))
      // point reads ride the merged fileStats
      assert(t2.lookupByKeys(Seq((7L, "p2")).toDF("id", "p")).count() == 1L)
    }
  }

  test("content-addressed shards are REUSED by untouched slots") {
    withThreshold(4) {
      val t = new CowTable(spark, tmpDir("shard-reuse"),
        keyCols = Seq("id"), partitionCols = Seq("p"),
        fileIndex = true)
      t.bulkInsert((0 until 200).map(i => (i.toLong, s"p${i % 8}", i * 2L))
        .toDF("id", "p", "v"), parallelism = 4)
      val before = t.manifest.shardRefs.toSet
      // touch ONE partition: only the shards holding its files (plus the
      // new file's slot) may change
      t.upsert(Seq((3L, "p3", 999L)).toDF("id", "p", "v"))
      val after = t.manifest.shardRefs.toSet
      val reused = before.intersect(after)
      assert(reused.nonEmpty,
        s"a 1-partition commit must reuse untouched shards " +
          s"(before=${before.size} after=${after.size} reused=0)")
      assert(reused.size >= before.size - 6,
        s"expected most shards reused, got ${reused.size}/${before.size}")
      assert(t.snapshot().filter($"id" === 3L).head().getAs[Long]("v")
        == 999L)
    }
  }

  test("deletion vectors and change feed survive the sharded format") {
    withThreshold(2) {
      val t = new CowTable(spark, tmpDir("shard-dv"), keyCols = Seq("id"),
        deleteVectors = true, trackCommitVersions = true)
      t.bulkInsert((0 until 50).map(i => (i.toLong, i.toString))
        .toDF("id", "s"), parallelism = 3)
      t.delete(Seq(4L, 5L).toDF("id"))
      assert(t.manifest.shardRefs.nonEmpty)
      assert(t.manifest.dvs.nonEmpty, "dv entries must merge back")
      ManifestCodec.clearCacheForTest()
      val t2 = CowTable.open(spark, t.basePath)
      assert(t2.snapshot().count() == 48L)
      assert(t2.changeFeed(1, t2.manifest.version)
        .filter(col(CowTable.ChangeTypeCol) === "D").count() == 2L)
    }
  }

  test("retention GC deletes shards no retained root references") {
    withThreshold(2) {
      val t = new CowTable(spark, tmpDir("shard-gc"), keyCols = Seq("id"),
        keepCommits = 2)
      t.bulkInsert((0 until 40).map(i => (i.toLong, i.toString))
        .toDF("id", "s"), parallelism = 3)
      (0 until 5).foreach(i =>
        t.upsert(Seq((i.toLong, "x")).toDF("id", "s")))
      val live = (t.manifestAt(t.manifest.version).shardRefs ++
        t.manifestAt(t.manifest.version - 1).shardRefs).toSet
      // age every shard file past the GC grace window, then clean
      val dir = new Path(t.basePath, "_commits/shards")
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dir).foreach(st =>
        fs.setTimes(st.getPath, System.currentTimeMillis - 3600 * 1000, -1))
      t.clean()
      val remaining = shardFiles(t).toSet
      assert(live.subsetOf(remaining),
        s"live shards must survive: missing ${live -- remaining}")
      assert(remaining == live,
        s"unreferenced shards must go: extra ${remaining -- live}")
      assert(t.snapshot().count() == 40L)
    }
  }

  test("racing writers on a sharded table: both commit via rebase") {
    withThreshold(2) {
      val dir = tmpDir("shard-occ")
      val seedT = new CowTable(spark, dir, keyCols = Seq("id"),
        partitionCols = Seq("p"))
      seedT.bulkInsert((0 until 60).map(i => (i.toLong, s"p${i % 4}", 0L))
        .toDF("id", "p", "v"), parallelism = 3)
      assert(seedT.manifest.shardRefs.nonEmpty)
      // two independent handles race disjoint-partition upserts — the
      // loser rebases; shard content-addressing must converge (same
      // slot content -> same file, no torn roots)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val fs = (0 until 2).map { w =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              val h = CowTable.open(spark, dir)
              h.upsert(Seq((100L + w, s"p$w", 7L)).toDF("id", "p", "v"))
            }
          })
        }
        fs.foreach(_.get())
      } finally pool.shutdown()
      val t2 = CowTable.open(spark, dir)
      assert(t2.snapshot().count() == 62L)
      assert(t2.manifest.shardRefs.nonEmpty)
      assert(t2.snapshot().filter($"id" >= 100L).count() == 2L)
    }
  }

  test("threshold crossing in both directions reads fine") {
    val t = new CowTable(spark, tmpDir("shard-cross"), keyCols = Seq("id"))
    t.bulkInsert((0 until 30).map(i => (i.toLong, i.toString))
      .toDF("id", "s"), parallelism = 3)
    assert(t.manifest.shardRefs.isEmpty, "small table stays monolithic")
    withThreshold(2) {
      t.upsert(Seq((1L, "y")).toDF("id", "s"))
      assert(t.manifest.shardRefs.nonEmpty, "crossed up: sharded")
    }
    // threshold back up: next commit folds back to monolithic
    t.upsert(Seq((2L, "z")).toDF("id", "s"))
    assert(t.manifest.shardRefs.isEmpty, "crossed down: monolithic again")
    assert(t.snapshot().count() == 30L)
    assert(t.snapshot().filter($"id" === 1L).head().getString(1) == "y")
  }

  test("MOR log appends and compaction ride the sharded format") {
    withThreshold(4) {
      val t = new MorTable(spark, tmpDir("shard-mor"), keyCols = Seq("id"),
        partitionCols = Seq("p"), precombineField = "v", compactEvery = 3)
      t.bulkInsert((0 until 100).map(i => (i.toLong, s"p${i % 5}", 0L))
        .toDF("id", "p", "v"), parallelism = 3)
      assert(t.manifest.shardRefs.nonEmpty)
      // log-append upserts land in the sharded logPartitions map
      t.upsert((0 until 40).map(i => (i.toLong, s"p${i % 5}", 1L))
        .toDF("id", "p", "v"))
      assert(t.manifest.logPartitions.valuesIterator.exists(_.nonEmpty),
        "delta log must be recorded in the sharded manifest")
      assert(t.realtime().filter($"v" === 1L).count() == 40L)
      // ride through inline compaction (3 deltas trigger it)
      t.upsert(Seq((200L, "p0", 5L)).toDF("id", "p", "v"))
      t.delete(Seq((3L, "p3")).toDF("id", "p"))
      val m = t.manifest
      assert(m.logPartitions.valuesIterator.forall(_.isEmpty),
        "inline compaction must fold the sharded delta logs")
      assert(m.shardRefs.nonEmpty, "compacted commit stays sharded")
      assert(t.realtime().count() == 100L)
      assert(t.readOptimized().count() == 100L)
      // id=3 was one of the 40 updated rows before its delete
      assert(t.realtime().filter($"v" === 1L).count() == 39L)
    }
  }
}
