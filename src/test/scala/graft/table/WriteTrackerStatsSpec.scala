package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Write-job stats tracker parity: the per-file key index entries the
  * WRITE JOB's tracker collects must be identical — manifest fields AND
  * bloom sidecar bytes — to what the read-back pass (collectFileStats)
  * computes from the same files. Pruning soundness rests on these
  * values, so the parity is pinned byte-for-byte on a table exercising
  * every stats feature at once: partitioning, buckets, statsCols,
  * bloomCols, composite keys, nulls in stats columns, schema evolution
  * and merge rewrites.
  */
class WriteTrackerStatsSpec extends SparkSpec {
  import spark.implicits._

  private def assertParity(t: CowTable): Unit = {
    val recorded = t.manifest.fileStats
    assert(recorded.nonEmpty, "index must have recorded entries")
    // capture sidecar bytes the tracker path wrote
    def sidecars(): Map[String, Array[Byte]] = {
      val fs = org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration)
      (recorded.valuesIterator.map(_.bloomRef) ++
        recorded.valuesIterator.flatMap(_.colBloomRefs.values)).map { r =>
        val p = new org.apache.hadoop.fs.Path(t.basePath, r)
        val in = fs.open(p)
        try {
          val bytes = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
          in.readFully(bytes); r -> bytes
        } finally in.close()
      }.toMap
    }
    val trackerBytes = sidecars()
    // every sidecar (key and column blooms) is sized to its own file's
    // row count; the index switch sizes nothing
    recorded.foreach { case (f, st) =>
      val want = BloomFilter.create(st.rows, CowTable.FileIndexFpp).bitSize()
      (st.bloomRef +: st.colBloomRefs.values.toSeq).foreach { r =>
        val got = BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(trackerBytes(r))).bitSize()
        assert(got == want, s"bloom $r of $f (rows ${st.rows})")
      }
    }
    // read-back recompute overwrites the sidecars; entries must not move
    val recomputed = t.recomputeFileStatsForTest()
    assert(recomputed == recorded,
      s"tracker-written FileStats differ from read-back:\n" +
        s"tracker:   $recorded\nread-back: $recomputed")
    val readBackBytes = sidecars()
    assert(trackerBytes.keySet == readBackBytes.keySet)
    trackerBytes.foreach { case (r, b) =>
      assert(java.util.Arrays.equals(b, readBackBytes(r)),
        s"sidecar $r bytes differ between tracker and read-back pass")
    }
  }

  test("tracker stats == read-back stats on a full-featured table") {
    val t = new CowTable(spark, tmpDir("wt"),
      keyCols = Seq("id", "sub"), partitionCols = Seq("p"),
      numBuckets = 2, fileIndex = true,
      statsCols = Seq("fk", "note"), bloomCols = Seq("fk"),
      trackCommitVersions = true)
    val rows = (1 to 500).map { i =>
      (i.toLong, s"s${i % 7}", s"p${i % 3}", (i % 50).toLong,
        if (i % 11 == 0) null else s"n$i")
    }.toDF("id", "sub", "p", "fk", "note")
    t.bulkInsert(rows)
    assertParity(t)
    // merge rewrite: index-pruned candidates, fresh files, kept files
    t.upsert((1 to 60).map { i =>
      (i.toLong, s"s${i % 7}", s"p${i % 3}", (i % 50).toLong + 1000L,
        s"u$i")
    }.toDF("id", "sub", "p", "fk", "note"))
    assertParity(t)
    // delete commit (tombstone path + rewrite)
    t.delete(rows.filter(col("id") % 5 === 0))
    assertParity(t)
    // the read side the stats serve stays exact
    val lookedUp = t.lookupByKeys(Seq((3L, "s3", "p0")).toDF("id", "sub", "p"))
    assert(lookedUp.count() == 1)
  }

  test("kill-switch falls back to the read-back pass with equal results") {
    // The read-back pass runs only as a fallback (concurrent-writer
    // writes, or a stash that does not match the committed files).
    // Concurrent-writer mode forces it here; the commit records the
    // fallback as `stats_readback = 1`, a tracked commit records nothing.
    val t = new CowTable(spark, tmpDir("wt2"), keyCols = Seq("id"),
      fileIndex = true)
    t.bulkInsert((1 to 200).map(i => (i.toLong, s"v$i")).toDF("id", "v"))
    assertParity(t)
    t.upsert(Seq((7L, "up")).toDF("id", "v"))
    assertParity(t)
    assert(!t.manifest.metrics.contains("stats_readback"),
      s"tracked commit: ${t.manifest.metrics}")
    val conf = "spark.sql.maxConcurrentOutputFileWriters"
    spark.conf.set(conf, "2")
    try t.upsert(Seq((8L, "up2")).toDF("id", "v"))
    finally spark.conf.unset(conf)
    assert(t.manifest.metrics.get("stats_readback").contains(1L),
      s"fallback commit: ${t.manifest.metrics}")
    assertParity(t)
    assert(t.snapshot().count() == 200)
  }

  test("bloom sizes follow each file's row count") {
    val t = new CowTable(spark, tmpDir("wt-size"),
      keyCols = Seq("id"), partitionCols = Seq("p"),
      fileIndex = true, statsCols = Seq("fk"), bloomCols = Seq("fk"))
    t.bulkInsert((1 to 300).map(i => (i.toLong, s"p${i % 3}",
      (i % 40).toLong)).toDF("id", "p", "fk"))
    assertParity(t)
    t.upsert((1 to 30).map(i => (i.toLong, s"p${i % 3}", 99L))
      .toDF("id", "p", "fk"))
    assertParity(t)
  }
}
