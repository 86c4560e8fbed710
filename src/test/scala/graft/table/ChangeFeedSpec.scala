package graft.table

import graft.SparkSpec
import graft.streaming.GraftSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Change feed (CDF analog): U/D typed rows over a commit window, across
  * COW deletes, conditional merges, MOR delete logs and compaction, and
  * chained table-to-table streaming with deletes applied.
  */
class ChangeFeedSpec extends SparkSpec {
  import spark.implicits._

  private def feed(t: CowTable, s: Long, e: Long) =
    t.changeFeed(s, e)
      .select(col("id"), col("v"), col(CowTable.ChangeTypeCol).as("op"))
      .as[(String, Option[Double], String)].collect()
      .map { case (k, v, op) => (k, op, v) }.toSet

  test("COW: deletes surface as D rows; re-inserts supersede them") {
    val t = new CowTable(spark, tmpDir("cf-cow"), keyCols = Seq("id"),
      precombineField = "v", trackCommitVersions = true)
    t.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0), ("k3", 3.0)).toDF("id", "v"))
    t.upsert(Seq(("k2", 20.0)).toDF("id", "v"))    // v2
    t.delete(Seq(("k3", 0.0)).toDF("id", "v"))     // v3
    val head = t.manifest.version
    assert(head == 3L)

    // full-window feed: final images + the delete
    assert(feed(t, 0L, head) == Set(
      ("k1", "U", Some(1.0)), ("k2", "U", Some(20.0)), ("k3", "D", None)))
    // delete-only window
    assert(feed(t, 2L, 3L) == Set(("k3", "D", None)))
    // a re-insert in the window supersedes the D
    t.upsert(Seq(("k3", 33.0)).toDF("id", "v"))    // v4
    assert(feed(t, 2L, 4L) == Set(("k3", "U", Some(33.0))))
    // the old window still reports the delete (replayable)
    assert(feed(t, 2L, 3L) == Set(("k3", "D", None)))
  }

  test("conditional mergeInto deletes are tombstoned too") {
    val t = new CowTable(spark, tmpDir("cf-merge"), keyCols = Seq("id"),
      trackCommitVersions = true)
    t.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0)).toDF("id", "v"))
    t.mergeInto(
      Seq(("k1", -1.0, "D"), ("k2", 22.0, "U"), ("k9", 9.0, "U"))
        .toDF("id", "v", "op"),
      whenMatchedDelete = col("i.op") === "D",
      insertCondition = col("i.op") =!= "D",
      conditionCols = Seq("op"))
    assert(feed(t, 1L, 2L) == Set(
      ("k1", "D", None), ("k2", "U", Some(22.0)), ("k9", "U", Some(9.0))))
  }

  test("incoming-only tombstones: same state, D for every delete-routed " +
      "key (the delete() over-approximation contract)") {
    val t = new CowTable(spark, tmpDir("cf-merge-inc"), keyCols = Seq("id"),
      trackCommitVersions = true)
    t.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0)).toDF("id", "v"))
    // k3 is deleted but was never stored: the incoming-only tombstone
    // pass records its D anyway — exactly what delete() does for absent
    // incoming keys
    t.applyChanges(
      Some(Seq(("k2", 22.0), ("k9", 9.0)).toDF("id", "v")),
      Some(Seq(("k1", -1.0), ("k3", -3.0)).toDF("id", "v")))
    assert(t.manifest.operation == "merge", "one routed merge commit")
    // state identical to the join-checked tombstone pass
    assert(t.snapshot().select("id", "v").as[(String, Double)].collect()
      .toSet == Set(("k2", 22.0), ("k9", 9.0)))
    assert(feed(t, 1L, 2L) == Set(
      ("k1", "D", None), ("k3", "D", None),
      ("k2", "U", Some(22.0)), ("k9", "U", Some(9.0))))
    // preimage feeds drop the never-stored key at the join: downstream
    // retraction algebra (MaintainedAgg) sees only real preimages (the
    // deleted k1 and the replaced k2 — never the absent k3)
    val pre = t.changeFeedWithPreimages(1L, 2L)
      .filter(col(CowTable.ChangeTypeCol) === "B")
      .select("id").as[String].collect().toSet
    assert(pre == Set("k1", "k2"))
  }

  test("a delete-routed merge with ZERO routed rows records no tombstone " +
      "(zero-row part files must not count)") {
    val t = new CowTable(spark, tmpDir("cf-merge-zero"), keyCols = Seq("id"),
      trackCommitVersions = true)
    t.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0)).toDF("id", "v"))
    // a delete side that turns out empty — the common IVM fold window.
    // Spark still writes partition 0's (empty) part file, so the guard
    // must count rows, not files: a recorded zero-row tombstone would
    // flip every downstream feed window onto the D-union path and accrete
    // a junk file per fold.
    t.applyChanges(
      Some(Seq(("k2", 22.0), ("k9", 9.0)).toDF("id", "v")),
      Some(spark.emptyDataset[(String, Double)].toDF("id", "v")))
    assert(t.manifest.tombstones.isEmpty,
      "no manifest tombstone entry for a zero-key delete branch")
    assert(feed(t, 1L, 2L) == Set(
      ("k2", "U", Some(22.0)), ("k9", "U", Some(9.0))))
    // same guard on the cur-rejoining pass: a delete() whose keys match
    // nothing stored still over-approximates (D for absent keys is the
    // delete() contract) — but an EMPTY key frame records nothing
    t.delete(spark.emptyDataset[(String, Double)].toDF("id", "v"))
    assert(t.manifest.tombstones.isEmpty,
      "no manifest tombstone entry for an empty delete batch")
  }

  test("MOR: delete logs and compaction both surface D") {
    val t = new MorTable(spark, tmpDir("cf-mor"), keyCols = Seq("id"),
      compactEvery = 0)
    t.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0)).toDF("id", "v"))
    t.upsert(Seq(("k1", 10.0)).toDF("id", "v"))    // v2 log
    t.delete(Seq(("k2", 0.0)).toDF("id", "v"))     // v3 log tombstone
    assert(feed(t, 1L, 3L) == Set(
      ("k1", "U", Some(10.0)), ("k2", "D", None)))
    // compaction folds the logs; the same window must still answer
    assert(t.compactLogs())
    val head = t.manifest.version // v4
    assert(feed(t, 1L, head) == Set(
      ("k1", "U", Some(10.0)), ("k2", "D", None)),
      "a feed spanning the compaction keeps the delete")
  }

  test("chained tables stay equal THROUGH deletes (streaming feed)") {
    val pathA = tmpDir("cf-a"); val pathB = tmpDir("cf-b")
    val ckpt = tmpDir("cf-ckpt")
    val a = new CowTable(spark, pathA, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v",
      trackCommitVersions = true)
    a.bulkInsert((1 to 10).map(i => (s"k$i", s"p${i % 2}", i.toDouble))
      .toDF("id", "p", "v"))
    a.upsert(Seq(("k1", "p1", 100.0), ("k11", "p1", 11.0))
      .toDF("id", "p", "v"))
    a.delete(Seq(("k4", "p0", 0.0), ("k5", "p1", 0.0)).toDF("id", "p", "v"))

    val openB = () => {
      if (CowTable.existsAt(spark, pathB)) CowTable.open(spark, pathB)
      else new CowTable(spark, pathB, keyCols = Seq("id"),
        partitionCols = Seq("p"), precombineField = "v")
    }
    val sink = new GraftSink(openB)
    def drain(): Unit = sink.start(
      spark.readStream.format("graft")
        .option("includeChangeType", "true").load(pathA),
      ckpt, Trigger.AvailableNow()).awaitTermination()
    def snap(t: CowTable) = t.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap

    drain()
    assert(snap(openB()) == snap(a), "deletes must chain through")
    assert(!snap(openB()).contains("k4") && snap(openB()).size == 9)

    // restart leg: late deletes and updates still converge
    a.delete(Seq(("k1", "p1", 0.0)).toDF("id", "p", "v"))
    a.upsert(Seq(("k2", "p0", 222.0)).toDF("id", "p", "v"))
    drain()
    assert(snap(openB()) == snap(a),
      "chained table equals source across a restart with deletes")
    assert(!snap(openB()).contains("k1") &&
      snap(openB())("k2") == 222.0)
  }

  private def feedB(t: CowTable, s: Long, e: Long) =
    t.changeFeedWithPreimages(s, e)
      .select(col("id"), col("v"), col(CowTable.ChangeTypeCol).as("op"))
      .as[(String, Option[Double], String)].collect()
      .map { case (k, v, op) => (k, op, v) }.toSet

  test("preimages: B rows carry the image as of the window start") {
    val t = new CowTable(spark, tmpDir("cf-pre"), keyCols = Seq("id"),
      precombineField = "v", trackCommitVersions = true)
    t.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0), ("k3", 3.0)).toDF("id", "v"))
    t.upsert(Seq(("k2", 20.0), ("k4", 4.0)).toDF("id", "v"))  // v2: upd+ins
    t.delete(Seq(("k3", 0.0)).toDF("id", "v"))                // v3
    // update has U+B, insert has U only, delete has D+B
    assert(feedB(t, 1L, 3L) == Set(
      ("k2", "U", Some(20.0)), ("k2", "B", Some(2.0)),
      ("k4", "U", Some(4.0)),
      ("k3", "D", None), ("k3", "B", Some(3.0))))
    // sinceVersion=0: nothing existed before, plain feed
    assert(feedB(t, 0L, 1L) == Set(
      ("k1", "U", Some(1.0)), ("k2", "U", Some(2.0)),
      ("k3", "U", Some(3.0))))
    // insert-then-delete INSIDE the window: D survives (no prior image,
    // no B); update-then-delete: D + B at the window-start image
    t.upsert(Seq(("k9", 9.0), ("k2", 200.0)).toDF("id", "v"))  // v4
    t.delete(Seq(("k9", 0.0), ("k2", 0.0)).toDF("id", "v"))    // v5
    assert(feedB(t, 3L, 5L) == Set(
      ("k9", "D", None),
      ("k2", "D", None), ("k2", "B", Some(20.0))))
  }

  test("preimages on MOR see unmerged log rows at the window start") {
    val t = new MorTable(spark, tmpDir("cf-pre-mor"), keyCols = Seq("id"),
      compactEvery = 0)
    t.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0)).toDF("id", "v"))
    t.upsert(Seq(("k2", 20.0)).toDF("id", "v"))   // v2: LOG row, unmerged
    t.upsert(Seq(("k2", 200.0)).toDF("id", "v"))  // v3
    t.delete(Seq(("k1", 0.0)).toDF("id", "v"))    // v4
    // window starts at v2: k2's preimage is the LOGGED 20.0, not base 2.0
    assert(feedB(t, 2L, 4L) == Set(
      ("k2", "U", Some(200.0)), ("k2", "B", Some(20.0)),
      ("k1", "D", None), ("k1", "B", Some(1.0))))
  }

  test("lookupByKeysAt returns the images a historical version stored") {
    val t = new CowTable(spark, tmpDir("cf-lka"), keyCols = Seq("id"),
      trackCommitVersions = true, fileIndex = true)
    t.bulkInsert((1 to 50).map(i => (s"k$i", i * 1.0)).toDF("id", "v"))
    t.upsert(Seq(("k7", 700.0)).toDF("id", "v"))
    t.delete(Seq(("k9", 0.0)).toDF("id", "v"))
    val probe = Seq("k7", "k9", "k11").toDF("id")
    def got(ver: Long) = t.lookupByKeysAt(ver, probe)
      .select("id", "v").as[(String, Double)].collect().toMap
    assert(got(1L) == Map("k7" -> 7.0, "k9" -> 9.0, "k11" -> 11.0))
    assert(got(t.manifest.version) == Map("k7" -> 700.0, "k11" -> 11.0))
  }
}
