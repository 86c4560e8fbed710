package graft.sources

import graft.SparkSpec
import graft.streaming.GraftSink
import graft.table.{CowTable, ManifestCodec, MorTable}
import org.apache.spark.sql.streaming.Trigger

/** Incremental table-as-stream reads (`spark.readStream.format("graft")`)
  * and exactly-once table→table chaining into [[GraftSink]].
  */
class GraftTableStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tableA(path: String) = new CowTable(spark, path,
    keyCols = Seq("id"), partitionCols = Seq("p"),
    precombineField = "v", trackCommitVersions = true)

  private def snap(t: CowTable): Map[String, Double] =
    t.snapshot().select("id", "v").as[(String, Double)].collect().toMap

  test("table A streams into table B and equals batch replay across restart") {
    val pathA = tmpDir("tstream-a"); val pathB = tmpDir("tstream-b")
    val ckpt = tmpDir("tstream-ckpt")
    val a = tableA(pathA)
    a.bulkInsert(Seq(("k1", "p1", 1.0), ("k2", "p2", 2.0)).toDF("id", "p", "v"))

    val openB = () => {
      if (CowTable.existsAt(spark, pathB)) CowTable.open(spark, pathB)
      else new CowTable(spark, pathB, keyCols = Seq("id"),
        partitionCols = Seq("p"), precombineField = "v")
    }
    val sink = new GraftSink(openB)
    def drain(): Unit = sink.start(
      spark.readStream.format("graft").load(pathA), ckpt,
      Trigger.AvailableNow()).awaitTermination()

    // initial snapshot flows as the first batch
    drain()
    assert(snap(openB()) == Map("k1" -> 1.0, "k2" -> 2.0))

    // new commits on A: an update, an insert, then a second commit
    a.upsert(Seq(("k2", "p2", 20.0), ("k3", "p1", 3.0)).toDF("id", "p", "v"))
    a.upsert(Seq(("k4", "p2", 4.0)).toDF("id", "p", "v"))

    // RESTART: a fresh query on the same checkpoint must pick up from the
    // committed version offset and fold only the new commits
    drain()
    assert(snap(openB()) == snap(a), "chained table must equal the source")
    assert(snap(openB()) ==
      Map("k1" -> 1.0, "k2" -> 20.0, "k3" -> 3.0, "k4" -> 4.0))

    // no new commits -> a third run moves nothing (and replays nothing)
    val verB = openB().manifest.version
    drain()
    assert(openB().manifest.version == verB, "idle drain must not commit")

    // equality with a from-scratch batch replay of A
    val replay = tmpDir("tstream-replay")
    val r = new CowTable(spark, replay, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v")
    r.bulkInsert(a.snapshot())
    assert(snap(openB()) == snap(r))
  }

  test("table-as-stream reads ride the sharded manifest format") {
    val old = ManifestCodec.ShardFileThreshold
    ManifestCodec.ShardFileThreshold = 2
    try {
      val pathA = tmpDir("tstream-sh-a"); val pathB = tmpDir("tstream-sh-b")
      val ckpt = tmpDir("tstream-sh-ckpt")
      val a = tableA(pathA)
      a.bulkInsert((0 until 12).map(i => (s"k$i", s"p${i % 4}", 1.0))
        .toDF("id", "p", "v"), parallelism = 3)
      assert(a.manifest.shardRefs.nonEmpty, "source commits must be sharded")
      val openB = () => {
        if (CowTable.existsAt(spark, pathB)) CowTable.open(spark, pathB)
        else new CowTable(spark, pathB, keyCols = Seq("id"),
          partitionCols = Seq("p"), precombineField = "v")
      }
      val sink = new GraftSink(openB)
      // change-feed mode so the delete below chains too
      def drain(): Unit = sink.start(
        spark.readStream.format("graft")
          .option("includeChangeType", "true").load(pathA), ckpt,
        Trigger.AvailableNow()).awaitTermination()
      drain()
      assert(snap(openB()) == snap(a))
      // churn lands as further SHARDED commits; restart folds just them
      a.upsert(Seq(("k2", "p2", 20.0), ("x1", "p1", 9.0))
        .toDF("id", "p", "v"))
      a.delete(Seq(("k3", "p3")).toDF("id", "p"))
      assert(a.manifest.shardRefs.nonEmpty)
      drain()
      assert(snap(openB()) == snap(a),
        "streamed chain must equal the sharded source after churn")
      assert(snap(openB())("k2") == 20.0 && !snap(openB()).contains("k3"))
    } finally ManifestCodec.ShardFileThreshold = old
  }

  test("stream-static enrichment join against a graft dim table") {
    val pathA = tmpDir("ss-fact"); val dimPath = tmpDir("ss-dim")
    val a = tableA(pathA)
    a.bulkInsert(Seq(("k1", "p1", 1.0), ("k2", "p2", 2.0)).toDF("id", "p", "v"))
    val dim = new CowTable(spark, dimPath,
      keyCols = Seq("p"), partitionCols = Seq())
    dim.bulkInsert(Seq(("p1", "region-east"), ("p2", "region-west"))
      .toDF("p", "region"))

    // static side resolved ONCE at query start: per-batch rows enrich
    // against that snapshot (document: later dim commits need a query
    // restart to be seen — the standard stream-static contract)
    val enriched = spark.readStream.format("graft").load(pathA)
      .join(spark.read.format("graft").load(dimPath), "p")
      .select($"id", $"v", $"region")
    val q = enriched.writeStream.format("memory").queryName("ss_enrich")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("ss_enrich")
      .as[(String, Double, String)].collect().toSet
    assert(got == Set(("k1", 1.0, "region-east"), ("k2", 2.0, "region-west")))
  }

  test("maxVersionsPerTrigger paces a backlog one commit per batch") {
    val pathA = tmpDir("tstream-rate"); val pathB = tmpDir("tstream-rate-b")
    val a = tableA(pathA)
    a.bulkInsert(Seq(("k1", "p1", 1.0)).toDF("id", "p", "v"))
    a.upsert(Seq(("k2", "p1", 2.0)).toDF("id", "p", "v"))
    a.upsert(Seq(("k3", "p1", 3.0)).toDF("id", "p", "v"))
    assert(a.manifest.version == 3L)

    var batches = Vector.empty[Long]
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1")
      .load(pathA)
      .writeStream
      .option("checkpointLocation", tmpDir("tstream-rate-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches = batches :+ b.count(); ()
      }
      .start()
    q.awaitTermination()
    assert(batches.size == 3, s"one commit per micro-batch: $batches")
    assert(batches.sum == 3L, s"each row exactly once: $batches")
    assert(pathB != null)
  }

  test("startingTimestamp begins after the commit at that time") {
    val pathA = tmpDir("tstream-sts")
    val a = tableA(pathA)
    a.bulkInsert(Seq(("k1", "p1", 1.0)).toDF("id", "p", "v"))
    val t1 = a.manifest.commitTimeMs
    Thread.sleep(15)
    a.upsert(Seq(("k2", "p1", 2.0)).toDF("id", "p", "v"))

    val got = scala.collection.mutable.Set[String]()
    val q = spark.readStream.format("graft")
      .option("startingTimestamp", t1.toString)
      .load(pathA)
      .writeStream
      .option("checkpointLocation", tmpDir("tstream-sts-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.select("id").as[String].collect().foreach(got += _); ()
      }
      .start()
    q.awaitTermination()
    assert(got == Set("k2"),
      s"only the post-timestamp commit streams: $got")
  }

  test("maxBytesPerTrigger paces a backlog by added bytes") {
    val pathA = tmpDir("tstream-bytes")
    val a = tableA(pathA)
    a.bulkInsert(Seq(("k1", "p1", 1.0)).toDF("id", "p", "v"))
    a.upsert(Seq(("k2", "p1", 2.0)).toDF("id", "p", "v"))
    a.upsert(Seq(("k3", "p1", 3.0)).toDF("id", "p", "v"))

    // 1 byte/trigger: each commit's files blow the bound on their own,
    // so admission degrades to exactly one version per batch (the
    // at-least-one rule) — byte pacing can never stall
    var batches = Vector.empty[Long]
    val q = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", "1")
      .load(pathA)
      .writeStream
      .option("checkpointLocation", tmpDir("tstream-bytes-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        batches = batches :+ b.count(); ()
      }
      .start()
    q.awaitTermination()
    assert(batches.size == 3, s"one commit per micro-batch: $batches")
    assert(batches.sum == 3L, s"each row exactly once: $batches")

    // a generous bound folds the whole backlog into one batch
    var big = Vector.empty[Long]
    val q2 = spark.readStream.format("graft")
      .option("maxBytesPerTrigger", (64L << 20).toString)
      .load(pathA)
      .writeStream
      .option("checkpointLocation", tmpDir("tstream-bytes-ckpt2"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        big = big :+ b.count(); ()
      }
      .start()
    q2.awaitTermination()
    assert(big.size == 1 && big.sum == 3L,
      s"64MB bound must take all three commits at once: $big")
  }

  test("MOR source streams merged windows; commit column opt-in") {
    val pathA = tmpDir("tstream-mor")
    val a = new MorTable(spark, pathA, keyCols = Seq("id"),
      precombineField = "v", compactEvery = 0)
    a.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0)).toDF("id", "v"))
    a.upsert(Seq(("k1", 10.0)).toDF("id", "v"))   // log commit
    a.upsert(Seq(("k1", 100.0)).toDF("id", "v"))  // same key again

    val got = scala.collection.mutable.Map[String, (Double, Long)]()
    val q = spark.readStream.format("graft")
      .option("includeCommitVersion", "true")
      .load(pathA)
      .writeStream
      .option("checkpointLocation", tmpDir("tstream-mor-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        b.select("id", "v", CowTable.CommitVerCol)
          .as[(String, Double, Long)].collect()
          .foreach { case (k, v, c) => got(k) = (v, c) }
        ()
      }
      .start()
    q.awaitTermination()
    // one batch folds versions (0, 3]: k1's two log records merge
    // latest-wins, so each key surfaces once with its final image
    assert(got.toMap == Map("k1" -> ((100.0, 3L)), "k2" -> ((2.0, 1L))),
      s"merged incremental window: $got")
  }

  test("streaming read requires commit-version tracking") {
    val path = tmpDir("tstream-untracked")
    new CowTable(spark, path, keyCols = Seq("id"))
      .bulkInsert(Seq(("k1", 1.0)).toDF("id", "v"))
    val ex = intercept[IllegalArgumentException] {
      spark.readStream.format("graft").load(path).schema
    }
    assert(ex.getMessage.contains("trackCommitVersions"))
  }
}
