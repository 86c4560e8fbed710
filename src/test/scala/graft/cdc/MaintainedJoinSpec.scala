package graft.cdc

import graft.SparkSpec
import graft.table.CowTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class MaintainedJoinSpec extends SparkSpec {
  import spark.implicits._

  private def srcA(path: String) = new CowTable(spark, path,
    keyCols = Seq("k"), precombineField = "v", trackCommitVersions = true)
  private def srcB(path: String) = new CowTable(spark, path,
    keyCols = Seq("cust"), precombineField = "seg",
    trackCommitVersions = true)

  private def aRows(xs: (String, String, Double)*): DataFrame =
    xs.toDF("k", "cust", "v")
  private def bRows(xs: (String, String)*): DataFrame =
    xs.toDF("cust", "seg")

  private def asMap(df: DataFrame): Map[String, (String, Double, Option[String])] =
    df.select("k", "cust", "v", "seg")
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getDouble(2),
          Option(r.getString(3))))).toMap

  test("golden: churn on both sides folds into the view exactly") {
    val a = srcA(tmpDir("mj-a"))
    val b = srcB(tmpDir("mj-b"))
    a.bulkInsert(aRows(("o1", "c1", 10), ("o2", "c2", 20), ("o3", "c9", 30)))
    b.bulkInsert(bRows(("c1", "gold"), ("c2", "silver")))
    val mj = new MaintainedJoin(spark, tmpDir("mj-v"), a, b,
      on = Seq("cust" -> "cust"))

    // seed: left join, unmatched fk c9 kept with null payload
    assert(asMap(mj.refresh()) == Map(
      "o1" -> (("c1", 10.0, Some("gold"))),
      "o2" -> (("c2", 20.0, Some("silver"))),
      "o3" -> (("c9", 30.0, None))))

    // A churn: update o1 (fk change c1->c2!), delete o2, insert o4
    a.upsert(aRows(("o1", "c2", 11), ("o4", "c1", 40)))
    a.delete(aRows(("o2", "c2", 0)))
    assert(asMap(mj.refresh()) == Map(
      "o1" -> (("c2", 11.0, Some("silver"))),
      "o3" -> (("c9", 30.0, None)),
      "o4" -> (("c1", 40.0, Some("gold")))))

    // B churn only: c9 appears (new match for o3!), c2 re-labeled,
    // c1 deleted (o4 falls back to null payload — left-outer semantics)
    b.upsert(bRows(("c9", "bronze"), ("c2", "plat")))
    b.delete(bRows(("c1", "")))
    assert(asMap(mj.refresh()) == Map(
      "o1" -> (("c2", 11.0, Some("plat"))),
      "o3" -> (("c9", 30.0, Some("bronze"))),
      "o4" -> (("c1", 40.0, None))))

    // no-op refresh: marks already at head, nothing recommitted
    val vBefore = mj.table.manifest.version
    mj.refresh()
    assert(mj.table.manifest.version == vBefore)
  }

  test("same-window upsert+delete and re-insert fold to the final image") {
    val a = srcA(tmpDir("mj2-a"))
    val b = srcB(tmpDir("mj2-b"))
    a.bulkInsert(aRows(("o1", "c1", 1)))
    b.bulkInsert(bRows(("c1", "gold"), ("c2", "silver")))
    val mj = new MaintainedJoin(spark, tmpDir("mj2-v"), a, b,
      on = Seq("cust" -> "cust"))
    mj.refresh()
    // one refresh window sees: o1 deleted THEN re-inserted (lands on c2),
    // o9 inserted then deleted (net absent)
    a.delete(aRows(("o1", "c1", 0)))
    a.upsert(aRows(("o1", "c2", 2), ("o9", "c1", 9)))
    a.delete(aRows(("o9", "c1", 0)))
    assert(asMap(mj.refresh()) == Map(
      "o1" -> (("c2", 2.0, Some("silver")))))
  }

  test("marks survive unrelated service commits on the view") {
    val a = srcA(tmpDir("mj3-a"))
    val b = srcB(tmpDir("mj3-b"))
    a.bulkInsert(aRows(("o1", "c1", 1), ("o2", "c2", 2)))
    b.bulkInsert(bRows(("c1", "gold"), ("c2", "silver")))
    val mj = new MaintainedJoin(spark, tmpDir("mj3-v"), a, b,
      on = Seq("cust" -> "cust"))
    mj.refresh()
    // a dozen service commits: more than keepCommits would retain of the
    // refresh commit itself — the folded mark must still be in the head
    (1 to 12).foreach(_ => mj.table.recluster(Seq("cust")))
    b.upsert(bRows(("c1", "plat")))
    assert(asMap(mj.refresh())("o1") == (("c1", 1.0, Some("plat"))))
    // and the refresh was incremental, not a reseed
    assert(mj.table.manifest.operation != "overwrite")
  }

  test("marks fallen behind source retention trigger a clean reseed") {
    val a = new CowTable(spark, tmpDir("mj4-a"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true, keepCommits = 3)
    val b = srcB(tmpDir("mj4-b"))
    a.bulkInsert(aRows(("o1", "c1", 1)))
    b.bulkInsert(bRows(("c1", "gold")))
    val mj = new MaintainedJoin(spark, tmpDir("mj4-v"), a, b,
      on = Seq("cust" -> "cust"))
    mj.refresh()
    // push the A mark out of retention (keepCommits=3, 6 commits)
    (1 to 6).foreach(i => a.upsert(aRows((s"x$i", "c1", i.toDouble))))
    val got = asMap(mj.refresh())
    assert(got.keySet == Set("o1") ++ (1 to 6).map("x" + _),
      s"reseed must recover every row: ${got.keySet}")
    assert(mj.table.manifest.operation == "overwrite", "reseed path")
    // and subsequent refreshes are incremental again
    a.upsert(aRows(("o2", "c1", 2)))
    assert(asMap(mj.refresh()).contains("o2"))
    assert(mj.table.manifest.operation != "overwrite")
  }

  test("cleaned tombstone file at feed construction reseeds, not crashes") {
    val a = srcA(tmpDir("mjr-a"))
    val b = srcB(tmpDir("mjr-b"))
    a.bulkInsert(aRows(("o1", "c1", 1), ("o2", "c1", 2)))
    b.bulkInsert(bRows(("c1", "gold")))
    val mj = new MaintainedJoin(spark, tmpDir("mjr-v"), a, b,
      on = Seq("cust" -> "cust"))
    mj.refresh()
    a.delete(aRows(("o2", "c1", 0))) // window anchors a tombstone file
    // a MISBEHAVING cleaner (one that ignores feedAnchoredFiles) removes
    // the tombstone the feed window still needs: the feed's DataFrame
    // construction then fails driver-side with PATH_NOT_FOUND — must
    // reseed, not crash
    val ts = a.manifest.tombstones.values.flatten.toSeq
    assert(ts.nonEmpty, "the delete must write a tombstone file")
    ts.foreach(f =>
      assert(new java.io.File(a.basePath, f).delete(), s"delete $f"))
    assert(asMap(mj.refresh()) == Map(
      "o1" -> (("c1", 1.0, Some("gold")))))
    assert(mj.table.manifest.operation == "overwrite",
      "cleaned-file feed construction must take the reseed path")
    // and subsequent refreshes are incremental again
    a.upsert(aRows(("o3", "c1", 4)))
    assert(asMap(mj.refresh()).contains("o3"))
    assert(mj.table.manifest.operation != "overwrite")
  }

  test("executor-side missing file inside the fold reseeds") {
    // a file that vanishes AFTER DataFrame construction surfaces as a
    // Spark-wrapped FileNotFoundException in the fold's first consuming
    // job; simulate that race deterministically with a feed that blows
    // on first materialization
    val a = new CowTable(spark, tmpDir("mjr2-a"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true) {
      override def changeFeed(s: Long, e: Long): DataFrame = {
        val boom = udf { (k: String) =>
          if (k != null)
            throw new java.io.FileNotFoundException("raced data file")
          true
        }
        super.changeFeed(s, e).filter(boom(col("k")))
      }
    }
    val b = srcB(tmpDir("mjr2-b"))
    a.bulkInsert(aRows(("o1", "c1", 1)))
    b.bulkInsert(bRows(("c1", "gold")))
    val mj = new MaintainedJoin(spark, tmpDir("mjr2-v"), a, b,
      on = Seq("cust" -> "cust"))
    mj.refresh() // seed: no feed involved
    a.upsert(aRows(("o2", "c1", 2)))
    assert(asMap(mj.refresh()) == Map(
      "o1" -> (("c1", 1.0, Some("gold"))),
      "o2" -> (("c1", 2.0, Some("gold")))))
    assert(mj.table.manifest.operation == "overwrite",
      "fold-phase missing file must take the reseed path")
  }

  test("retentionRace detects nested missing-file causes only") {
    val fnf = new java.io.FileNotFoundException("gone.parquet")
    val wrapped = new RuntimeException("job aborted",
      new RuntimeException("stage failure", fnf))
    assert(FeedView.retentionRace(wrapped))
    assert(!FeedView.retentionRace(new RuntimeException("other")))
    // self-referential cause chains terminate
    val self = new RuntimeException("self")
    assert(!FeedView.retentionRace(self))
  }

  test("sourceRetentionRace: own-table missing files crash, source " +
      "misses and pathless failures reseed") {
    def fnf(msg: String) = new RuntimeException("wrapped",
      new java.io.FileNotFoundException(msg))
    val srcs = Seq("/wh/src_a", "/wh/src_b")
    val own = "/wh/view"
    // a source's cleaned file: retention race -> reseed
    assert(FeedView.sourceRetentionRace(
      fnf("File /wh/src_a/files/v3-x.parquet does not exist"), srcs, own))
    // the VIEW's own file going missing is NOT a retention race — the
    // refresh must fail loudly instead of degrading to silent reseeds
    assert(!FeedView.sourceRetentionRace(
      fnf("File /wh/view/files/v7-y.parquet does not exist"), srcs, own))
    // no path in the message (executor-wrapped causes): conservative
    // resilient default, reseed
    assert(FeedView.sourceRetentionRace(
      fnf("raced data file"), srcs, own))
    // non-missing-file failures never reseed
    assert(!FeedView.sourceRetentionRace(
      new RuntimeException("other"), srcs, own))
  }

  test("model check: random churn on both sides == full recompute") {
    val a = srcA(tmpDir("mj5-a"))
    val b = srcB(tmpDir("mj5-b"))
    val rnd = new scala.util.Random(42)
    val aKeys = (0 until 30).map("o" + _)
    val custs = (0 until 8).map("c" + _) :+ "dangling"
    a.bulkInsert(aRows(aKeys.take(10).map(k =>
      (k, custs(rnd.nextInt(custs.size)), rnd.nextInt(100).toDouble)): _*))
    b.bulkInsert(bRows(custs.take(4).map(c =>
      (c, "seg" + rnd.nextInt(5))): _*))
    val mj = new MaintainedJoin(spark, tmpDir("mj5-v"), a, b,
      on = Seq("cust" -> "cust"))
    mj.refresh()
    (1 to 8).foreach { step =>
      rnd.nextInt(4) match {
        case 0 => a.upsert(aRows((1 to 1 + rnd.nextInt(4)).map(_ =>
          (aKeys(rnd.nextInt(aKeys.size)),
            custs(rnd.nextInt(custs.size)),
            rnd.nextInt(100).toDouble)): _*))
        case 1 =>
          val k = aKeys(rnd.nextInt(aKeys.size))
          a.delete(aRows((k, "c0", 0)))
        case 2 => b.upsert(bRows((1 to 1 + rnd.nextInt(2)).map(_ =>
          (custs(rnd.nextInt(custs.size)), "seg" + rnd.nextInt(5))): _*))
        case 3 =>
          val c = custs(rnd.nextInt(custs.size))
          b.delete(bRows((c, "")))
      }
      // refresh only every other step: windows fold multiple commits
      if (step % 2 == 0) {
        val got = asMap(mj.refresh())
        val want = asMap(mj.recompute())
        assert(got == want, s"step $step: view drifted\n got=$got\nwant=$want")
      }
    }
  }

  test("mixed-churn fold is ONE atomic commit on a cow view") {
    val a = srcA(tmpDir("mjf-a"))
    val b = srcB(tmpDir("mjf-b"))
    a.bulkInsert(aRows(("o1", "c1", 10), ("o2", "c2", 20), ("o3", "c1", 30)))
    b.bulkInsert(bRows(("c1", "gold"), ("c2", "silver")))
    val mj = new MaintainedJoin(spark, tmpDir("mjf-v"), a, b,
      on = Seq("cust" -> "cust"))
    mj.refresh()
    val v0 = mj.table.manifest.version
    // upserts AND deletes in one window: images + tombstones must land in
    // a single merge commit (marks advance atomically with both halves),
    // including the overlap case — o3 is hit by B churn AND deleted by A
    a.upsert(aRows(("o1", "c2", 11)))
    a.delete(aRows(("o3", "c1", 0)))
    b.upsert(bRows(("c1", "plat")))
    assert(asMap(mj.refresh()) == Map(
      "o1" -> (("c2", 11.0, Some("silver"))),
      "o2" -> (("c2", 20.0, Some("silver")))))
    assert(mj.table.manifest.version == v0 + 1,
      "mixed-churn fold must be exactly one view commit")
    assert(mj.table.manifest.operation == "merge")
  }

  test("views chain: (A JOIN B) JOIN C maintained end-to-end") {
    val a = srcA(tmpDir("mj7-a"))
    val b = new CowTable(spark, tmpDir("mj7-b"), keyCols = Seq("cust"),
      trackCommitVersions = true)
    val c = new CowTable(spark, tmpDir("mj7-c"), keyCols = Seq("nat"),
      trackCommitVersions = true)
    a.bulkInsert(aRows(("o1", "c1", 10), ("o2", "c2", 20)))
    b.bulkInsert(Seq(("c1", "de"), ("c2", "fr")).toDF("cust", "nat"))
    c.bulkInsert(Seq(("de", "EU")).toDF("nat", "region"))
    // first hop tracks ITS OWN versions so the second hop can feed on it
    val mj1 = new MaintainedJoin(spark, tmpDir("mj7-v1"), a, b,
      on = Seq("cust" -> "cust"), trackViewVersions = true)
    mj1.refresh()
    val mj2 = new MaintainedJoin(spark, tmpDir("mj7-v2"), mj1.table, c,
      on = Seq("nat" -> "nat"))
    def level2: Map[String, (String, Option[String], Option[String])] =
      mj2.refresh().select("k", "cust", "nat", "region").collect()
        .map(r => r.getString(0) ->
          ((r.getString(1), Option(r.getString(2)),
            Option(r.getString(3))))).toMap
    assert(level2 == Map(
      "o1" -> (("c1", Some("de"), Some("EU"))),
      "o2" -> (("c2", Some("fr"), None))))

    // churn every level: A insert, B re-route c2->de, C gains fr
    a.upsert(aRows(("o3", "c1", 30)))
    b.upsert(Seq(("c2", "de")).toDF("cust", "nat"))
    c.upsert(Seq(("fr", "EU-W")).toDF("nat", "region"))
    mj1.refresh()
    assert(level2 == Map(
      "o1" -> (("c1", Some("de"), Some("EU"))),
      "o2" -> (("c2", Some("de"), Some("EU"))),
      "o3" -> (("c1", Some("de"), Some("EU")))))

    // deletes propagate through both hops
    a.delete(aRows(("o1", "c1", 0)))
    c.delete(Seq(("de", "")).toDF("nat", "region"))
    mj1.refresh()
    assert(level2 == Map(
      "o2" -> (("c2", Some("de"), None)),
      "o3" -> (("c1", Some("de"), None))))
  }

  test("mor-backed view: churn folds as log appends, compaction-safe") {
    val a = srcA(tmpDir("mj8-a"))
    val b = srcB(tmpDir("mj8-b"))
    a.bulkInsert(aRows(("o1", "c1", 10), ("o2", "c2", 20), ("o3", "c9", 30)))
    b.bulkInsert(bRows(("c1", "gold"), ("c2", "silver")))
    val mj = new MaintainedJoin(spark, tmpDir("mj8-v"), a, b,
      on = Seq("cust" -> "cust"), viewStorage = "mor")
    assert(asMap(mj.refresh()) == Map(
      "o1" -> (("c1", 10.0, Some("gold"))),
      "o2" -> (("c2", 20.0, Some("silver"))),
      "o3" -> (("c9", 30.0, None))))
    val baseFilesAfterSeed = mj.table.manifest.baseFiles.size

    // the full golden churn sequence: fk rewire, deletes both sides,
    // brand-new B match — all folded as MOR delta logs
    a.upsert(aRows(("o1", "c2", 11), ("o4", "c1", 40)))
    a.delete(aRows(("o2", "c2", 0)))
    mj.refresh()
    b.upsert(bRows(("c9", "bronze"), ("c2", "plat")))
    b.delete(bRows(("c1", "")))
    val expected = Map(
      "o1" -> (("c2", 11.0, Some("plat"))),
      "o3" -> (("c9", 30.0, Some("bronze"))),
      "o4" -> (("c1", 40.0, None)))
    assert(asMap(mj.refresh()) == expected)
    // churn never rewrote the seeded base files
    assert(mj.table.manifest.baseFiles.size == baseFilesAfterSeed)

    // compaction folds the logs; result and marks unchanged, so the next
    // refresh after more churn still folds incrementally
    val mor = mj.table.asInstanceOf[graft.table.MorTable]
    assert(mor.compactLogs())
    assert(asMap(mj.current) == expected)
    a.upsert(aRows(("o5", "c2", 50)))
    assert(asMap(mj.refresh()) == expected +
      ("o5" -> (("c2", 50.0, Some("plat")))))
  }

  test("requires stamped COW sources and a full B-identity map") {
    val plain = new CowTable(spark, tmpDir("mj6-p"), keyCols = Seq("k"))
    val stamped = srcB(tmpDir("mj6-b"))
    intercept[IllegalArgumentException] {
      new MaintainedJoin(spark, tmpDir("mj6-v1"), plain, stamped,
        on = Seq("cust" -> "cust"))
    }
    val a = srcA(tmpDir("mj6-a"))
    intercept[IllegalArgumentException] {
      new MaintainedJoin(spark, tmpDir("mj6-v2"), a, stamped,
        on = Seq("cust" -> "nope"))
    }
  }
}
