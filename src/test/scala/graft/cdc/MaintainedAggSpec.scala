package graft.cdc

import graft.SparkSpec
import graft.table.CowTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Feed-driven maintained aggregate: exact parity with recompute across
  * churn windows, group movement/vanishing, ledger semantics, and the
  * end-to-end star-schema chain (fact ⟕ dim view → GROUP BY).
  */
class MaintainedAggSpec extends SparkSpec {
  import spark.implicits._
  import IncrementalAgg.AggSpec

  private def rows(xs: (String, String, Double)*): DataFrame =
    xs.toDF("k", "grp", "v")

  private def state(df: DataFrame): Map[String, (Long, Double)] =
    df.select(col("grp"), col("cnt"), col("total").cast("double"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getDouble(2)))).toMap

  private def oracle(t: CowTable): Map[String, (Long, Double)] =
    state(IncrementalAgg.recompute(t.snapshot(),
      AggSpec(Seq("grp"), "v")).withColumnRenamed("total", "total"))

  test("churn windows fold to exactly the recomputed aggregate") {
    val src = new CowTable(spark, tmpDir("ma-src"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true)
    src.bulkInsert(rows(("a", "g1", 1), ("b", "g1", 2), ("c", "g2", 3)))
    val ma = new MaintainedAgg(spark, tmpDir("ma-st"), src,
      AggSpec(Seq("grp"), "v"))
    assert(state(ma.refresh()) == Map("g1" -> ((2L, 3.0)),
      "g2" -> ((1L, 3.0))))

    // window: update moves a row ACROSS groups, insert, delete
    src.upsert(rows(("b", "g2", 20), ("d", "g3", 4)))
    src.delete(rows(("c", "g2", 0)))
    assert(state(ma.refresh()) == oracle(src))
    assert(state(ma.current) == Map("g1" -> ((1L, 1.0)),
      "g2" -> ((1L, 20.0)), "g3" -> ((1L, 4.0))))

    // window: a group fully retracts (g3 vanishes), same-window
    // insert-then-delete nets zero, value-only update
    src.upsert(rows(("a", "g1", 10), ("e", "g9", 9)))
    src.delete(rows(("d", "g3", 0), ("e", "g9", 0)))
    assert(state(ma.refresh()) == oracle(src))
    assert(!state(ma.current).contains("g3") &&
      !state(ma.current).contains("g9"))

    // no-op refresh: marks at head, no new commit
    val v = ma.table.manifest.version
    ma.refresh()
    assert(ma.table.manifest.version == v)

    // multi-commit window folds in one refresh
    src.upsert(rows(("f", "g1", 5)))
    src.upsert(rows(("f", "g1", 50)))
    src.delete(rows(("a", "g1", 0)))
    assert(state(ma.refresh()) == oracle(src))
  }

  test("the fold commit records the fold's phase timings") {
    val src = new CowTable(spark, tmpDir("ma-ph-src"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true)
    src.bulkInsert(rows(("a", "g1", 1), ("b", "g2", 2)))
    val ma = new MaintainedAgg(spark, tmpDir("ma-ph-st"), src,
      AggSpec(Seq("grp"), "v"))
    ma.refresh()
    val v0 = ma.table.manifest.version
    src.upsert(rows(("a", "g2", 5), ("c", "g3", 3)))
    ma.refresh()
    val folds = ma.table.history().filter(col("version") > v0)
      .select("metrics").as[Map[String, Long]].collect().toSeq
    assert(folds.size == 1, s"one fold commit, got $folds")
    // fold phases, then the merge commit's own
    Seq("feed", "delta", "affected", "touched", "prune", "write")
      .map(p => s"phase_${p}_ms")
      .foreach(k => assert(folds.head.get(k).exists(_ >= 0L),
        s"$k in ${folds.head}"))
  }

  test("star-schema chain: fact x dim -> maintained join -> maintained agg") {
    val fact = new CowTable(spark, tmpDir("ma2-f"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true)
    val dim = new CowTable(spark, tmpDir("ma2-d"), keyCols = Seq("cust"),
      trackCommitVersions = true)
    fact.bulkInsert(Seq(("o1", "c1", 10.0), ("o2", "c2", 20.0),
      ("o3", "c1", 30.0)).toDF("k", "cust", "v"))
    dim.bulkInsert(Seq(("c1", "de"), ("c2", "fr")).toDF("cust", "nat"))
    // the view stamps its own commits so the aggregate can feed on it
    val mj = new MaintainedJoin(spark, tmpDir("ma2-v"), fact, dim,
      on = Seq("cust" -> "cust"), trackViewVersions = true)
    mj.refresh()
    // revenue per nation, maintained off the VIEW's change feed
    val ma = new MaintainedAgg(spark, tmpDir("ma2-a"), mj.table,
      AggSpec(Seq("nat"), "v"))
    def agg: Map[Option[String], (Long, Double)] =
      ma.current.select(col("nat"), col("cnt"),
          col("total").cast("double"))
        .collect().map(r => Option(r.getString(0)) ->
          ((r.getLong(1), r.getDouble(2)))).toMap
    ma.refresh()
    assert(agg == Map(Some("de") -> ((2L, 40.0)),
      Some("fr") -> ((1L, 20.0))))

    // churn EVERY level: fact insert + reroute, dim re-label + delete
    fact.upsert(Seq(("o4", "c2", 40.0), ("o1", "c2", 11.0))
      .toDF("k", "cust", "v"))
    dim.delete(Seq(("c1", "")).toDF("cust", "nat"))
    mj.refresh()
    ma.refresh()
    // o3 keeps cust=c1 but its nation is now null (left-outer dim delete)
    assert(agg == Map(Some("fr") -> ((3L, 71.0)), None -> ((1L, 30.0))))

    // fact delete propagates through both maintained levels
    fact.delete(Seq(("o2", "c2", 0.0)).toDF("k", "cust", "v"))
    mj.refresh()
    ma.refresh()
    assert(agg == Map(Some("fr") -> ((2L, 51.0)), None -> ((1L, 30.0))))
  }

  test("min/max maintenance: optimistic fold + repair on extreme loss") {
    val src = new CowTable(spark, tmpDir("ma4-src"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true,
      fileIndex = true, statsCols = Seq("grp"))
    src.bulkInsert(rows(("a", "g1", 5), ("b", "g1", 1), ("c", "g1", 9),
      ("d", "g2", 4)))
    val ma = new MaintainedAgg(spark, tmpDir("ma4-st"), src,
      AggSpec(Seq("grp"), "v"), minMaxCols = Seq("v"))
    def mm: Map[String, (Long, Double, Double, Double)] =
      ma.current.select(col("grp"), col("cnt"),
          col("total").cast("double"), col("min_v"), col("max_v"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)))).toMap
    def oracleMM: Map[String, (Long, Double, Double, Double)] =
      ma.recompute(src.snapshot())
        .select(col("grp"), col("cnt"), col("total").cast("double"),
          col("min_v"), col("max_v"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)))).toMap
    ma.refresh()
    assert(mm == Map("g1" -> ((3L, 15.0, 1.0, 9.0)),
      "g2" -> ((1L, 4.0, 4.0, 4.0))))

    // inside-the-bounds churn: no repair needed, optimistic fold exact
    src.upsert(rows(("a", "g1", 6), ("e", "g1", 3)))
    assert({ ma.refresh(); mm } == oracleMM)
    assert(mm("g1") == ((4L, 19.0, 1.0, 9.0)))

    // insert a new max: optimistic greatest
    src.upsert(rows(("f", "g1", 20)))
    assert({ ma.refresh(); mm } == oracleMM)
    assert(mm("g1")._4 == 20.0)

    // DELETE the max: tie with stored extreme -> group-scoped repair
    src.delete(rows(("f", "g1", 0)))
    assert({ ma.refresh(); mm } == oracleMM)
    assert(mm("g1")._4 == 9.0)

    // update the min AWAY (value moves up): old image ties min -> repair
    src.upsert(rows(("b", "g1", 7)))
    assert({ ma.refresh(); mm } == oracleMM)
    assert(mm("g1")._3 == 3.0)

    // tied extremes: two rows at the max, delete one -> max survives
    src.upsert(rows(("x", "g2", 10), ("y", "g2", 10)))
    ma.refresh()
    src.delete(rows(("x", "g2", 0)))
    assert({ ma.refresh(); mm } == oracleMM)
    assert(mm("g2")._4 == 10.0)

    // same-window churn storm across groups + a group vanishing
    src.upsert(rows(("p", "g3", 2), ("q", "g3", 8)))
    src.delete(rows(("d", "g2", 0), ("y", "g2", 0)))
    src.upsert(rows(("q", "g3", 1)))
    assert({ ma.refresh(); mm } == oracleMM)
    assert(mm("g3") == ((2L, 3.0, 1.0, 2.0)) && !mm.contains("g2"))
  }

  test("min/max over the maintained-join chain with null groups") {
    val fact = new CowTable(spark, tmpDir("ma5-f"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true)
    val dim = new CowTable(spark, tmpDir("ma5-d"), keyCols = Seq("cust"),
      trackCommitVersions = true)
    fact.bulkInsert(Seq(("o1", "c1", 10.0), ("o2", "c9", 20.0))
      .toDF("k", "cust", "v"))
    dim.bulkInsert(Seq(("c1", "de")).toDF("cust", "nat"))
    val mj = new MaintainedJoin(spark, tmpDir("ma5-v"), fact, dim,
      on = Seq("cust" -> "cust"), trackViewVersions = true)
    mj.refresh()
    val ma = new MaintainedAgg(spark, tmpDir("ma5-a"), mj.table,
      AggSpec(Seq("nat"), "v"), minMaxCols = Seq("v"))
    ma.refresh()
    def mm: Map[Option[String], (Long, Double, Double)] =
      ma.current.select(col("nat"), col("cnt"), col("min_v"), col("max_v"))
        .collect().map(r => Option(r.getString(0)) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(mm == Map(Some("de") -> ((1L, 10.0, 10.0)),
      None -> ((1L, 20.0, 20.0))))
    // null-group extreme retraction repairs through the chain: o2 gains a
    // match (leaves the null group), o3 lands in it
    fact.upsert(Seq(("o3", "c8", 5.0)).toDF("k", "cust", "v"))
    dim.upsert(Seq(("c9", "fr")).toDF("cust", "nat"))
    mj.refresh()
    ma.refresh()
    assert(mm == Map(Some("de") -> ((1L, 10.0, 10.0)),
      Some("fr") -> ((1L, 20.0, 20.0)),
      None -> ((1L, 5.0, 5.0))))
  }

  test("sum-of-squares maintenance: variance derives from folded state") {
    val src = new CowTable(spark, tmpDir("ma6-src"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true)
    src.bulkInsert(rows(("a", "g1", 1), ("b", "g1", 2), ("c", "g2", 3)))
    // squares + min/max together: exercises the extremes pass-through
    val ma = new MaintainedAgg(spark, tmpDir("ma6-st"), src,
      AggSpec(Seq("grp"), "v"), minMaxCols = Seq("v"),
      trackSquares = true)
    def st: Map[String, (Long, Double, Double, Double, Double)] =
      ma.current.select(col("grp"), col("cnt"),
          col("total").cast("double"), col("total_sq").cast("double"),
          col("min_v"), col("max_v"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
    def orc: Map[String, (Long, Double, Double, Double, Double)] =
      ma.recompute(src.snapshot())
        .select(col("grp"), col("cnt"), col("total").cast("double"),
          col("total_sq").cast("double"), col("min_v"), col("max_v"))
        .collect().map(r => r.getString(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
    ma.refresh()
    assert(st == orc)
    assert(st("g1") == ((2L, 3.0, 5.0, 1.0, 2.0)))

    // churn: cross-group move, insert, delete — squares retract exactly
    src.upsert(rows(("b", "g2", 20), ("d", "g3", 4)))
    src.delete(rows(("c", "g2", 0)))
    assert({ ma.refresh(); st } == orc)
    assert(st("g2") == ((1L, 20.0, 400.0, 20.0, 20.0)))

    // derived dispersion matches Spark's var_pop on the live snapshot
    src.upsert(rows(("e", "g1", 7), ("f", "g1", 4)))
    ma.refresh()
    val got = ma.currentWithStats
      .select(col("grp"), col("mean"), col("variance"), col("stddev"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val want = src.snapshot().groupBy("grp")
      .agg(avg(col("v")).as("m"), var_pop(col("v")).as("vp"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2)))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (k, (m, vp)) =>
      assert(math.abs(got(k)._1 - m) < 1e-9, s"mean $k")
      assert(math.abs(got(k)._2 - vp) < 1e-9, s"variance $k")
      assert(math.abs(got(k)._3 - math.sqrt(vp)) < 1e-9, s"stddev $k")
    }

    // group vanishes; multi-commit window folds in one refresh
    src.delete(rows(("d", "g3", 0)))
    src.upsert(rows(("a", "g1", 10)))
    assert({ ma.refresh(); st } == orc)
    assert(!st.contains("g3"))
  }

  test("retention clean racing the fold reseeds instead of crashing") {
    val src = new CowTable(spark, tmpDir("ma4-src"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true)
    src.bulkInsert(rows(("a", "g1", 1), ("b", "g2", 2)))
    val ma = new MaintainedAgg(spark, tmpDir("ma4-st"), src,
      AggSpec(Seq("grp"), "v"))
    ma.refresh()
    src.upsert(rows(("a", "g1", 5))) // rewrites the unit holding a
    // a racing cleaner removes v1's rewritten (no-longer-live) file the
    // preimage read still needs: the feed's DataFrame construction fails
    // driver-side with PATH_NOT_FOUND, which must reseed, not crash
    val gone = src.manifestAt(1).files.toSet -- src.manifest.files.toSet
    assert(gone.nonEmpty, "the upsert must rewrite a file")
    gone.foreach(f =>
      assert(new java.io.File(src.basePath, f).delete(), s"delete $f"))
    assert(state(ma.refresh()) == oracle(src))
    assert(ma.table.manifest.operation == "overwrite",
      "fold-phase retention race must take the reseed path")
    // and subsequent refreshes are incremental again
    src.upsert(rows(("c", "g3", 3)))
    assert(state(ma.refresh()) == oracle(src))
    assert(ma.table.manifest.operation != "overwrite")
  }

  test("executor-side missing file inside the fold reseeds") {
    // a file that vanishes AFTER DataFrame construction surfaces as a
    // Spark-wrapped FileNotFoundException in the fold's first consuming
    // job; simulate that race deterministically with a feed that blows
    // on first materialization
    val src = new CowTable(spark, tmpDir("ma5-src"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true) {
      override def changeFeedWithPreimages(s: Long, a: Long): DataFrame = {
        val boom = udf { (k: String) =>
          if (k != null)
            throw new java.io.FileNotFoundException("raced data file")
          true
        }
        super.changeFeedWithPreimages(s, a).filter(boom(col("k")))
      }
    }
    val ma = new MaintainedAgg(spark, tmpDir("ma5-st"), src,
      AggSpec(Seq("grp"), "v"))
    src.bulkInsert(rows(("a", "g1", 1)))
    ma.refresh() // seed: no feed involved
    src.upsert(rows(("b", "g2", 2)))
    assert(state(ma.refresh()) == oracle(src))
    assert(ma.table.manifest.operation == "overwrite",
      "fold-phase missing file must take the reseed path")
  }

  test("mark ages out of source retention: transparent reseed") {
    val src = new CowTable(spark, tmpDir("ma3-src"), keyCols = Seq("k"),
      trackCommitVersions = true, keepCommits = 2)
    src.bulkInsert(rows(("a", "g1", 1)))
    val ma = new MaintainedAgg(spark, tmpDir("ma3-st"), src,
      AggSpec(Seq("grp"), "v"))
    ma.refresh()
    // push far past retention, cleaning as the table layer would
    (2 to 8).foreach { i =>
      src.upsert(rows((s"x$i", "g2", i * 1.0)))
      src.clean()
    }
    assert(state(ma.refresh()) == oracle(src))
  }

  test("random churn sequences: fold == recompute at every refresh " +
      "(fused extremes + squares, null groups/values, vanish/reappear)") {
    // deterministic adversarial sweep of the fused min/max algebra: every
    // window mixes upserts (some with NULL group or NULL value) and
    // deletes of random keys (some absent — delete's over-approximation),
    // then the folded state must equal the from-scratch recompute EXACTLY.
    // Exercises: optimistic folds, tie-repair windows, all-null extreme
    // groups, group vanish + same-window reappear, empty windows, and
    // multi-op windows folding as one feed.
    val rnd = new scala.util.Random(20260816L)
    val src = new CowTable(spark, tmpDir("ma-rnd-src"), keyCols = Seq("k"),
      precombineField = "pc", trackCommitVersions = true)
    val groups: Seq[Any] = Seq("g0", "g1", "g2", null)
    var pc = 0L
    def batch(n: Int): DataFrame = {
      val data = (1 to n).map { _ =>
        pc += 1
        (s"k${rnd.nextInt(24)}",
          groups(rnd.nextInt(groups.size)).asInstanceOf[String],
          if (rnd.nextInt(6) == 0) null.asInstanceOf[java.lang.Double]
          else java.lang.Double.valueOf(rnd.nextInt(101) - 50L),
          pc)
      }
      data.toDF("k", "grp", "v", "pc")
    }
    src.bulkInsert(batch(16))
    val ma = new MaintainedAgg(spark, tmpDir("ma-rnd-st"), src,
      AggSpec(Seq("grp"), "v"), minMaxCols = Seq("v"), trackSquares = true)

    def snap(df: DataFrame): Set[(Option[String], Long, Option[Double],
        Option[Double], Option[Double], Option[Double])] =
      df.select(col("grp"), col("cnt"), col("total").cast("double"),
          col("total_sq").cast("double"), col("min_v"), col("max_v"))
        .collect().map(r => (
          Option(r.getString(0)), r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)),
          if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toSet

    for (w <- 1 to 14) {
      val ops = 1 + rnd.nextInt(3)
      (1 to ops).foreach { _ =>
        if (rnd.nextInt(3) == 0)
          src.delete(batch(1 + rnd.nextInt(6)))
        else src.upsert(batch(1 + rnd.nextInt(8)))
      }
      assert(snap(ma.refresh()) == snap(ma.recompute(src.snapshot())),
        s"window $w diverged from recompute")
      // occasional no-churn refresh: the ledger-advance path
      if (w % 5 == 0)
        assert(snap(ma.refresh()) == snap(ma.recompute(src.snapshot())),
          s"window $w empty refresh diverged")
    }
  }

  test("stacked aggs fed by table commits stay exact after a lag") {
    // Level 1 counts (grp, v) pair multiplicities; level 2 counts level-1
    // rows per grp, folding level 1's own state-table commits. A level 2
    // that lags level 1 (a crash between the levels' refreshes) folds
    // every pending window on its next refresh and is still exact.
    val src = new CowTable(spark, tmpDir("sk-src"), keyCols = Seq("k"),
      precombineField = "v", trackCommitVersions = true)
    src.bulkInsert(rows(("a", "g1", 1), ("b", "g1", 1), ("c", "g2", 3)))
    val l1 = new MaintainedAgg(spark, tmpDir("sk-l1"), src,
      AggSpec(Seq("grp", "v"), "v"), trackStateVersions = true)
    val l2 = new MaintainedAgg(spark, tmpDir("sk-l2"), l1.table,
      AggSpec(Seq("grp"), "cnt"))
    def l2Oracle(): Map[String, (Long, Double)] = state(
      IncrementalAgg.recompute(l1.table.snapshot(),
        AggSpec(Seq("grp"), "cnt")))
    def refreshStacked(): Unit = { l1.refresh(); l2.refresh(); () }
    refreshStacked() // seeds
    assert(state(l2.current) == l2Oracle())

    src.upsert(rows(("d", "g1", 9), ("b", "g2", 3)))
    refreshStacked()
    assert(state(l2.current) == l2Oracle())

    // crash-lag: level 1 folds a window ALONE, more churn lands, and the
    // next stacked refresh folds BOTH pending level-1 commits into level 2
    src.upsert(rows(("e", "g3", 4)))
    l1.refresh() // level 2 skipped ("crash")
    src.delete(rows(("c", "g2", 0)))
    refreshStacked()
    assert(state(l2.current) == l2Oracle())

    // and a subsequent window stays exact
    src.upsert(rows(("f", "g1", 7)))
    refreshStacked()
    assert(state(l2.current) == l2Oracle())
  }
}
