package graft.cdc

import org.apache.spark.JobCount
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.table.CowTable
import IncrementalAgg.AggSpec

/** Cost budgets of one maintained-view refresh: the Spark jobs it starts
  * (an upper bound — an added job round fails) and the view commits it
  * publishes (exact — the atomicity contract). Counts were measured on
  * these fixtures; lowering a bound is a one-line edit. The
  * `MaintainedView.commit` budget is in [[IncrementalAggSpec]].
  */
class RefreshBudgetSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs started by `body` and versions it added to `t`. */
  private def cost(t: CowTable)(body: => Any): (Int, Long) = {
    val v0 = t.manifest.version
    val (_, jobs) = JobCount(spark.sparkContext)(body)
    (jobs, t.manifest.version - v0)
  }

  private def assertBudget(what: String, got: (Int, Long), maxJobs: Int,
      commits: Long): Unit = {
    assert(got._1 <= maxJobs, s"$what: ${got._1} jobs > $maxJobs")
    assert(got._2 == commits, s"$what: ${got._2} commits, want $commits")
  }

  private def src(path: String, key: String, pre: String) =
    new CowTable(spark, path, keyCols = Seq(key), precombineField = pre,
      trackCommitVersions = true)

  private def aRows(xs: (String, String, Double)*): DataFrame =
    xs.toDF("k", "cust", "v")
  private def bRows(xs: (String, String)*): DataFrame =
    xs.toDF("cust", "seg")

  private def joinCost(name: String, storage: String,
      mixed: Boolean): (Int, Long) = {
    val a = src(tmpDir(s"rb-$name-a"), "k", "v")
    val b = src(tmpDir(s"rb-$name-b"), "cust", "seg")
    a.bulkInsert(aRows(("o1", "c1", 10), ("o2", "c2", 20), ("o3", "c1", 30)))
    b.bulkInsert(bRows(("c1", "gold"), ("c2", "silver")))
    val mj = new MaintainedJoin(spark, tmpDir(s"rb-$name-v"), a, b,
      on = Seq("cust" -> "cust"), viewStorage = storage)
    mj.refresh()
    a.upsert(aRows(("o1", "c2", 11), ("o4", "c1", 40)))
    if (mixed) a.delete(aRows(("o3", "c1", 0)))
    b.upsert(bRows(("c1", "plat")))
    val got = cost(mj.table)(mj.refresh())
    assert(mj.current.collect().toSet == mj.recompute().collect().toSet)
    got
  }

  test("MaintainedJoin COW refresh: ups-only and mixed windows") {
    assertBudget("join cow ups-only", joinCost("ju", "cow", mixed = false),
      maxJobs = 21, commits = 1)
    assertBudget("join cow mixed", joinCost("jm", "cow", mixed = true),
      maxJobs = 27, commits = 1)
  }

  test("MaintainedJoin MOR-view refresh keeps its two log appends") {
    assertBudget("join mor mixed", joinCost("jr", "mor", mixed = true),
      maxJobs = 18, commits = 2)
  }

  private def aggCost(name: String, minMax: Seq[String]): (Int, Long) = {
    val s = src(tmpDir(s"rb-$name-s"), "k", "v")
    s.bulkInsert(Seq(("a", "g1", 1.0), ("b", "g1", 5.0), ("c", "g2", 3.0),
      ("d", "g3", 4.0)).toDF("k", "grp", "v"))
    val ma = new MaintainedAgg(spark, tmpDir(s"rb-$name-v"), s,
      AggSpec(Seq("grp"), "v"), minMaxCols = minMax)
    ma.refresh()
    // g3 vanishes, g1 loses its max (a tie-hit with min/max), g4 appears
    s.upsert(Seq(("b", "g1", 2.0), ("e", "g4", 7.0)).toDF("k", "grp", "v"))
    s.delete(Seq(("d", "g3", 0.0)).toDF("k", "grp", "v"))
    val got = cost(ma.table)(ma.refresh())
    assert(ma.current.collect().toSet ==
      ma.recompute(s.snapshot()).collect().toSet)
    got
  }

  test("MaintainedAgg refresh, with and without minMaxCols") {
    assertBudget("agg", aggCost("a0", Nil), maxJobs = 21, commits = 1)
    assertBudget("agg min/max", aggCost("a1", Seq("v")),
      maxJobs = 26, commits = 1)
  }

  test("a refresh over a source commit that changes no rows is one " +
      "ledger commit") {
    val s = src(tmpDir("rb-l-s"), "k", "v")
    s.bulkInsert(Seq(("a", "g1", 1.0), ("b", "g2", 5.0)).toDF("k", "grp", "v"))
    s.upsert(Seq(("c", "g1", 3.0)).toDF("k", "grp", "v"))
    val ma = new MaintainedAgg(spark, tmpDir("rb-l-v"), s,
      AggSpec(Seq("grp"), "v"))
    ma.refresh()
    // the compaction rewrites files but no row: the fold window is empty
    // and only the marks advance, in a metadata-only commit
    assert(s.compact(maxFilesPerUnit = 0))
    assertBudget("agg ledger", cost(ma.table)(ma.refresh()),
      maxJobs = 5, commits = 1)
    assert(ma.table.manifest.operation == "ledger")
    assert(ma.current.collect().toSet ==
      ma.recompute(s.snapshot()).collect().toSet)
  }

  test("a MOR view's ledger commit counts no delta commit") {
    val a = src(tmpDir("rb-lm-a"), "k", "v")
    val b = src(tmpDir("rb-lm-b"), "cust", "seg")
    a.bulkInsert(aRows(("o1", "c1", 10), ("o2", "c2", 20)))
    a.upsert(aRows(("o3", "c1", 30)))
    b.bulkInsert(bRows(("c1", "gold"), ("c2", "silver")))
    val mj = new MaintainedJoin(spark, tmpDir("rb-lm-v"), a, b,
      on = Seq("cust" -> "cust"), viewStorage = "mor")
    mj.refresh()
    val deltaCommits = mj.table.manifest.deltaCommits
    assert(a.compact(maxFilesPerUnit = 0))
    assertBudget("join mor ledger", cost(mj.table)(mj.refresh()),
      maxJobs = 4, commits = 1)
    assert(mj.table.manifest.operation == "ledger")
    assert(mj.table.manifest.deltaCommits == deltaCommits)
    assert(mj.current.collect().toSet == mj.recompute().collect().toSet)
  }

  test("MaintainedDistinct refresh") {
    val s = src(tmpDir("rb-d-s"), "k", "val")
    s.bulkInsert(Seq(("a", "g1", "x"), ("b", "g1", "y"), ("c", "g2", "x"))
      .toDF("k", "grp", "val"))
    val md = new MaintainedDistinct(spark, tmpDir("rb-d-v"), s, Seq("grp"),
      "val")
    md.refresh()
    s.upsert(Seq(("b", "g1", "x"), ("d", "g3", "z")).toDF("k", "grp", "val"))
    s.delete(Seq(("c", "g2", "")).toDF("k", "grp", "val"))
    assertBudget("distinct", cost(md.table)(md.refresh()),
      maxJobs = 32, commits = 1)
  }
}
