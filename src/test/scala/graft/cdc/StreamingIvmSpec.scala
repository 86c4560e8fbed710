package graft.cdc

import graft.SparkSpec
import graft.streaming.GraftSink
import graft.table.CowTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** The whole incremental stack in one pipeline: CDC-written source table →
  * table-as-stream → exactly-once sink into a chained table → maintained
  * join view → maintained aggregate — every hop fed by commits/feeds, no
  * recompute anywhere after the seeds, deletes propagating end-to-end.
  */
class StreamingIvmSpec extends SparkSpec {
  import spark.implicits._

  test("stream-chained table drives maintained join + aggregate exactly") {
    val pathA = tmpDir("sivm-a"); val pathB = tmpDir("sivm-b")
    val ckpt = tmpDir("sivm-ckpt")
    val a = new CowTable(spark, pathA, keyCols = Seq("id"),
      precombineField = "v", trackCommitVersions = true)
    a.bulkInsert(Seq(("o1", "c1", 10.0), ("o2", "c2", 20.0),
      ("o3", "c1", 30.0)).toDF("id", "cust", "v"))

    // hop 1: A streams into B exactly-once (deletes chain via CDF rows);
    // B stamps its own commits so downstream views can feed on it
    val openB = () => {
      if (CowTable.existsAt(spark, pathB)) CowTable.open(spark, pathB)
      else new CowTable(spark, pathB, keyCols = Seq("id"),
        precombineField = "v", trackCommitVersions = true)
    }
    val sink = new GraftSink(openB)
    def drain(): Unit = sink.start(
      spark.readStream.format("graft")
        .option("includeChangeType", "true").load(pathA),
      ckpt, Trigger.AvailableNow()).awaitTermination()

    // hop 2: B ⟕ dim, maintained; hop 3: revenue per nation, maintained
    val dim = new CowTable(spark, tmpDir("sivm-d"), keyCols = Seq("cust"),
      trackCommitVersions = true)
    dim.bulkInsert(Seq(("c1", "de"), ("c2", "fr")).toDF("cust", "nat"))
    drain()
    val mj = new MaintainedJoin(spark, tmpDir("sivm-v"), openB(), dim,
      on = Seq("cust" -> "cust"), trackViewVersions = true)
    mj.refresh()
    val ma = new MaintainedAgg(spark, tmpDir("sivm-agg"), mj.table,
      IncrementalAgg.AggSpec(Seq("nat"), "v"), minMaxCols = Seq("v"))
    ma.refresh()

    def agg: Map[Option[String], (Long, Double, Double, Double)] =
      ma.current.select(col("nat"), col("cnt"),
          col("total").cast("double"), col("min_v"), col("max_v"))
        .collect().map(r => Option(r.getString(0)) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)))).toMap
    def oracle: Map[Option[String], (Long, Double, Double, Double)] =
      ma.recompute(mj.recompute())
        .select(col("nat"), col("cnt"), col("total").cast("double"),
          col("min_v"), col("max_v"))
        .collect().map(r => Option(r.getString(0)) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3),
            r.getDouble(4)))).toMap
    assert(agg == Map(Some("de") -> ((2L, 40.0, 10.0, 30.0)),
      Some("fr") -> ((1L, 20.0, 20.0, 20.0))))

    def fold(): Unit = { drain(); mj.refresh(); ma.refresh() }

    // churn window 1: source updates + an extreme-dropping delete, a new
    // fact landing on an UNMATCHED dim key (null group appears)
    a.upsert(Seq(("o4", "c9", 5.0), ("o1", "c2", 11.0))
      .toDF("id", "cust", "v"))
    a.delete(Seq(("o3", "c1", 0.0)).toDF("id", "cust", "v"))
    fold()
    assert(agg == oracle)
    // o1's fk move drained the de group entirely; o4 lands unmatched
    assert(agg == Map(Some("fr") -> ((2L, 31.0, 11.0, 20.0)),
      None -> ((1L, 5.0, 5.0, 5.0))))

    // churn window 2: dim churn only (no source commits) — c9 appears
    // (o4 leaves the null group), de deleted (no member rows — no-op)
    dim.upsert(Seq(("c9", "it")).toDF("cust", "nat"))
    dim.delete(Seq(("c1", "")).toDF("cust", "nat"))
    mj.refresh(); ma.refresh()
    assert(agg == oracle)
    assert(agg(Some("it")) == ((1L, 5.0, 5.0, 5.0)) &&
      !agg.contains(None))

    // churn window 3: everything at once across a sink restart
    a.upsert(Seq(("o5", "c2", 50.0)).toDF("id", "cust", "v"))
    a.delete(Seq(("o2", "c2", 0.0)).toDF("id", "cust", "v"))
    dim.upsert(Seq(("c2", "fr-sud")).toDF("cust", "nat"))
    fold()
    assert(agg == oracle)
    assert(agg == Map(Some("fr-sud") -> ((2L, 61.0, 11.0, 50.0)),
      Some("it") -> ((1L, 5.0, 5.0, 5.0))))
  }
}
