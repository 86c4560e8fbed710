package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Write-audit-publish: stage on a zero-copy clone, audit, adopt the
  * staging state as one atomic commit on the main table.
  */
class WapSpec extends SparkSpec {
  import spark.implicits._

  test("publishFrom adopts audited staging state atomically, zero-copy") {
    val main = new CowTable(spark, tmpDir("wap-main"), keyCols = Seq("id"),
      partitionCols = Seq("p"))
    def df(rows: Seq[(String, String, Double)]) = rows.toDF("id", "p", "v")
    main.bulkInsert(df(Seq(("a", "x", 1), ("b", "x", 2), ("c", "y", 3))))
    val headBefore = main.manifest.version

    val stagingPath = tmpDir("wap-stage") + "/s"
    val staging = main.cloneTo(stagingPath)
    staging.upsert(df(Seq(("b", "x", 20), ("d", "y", 4))))
    staging.delete(df(Seq(("c", "y", 0))))
    // audit: no negative values may ship
    assert(staging.snapshot().filter(col("v") < 0).isEmpty)
    // main is untouched while staging diverges
    assert(main.snapshot().count() == 3)

    main.publishFrom(staging)
    val got = main.snapshot().select("id", "p", "v")
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(("a", "x", 1.0), ("b", "x", 20.0), ("d", "y", 4.0)),
      s"got $got")
    val h = main.history().select("version", "operation")
      .as[(Long, String)].collect()
    assert(h.head == ((headBefore + 1, "publish")), h.mkString(", "))
    // the publish wrote ONE manifest: no parquet landed under main after
    // the initial load (staging's new files are referenced, not copied)
    val mainFiles = main.manifest.baseFiles
    assert(mainFiles.exists(f => f.contains(stagingPath)),
      "staging-written files must be adopted by reference")
    // diff across the publish classifies the staged changes exactly
    val d = main.diff(headBefore, headBefore + 1)
    val byType = d.select(col(CowTable.ChangeTypeCol), col("id"))
      .as[(String, String)].collect().toSet
    assert(byType == Set(("C", "b"), ("A", "d"), ("R", "c")), s"$byType")
  }

  test("a concurrent main commit aborts the publish — no lost update") {
    val main = new CowTable(spark, tmpDir("wap-race"), keyCols = Seq("id"),
      partitionCols = Seq("p"))
    def df(rows: Seq[(String, String, Double)]) = rows.toDF("id", "p", "v")
    main.bulkInsert(df(Seq(("a", "x", 1), ("c", "y", 3))))
    val staging = main.cloneTo(tmpDir("wap-race-stage") + "/s")
    staging.upsert(df(Seq(("a", "x", 10))))
    // an unaudited writer lands on main AFTER the staging clone — even in
    // a different partition, the snapshot-level publish must abort
    main.upsert(df(Seq(("e", "y", 5))))
    intercept[ConcurrentWriteException] { main.publishFrom(staging) }
    val got = main.snapshot().select("id", "v")
      .as[(String, Double)].collect().toSet
    assert(got == Set(("a", 1.0), ("c", 3.0), ("e", 5.0)),
      "main keeps its own committed state")
  }

  test("two racing publishers: exactly one wins, the loser aborts clean") {
    val main = new CowTable(spark, tmpDir("wap-2r"), keyCols = Seq("id"))
    main.bulkInsert(Seq(("a", 1.0), ("b", 2.0)).toDF("id", "v"))
    val s1 = main.cloneTo(tmpDir("wap-2r-s1") + "/s")
    val s2 = main.cloneTo(tmpDir("wap-2r-s2") + "/s")
    s1.upsert(Seq(("a", 10.0)).toDF("id", "v"))
    s2.upsert(Seq(("b", 20.0)).toDF("id", "v"))
    val gate = new java.util.concurrent.CountDownLatch(1)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = Seq(s1, s2).zipWithIndex.map { case (st, i) =>
      new Thread(() => {
        gate.await()
        try { main.publishFrom(st); outcomes.add(s"win$i") }
        catch { case _: ConcurrentWriteException => outcomes.add(s"abort$i") }
      })
    }
    threads.foreach(_.start()); gate.countDown()
    threads.foreach(_.join(120000))
    val res = outcomes.toArray.map(_.toString).toSet
    assert(res == Set("win0", "abort1") || res == Set("abort0", "win1"),
      s"exactly one publisher must win: $res")
    val got = main.snapshot().select("id", "v")
      .as[(String, Double)].collect().toSet
    val winnerState =
      if (res.contains("win0")) Set(("a", 10.0), ("b", 2.0))
      else Set(("a", 1.0), ("b", 20.0))
    assert(got == winnerState, s"main must hold ONLY the winner's state: $got")
  }

  test("publishFrom refuses a staging table with different identity") {
    val main = new CowTable(spark, tmpDir("wap-id"), keyCols = Seq("id"))
    main.bulkInsert(Seq(("a", 1.0)).toDF("id", "v"))
    val other = new CowTable(spark, tmpDir("wap-id2"), keyCols = Seq("v"))
    other.bulkInsert(Seq(("a", 1.0)).toDF("id", "v"))
    intercept[IllegalArgumentException] { main.publishFrom(other) }
  }

  test("a staging vectored delete in an inherited file survives publish") {
    val main = new CowTable(spark, tmpDir("wap-dv-main"),
      keyCols = Seq("id"), partitionCols = Seq("p"), deleteVectors = true)
    def df(rows: Seq[(String, String, Double)]) = rows.toDF("id", "p", "v")
    main.bulkInsert(df(Seq(("a", "x", 1), ("b", "x", 2), ("c", "y", 3))))
    val staging = main.cloneTo(tmpDir("wap-dv-stage") + "/s")
    staging.delete(df(Seq(("a", "x", 0))))
    assert(staging.manifest.dvs.nonEmpty, "the delete is vectored")
    main.publishFrom(staging)
    // the vector's sidecar lives under staging: main must read it there
    val got = main.snapshot().select("id").as[String].collect().toSet
    assert(got == Set("b", "c"), s"got $got")
  }

  test("a staging vectored delete in a staging-written file survives " +
      "publish") {
    val main = new CowTable(spark, tmpDir("wap-dv2-main"),
      keyCols = Seq("id"), partitionCols = Seq("p"), deleteVectors = true)
    def df(rows: Seq[(String, String, Double)]) = rows.toDF("id", "p", "v")
    main.bulkInsert(df(Seq(("a", "x", 1), ("c", "y", 3))))
    val staging = main.cloneTo(tmpDir("wap-dv2-stage") + "/s")
    staging.upsert(df(Seq(("d", "y", 4), ("e", "y", 5))))
    staging.delete(df(Seq(("d", "y", 0))))
    assert(staging.manifest.dvs.keys.exists(f => !f.startsWith("/") &&
      !f.contains(":")), "the vector is on a file staging wrote")
    main.publishFrom(staging)
    val got = main.snapshot().select("id").as[String].collect().toSet
    assert(got == Set("a", "c", "e"), s"the deleted row came back: $got")
    assert(main.fastCount().forall(_ == 3L), s"${main.fastCount()}")
  }
}
