package graft.table

import graft.SparkSpec

/** Write-time CHECK constraints: SQL semantics (TRUE/NULL pass, FALSE
  * fails the write), fused into the write scan, enforced on every path.
  */
class CheckConstraintSpec extends SparkSpec {
  import spark.implicits._

  test("violating rows fail the write; the commit never publishes") {
    val t = new CowTable(spark, tmpDir("chk"), keyCols = Seq("id"),
      checkConstraints = Seq("v > 0", "length(tag) <= 8"))
    t.bulkInsert(Seq((1L, 1.0, "ok")).toDF("id", "v", "tag"))
    val v1 = t.manifest.version

    val bad = intercept[Exception] {
      t.upsert(Seq((2L, -5.0, "ok")).toDF("id", "v", "tag"))
    }
    def rootMsg(e: Throwable): String = {
      var c: Throwable = e
      val sb = new StringBuilder(Option(c.getMessage).getOrElse(""))
      while (c.getCause != null) {
        c = c.getCause; sb.append(" | ").append(
          Option(c.getMessage).getOrElse(""))
      }
      sb.toString
    }
    assert(rootMsg(bad).contains("CHECK constraint violated"),
      s"clear error expected: ${rootMsg(bad).take(300)}")
    assert(t.manifest.version == v1, "failed write must not commit")
    assert(t.snapshot().count() == 1)

    intercept[Exception] {
      t.upsert(Seq((3L, 3.0, "waytoolongtag")).toDF("id", "v", "tag"))
    }
    assert(t.manifest.version == v1)

    // valid batch still lands after failures (no poisoned state)
    t.upsert(Seq((4L, 4.0, "fine")).toDF("id", "v", "tag"))
    assert(t.snapshot().count() == 2)
  }

  test("NULL passes (SQL semantics); absent-column batches pass") {
    val t = new CowTable(spark, tmpDir("chk-null"), keyCols = Seq("id"),
      precombineField = "", checkConstraints = Seq("v > 0"))
    t.bulkInsert(Seq((1L, Some(1.0)), (2L, Option.empty[Double]))
      .toDF("id", "v"))
    assert(t.snapshot().count() == 2, "null v passes the check")
    // delete batches carry identity columns only: v is absent, the
    // constraint passes vacuously and the delete applies
    t.delete(Seq(Tuple1(1L)).toDF("id"))
    assert(t.snapshot().count() == 1)
  }

  test("constraints persist through open() and enforce on MOR logs") {
    val dir = tmpDir("chk-open")
    val t = new MorTable(spark, dir, keyCols = Seq("id"),
      precombineField = "v", compactEvery = 0,
      checkConstraints = Seq("v >= 0"))
    t.bulkInsert(Seq((1L, 1.0)).toDF("id", "v"))
    val re = CowTable.open(spark, dir)
    assert(re.checkConstraints == Seq("v >= 0"),
      s"constraints lost on open: ${re.checkConstraints}")
    // the log-append path enforces too
    intercept[Exception] {
      re.upsert(Seq((2L, -1.0)).toDF("id", "v"))
    }
    assert(re.asInstanceOf[MorTable].realtime().count() == 1)
  }

  test("SQL: checkConstraints table property rejects bad INSERTs") {
    val wh = tmpDir("chk-wh")
    spark.conf.set("spark.sql.catalog.chkcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.chkcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS chkcat.lake")
    spark.sql("""CREATE TABLE chkcat.lake.c (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id',
        'checkConstraints'='v BETWEEN 0 AND 100')""")
    spark.sql("INSERT INTO chkcat.lake.c VALUES (1, 50.0)")
    intercept[Exception] {
      spark.sql("INSERT INTO chkcat.lake.c VALUES (2, 200.0)")
    }
    assert(spark.sql("SELECT count(*) FROM chkcat.lake.c")
      .as[Long].head() == 1L)
  }

  test("upsertQuarantine diverts violating rows instead of failing") {
    val t = new CowTable(spark, tmpDir("quar"), keyCols = Seq("id"),
      partitionCols = Seq("p"),
      checkConstraints = Seq("v >= 0", "p IN ('a', 'b')"))
    val qPath = tmpDir("quar-q") + "/q"
    t.bulkInsert(Seq((1L, "a", 1.0)).toDF("id", "p", "v"))
    val got = t.upsertQuarantine(Seq(
      (2L, "a", 2.0),   // clean
      (3L, "a", -5.0),  // violates v >= 0
      (4L, "z", 4.0)    // violates p IN (...)
    ).toDF("id", "p", "v"), qPath)
    assert(got == Map("applied" -> 1L, "quarantined" -> 2L), got.toString)
    assert(t.snapshot().select("id").as[Long].collect().toSet ==
      Set(1L, 2L))
    val q = CowTable.open(spark, qPath).snapshot()
    val labels = q.select("id", CowTable.ViolationCol)
      .as[(Long, String)].collect().toMap
    assert(labels == Map(3L -> "v >= 0", 4L -> "p IN ('a', 'b')"),
      labels.toString)
    // repeated offenders APPEND (audit log, not keyed replace)
    t.upsertQuarantine(Seq((3L, "a", -7.0)).toDF("id", "p", "v"), qPath)
    assert(CowTable.open(spark, qPath).snapshot()
      .filter($"id" === 3L).count() == 2L)
    // a clean batch quarantines nothing
    val clean = t.upsertQuarantine(
      Seq((5L, "b", 5.0)).toDF("id", "p", "v"), qPath)
    assert(clean == Map("applied" -> 1L, "quarantined" -> 0L))
  }
}
