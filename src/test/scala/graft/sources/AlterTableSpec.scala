package graft.sources

import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.SparkSpec
import graft.table.CowTable

/** SQL `ALTER TABLE` (metadata-only schema commits) and `TIMESTAMP AS OF`
  * time travel through the graft catalog.
  */
class AlterTableSpec extends SparkSpec {
  import spark.implicits._

  private lazy val wh = tmpDir("alter-wh")
  private def init(): Unit = {
    spark.conf.set("spark.sql.catalog.acat",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.acat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS acat.lake")
  }

  test("ADD COLUMNS null-fills stored rows; new writes carry the column") {
    init()
    spark.sql("""CREATE TABLE acat.lake.ac (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.ac VALUES (1, 1.0), (2, 2.0)")
    spark.sql(
      "ALTER TABLE acat.lake.ac ADD COLUMNS (note STRING, score INT)")

    // stored rows read back null for the added columns — no file rewrite
    val t = CowTable.open(spark, s"$wh/lake/ac")
    assert(t.manifest.operation == "alter_schema")
    assert(t.manifest.metrics.get("files_added").forall(_ == 0L))
    val before = spark.sql(
      "SELECT id, note, score FROM acat.lake.ac ORDER BY id")
      .as[(Long, Option[String], Option[Int])].collect()
    assert(before.toSeq == Seq((1L, None, None), (2L, None, None)))

    spark.sql(
      "INSERT INTO acat.lake.ac VALUES (3, 3.0, 'hi', 7)")
    val got = spark.sql(
      "SELECT id, v, note, score FROM acat.lake.ac ORDER BY id")
      .as[(Long, Double, Option[String], Option[Int])].collect()
    assert(got.toSeq == Seq((1L, 1.0, None, None), (2L, 2.0, None, None),
      (3L, 3.0, Some("hi"), Some(7))), got.mkString(", "))
  }

  test("ALTER COLUMN TYPE widens safely; lossy and keyed changes refuse") {
    init()
    spark.sql("""CREATE TABLE acat.lake.wd (id BIGINT, n INT, f FLOAT)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.wd VALUES (1, 10, CAST(1.5 AS FLOAT))")
    spark.sql("ALTER TABLE acat.lake.wd ALTER COLUMN n TYPE BIGINT")
    spark.sql("ALTER TABLE acat.lake.wd ALTER COLUMN f TYPE DOUBLE")

    val t = CowTable.open(spark, s"$wh/lake/wd")
    val sch = t.manifest.schema
    assert(sch("n").dataType == LongType && sch("f").dataType == DoubleType)
    // old int32/float parquet pages read through the widened schema
    val got = spark.sql("SELECT id, n, f FROM acat.lake.wd")
      .as[(Long, Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 10L, 1.5)))
    // and new writes mix with old files under one schema
    spark.sql(
      "INSERT INTO acat.lake.wd VALUES (2, 9999999999, 2.25)")
    assert(spark.sql("SELECT sum(n) FROM acat.lake.wd")
      .as[Long].head() == 10000000009L)

    // narrowing is refused
    intercept[Exception] {
      spark.sql("ALTER TABLE acat.lake.wd ALTER COLUMN n TYPE INT")
    }
    // key column type is fixed
    intercept[Exception] {
      spark.sql("ALTER TABLE acat.lake.wd ALTER COLUMN id TYPE DECIMAL(20,0)")
    }
    // lossy DDL is refused loudly (DROP COLUMN is legal — covered in its
    // own test — but a KEY column can never be dropped)
    intercept[Exception] {
      spark.sql("ALTER TABLE acat.lake.wd DROP COLUMN id")
    }
    // rename works (its own test) — but a COLLIDING rename refuses
    intercept[Exception] {
      spark.sql("ALTER TABLE acat.lake.wd RENAME COLUMN f TO n")
    }
    // NOT NULL add is refused (stored rows have no value)
    intercept[Exception] {
      spark.sql("ALTER TABLE acat.lake.wd ADD COLUMNS (x INT NOT NULL)")
    }
    // untouched by the refusals
    assert(CowTable.open(spark, s"$wh/lake/wd").manifest.schema == sch)
  }

  test("alterSchema on MOR applies to both read views") {
    init()
    spark.sql("""CREATE TABLE acat.lake.am (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id', 'storageType'='mor',
        'precombineField'='v')""")
    spark.sql("INSERT INTO acat.lake.am (id, v) VALUES (1, 1.0)")
    spark.sql("INSERT INTO acat.lake.am (id, v) VALUES (1, 2.0), (2, 1.0)")
    spark.sql("ALTER TABLE acat.lake.am ADD COLUMNS (tag STRING)")
    val t = CowTable.open(spark, s"$wh/lake/am")
      .asInstanceOf[graft.table.MorTable]
    assert(t.manifest.schema.fieldNames.contains("tag"))
    assert(t.realtime().columns.contains("tag"))
    val rt = t.realtime().selectExpr("id", "v", "tag")
      .as[(Long, Double, Option[String])].collect().toSet
    assert(rt == Set((1L, 2.0, None), (2L, 1.0, None)), rt)
  }

  test("widened stats column keeps pruning with valid bounds") {
    val dir = tmpDir("alter-stats")
    val t = new CowTable(spark, dir, keyCols = Seq("id"),
      partitionCols = Seq("p"),
      fileIndex = true, statsCols = Seq("n"))
    t.bulkInsert(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "p", "n"))
    t.alterSchema(widenCols = Seq("n" -> LongType))
    // stats recorded as int encode identically to long probes: the
    // range scan still prunes to the one file (= partition) overlapping
    // [15, 25] — a pruning regression would surface the n=10 row here
    val m = CowTable.openManifest(spark, dir)
    assert(m.schema("n").dataType == LongType)
    val got = t.snapshotForRange("n", 15L, 25L)
      .select($"id", $"n".cast("long")).as[(Long, Long)].collect()
    assert(got.toSeq == Seq((2L, 20L)))
  }

  test("TIMESTAMP AS OF resolves to the newest commit at or before t") {
    init()
    spark.sql("""CREATE TABLE acat.lake.tt (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.tt VALUES (1, 1.0)")
    val t = CowTable.open(spark, s"$wh/lake/tt")
    val afterV1 = t.manifest.commitTimeMs
    assert(afterV1 > 0, "commits must stamp wall-clock time")
    Thread.sleep(15)
    spark.sql("INSERT INTO acat.lake.tt VALUES (2, 2.0)")
    val afterV2 = t.manifest.commitTimeMs
    assert(afterV2 > afterV1)

    def at(ms: Long): Set[Long] = spark.sql(
      s"SELECT id FROM acat.lake.tt TIMESTAMP AS OF timestamp_millis($ms)")
      .as[Long].collect().toSet
    assert(at(afterV1) == Set(1L), "travel to the first commit")
    assert(at(afterV2) == Set(1L, 2L), "travel to the head commit")
    assert(at(afterV2 + 60000) == Set(1L, 2L), "future = head")
    // predating every retained commit errors rather than misreporting
    intercept[Exception] { at(afterV1 - 10000) }
    // version travel still works alongside (v1 = CREATE TABLE, empty)
    assert(spark.sql("SELECT id FROM acat.lake.tt VERSION AS OF 2")
      .as[Long].collect().toSet == Set(1L))
  }

  test("SET TBLPROPERTIES alters mutable knobs; structural ones refuse") {
    init()
    spark.sql("""CREATE TABLE acat.lake.sp (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.sp VALUES (1, 1.0)")

    // retention + index knobs stick and persist through open()
    spark.sql("""ALTER TABLE acat.lake.sp SET TBLPROPERTIES (
      'keepCommits'='25', 'fileIndex'='true',
      'statsCols'='v', 'bloomCols'='v')""")
    val re = CowTable.open(spark, s"$wh/lake/sp")
    assert(re.keepCommits == 25 && re.fileIndex &&
      re.statsCols == Seq("v") && re.bloomCols == Seq("v"),
      s"props: ${re.keepCommits}/${re.fileIndex}/${re.statsCols}")
    assert(re.manifest.operation == "alter_props")
    // the legacy integer spelling of the switch still reads as `> 0`
    spark.sql("""ALTER TABLE acat.lake.sp SET TBLPROPERTIES (
      'fileIndex'='false')""")
    assert(!CowTable.open(spark, s"$wh/lake/sp").fileIndex)
    spark.sql("""ALTER TABLE acat.lake.sp SET TBLPROPERTIES (
      'fileIndexEntries'='1000')""")
    assert(CowTable.open(spark, s"$wh/lake/sp").fileIndex)
    // a write through the reopened handle builds the new index
    spark.sql("INSERT INTO acat.lake.sp VALUES (2, 2.0)")
    val st = CowTable.open(spark, s"$wh/lake/sp").manifest.fileStats
    assert(st.values.exists(_.colStats.contains("v")),
      "post-DDL files carry the new stats")

    // ADD CONSTRAINT validates stored data first
    spark.sql("""ALTER TABLE acat.lake.sp SET TBLPROPERTIES (
      'checkConstraints'='v > 0')""")
    intercept[Exception] {
      spark.sql("INSERT INTO acat.lake.sp VALUES (3, -1.0)")
    }
    // a constraint stored data VIOLATES refuses at DDL time
    intercept[Exception] {
      spark.sql("""ALTER TABLE acat.lake.sp SET TBLPROPERTIES (
        'checkConstraints'='v > 100')""")
    }
    // structural knobs refuse loudly
    intercept[Exception] {
      spark.sql(
        "ALTER TABLE acat.lake.sp SET TBLPROPERTIES ('numBuckets'='8')")
    }
  }

  test("CALL system.history returns the timeline through SQL") {
    init()
    spark.sql("""CREATE TABLE acat.lake.h (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.h VALUES (1, 1.0)")
    spark.sql("ALTER TABLE acat.lake.h ADD COLUMNS (tag STRING)")
    val h = spark.sql("CALL acat.system.history(table => 'lake.h')")
      .collect()
    assert(h.length == 3, h.mkString(", "))
    assert(h.head.getLong(0) == 3L &&
      h.head.getString(2) == "alter_schema", h.head.toString)
    assert(h.last.getString(2) == "create")
    assert(h.forall(!_.isNullAt(1)), "commit_time stamped on every row")
    assert(h.head.getString(5).contains("columns_added=1"),
      s"metrics rendered: ${h.head.getString(5)}")
    val limited = spark.sql(
      "CALL acat.system.history(table => 'lake.h', limit => 1)").collect()
    assert(limited.length == 1 && limited.head.getLong(0) == 3L)
  }

  test("CALL system.partitions reports manifest stats per partition") {
    init()
    spark.sql("""CREATE TABLE acat.lake.pp (id BIGINT, p STRING,
      v DOUBLE) USING graft PARTITIONED BY (p)
      TBLPROPERTIES ('keyCols'='id', 'fileIndex'='true')""")
    spark.sql("INSERT INTO acat.lake.pp VALUES " +
      "(1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0)")
    val rows = spark.sql(
      "CALL acat.system.partitions(table => 'lake.pp')").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("p=a", "p=b"),
      rows.mkString(", "))
    val a = rows.find(_.getString(0) == "p=a").get
    assert(a.getLong(1) >= 1 && a.getLong(3) == 2L,
      s"p=a: files=${a.getLong(1)} rows=${a.get(3)}")
    assert(!a.isNullAt(4) && a.getLong(4) > 0L, "bytes from the index")
  }

  test("CALL system.diff_summary reports metadata-level version deltas") {
    init()
    spark.sql("""CREATE TABLE acat.lake.ds (id BIGINT, p STRING,
      v DOUBLE) USING graft PARTITIONED BY (p)
      TBLPROPERTIES ('keyCols'='id', 'fileIndex'='true')""")
    spark.sql("INSERT INTO acat.lake.ds VALUES " +
      "(1, 'a', 1.0), (2, 'a', 2.0), (3, 'b', 3.0)")          // v1
    spark.sql("INSERT INTO acat.lake.ds VALUES (4, 'b', 4.0)") // v2: p=b
    // v1 = CREATE, v2 = first insert, v3 = second insert
    val row = spark.sql("CALL acat.system.diff_summary(" +
      "table => 'lake.ds', from_version => 2)").collect().head
    assert(row.getLong(0) == 2L && row.getLong(1) == 3L)
    // the unmatched-keys insert fast path APPENDS to p=b without
    // rewriting its existing file: one added file with the one new row
    assert(row.getLong(2) == 1L, s"files_added: ${row.getLong(2)}")
    assert(row.getLong(3) == 0L, s"files_removed: ${row.getLong(3)}")
    assert(row.getLong(4) >= 2L, "p=a and p=b files carried unchanged")
    assert(!row.isNullAt(5) && row.getLong(5) == 1L,
      s"the added file holds row 4 only: ${row.get(5)}")
    assert(row.getLong(7) == 1L, s"one unit touched: ${row.getLong(7)}")
  }

  test("CALL system.publish adopts a staged clone from SQL") {
    init()
    spark.sql("""CREATE TABLE acat.lake.wm (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.wm VALUES (1, 1.0), (2, 2.0)")
    spark.sql("CALL acat.system.clone(table => 'lake.wm', " +
      "dest => 'lake.wm_stage')")
    spark.sql("INSERT INTO acat.lake.wm_stage VALUES (2, 20.0), (3, 3.0)")
    val res = spark.sql("CALL acat.system.publish(table => 'lake.wm', " +
      "staging => 'lake.wm_stage')").collect()
    assert(res.head.getString(0) == "published_from_version")
    val got = spark.sql("SELECT id, v FROM acat.lake.wm ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)), got.mkString(","))
  }

  test("CALL system.expire_commits applies time-based retention") {
    init()
    spark.sql("""CREATE TABLE acat.lake.ex (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.ex VALUES (1, 1.0)")
    val t = CowTable.open(spark, s"$wh/lake/ex")
    val cut = t.manifest.commitTimeMs + 1
    Thread.sleep(15)
    spark.sql("INSERT INTO acat.lake.ex VALUES (2, 2.0)")
    val out = spark.sql("CALL acat.system.expire_commits(" +
      s"table => 'lake.ex', older_than => '$cut')").collect()
    assert(out.head.getString(0) == "versions_expired" &&
      out.head.getLong(1) == 2L, out.mkString(", "))
    assert(spark.sql("SELECT count(*) FROM acat.lake.ex")
      .as[Long].head() == 2L, "data unaffected by expiry")
  }

  test("CALL system.savepoint pins and releases versions through SQL") {
    init()
    spark.sql("""CREATE TABLE acat.lake.sv (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.sv VALUES (1, 1.0)")
    val out = spark.sql(
      "CALL acat.system.savepoint(table => 'lake.sv', version => 2)")
      .collect()
    assert(out.head.getString(0) == "savepointed_version" &&
      out.head.getLong(1) == 2L)
    assert(CowTable.open(spark, s"$wh/lake/sv").savepoints() == Seq(2L))
    val rel = spark.sql("CALL acat.system.release_savepoint(" +
      "table => 'lake.sv', version => 2)").collect()
    assert(rel.head.getLong(1) == 1L)
    assert(CowTable.open(spark, s"$wh/lake/sv").savepoints().isEmpty)
  }

  test("versionAtTimestamp walks the retained timeline") {
    val dir = tmpDir("alter-ts")
    val t = new CowTable(spark, dir, keyCols = Seq("id"))
    t.bulkInsert(Seq((1L, "a")).toDF("id", "s"))
    val t1 = t.manifest.commitTimeMs
    Thread.sleep(15)
    t.upsert(Seq((2L, "b")).toDF("id", "s"))
    assert(t.versionAtTimestamp(t1) == 1L)
    assert(t.versionAtTimestamp(System.currentTimeMillis) ==
      t.manifest.version)
    assert(t.snapshotAt(t.versionAtTimestamp(t1)).count() == 1L)
    intercept[IllegalArgumentException] { t.versionAtTimestamp(t1 - 5000) }
  }

  test("DROP COLUMN is metadata-only; purge unlocks re-add without " +
    "resurrection") {
    init()
    spark.sql("""CREATE TABLE acat.lake.dc (id BIGINT, v DOUBLE,
      tag STRING) USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql(
      "INSERT INTO acat.lake.dc VALUES (1, 1.0, 'a'), (2, 2.0, 'b')")
    spark.sql("ALTER TABLE acat.lake.dc DROP COLUMN tag")
    val p = s"$wh/lake/dc"
    val t = CowTable.open(spark, p)
    assert(t.manifest.operation == "alter_schema")
    assert(t.manifest.metrics.get("files_added").forall(_ == 0L),
      "drop must not write data files")
    assert(t.manifest.droppedCols == Seq("tag"))
    assert(!t.snapshot().columns.contains("tag"))
    assert(spark.sql("SELECT * FROM acat.lake.dc").columns.toSeq ==
      Seq("id", "v"))
    // re-add while shadowed: refused (old files still hold the values;
    // the SQL path wraps the driver-side require)
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE acat.lake.dc ADD COLUMNS (tag STRING)")
    }
    def msgs(x: Throwable): String =
      if (x == null) "" else x.getMessage + "|" + msgs(x.getCause)
    assert(msgs(e).contains("purge"), msgs(e))
    // a write carrying the shadowed name: refused (surfacing exceptions
    // may wrap driver-side requires — match on the message)
    val bad = Seq((3L, 3.0, "c")).toDF("id", "v", "tag")
    val e2 = intercept[Exception] { t.upsert(bad) }
    def chain(x: Throwable): String =
      if (x == null) "" else x.getMessage + "|" + chain(x.getCause)
    assert(chain(e2).contains("DROPPED"), chain(e2))
    // purge rewrites the files and clears the shadow
    assert(t.purgeDroppedColumns())
    assert(t.manifest.droppedCols.isEmpty)
    assert(t.manifest.operation == "purge_dropped_columns")
    spark.sql("ALTER TABLE acat.lake.dc ADD COLUMNS (tag STRING)")
    val got = spark.sql(
      "SELECT id, v, tag FROM acat.lake.dc ORDER BY id")
      .as[(Long, Double, Option[String])].collect()
    assert(got.toSeq == Seq((1L, 1.0, None), (2L, 2.0, None)),
      s"purged values must NOT resurrect: ${got.mkString(", ")}")
    // SQL procedure surface: no-op after the purge (metric-row result)
    val purged = spark.sql(
      "CALL acat.system.purge_dropped_columns('lake.dc')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(purged("purged") == 0L, purged.toString)
  }

  test("CALL system.detail summarizes the table in one row") {
    init()
    spark.sql("""CREATE TABLE acat.lake.dt (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.dt VALUES (1, 1.0), (2, 2.0)")
    val row = spark.sql("CALL acat.system.detail('lake.dt')").collect().head
    def s(n: String) = row.getString(row.fieldIndex(n))
    def l(n: String) = row.getLong(row.fieldIndex(n))
    assert(s("storage_type") == "cow")
    assert(s("key_cols") == "id")
    assert(l("version") >= 2L)
    assert(l("num_files") >= 1L)
    assert(s("dropped_cols") == "")
  }

  test("CALL system.maintain bundles the housekeeping services") {
    init()
    spark.sql("""CREATE TABLE acat.lake.mt (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id', 'storageType'='mor',
        'precombineField'='v')""")
    spark.sql("INSERT INTO acat.lake.mt (id, v) VALUES (1, 1.0)")
    spark.sql("INSERT INTO acat.lake.mt (id, v) VALUES (1, 2.0), (2, 1.0)")
    val got = spark.sql("CALL acat.system.maintain('lake.mt')").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("logs_compacted") == 1L, got.toString)
    val t = CowTable.open(spark, s"$wh/lake/mt")
    assert(t.manifest.logPartitions.isEmpty)
    assert(t.snapshot().count() == 2)
  }

  test("RENAME COLUMN through SQL is metadata-only and keeps old files") {
    init()
    spark.sql("""CREATE TABLE acat.lake.rc (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO acat.lake.rc VALUES (1, 1.5), (2, 2.5)")
    spark.sql("ALTER TABLE acat.lake.rc RENAME COLUMN v TO score")
    val t = CowTable.open(spark, s"$wh/lake/rc")
    assert(t.manifest.operation == "rename_column")
    assert(t.manifest.metrics.get("files_added").forall(_ == 0L))
    spark.sql("INSERT INTO acat.lake.rc VALUES (3, 3.5)")
    val got = spark.sql(
      "SELECT id, score FROM acat.lake.rc ORDER BY id")
      .as[(Long, Double)].collect()
    assert(got.toSeq == Seq((1L, 1.5), (2L, 2.5), (3L, 3.5)),
      got.mkString(", "))
  }

  test("DROP COLUMN guards: keyed/cluster/constraint columns refuse, " +
    "stats columns unlist") {
    val t = new CowTable(spark, tmpDir("drop-guard"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("v", "w"),
      checkConstraints = Seq("v >= 0"))
    t.bulkInsert(Seq((1L, 2.0, 3.0, "x")).toDF("id", "v", "w", "tag"))
    intercept[IllegalArgumentException] {
      t.alterSchema(dropCols = Seq("id"))
    }
    intercept[IllegalArgumentException] { // constraint references v
      t.alterSchema(dropCols = Seq("v"))
    }
    intercept[IllegalArgumentException] { // no such column
      t.alterSchema(dropCols = Seq("nope"))
    }
    t.alterSchema(dropCols = Seq("w")) // stats col: drops + unlists
    val m = CowTable.openManifest(spark, t.basePath)
    assert(m.props.get.statsCols == Seq("v"))
    assert(m.droppedCols == Seq("w"))
    // feed/commit-stamp behavior: a reopened handle keeps writing fine
    // without the dropped column
    val t2 = CowTable.open(spark, t.basePath)
    t2.upsert(Seq((2L, 5.0, "y")).toDF("id", "v", "tag"))
    assert(t2.snapshot().columns.toSeq == Seq("id", "v", "tag"))
    assert(t2.snapshot().count() == 2L)
  }
}
