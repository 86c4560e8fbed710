package graft.sources

import graft.SparkSpec
import graft.table.CowTable

/** SQL / DataSource-V2 reads of tables carrying deletion vectors: the
  * [[GraftDvReadRule]] rewrite must keep every read surface exact —
  * plain loads, filters (pushdown through the union), aggregates
  * (footer pushdown disabled while DVs exist), INSERT-SELECT sources,
  * and time travel.
  */
class DvReadRuleSpec extends SparkSpec {
  import spark.implicits._

  private def mkDvTable(dir: String): CowTable = {
    val t = new CowTable(spark, dir, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "ts",
      fileIndex = true, deleteVectors = true)
    t.bulkInsert((0 until 200)
      .map(i => (f"k$i%04d", s"p${i % 2}", 1L, i.toDouble))
      .toDF("id", "p", "ts", "v"), parallelism = 4)
    t.delete(Seq(("k0000", "p0"), ("k0003", "p1"), ("k0101", "p1"))
      .toDF("id", "p"))
    t
  }

  test("source read applies vectors; filters and pruning stay exact") {
    val t = mkDvTable(tmpDir("dvr"))
    val df = spark.read.format("graft").load(t.basePath)
    assert(df.count() == 197L)
    assert(df.filter($"id" === "k0000").isEmpty)
    // filter + projection through the union rewrite
    val got = df.filter($"p" === "p1" && $"v" < 10.0)
      .select("id").as[String].collect().toSet
    assert(got == Set("k0001", "k0005", "k0007", "k0009"),
      s"got $got") // k0003 deleted
  }

  test("SQL over a graft temp view applies vectors") {
    val t = mkDvTable(tmpDir("dvr-sql"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dvr_t USING graft " +
      s"OPTIONS (path '${t.basePath}')")
    assert(spark.sql("SELECT count(*) AS n FROM dvr_t")
      .as[Long].head() == 197L)
    assert(spark.sql(
      "SELECT count(*) AS n FROM dvr_t WHERE id = 'k0003'")
      .as[Long].head() == 0L)
    // aggregate over data columns stays exact (footer pushdown refused
    // while vectors exist — deleted rows must not count)
    val mn = spark.sql("SELECT min(v) AS mn FROM dvr_t").as[Double].head()
    assert(mn == 1.0, s"min must skip deleted k0000 (v=0.0): $mn")
  }

  test("INSERT INTO ... SELECT from a DV'd table copies live rows only") {
    val src = mkDvTable(tmpDir("dvr-ins-src"))
    val dstDir = tmpDir("dvr-ins-dst")
    new CowTable(spark, dstDir, keyCols = Seq("id"),
      partitionCols = Seq("p")).createEmpty(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("ts",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dvr_src USING graft " +
      s"OPTIONS (path '${src.basePath}')")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dvr_dst USING graft " +
      s"OPTIONS (path '$dstDir')")
    spark.sql("INSERT INTO dvr_dst SELECT id, p, ts, v FROM dvr_src")
    assert(CowTable.open(spark, dstDir).snapshot().count() == 197L)
  }

  test("versionAsOf before the delete reads the full snapshot") {
    val t = mkDvTable(tmpDir("dvr-tt"))
    val before = spark.read.format("graft")
      .option("versionAsOf", t.manifest.version - 1).load(t.basePath)
    assert(before.count() == 200L)
    // and at head, vectors apply
    assert(spark.read.format("graft").load(t.basePath).count() == 197L)
  }

  test("compaction folds vectors and restores the native scan path") {
    val t = mkDvTable(tmpDir("dvr-fold"))
    assert(t.compact(maxFilesPerUnit = 64)) // only DV'd units rewrite
    assert(t.manifest.dvs.isEmpty)
    val df = spark.read.format("graft").load(t.basePath)
    assert(df.count() == 197L)
    // no DV'd files left: the plan is the plain DSv2 scan again (no union)
    val hasUnion = df.queryExecution.optimizedPlan.exists(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Union])
    assert(!hasUnion, "folded table must read through the native scan")
  }

  test("deleteVectors flows through DDL: create, toggle, detail") {
    val wh = tmpDir("dv-ddl-wh")
    spark.conf.set("spark.sql.catalog.dvcat",
      "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.dvcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS dvcat.lake")
    spark.sql("""CREATE TABLE dvcat.lake.t (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id',
        'fileIndexEntries'='1000', 'deleteVectors'='true')""")
    spark.sql(
      "INSERT INTO dvcat.lake.t VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
    spark.sql("DELETE FROM dvcat.lake.t WHERE id = 2")
    val t = CowTable.open(spark, s"$wh/lake/t")
    assert(t.manifest.operation == "delete_vectored")
    assert(spark.sql("SELECT count(*) AS n FROM dvcat.lake.t")
      .collect().head.getLong(0) == 2L)
    // detail reports LIVE rows and the masked state
    val row = spark.sql("CALL dvcat.system.detail('lake.t')")
      .collect().head
    assert(row.getLong(row.fieldIndex("num_rows")) == 2L)
    assert(row.getLong(row.fieldIndex("num_dv_rows")) == 1L)
    assert(row.getLong(row.fieldIndex("num_dv_files")) >= 1L)
    // SQL UPDATE on a deleteVectors table takes the vectored path too
    spark.sql("UPDATE dvcat.lake.t SET v = v * 10 WHERE id = 1")
    val tu = CowTable.open(spark, s"$wh/lake/t")
    assert(tu.manifest.operation == "upsert_vectored")
    assert(spark.sql("SELECT v FROM dvcat.lake.t WHERE id = 1")
      .collect().head.getDouble(0) == 10.0)
    // toggle back to rewrite deletes; old vectors keep applying
    spark.sql("ALTER TABLE dvcat.lake.t SET TBLPROPERTIES " +
      "('deleteVectors'='false')")
    spark.sql("DELETE FROM dvcat.lake.t WHERE id = 3")
    val t2 = CowTable.open(spark, s"$wh/lake/t")
    assert(t2.manifest.operation == "delete")
    assert(spark.sql("SELECT id FROM dvcat.lake.t").collect()
      .map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("SQL DELETE and MERGE on a DV'd target keep working") {
    val t = mkDvTable(tmpDir("dvr-dml"))
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW dvr_m USING graft " +
      s"OPTIONS (path '${t.basePath}')")
    spark.sql("DELETE FROM dvr_m WHERE id = 'k0005'")
    // post-mutation state through the table API (the temp view pins its
    // creation-time snapshot — same contract as every source read)
    assert(t.snapshot().count() == 196L)
    // vectored routing applied to the SQL delete too
    assert(CowTable.open(spark, t.basePath).manifest
      .operation == "delete_vectored")
    // MERGE whose SOURCE is the DV'd table itself (self-merge through a
    // staged subset): deleted rows must not flow through the source side
    Seq(("k0000", "p0", 9L, -1.0), ("k0002", "p0", 9L, 42.0))
      .toDF("id", "p", "ts", "v").createOrReplaceTempView("dvr_stage")
    spark.sql(
      """MERGE INTO dvr_m t USING dvr_stage s ON t.id = s.id AND t.p = s.p
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val after = CowTable.open(spark, t.basePath).snapshot()
    // k0000 was DV-deleted → NOT matched → re-inserted; k0002 updated
    assert(after.filter($"id" === "k0000").select("v")
      .as[Double].head() == -1.0)
    assert(after.filter($"id" === "k0002").select("v")
      .as[Double].head() == 42.0)
    assert(after.count() == 197L)
  }
}
