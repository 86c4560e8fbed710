package graft.sources

import graft.SparkSpec
import graft.cdc.GoldenFixtures
import graft.table.{CowTable, MorTable}
import org.apache.spark.sql.functions._

/** SQL mutation statements (MERGE INTO / UPDATE / DELETE) over graft
  * tables, driving the reference's golden CDC scenario from SQL text on
  * BOTH storage types. Table creation stays on the API (SQL
  * `CREATE TABLE ... USING graft` needs a catalog, out of scope);
  * every mutation is pure SQL through the injected resolution rule.
  */
class GraftSqlSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fullLoad = GoldenFixtures.fullLoad(spark)
  private lazy val cdcBatch = GoldenFixtures.cdcBatch(spark)

  /** The golden 190-row outcome, driven by one MERGE statement over the
    * W1-deduped CDC batch (Op routes deletes/updates/insert-gating).
    */
  private def goldenViaSql(path: String, mor: Boolean): CowTable = {
    val lower = spark.read.parquet(fullLoad)
      .toDF("measurement_id", "measurement_date_time",
        "measurement_value", "measurement_date")
    val t =
      if (mor) new MorTable(spark, path,
        keyCols = Seq("measurement_id", "measurement_date_time"),
        partitionCols = Seq("measurement_date"),
        precombineField = "measurement_value")
      else new CowTable(spark, path,
        keyCols = Seq("measurement_id", "measurement_date_time"),
        partitionCols = Seq("measurement_date"),
        precombineField = "measurement_value")
    t.bulkInsert(lower)
    assert(t.snapshot().count() == 100)

    spark.sql("CREATE OR REPLACE TEMPORARY VIEW golden_t USING graft " +
      s"OPTIONS (path '$path')")
    // W1 — latest CDC image per key by transaction order, lowercased;
    // tracked targets expose the commit-stamp column, so star-merges
    // carry it (value irrelevant — the commit stamps it)
    val verCol =
      if (mor) ", CAST(0 AS BIGINT) AS _graft_commit_version" else ""
    spark.sql(s"""
      CREATE OR REPLACE TEMPORARY VIEW golden_staged AS
      SELECT Op AS op, MEASUREMENT_ID AS measurement_id,
             MEASUREMENT_DATE_TIME AS measurement_date_time,
             MEASUREMENT_VALUE AS measurement_value,
             MEASUREMENT_DATE AS measurement_date$verCol
      FROM (
        SELECT *, row_number() OVER (
            PARTITION BY MEASUREMENT_ID, MEASUREMENT_DATE_TIME
            ORDER BY transaction_id DESC) AS rn
        FROM parquet.`$cdcBatch`) WHERE rn = 1""")

    spark.sql("""
      MERGE INTO golden_t t USING golden_staged s
        ON t.measurement_id = s.measurement_id
       AND t.measurement_date_time = s.measurement_date_time
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *""")
    t
  }

  private def checkGolden(t: CowTable): Unit = {
    val snap = t.snapshot()
    assert(snap.count() == 190, "golden outcome is 190 rows")
    // Op routing column must NOT have evolved into the table
    assert(!snap.columns.contains("op"),
      s"routing column leaked into the schema: ${snap.columns.toSeq}")
    val updated = snap
      .filter($"measurement_id".isin((100 to 109)
        .map(i => s"MeasurementID-$i"): _*))
      .select($"measurement_value".cast("string")).as[String].collect()
    assert(updated.length == 10 && updated.forall(_ == "100.00"),
      s"IDs 100-109 updated via SQL MERGE: ${updated.toSeq}")
    val ghosts = snap.filter($"measurement_id".isin((200 to 209)
      .map(i => s"MeasurementID-$i"): _*)).count()
    assert(ghosts == 0, "deduped D rows must not insert")
    assert(snap.filter($"measurement_date" ===
      lit("2022-05-02").cast("date")).count() == 90)
  }

  test("golden scenario driven from SQL MERGE — copy-on-write") {
    checkGolden(goldenViaSql(tmpDir("sql-golden-cow"), mor = false))
  }

  test("golden scenario driven from SQL MERGE — merge-on-read") {
    val t = goldenViaSql(tmpDir("sql-golden-mor"), mor = true)
    assert(t.manifest.storageType == "mor")
    checkGolden(t)
  }

  test("SQL UPDATE and DELETE statements hit the keyed write paths") {
    val path = tmpDir("sql-upd-del")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), precombineField = "v")
    t.bulkInsert(Seq(("k1", "p1", 1.0), ("k2", "p1", 2.0), ("k3", "p2", 3.0))
      .toDF("id", "p", "v"))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW ud_t USING graft " +
      s"OPTIONS (path '$path')")

    spark.sql("UPDATE ud_t SET v = v * 10 WHERE p = 'p1'")
    val afterUpdate = t.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap
    assert(afterUpdate == Map("k1" -> 10.0, "k2" -> 20.0, "k3" -> 3.0),
      s"UPDATE must rewrite only matching rows: $afterUpdate")

    spark.sql("DELETE FROM ud_t WHERE v > 15.0")
    val afterDelete = t.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap
    assert(afterDelete == Map("k1" -> 10.0, "k3" -> 3.0),
      s"DELETE must drop only matching keys: $afterDelete")

    // unsupported shapes fail loudly, not silently
    val ex = intercept[Exception] {
      spark.sql("MERGE INTO ud_t t USING ud_t s ON t.v = s.v " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(ex.getMessage.contains("key"),
      s"non-key ON must be rejected: ${ex.getMessage}")
  }

  test("partition-only SQL DELETE takes the metadata-only drop path") {
    val path = tmpDir("sql-pdel")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      partitionCols = Seq("p"), trackCommitVersions = true)
    t.bulkInsert(Seq(("k1", "p1", 1.0), ("k2", "p1", 2.0), ("k3", "p2", 3.0))
      .toDF("id", "p", "v"))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW pdel_t USING graft " +
      s"OPTIONS (path '$path')")

    spark.sql("DELETE FROM pdel_t WHERE p = 'p1'")
    assert(t.manifest.operation == "drop_partitions",
      "partition-only predicate must be a metadata-only drop, " +
        s"got ${t.manifest.operation}")
    assert(t.snapshot().select("id").as[String].collect().toSet
      == Set("k3"))
    // the feed still reports the dropped rows
    val dels = t.changeFeed(1L, t.manifest.version)
      .filter(col(CowTable.ChangeTypeCol) === "D")
      .select("id").as[String].collect().toSet
    assert(dels == Set("k1", "k2"))

    // a mixed predicate (row + partition columns) stays on the anti-join
    spark.sql("DELETE FROM pdel_t WHERE p = 'p2' AND v > 100.0")
    assert(t.manifest.operation == "delete",
      s"row-level predicate must not drop partitions: ${t.manifest.operation}")
    assert(t.snapshot().count() == 1L)
  }

  test("DELETE with no WHERE takes the metadata-only truncate path") {
    val path = tmpDir("sql-delall")
    val t = new CowTable(spark, path, keyCols = Seq("id"),
      trackCommitVersions = true)
    t.bulkInsert(Seq(("k1", 1.0), ("k2", 2.0)).toDF("id", "v"))
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW delall_t USING graft " +
      s"OPTIONS (path '$path')")
    spark.sql("DELETE FROM delall_t")
    assert(t.manifest.operation == "truncate",
      "unconditional DELETE must be one metadata-only commit, " +
        s"got ${t.manifest.operation}")
    assert(t.snapshot().count() == 0L)
    // the feed reports every row as deleted, so chained consumers drain
    val dels = t.changeFeed(1L, t.manifest.version)
      .filter(col(CowTable.ChangeTypeCol) === "D")
      .select("id").as[String].collect().toSet
    assert(dels == Set("k1", "k2"))
  }
}
