package graft.cdc

import org.scalatest.funsuite.AnyFunSuite

class TableConfigSpec extends AnyFunSuite {

  val refJson =
    """{ "db_name": "msrmt_db", "schema_name": "msrmt_schema",
      |  "table_name": "msrmt_table",
      |  "primary_key": "measurement_id;measurement_date_time",
      |  "partition_key": "measurement_date",
      |  "hudi_storage_type": "cow",
      |  "glue_job_name": "MeterMeasurementsHudiProcessingJob",
      |  "precombine_field": "measurement_value",
      |  "dms_full_load_partitioned": "no",
      |  "hudi_bulkinsert_shuffle_parallelism": "3",
      |  "hudi_upsert_shuffle_parallelism": "2",
      |  "cdc_split_upsert": "no" }""".stripMargin

  test("parses the reference control record shape") {
    val Seq(cfg) = TableConfig.fromJson(refJson)
    assert(cfg.dbName == "msrmt_db")
    assert(cfg.pkCols == Seq("measurement_id", "measurement_date_time"))
    assert(cfg.isCompositePk)
    assert(cfg.partitionCols == Seq("measurement_date"))
    assert(cfg.isPartitioned)
    assert(cfg.precombineField == "measurement_value")
    assert(cfg.bulkInsertParallelism == 3 && cfg.upsertParallelism == 2)
    assert(!cfg.cdcSplitUpsert)
    assert(cfg.numBuckets == 0, "absent graft_num_buckets defaults to 0")
    assert(cfg.relativePath == "msrmt_db/msrmt_schema/msrmt_table")
    assert(cfg.catalogDb == "dl_msrmt_db_msrmt_schema")
  }

  test("splitKeys handles ';', ',', whitespace, 'none', empty") {
    assert(TableConfig.splitKeys("a;b") == Seq("a", "b"))
    assert(TableConfig.splitKeys("a, b ,c") == Seq("a", "b", "c"))
    assert(TableConfig.splitKeys("none") == Nil)
    assert(TableConfig.splitKeys("") == Nil)
    assert(TableConfig.splitKeys(null) == Nil)
  }

  test("array control file + forJob filter") {
    val cfgs = TableConfig.fromJson(s"[$refJson, $refJson]")
    assert(cfgs.length == 2)
    assert(TableConfig.forJob(cfgs, "MeterMeasurementsHudiProcessingJob")
      .length == 2)
    assert(TableConfig.forJob(cfgs, "other").isEmpty)
  }

  test("graft_num_buckets extension parses when present") {
    val withBuckets = refJson.stripSuffix("}") +
      ""","graft_num_buckets": "64" }"""
    val Seq(cfg) = TableConfig.fromJson(withBuckets)
    assert(cfg.numBuckets == 64)
  }

  test("parses the actual reference control file") {
    val cfgs =
      TableConfig.fromFile(GoldenFixtures.controlFile)
    assert(cfgs.nonEmpty)
    assert(cfgs.head.tableName.nonEmpty)
  }
}
