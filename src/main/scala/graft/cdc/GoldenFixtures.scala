package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, ZoneOffset}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The golden CDC scenario's three input files (FIXTURES.md §1), written
  * deterministically into one temp directory per JVM:
  *
  *   - `control_file.json`: the one control record (FIXTURES.md §1c);
  *   - `measurement_data_fullload.parquet`: 100 rows, IDs 100-199 on
  *     2022-05-01, UPPERCASE columns, `decimal(5,2)` values in 4.60-59.10;
  *   - `measurement_data_cdc.parquet`: 120 DMS-shaped rows (`Op`, a 35-digit
  *     `transaction_id`) — 100 `I` (IDs 200-299 on 2022-05-02), 10 `U`
  *     setting IDs 100-109 to 100.00 at their full-load timestamps, and 10
  *     `D` for IDs 200-209 with the same composite key as their `I` rows
  *     and a higher `transaction_id`.
  *
  * Replaying the full load and then the CDC batch yields the golden 190
  * rows. The control file needs no Spark; the parquet files are written
  * through the caller's session on first use.
  */
object GoldenFixtures {

  private lazy val dir: Path = {
    val d = Files.createTempDirectory("graft-golden-")
    d.toFile.deleteOnExit() // registered first, so deleted after its files
    d
  }

  private def file(name: String): Path = {
    val p = dir.resolve(name)
    p.toFile.deleteOnExit()
    p
  }

  lazy val controlFile: String = {
    val json =
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
        |  "cdc_split_upsert": "no" }
        |""".stripMargin
    val p = file("control_file.json")
    Files.write(p, json.getBytes(StandardCharsets.UTF_8))
    p.toString
  }

  def fullLoad(spark: SparkSession): String = parquetFiles(spark)._1
  def cdcBatch(spark: SparkSession): String = parquetFiles(spark)._2

  private var written: Option[(String, String)] = None

  private def parquetFiles(spark: SparkSession): (String, String) =
    synchronized {
      written.getOrElse {
        val full = writeParquet(fullLoadRows(spark),
          "measurement_data_fullload.parquet")
        val cdc = writeParquet(cdcRows(spark), "measurement_data_cdc.parquet")
        written = Some((full, cdc))
        (full, cdc)
      }
    }

  /** One measurement per id in `[from, until)`, ten minutes apart from
    * midnight UTC of `day`; the value depends on the id only.
    */
  private def measurements(spark: SparkSession, from: Long, until: Long,
      day: String): DataFrame = {
    val midnight =
      LocalDate.parse(day).atStartOfDay(ZoneOffset.UTC).toEpochSecond
    spark.range(from, until, 1, 1).select(
      col("id"),
      concat(lit("MeasurementID-"), col("id")).as("MEASUREMENT_ID"),
      timestamp_seconds(lit(midnight) + (col("id") - from) * 600)
        .as("MEASUREMENT_DATE_TIME"),
      ((lit(460) + (col("id") * 37 % 546) * 10) / 100)
        .cast("decimal(5,2)").as("MEASUREMENT_VALUE"),
      to_date(lit(day)).as("MEASUREMENT_DATE"))
  }

  private val Payload = Seq("MEASUREMENT_ID", "MEASUREMENT_DATE_TIME",
    "MEASUREMENT_VALUE", "MEASUREMENT_DATE")

  private def fullLoadRows(spark: SparkSession): DataFrame =
    measurements(spark, 100, 200, "2022-05-01").select(Payload.map(col): _*)

  private def cdcRows(spark: SparkSession): DataFrame = {
    // transaction_id: a fixed 14-digit stamp + a 21-digit sequence number
    def dms(df: DataFrame, op: String, seq: Column): DataFrame =
      df.select(lit(op).as("Op") +: Payload.map(col) :+
        format_string("20220614225126%021d", seq).as("transaction_id"): _*)
    val inserts = measurements(spark, 200, 300, "2022-05-02")
    val updates = measurements(spark, 100, 110, "2022-05-01")
      .withColumn("MEASUREMENT_VALUE", lit("100.00").cast("decimal(5,2)"))
    dms(inserts, "I", col("id") - 199) // 1..100
      .unionByName(dms(updates, "U", col("id") + 1)) // 101..110
      .unionByName(dms(inserts.filter(col("id") < 210), "D",
        col("id") - 89)) // 111..120
  }

  /** Writes `rows` as ONE parquet file named `name` (not a directory), so
    * specs can copy it into a raw layout.
    */
  private def writeParquet(rows: DataFrame, name: String): String = {
    val staging = dir.resolve(s"_$name")
    rows.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val files = staging.toFile.listFiles()
    val part = files.find(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    val target = file(name)
    Files.move(part.toPath, target)
    files.filter(_.exists).foreach(_.delete())
    Files.delete(staging)
    target.toString
  }
}
