package graft.cdc

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The stateless row-level / window operators of the CDC dataflow.
  *
  * Each operator corresponds to an entry in SURVEY.md §2 with its reference
  * location cited. All are thin, codegen-friendly compositions of Spark
  * built-ins — no UDFs — so Catalyst can push filters into the Parquet scan
  * and keep the whole pipeline inside WholeStageCodegen.
  */
object CdcOps {

  /** CDC bookkeeping columns dropped before any write
    * (reference: processData.py:334).
    */
  val BookkeepingCols: Seq[String] =
    Seq("db", "op", "schema_name", "transaction_id", "seq_by_pk")

  /** Name of the dedup rank column (reference: processData.py:321). */
  val SeqByPk = "seq_by_pk"

  /** P1 — lowercase every column name (reference: processData.py:307-308). */
  def lowercaseColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(_.toLowerCase(Locale.ROOT)).toIndexedSeq: _*)

  /** P2 — drop CDC bookkeeping columns; like Spark's `drop`, tolerant of
    * columns that are absent (full-load files carry no CDC columns —
    * reference: processData.py:334,339).
    */
  def dropBookkeeping(df: DataFrame): DataFrame = df.drop(BookkeepingCols: _*)

  /** W1 — keep only the latest CDC event per primary key:
    * `ROW_NUMBER() OVER (PARTITION BY pk ORDER BY orderCol DESC) = 1`
    * (reference: processData.py:316-331; SQL text at :319-326).
    *
    * `orderCol` defaults to the DMS `transaction_id`, which is a fixed-width
    * digit string — ordering is deliberately STRING ordering, as in the
    * reference (SURVEY.md §7.4). Extra `tieBreak` columns may be appended for
    * deterministic results when order keys collide.
    *
    * The rank column `seq_by_pk` is retained (the reference keeps it until the
    * bookkeeping drop) — callers remove it via [[dropBookkeeping]].
    */
  def latestPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String = "transaction_id",
      tieBreak: Seq[Column] = Nil): DataFrame =
    rankPerKey(df, keyCols, orderCol, tieBreak).filter(col(SeqByPk) === 1)

  /** W1's ranking without its filter: every event, with `seq_by_pk` = 1
    * on the final event of its key. One frame then yields both the raw
    * event count and the deduped batch (`seq_by_pk` = 1).
    */
  def rankPerKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String = "transaction_id",
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol).desc +: tieBreak: _*)
    df.withColumn(SeqByPk, row_number().over(w))
  }

  /** W1 as a single aggregation: `max_by(row, order)` per key. Semantically
    * identical to [[latestPerKey]] when the order columns contain a unique
    * tie-break — but unlike a `row_number` window (which shuffles EVERY
    * event row), a hash aggregation gets map-side partial aggregation, so
    * at 100 TB each executor pre-collapses its events per key before the
    * shuffle. Use this form when the log has many events per key.
    */
  def latestPerKeyAgg(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[String]): DataFrame = {
    val payload = df.columns.filterNot(keyCols.contains).toIndexedSeq
    df.groupBy(keyCols.map(col): _*)
      .agg(max_by(
        struct(payload.map(col): _*),
        struct(orderCols.map(col).toIndexedSeq: _*)).as("__latest"))
      .select(keyCols.map(col) ++ payload.map(c => col(s"__latest.$c")): _*)
  }

  /** W1 via the SQL entry point, exactly as the reference issues it: register
    * the batch as temp view `inputStgDf_T` and run the dynamically-spliced
    * ROW_NUMBER query through parse/analyze/optimize
    * (reference: processData.py:317-327; SQL text :319-326). Semantically
    * identical to [[latestPerKey]] — kept for SQL-frontend fidelity and for
    * users who extend via SQL.
    */
  def latestPerKeySql(
      spark: org.apache.spark.sql.SparkSession,
      df: DataFrame,
      keyCols: Seq[String],
      orderCol: String = "transaction_id"): DataFrame = {
    df.createOrReplaceTempView("inputStgDf_T")
    val pkList = keyCols.mkString(", ")
    spark.sql(
      s"""SELECT * FROM (
         |  SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY $pkList ORDER BY $orderCol DESC) AS $SeqByPk
         |  FROM inputStgDf_T) ranked
         |WHERE $SeqByPk = 1""".stripMargin)
  }

  /** Hudi precombine semantics: among same-key rows within one batch, the row
    * with the greatest `precombineCol` value wins
    * (reference: hoodie.datasource.write.precombine.field, processData.py:161).
    */
  def precombine(
      df: DataFrame,
      keyCols: Seq[String],
      precombineCol: String,
      tieBreak: Seq[Column] = Nil): DataFrame = {
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(precombineCol).desc +: tieBreak: _*)
    df.withColumn("__pc_rn", row_number().over(w))
      .filter(col("__pc_rn") === 1)
      .drop("__pc_rn")
  }

  /** P3 — insert rows, `Op = 'I'` (reference: processData.py:350). */
  def inserts(df: DataFrame): DataFrame = df.filter(col("op") === "I")

  /** P4 — update rows, `Op = 'U'` (reference: processData.py:361). */
  def updates(df: DataFrame): DataFrame = df.filter(col("op") === "U")

  /** P5 — everything except deletes, `Op != 'D'`. SQL three-valued logic
    * means null-Op rows are dropped here AND by [[deletes]] — the reference
    * relies on exactly that (processData.py:365; SURVEY.md §7.4).
    */
  def nonDeletes(df: DataFrame): DataFrame = df.filter(col("op") =!= "D")

  /** P6 — delete rows, `Op = 'D'` (reference: processData.py:377). */
  def deletes(df: DataFrame): DataFrame = df.filter(col("op") === "D")
}
