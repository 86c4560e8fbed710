package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftStreamShim, SparkSession}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.OutputMode

import graft.table.CowTable

/** Native streaming sink behind `df.writeStream.format("graft")` — the
  * no-boilerplate spelling of [[GraftSink]]:
  *
  * {{{
  *   stream.writeStream.format("graft")
  *     .option("checkpointLocation", chk)
  *     .option("keyCols", "id")              // creation config, first batch
  *     .outputMode("update")                 // upsert-by-key semantics
  *     .start(tablePath)
  * }}}
  *
  * Each micro-batch lands through [[GraftSink.applyBatch]]: ONE atomic
  * table commit per batch, the applied batch id recorded in the commit's
  * manifest metrics, replays at-or-below the recorded high-water mark
  * skipped — exactly-once into the table with the table commit itself as
  * the transaction ledger. Batches carrying [[CowTable.ChangeTypeCol]]
  * (a change feed from `readStream.format("graft")
  * .option("includeChangeType", true)`) apply deletes and upserts as one
  * conditional merge, so CDC chains table-to-table end-to-end with no
  * foreachBatch in sight.
  *
  * Output modes: Append and Update both mean keyed upsert (the sink is
  * idempotent by key+precombine, the Hudi/Delta streaming-write
  * contract). Complete is refused — a fully re-emitted aggregate wants
  * [[graft.cdc.MaintainedAgg]] or an explicit foreachBatch overwrite,
  * not a silent full-table rewrite per trigger.
  *
  * The table is created by the first batch when absent, from the same
  * creation options the batch writer and CREATE TABLE take
  * ([[graft.table.CowTable.openOrCreate]]).
  */
final class GraftStreamSink(
    spark: SparkSession,
    path: String,
    parameters: Map[String, String],
    outputMode: OutputMode) extends Sink {

  require(outputMode != OutputMode.Complete(),
    "graft sink: Complete mode re-emits the whole result every trigger — " +
      "use update/append (keyed upsert), a MaintainedAgg, or foreachBatch " +
      "with overwrite")

  private val sink =
    new GraftSink(() => CowTable.openOrCreate(spark, path, parameters))

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // detach from the incremental plan (see GraftStreamShim) — the merge
    // paths run their own joins/aggregations over the batch
    sink.applyBatch(GraftStreamShim.asBatchDataFrame(data), batchId)
    ()
  }

  override def name(): String = s"graft-sink[$path]"
}
