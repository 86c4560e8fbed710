package graft.streaming

import graft.SparkSpec
import graft.table.CowTable
import org.apache.spark.sql.functions._

/** Native `writeStream.format("graft")` sink — the V1 StreamSinkProvider
  * spelling of [[GraftSink]]. Uses a parquet file stream source (same
  * deterministic pattern as GraftSinkSpec) rather than sleeps.
  */
class GraftStreamSinkSpec extends SparkSpec {
  import spark.implicits._

  test("writeStream.format(graft) creates, upserts, and survives restart") {
    val src = tmpDir("wss-src")
    val path = tmpDir("wss-table")
    val chk = tmpDir("wss-ckpt")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    def run(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("graft")
        .option("checkpointLocation", chk)
        .option("keyCols", "id")
        .outputMode("update")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(path)
      q.awaitTermination()
    }
    run()
    val t = CowTable.open(spark, path)
    assert(t.snapshot().as[(Long, Double)].collect().toMap ==
      Map(1L -> 1.0, 2L -> 2.0))
    assert(t.manifest.metrics(GraftSink.BatchIdKey) == 0L)

    // second run: new file upserts key 2, inserts key 3 — and the
    // checkpoint restart must not replay batch 0
    Seq((2L, 20.0), (3L, 3.0)).toDF("id", "v")
      .write.mode("append").parquet(src)
    run()
    val t2 = CowTable.open(spark, path)
    assert(t2.snapshot().as[(Long, Double)].collect().toMap ==
      Map(1L -> 1.0, 2L -> 20.0, 3L -> 3.0))

    // nothing new: a third run commits no batch
    val vBefore = t2.manifest.version
    run()
    assert(CowTable.open(spark, path).manifest.version == vBefore)
  }

  test("a first stream batch creates the table with every creation option") {
    val src = tmpDir("wsp-src")
    val path = tmpDir("wsp-table")
    Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v")
      .write.mode("append").parquet(src)
    val q = spark.readStream.schema(spark.read.parquet(src).schema)
      .parquet(src)
      .writeStream.format("graft")
      .option("checkpointLocation", tmpDir("wsp-ckpt"))
      .option("keyCols", "id").option("numBuckets", "4")
      .option("fileIndex", "true")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(path)
    q.awaitTermination()
    val p = CowTable.open(spark, path).manifest.props.get
    assert(p.numBuckets == 4 && p.fileIndex, s"props: $p")
  }

  test("windowed stream aggregation converges through update-mode upsert") {
    val src = tmpDir("wsa-src")
    val path = tmpDir("wsa-table")
    val chk = tmpDir("wsa-ckpt")
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    Seq((ts(1), "a", 1.0), (ts(2), "a", 2.0), (ts(12), "b", 5.0))
      .toDF("ts", "user", "v").write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    // a 1-hour delay keeps the second delivery's 10:03 event inside the
    // watermark (with 0s it is correctly DROPPED as late — streaming
    // semantics, not a sink bug)
    def run(): Unit = spark.readStream.schema(schema).parquet(src)
      .withWatermark("ts", "1 hour")
      .groupBy(window($"ts", "10 minutes"), $"user")
      .agg(count(lit(1)).as("n"), sum($"v").as("total"))
      .select($"window.start".as("ws"), $"user", $"n", $"total")
      .writeStream.format("graft")
      .option("checkpointLocation", chk)
      .option("keyCols", "ws,user")
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(path).awaitTermination()
    run()
    // second delivery updates window 10:00/a and adds 10:10/a
    Seq((ts(3), "a", 4.0), (ts(15), "a", 7.0))
      .toDF("ts", "user", "v").write.mode("append").parquet(src)
    run()
    val got = CowTable.open(spark, path).snapshot()
      .select($"ws", $"user", $"n", $"total")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .map(r => (r._1.toString, r._2, r._3, r._4)).sortBy(x => (x._1, x._2))
    val want = spark.read.parquet(src)
      .groupBy(window($"ts", "10 minutes"), $"user")
      .agg(count(lit(1)).as("n"), sum($"v").as("total"))
      .select($"window.start".as("ws"), $"user", $"n", $"total")
      .as[(java.sql.Timestamp, String, Long, Double)].collect()
      .map(r => (r._1.toString, r._2, r._3, r._4)).sortBy(x => (x._1, x._2))
    assert(got.toSeq == want.toSeq,
      s"streamed ${got.toSeq} vs batch ${want.toSeq}")
  }

  test("complete mode and partitionBy refuse loudly") {
    val src = tmpDir("wss-src2")
    Seq((1L, "a")).toDF("id", "g").write.mode("append").parquet(src)
    val schema = spark.read.parquet(src).schema
    val agg = spark.readStream.schema(schema).parquet(src)
      .groupBy($"g").agg(count(lit(1)).as("n"))
    val e = intercept[Exception] {
      agg.writeStream.format("graft")
        .option("checkpointLocation", tmpDir("wss-ckpt2"))
        .option("keyCols", "g")
        .outputMode("complete")
        .start(tmpDir("wss-t2"))
    }
    def msgs(x: Throwable): String =
      if (x == null) "" else x.getMessage + "|" + msgs(x.getCause)
    assert(msgs(e).toLowerCase.contains("complete"), msgs(e))
  }
}
