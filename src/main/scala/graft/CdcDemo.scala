package graft

import graft.cdc.{CdcPipeline, GoldenFixtures, TableConfig}

/** Runnable end-to-end demo of the CDC engine's public API: replays the
  * reference's operational scenario (initial full load + incremental CDC
  * batch — SURVEY.md §3.2/§3.3) into a warehouse directory and prints the
  * resulting snapshot state. The inputs are the golden fixtures
  * ([[graft.cdc.GoldenFixtures]]), written afresh by each run.
  *
  * Usage: `sbt "runMain graft.CdcDemo /tmp/graft-wh [controlFile.json]"`
  * Re-running against an existing warehouse exercises the incremental branch
  * (the run is idempotent: same final state).
  *
  * `sbt "runMain graft.CdcDemo --stream /tmp/graft-swh"` instead drives the
  * Structured-Streaming bookmark path (graft.streaming.CdcStream): files are
  * staged into a raw dir one at a time with an AvailableNow pass after each.
  */
object CdcDemo {
  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--stream")) return streamMain(args.drop(1))
    val warehouse = args.headOption.getOrElse("/tmp/graft-warehouse")
    val controlFile = args.lift(1).getOrElse(GoldenFixtures.controlFile)
    val spark = GraftSession.builder(4).appName("graft-cdc-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val cfg = TableConfig.fromFile(controlFile).head
    val pipe = new CdcPipeline(spark, warehouse)
    println(s"[demo] table=${cfg.relativePath} pk=${cfg.pkCols.mkString(",")} " +
      s"partition=${cfg.partitionCols.mkString(",")} " +
      s"precombine=${cfg.precombineField}")

    val fullLoad = GoldenFixtures.fullLoad(spark)
    val cdcBatch = GoldenFixtures.cdcBatch(spark)

    val s1 = pipe.run(cfg, pipe.readRaw(Seq(fullLoad)))
    println(s"[demo] run#1 (full load): $s1")
    val s2 = pipe.run(cfg, pipe.readRaw(Seq(cdcBatch)))
    println(s"[demo] run#2 (cdc batch): $s2")

    val table = pipe.tableFor(cfg)
    val snap = table.snapshot()
    println(s"[demo] snapshot version=${table.manifest.version} " +
      s"rows=${snap.count()} partitions=${table.manifest.partitions.keySet}")
    snap.groupBy("measurement_date").count()
      .orderBy("measurement_date").show(truncate = false)
    snap.orderBy("measurement_id").show(5, truncate = false)
    spark.stop()
  }

  def streamMain(args: Array[String]): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val root = args.headOption.getOrElse("/tmp/graft-stream-demo")
    val (raw, wh, ckpt) = (s"$root/raw", s"$root/wh", s"$root/ckpt")
    Files.createDirectories(Paths.get(raw))
    val spark = GraftSession.builder(4).appName("graft-cdc-stream-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = TableConfig.fromFile(GoldenFixtures.controlFile).head
    val pipe = new CdcPipeline(spark, wh)
    val stream = new graft.streaming.CdcStream(spark, pipe, ckpt)
    val cdcFile = GoldenFixtures.cdcBatch(spark)
    val schema = spark.read.parquet(cdcFile).schema
    def pass(label: String): Unit = {
      stream.runAvailableNow(cfg, raw, schema)
      val n = if (pipe.tableFor(cfg).exists)
        pipe.tableFor(cfg).snapshot().count() else 0L
      println(s"[demo] $label -> table rows=$n")
    }
    Files.copy(Paths.get(GoldenFixtures.fullLoad(spark)),
      Paths.get(s"$raw/full.parquet"), StandardCopyOption.REPLACE_EXISTING)
    pass("pass#1 (full load staged)")
    Files.copy(Paths.get(cdcFile), Paths.get(s"$raw/cdc.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    pass("pass#2 (cdc staged)")
    pass("pass#3 (nothing new)")
    spark.stop()
  }
}
