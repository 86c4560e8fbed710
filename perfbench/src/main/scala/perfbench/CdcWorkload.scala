package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cdc.{CdcOps, CdcPipeline, TableConfig, WarehouseCatalog}
import graft.table.{CowTable, MorTable}

/** `cdc_cow` and `cdc_mor_rw`: the paper's pipeline, `CdcPipeline.run`, over
  * seeded DMS batches.
  *
  * `cdc_cow` skews updates and deletes to the newest partitions and reads
  * only a freshness probe (a new reader's count of the newest partition).
  * `cdc_mor_rw` spreads updates over all partitions of a merge-on-read
  * table (inline compaction every 20 delta commits) and runs a fixed read
  * set on the realtime view after every commit.
  */
final class CdcWorkload(ctx: Ctx, mor: Boolean) extends Workload(ctx) {
  import CdcWorkload._

  override def isCdc: Boolean = true

  val cfg = TableConfig("msrmt_db", "msrmt_schema", "msrmt_table",
    primaryKey = "measurement_id;measurement_date_time",
    partitionKey = "measurement_date",
    storageType = if (mor) "mor" else "cow",
    precombineField = "measurement_value",
    bulkInsertParallelism = ctx.cores, upsertParallelism = ctx.cores)

  // COW: the full load and five batches are eleven commits, so the
  // table's cleaner (keeping ten) drops a retained version on every
  // measured commit, as in a long-running ingest job. MOR: two inline
  // compactions (every 20 delta commits, two per batch, on measured
  // batches 7 and 17); a third cycle does not fit a run's 180 s.
  val warmups: Int = if (mor) 2 else 5
  val measuredBatches: Int = if (mor) MorMeasuredBatches else MeasuredBatches
  // a traced MOR run covers one compaction cycle (measured batch 7)
  override def tracedBatches: Int = if (mor) MorTracedBatches else measuredBatches
  private val gen = new CdcGen(ctx.seed, BaseRows, BasePartitions, BatchEvents,
    RollEvery, recentSkew = !mor)
  private val base = gen.base()
  private val batches = mutable.ArrayBuffer.empty[Seq[CdcEvent]]
  private val inputDir = ctx.dir("input")
  private val wh = ctx.dir("wh")
  private val model = new CdcModel
  private def pipeline = new CdcPipeline(spark, wh)
  private def tablePath = s"$wh/${cfg.relativePath}"
  private def reader: DataFrame = spark.read.format("graft").load(tablePath)

  def generate(): String = {
    selfCheck()
    Inputs.write(s"$inputDir/base.jsonl",
      base.map { case ((id, dt), r) => CdcGen.baseJson(id, dt, r) })
    (0 until warmups + measuredBatches).foreach { k =>
      batches += gen.nextBatch()
      Inputs.write(batchPath(k), batches(k).map(CdcGen.eventJson))
    }
    Files2.digest(inputDir)
  }

  /** FIXTURES.md §1a/§1b through the replay model: 190 rows, 100 in the
    * first partition (ids 100-109 at 100.00) and 90 in the second.
    */
  private def selfCheck(): Unit = {
    val (b, evs) = CdcGen.fixture()
    val m = new CdcModel
    m.load(b); m.apply(evs)
    val byDay = m.rows.values.groupBy(_.dateDay).map { case (d, v) => d -> v.size }
    val updated = m.rows.collect {
      case ((id, _), r) if id.stripPrefix("MeasurementID-").toInt < 110 =>
        r.valueCents
    }
    require(m.rows.size == 190 && byDay == Map(CdcGen.Day0 -> 100,
      (CdcGen.Day0 + 1) -> 90) && updated.size == 10 &&
      updated.forall(_ == 10000),
      s"CDC replay model self-check failed: ${m.rows.size} rows, $byDay")
  }

  private def readBase(): DataFrame =
    Inputs.read(spark, CdcGen.BaseSchema, s"$inputDir/base.jsonl")
  private def batchPath(k: Int) = Inputs.batchFile(s"$inputDir/batches", k)
  private def readBatch(k: Int): DataFrame =
    Inputs.read(spark, CdcGen.CdcSchema, batchPath(k))

  def setup(): Unit = {
    val p = pipeline
    p.run(cfg, readBase())
    (0 until warmups).foreach(k => p.run(cfg, readBatch(k)))
    model.load(base)
    (0 until warmups).foreach(k => model.apply(batches(k)))
  }

  // -------------------------------------------------------------- batches

  def runBatch(i: Int, tr: Option[Tracer]): Long = {
    val k = warmups + i
    tr match {
      case None => pipeline.run(cfg, readBatch(k))
      case Some(t) => tracedRun(t, readBatch(k))
    }
    batches(k).size.toLong
  }

  /** `CdcPipeline.run` on an existing table, one module call per span, in
    * `runIncremental`'s order. MOR compaction is the same "after a write,
    * at 20 pending delta commits" rule, called explicitly so it gets its
    * own span.
    */
  private def tracedRun(t: Tracer, raw: DataFrame): Unit = {
    val p = pipeline
    val table: CowTable =
      if (mor) new MorTable(spark, p.tablePath(cfg), cfg.pkCols,
        cfg.partitionCols, cfg.precombineField, compactEvery = 0)
      else p.tableFor(cfg)
    val df = CdcOps.lowercaseColumns(raw).persist(StorageLevel.MEMORY_AND_DISK)
    var latest: DataFrame = null
    try {
      val (ups, dels, hasUps, hasDels) = t.span("cdc.route") {
        df.count()
        require(!df.isEmpty && table.exists)
        latest = CdcOps.latestPerKey(df, cfg.pkCols)
          .persist(StorageLevel.MEMORY_AND_DISK)
        latest.count()
        val u = CdcOps.dropBookkeeping(CdcOps.nonDeletes(latest))
        val d = CdcOps.dropBookkeeping(CdcOps.deletes(latest))
        val hu = !u.isEmpty
        if (hu) u.count()
        val hd = !d.isEmpty
        if (hd) d.count()
        (u, d, hu, hd)
      }
      def compactIfDue(): Unit =
        if (mor && table.manifest.deltaCommits >= CompactEvery)
          t.span("table.compact") {
            table.asInstanceOf[MorTable].compactLogs(cfg.upsertParallelism)
            addBatch("table.compactions", 1)
          }
      if (hasUps) {
        t.span("table.write") { table.upsert(ups, cfg.upsertParallelism) }
        compactIfDue()
      }
      if (hasDels) {
        t.span("table.write") { table.delete(dels, cfg.upsertParallelism) }
        compactIfDue()
      }
      t.span("cdc.register") { table.registerView(p.viewName(cfg)) }
      t.span("cdc.catalog_sync") { new WarehouseCatalog(spark, wh).sync(cfg) }
    } finally {
      if (latest != null) latest.unpersist()
      df.unpersist()
    }
  }

  private var vBefore = 0L
  private var filesBefore = Map.empty[String, Long]

  override def beforeBatch(i: Int, traced: Option[Tracer]): Unit =
    if (traced.isDefined) {
      vBefore = CowTable.open(spark, tablePath).latestVersion.getOrElse(0L)
      filesBefore = dataFiles()
    }

  private def dataFiles(): Map[String, Long] =
    Files2.sizes(tablePath).filter { case (f, _) => !f.startsWith("_commits") }

  override def afterBatch(i: Int, traced: Option[Tracer]): Unit = {
    model.apply(batches(warmups + i))
    if (traced.isDefined) {
      val t = CowTable.open(spark, tablePath)
      val hist = t.history().filter(col("version") > vBefore).collect()
      addBatch("table.versions_per_batch",
        (t.latestVersion.getOrElse(0L) - vBefore).toDouble)
      for (key <- Seq("units_rewritten", "files_candidate", "files_kept")) {
        val v = hist.map(r => r.getMap[String, Long](7)
          .getOrElse(key, 0L)).sum
        addBatch(s"table.$key", v.toDouble)
      }
      val now = dataFiles()
      val newBytes = now.filter { case (f, _) => !filesBefore.contains(f) }
        .values.sum
      val inBytes = java.nio.file.Files.size(
        java.nio.file.Paths.get(batchPath(warmups + i)))
      addBatch("table.write_amp", newBytes.toDouble / inBytes)
    }
  }

  // ---------------------------------------------------------------- reads

  private val readRnd = new java.util.Random(ctx.seed * 31 + 7)

  def readSet(i: Int): Seq[ReadOp] = {
    val days = model.rows.valuesIterator.map(_.dateDay).toSet.toSeq.sorted
    if (!mor) {
      // freshness probes of a new reader: the newest two partitions, where
      // this workload's inserts, updates and deletes land, and keys of the
      // batch just committed
      val keys = batches(warmups + i).map(_.key).distinct
      val probe = (0 until LookupKeys).map(_ => keys(readRnd.nextInt(keys.size)))
      val ids = probe.map(_._1).distinct.sorted
      val expLookup = ids.flatMap(id => model.rows.collect {
        case ((`id`, dt), r) => canon(id, dt, r) }).sorted
      days.takeRight(2).reverse.map { d =>
        ReadOp("partition_count",
          () => reader.filter(col("measurement_date") === date(d)).count(),
          Some(model.rows.valuesIterator.count(_.dateDay == d).toLong))
      } :+ ReadOp("batch_key_lookup", () =>
        reader.filter(col("measurement_id").isin(ids: _*))
          .select("measurement_id", "measurement_date_time",
            "measurement_value", "measurement_date")
          .collect().map(canonRow).toSeq.sorted,
        Some(expLookup))
    } else {
      val d = days(readRnd.nextInt(days.size))
      val inDay = model.rows.valuesIterator.filter(_.dateDay == d).toSeq
      val keys = model.rows.keysIterator.toSeq
      val ids = (0 until LookupKeys).map(_ => keys(readRnd.nextInt(keys.size))._1)
        .distinct.sorted
      val expLookup = model.rows.toSeq.filter(kv => ids.contains(kv._1._1))
        .map { case ((id, dt), r) => canon(id, dt, r) }.sorted
      // a new reader of the realtime (read-time merged) view per read
      def realtime(): DataFrame =
        CowTable.open(spark, tablePath).asInstanceOf[MorTable].realtime()
      Seq(
        ReadOp("partition_agg", () => {
          val r = realtime().filter(col("measurement_date") === date(d))
            .agg(count(lit(1)), sum(col("measurement_value"))).head()
          (r.getLong(0), Option(r.getDecimal(1)).map(cents).getOrElse(0L))
        }, Some((inDay.size.toLong, inDay.map(_.valueCents.toLong).sum))),
        ReadOp("key_lookup", () =>
          realtime().filter(col("measurement_id").isin(ids: _*))
            .select("measurement_id", "measurement_date_time",
              "measurement_value", "measurement_date")
            .collect().map(canonRow).toSeq.sorted,
          Some(expLookup)),
        // the connector serves the read-optimized view of a MOR table:
        // base files as of the last compaction, which the replay model
        // does not track, so only the realtime reads are model-checked
        ReadOp("full_count", () => reader.count()))
    }
  }

  override def afterRead(op: ReadOp, wallS: Double): Unit =
    if (mor) {
      val m = CowTable.open(spark, tablePath).manifest
      val logs = m.logPartitions.valuesIterator.map(_.size).sum
      addRead("table.pending_logs", logs.toDouble)
      if (logs > 0) addRead("table.read_merge_s", wallS)
    }

  def filesInReadTables(): Long =
    CowTable.open(spark, tablePath).manifest.files.size.toLong

  // ---------------------------------------------------------- correctness

  def check(): Seq[String] = {
    val got = CowTable.open(spark, tablePath).snapshot()
      .select("measurement_id", "measurement_date_time", "measurement_value",
        "measurement_date").collect().map(canonRow)
    val exp = model.rows.iterator.map { case ((id, dt), r) => canon(id, dt, r) }
      .toSeq
    val (hg, he) = (orderFreeHash(got), orderFreeHash(exp))
    if (got.length == exp.size && hg == he) Nil
    else {
      val g = got.toSet; val e = exp.toSet
      Seq(s"final snapshot: ${got.length} rows hash $hg, model ${exp.size} " +
        s"rows hash $he; extra ${(g -- e).take(3)}, missing ${(e -- g).take(3)}")
    }
  }

  def storageBytesPerRow(): Double =
    Files2.bytesUnder(Seq(tablePath)).toDouble / model.rows.size
}

object CdcWorkload {
  val BaseRows = 20000
  val BasePartitions = 8
  val BatchEvents = 1000
  val RollEvery = 5
  val MeasuredBatches = 4
  val MorMeasuredBatches = 18
  val MorTracedBatches = 9
  val CompactEvery = 20
  val LookupKeys = 8

  def date(day: Int): java.sql.Date =
    java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(day.toLong))

  def cents(d: java.math.BigDecimal): Long =
    d.setScale(2).unscaledValue.longValueExact

  def canon(id: String, dt: Long, r: CdcRow): String =
    s"$id|$dt|${r.valueCents}|${r.dateDay}"

  def canonRow(r: Row): String = {
    val ts = r.getTimestamp(1)
    val us = Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000
    s"${r.getString(0)}|$us|${cents(r.getDecimal(2))}|" +
      s"${r.getDate(3).toLocalDate.toEpochDay}"
  }

  /** Sum of 64-bit row hashes: equal for equal multisets in any order. */
  def orderFreeHash(rows: Iterable[String]): Long = rows.iterator.map { s =>
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x7e5f1b33)
    (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
  }.sum
}
