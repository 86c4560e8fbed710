package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.SparkSession

/** Benchmark driver: one workload, one seed, one run.
  *
  * {{{
  * perfbench.Main --workload cdc_cow --seed 1 --seconds 10 --trace 0 \
  *   --work <scratch dir> --out <result json>
  * }}}
  *
  * Load model: closed loop on one driver thread. Each measured batch starts
  * when the previous batch and its reads are done; reads run between
  * commits. Spark runs `local[cores]` with `cores` shuffle partitions. A
  * workload measures a fixed number of batches, so every run does the same
  * work whatever its speed; reads then fill the rest of the window.
  *
  * `--trace 0` reports the end-to-end metrics. `--trace 1` builds two
  * copies of the workload from the same inputs and applies every batch (and
  * read) to both, one traced and one not, on identical state; it reports the
  * per-layer metrics of the traced copy, the tracing overhead against the
  * untraced one, and writes the spans next to the result.
  */
object Main {
  val Workloads = Seq("cdc_cow", "cdc_mor_rw", "ivm_chain", "corpus_arrival")

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, out: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    val w = need("--workload")
    require(Workloads.contains(w), s"unknown workload $w; one of $Workloads")
    Opts(w, need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--out"))
  }

  def session(o: Opts, cores: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/spark-warehouse")
    if (o.trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFs].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (o.trace) {
      // a `file:` instance cached before the session existed would bypass
      // the counting implementation
      val uri = new java.net.URI("file:///")
      if (!FileSystem.get(uri, s.sparkContext.hadoopConfiguration)
          .isInstanceOf[CountingLocalFs]) FileSystem.closeAll()
      require(FileSystem.get(uri, s.sparkContext.hadoopConfiguration)
        .isInstanceOf[CountingLocalFs], "counting file system not installed")
    }
    s
  }

  def make(name: String, ctx: Ctx): Workload = name match {
    case "cdc_cow" => new CdcWorkload(ctx, mor = false)
    case "cdc_mor_rw" => new CdcWorkload(ctx, mor = true)
    case "ivm_chain" => new IvmWorkload(ctx)
    case "corpus_arrival" => new CorpusWorkload(ctx)
  }

  private def say(s: String): Unit = { println(s"[perfbench] $s"); Console.flush() }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    new File(o.work).mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val t0 = System.nanoTime()
    val spark = session(o, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    def copy(dir: String) = make(o.workload, new Ctx(spark, dir, o.seed, cores))
    // a traced run keeps an untraced twin of the workload, built from the
    // same inputs, as the equal-work reference of the tracing overhead
    val wl = copy(s"${o.work}/main")
    val twin = if (o.trace) Some(copy(s"${o.work}/twin")) else None
    val code =
      try run(o, wl, twin, sessionS)
      finally spark.stop()
    sys.exit(code)
  }

  private def run(o: Opts, wl: Workload, twin: Option[Workload],
      sessionS: Double): Int = {
    val spark = wl.spark
    val tGen = System.nanoTime()
    val digest = wl.generate()
    twin.foreach(tw => require(tw.generate() == digest,
      "the twin's inputs differ from the workload's"))
    val genS = (System.nanoTime() - tGen) / 1e9
    say(s"workload=${o.workload} seed=${o.seed} seconds=${o.seconds} " +
      s"trace=${if (o.trace) 1 else 0} cores=${wl.ctx.cores} " +
      f"session_start_s=$sessionS%.3f inputs_sha256=$digest")

    // set-up ends with one read of each kind in the read set, so the
    // measured reads do not pay the read path's first-use cost; setup_s
    // runs from session start to here, less input generation
    def setUp(w: Workload): Double = {
      val t = System.nanoTime()
      w.setup()
      w.readSet(-1).groupBy(_.name).values.foreach(_.head.run())
      (System.nanoTime() - t) / 1e9
    }
    val setupS = sessionS + setUp(wl)
    twin.foreach(setUp)
    val tr = if (o.trace) Some(new Tracer(spark)) else None

    // ---------------------------------------------------------- measured phase
    val batchS = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val readS = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val batchSpans = mutable.ArrayBuffer.empty[Int]
    var rows = 0L
    var attempted = 0L
    var failed = 0L
    val readResults = mutable.ArrayBuffer.empty[(ReadOp, Any)]
    val batchLocal = mutable.LinkedHashMap.empty[String, Double]
    def addLocal(k: String, v: Double): Unit =
      batchLocal(k) = batchLocal.getOrElse(k, 0.0) + v
    var tracedReads = 0

    def timedRead(w: Workload, op: ReadOp, traced: Boolean): Unit = {
      attempted += 1
      def once(): (Any, Double) = {
        val s = System.nanoTime()
        val r = op.run()
        (r, (System.nanoTime() - s) / 1e9)
      }
      try {
        val (r, dt) =
          if (!traced) once()
          else {
            val t = tr.get
            val ((r0, dt0), qs) = t.collectQueries { t.span("read") { once() } }
            tracedReads += 1
            w.addRead("sources.plan_s", qs.map(_._1).sum)
            val denom = w.filesInReadTables()
            if (denom > 0)
              w.addRead("table.files_read_ratio", qs.map(_._2).sum.toDouble / denom)
            w.afterRead(op, dt0)
            (r0, dt0)
          }
        readS += ((dt, traced))
        readResults += ((op, r))
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          say(s"read ${op.name} failed: $e")
      }
    }

    def timedBatch(w: Workload, i: Int, traced: Boolean): Unit = {
      val tOpt = if (traced) tr else None
      w.beforeBatch(i, tOpt)
      val fs0 = CountingLocalFs.snapshot()
      val gc0 = Tracer.gcS()
      attempted += 1
      val s = System.nanoTime()
      val n =
        try tOpt match {
          case Some(t) => t.span("batch") { w.runBatch(i, tOpt) }
          case None => w.runBatch(i, None)
        } catch {
          case scala.util.control.NonFatal(e) =>
            failed += 1
            say(s"batch $i failed: $e")
            -1L
        }
      val dt = (System.nanoTime() - s) / 1e9
      if (n >= 0) {
        batchS += ((dt, traced))
        if (w eq wl) rows += n
      }
      if (traced) {
        val t = tr.get
        t.drain()
        batchSpans += t.spans.lastIndexWhere(sp => sp.name == "batch")
        val fs1 = CountingLocalFs.snapshot()
        addLocal("table.fs_mutations", (fs1._1 - fs0._1).toDouble)
        addLocal("table.fs_lists", (fs1._2 - fs0._2).toDouble)
        addLocal("table.fs_reads", (fs1._3 - fs0._3).toDouble)
        addLocal("spark.gc_s", Tracer.gcS() - gc0)
      }
      w.afterBatch(i, tOpt)
    }

    // the copies of round r, each with whether it is traced: the untraced
    // twin and the traced workload take turns at going first
    def copies(r: Int): Seq[(Workload, Boolean)] = twin match {
      case None => Seq(wl -> false)
      case Some(tw) =>
        if (r % 2 == 0) Seq(tw -> false, wl -> true) else Seq(wl -> true, tw -> false)
    }

    // round r of the read set after measured batch b: each read runs on
    // every copy in turn
    def readRound(r: Int, b: Int): Unit = {
      val sets = copies(r).map { case (w, traced) => (w, w.readSet(b), traced) }
      sets.head._2.indices.foreach { k =>
        sets.foreach { case (w, ops, traced) => timedRead(w, ops(k), traced) }
      }
    }

    val phase0 = System.nanoTime()
    def elapsed = (System.nanoTime() - phase0) / 1e9
    val nBatches = if (o.trace) wl.tracedBatches else wl.measuredBatches
    (0 until nBatches).foreach { i =>
      copies(i).foreach { case (w, traced) => timedBatch(w, i, traced) }
      readRound(i, i)
    }
    val storage = wl.storageBytesPerRow()
    // reads fill the rest of the window
    var r = 0
    while (elapsed < o.seconds) {
      readRound(r, nBatches - 1)
      r += 1
    }
    val phaseS = elapsed

    // ------------------------------------------------------------ correctness
    val problems = mutable.ArrayBuffer.empty[String]
    readResults.foreach { case (op, got) =>
      op.expected.foreach { exp =>
        if (exp != got) problems += s"read ${op.name}: got $got, model $exp"
      }
    }
    val tCheck = System.nanoTime()
    (wl +: twin.toSeq).foreach(problems ++= _.check())
    val checkS = (System.nanoTime() - tCheck) / 1e9
    val correct = problems.isEmpty && failed == 0
    problems.take(20).foreach(p => say(s"MISMATCH $p"))

    val nB = batchS.size
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val allB = batchS.map(_._1).toSeq
    val allR = readS.map(_._1).toSeq
    say(f"measured phase $phaseS%.2f s: $nB batches, ${readS.size} reads, " +
      f"$rows rows")
    say(f"phases: session $sessionS%.1f s, generate $genS%.1f s, set-up " +
      f"${setupS - sessionS}%.1f s, measured $phaseS%.1f s, check $checkS%.1f s")
    say("batch seconds: " + allB.map(x => f"$x%.3f").mkString(" "))
    say("read seconds: " + allR.map(x => f"$x%.3f").mkString(" "))
    if (!o.trace) {
      // the tails are printed but left out of the result: a run holds a
      // handful of batches, so the batch tail is the median (Stats.tailPct)
      val bPct = Stats.tailPct(allB.size)
      val rPct = Stats.tailPct(allR.size)
      metrics("setup_s") = (setupS, "s")
      if (allB.nonEmpty) {
        metrics("batch_p50_s") = (Stats.median(allB), "s")
        metrics("rows_per_s") = (rows / allB.sum, "rows/s")
      }
      if (allR.nonEmpty) metrics("read_p50_s") = (Stats.median(allR), "s")
      metrics("storage_bytes_per_row") = (storage, "bytes")
      metrics.foreach { case (k, (v, u)) => say(f"$k = $v%.6g $u") }
      if (allB.nonEmpty) say(f"batch_tail_s = ${Stats.percentile(allB, bPct)}%.6g s " +
        s"(p$bPct, n=${allB.size})")
      if (allR.nonEmpty) say(f"read_tail_s = ${Stats.percentile(allR, rPct)}%.6g s " +
        s"(p$rPct, n=${allR.size})")
    } else {
      val t = tr.get
      t.drain()
      val nT = batchSpans.size.max(1).toDouble
      def perBatch(f: Int => Double): Double = batchSpans.map(f).sum / nT
      def spanWall(root: Int, name: String): Double =
        t.named(root, name).map(t.wallS).sum
      def busy(root: Int) = t.busyS(t.jobsUnder(root))
      val pl = mutable.LinkedHashMap.empty[String, Double]
      pl("cdc.pipeline.route_s") = perBatch(spanWall(_, "cdc.route"))
      pl("cdc.pipeline.jobs") =
        if (wl.isCdc) perBatch(b => t.jobsUnder(b).size.toDouble) else 0.0
      pl("table.write_s") = perBatch(spanWall(_, "table.write"))
      pl("table.commit_driver_s") = perBatch { b =>
        t.named(b, "table.write").map(s => t.wallS(s) - busy(s.id)).sum
      }
      pl("table.compact_s") = perBatch(spanWall(_, "table.compact"))
      for (v <- Seq("maintained_join", "maintained_agg", "maintained_distinct")) {
        val n = s"cdc.$v.refresh"
        pl(s"${n}_s") = perBatch(spanWall(_, n))
        pl(s"cdc.$v.jobs") = perBatch(b =>
          t.named(b, n).map(s => t.jobsUnder(s.id).size).sum.toDouble)
      }
      for (n <- Seq("streaming.sink_apply", "text.normalize", "text.lsh_ingest",
          "text.bm25_ingest", "sim.ann_check", "sim.ann_ingest"))
        pl(s"${n}_s") = perBatch(spanWall(_, n))
      pl("spark.jobs") = perBatch(b => t.jobsUnder(b).size.toDouble)
      pl("spark.tasks") = perBatch(b => t.tasksUnder(b).tasks.toDouble)
      pl("spark.busy_s") = perBatch(busy)
      pl("spark.shuffle_write_bytes") =
        perBatch(b => t.tasksUnder(b).shuffleWrite.toDouble)
      pl("spark.shuffle_read_bytes") =
        perBatch(b => t.tasksUnder(b).shuffleRead.toDouble)
      pl("spark.spill_bytes") = perBatch(b => t.tasksUnder(b).spill.toDouble)
      pl("driver.idle_s") = perBatch(b => t.wallS(t.spans(b)) - busy(b))
      batchLocal.foreach { case (k, v) => pl(k) = v / nT }
      wl.batchCounters.foreach { case (k, v) => pl(k) = v / nT }
      wl.readCounters.foreach { case (k, v) => pl(k) = v / tracedReads.max(1) }
      def overhead(xs: Seq[(Double, Boolean)]): Double = {
        val (on, off) = xs.partition(_._2)
        if (on.isEmpty || off.isEmpty) 0.0
        else Stats.median(on.map(_._1).toSeq) / Stats.median(off.map(_._1).toSeq) - 1
      }
      pl("trace.batch_overhead") = overhead(batchS.toSeq)
      pl("trace.read_overhead") = overhead(readS.toSeq)
      PerLayer.Metrics.foreach { case (k, u) =>
        metrics(k) = (pl.getOrElse(k, 0.0), u)
      }
      pl.keys.filterNot(k => PerLayer.Metrics.exists(_._1 == k))
        .foreach(k => say(s"unlisted per-layer metric $k"))
      metrics.foreach { case (k, (v, u)) => say(f"$k = $v%.6g $u") }
      val spansOut = new File(o.out.stripSuffix(".json") + "-spans.json")
      java.nio.file.Files.write(spansOut.toPath, t.spansJson.getBytes("UTF-8"))
      say(s"spans written to ${spansOut.getPath}")
      t.close()
    }
    val errRate = failed.toDouble / attempted.max(1)
    say(f"error_rate = $errRate%.4f ratio ($failed failed / $attempted attempted)")
    say(s"correct = $correct")

    val json = Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    java.nio.file.Files.write(new File(o.out).toPath, json.getBytes("UTF-8"))
    if (correct) 0 else 1
  }
}

/** The per-layer metrics of a traced run, with units. Metrics a workload
  * does not exercise report 0.
  */
object PerLayer {
  val Metrics: Seq[(String, String)] = Seq(
    "cdc.pipeline.route_s" -> "s", "cdc.pipeline.jobs" -> "count",
    "table.write_s" -> "s", "table.units_rewritten" -> "count",
    "table.files_candidate" -> "count", "table.files_kept" -> "count",
    "table.write_amp" -> "ratio", "table.commit_driver_s" -> "s",
    "table.versions_per_batch" -> "count", "table.fs_mutations" -> "count",
    "table.fs_lists" -> "count", "table.fs_reads" -> "count",
    "table.compact_s" -> "s", "table.compactions" -> "count",
    "table.read_merge_s" -> "s", "table.pending_logs" -> "count",
    "table.files_read_ratio" -> "ratio", "sources.plan_s" -> "s",
    "sources.mv_hit_ratio" -> "ratio",
    "cdc.maintained_join.refresh_s" -> "s", "cdc.maintained_join.jobs" -> "count",
    "cdc.maintained_join.versions" -> "count",
    "cdc.maintained_agg.refresh_s" -> "s", "cdc.maintained_agg.jobs" -> "count",
    "cdc.maintained_agg.versions" -> "count",
    "cdc.maintained_distinct.refresh_s" -> "s",
    "cdc.maintained_distinct.jobs" -> "count",
    "cdc.maintained_distinct.versions" -> "count",
    "streaming.sink_apply_s" -> "s", "text.normalize_s" -> "s",
    "text.lsh_ingest_s" -> "s", "text.lsh_pairs" -> "count",
    "text.bm25_ingest_s" -> "s", "sim.ann_check_s" -> "s",
    "sim.ann_ingest_s" -> "s", "text.bm25_query_s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.busy_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_s" -> "s", "driver.idle_s" -> "s",
    "trace.batch_overhead" -> "ratio", "trace.read_overhead" -> "ratio")
}
