package graft

/** Battery determinism sweep (round-8, verdict item 2): run every
  * `SparkEntry.queries` entry TWICE in one session — once with
  * `spark.sql.shuffle.partitions`=5 and once with 32 (the same
  * parallelism axis that made `lm_bigram_score` / `mv_rollup_rewrite`
  * order-vary between local[8] and local[32] in round 7) — and compare
  * the collected outputs:
  *
  *   - `VALUE-DIFFERS` — the row MULTISETS differ: a real
  *     nondeterminism bug (unstable tie-break, parallelism-dependent
  *     float fold, time-dependent value). Exit code 1.
  *   - `ORDER-VARIES` — same rows, different order: benign for the
  *     driver's sorted-row hash (evidenced by `pq_encode`, driver-green
  *     in r07 while order-varying), but listed so order-certified rows
  *     can add a total ORDER BY deliberately.
  *   - `stable` — byte-identical ordered output.
  *
  * Usage: `runMain graft.DeterminismProbe [sfDir]` (default sf0.001;
  * ~4 min). Results recorded in BASELINE.md.
  */
object DeterminismProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // shuffle partitions are set per run below (5 vs 32)
    val spark = GraftSession.builder(GraftSession.cpus(8)).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).toSet)
    def run(name: String, parts: Int): Either[String, Seq[String]] = {
      spark.conf.set("spark.sql.shuffle.partitions", parts.toString)
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        // stringified rows: cross-run comparable, cheap to hold for the
        // battery's bounded outputs
        Right(df.collect().toSeq.map(_.toString))
      } catch { case e: Throwable => Left(e.toString.take(200)) }
      finally spark.catalog.clearCache()
    }
    var valueDiff = 0
    var orderVary = 0
    SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
      .foreach { name =>
        (run(name, 5), run(name, 32)) match {
          case (Right(a), Right(b)) =>
            if (a.groupBy(identity).view.mapValues(_.size).toMap !=
                b.groupBy(identity).view.mapValues(_.size).toMap) {
              valueDiff += 1
              println(s"[determinism] $name VALUE-DIFFERS " +
                s"(${a.size} vs ${b.size} rows)")
            } else if (a != b) {
              orderVary += 1
              println(s"[determinism] $name ORDER-VARIES (${a.size} rows)")
            } else println(s"[determinism] $name stable (${a.size} rows)")
          case (l, r) =>
            valueDiff += 1
            val err = l.left.toOption.orElse(r.left.toOption).get
            println(s"[determinism] $name ERROR $err")
        }
      }
    println(s"[determinism] SUMMARY value_differs=$valueDiff " +
      s"order_varies=$orderVary " +
      s"total=${SparkEntry.queries.size}")
    spark.stop()
    if (valueDiff > 0) sys.exit(1)
  }
}
