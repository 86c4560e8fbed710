package graft

/** Plan-inspection utility: prints the formatted physical plan (and timing)
  * of selected catalog queries. `runMain graft.Explain <sfDir> q1 q2 ...`
  * (no names = all). Used to check pushdown/broadcast/codegen per operator.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.queries.QueryCatalog.all.keys.toSeq
    val spark = GraftSession.builder(GraftSession.cpus(8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      val df = graft.queries.QueryCatalog.queries(n)(spark, sfDir)
      df.explain("formatted")
      val t0 = System.nanoTime()
      val c = df.count()
      println(f"rows=$c time=${(System.nanoTime() - t0) / 1e9}%.2fs")
    }
    spark.stop()
  }
}
