package graft

import org.apache.spark.sql.functions._

/** Stage-level timing of the maintained_agg battery row's e2e build —
  * locates where the IVM pipeline's wall time actually goes (table seeds,
  * churn commits, maintained folds) so commit-path work targets the right
  * stage. `runMain graft.IvmStageProbe [sfDir] [reps]`.
  */
object IvmStageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(2)
    val spark = GraftSession.builder(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[ivmstage] $tag%-16s ${(System.nanoTime() - t0) / 1e9}%6.2fs")
      r
    }
    for (rep <- 1 to reps) {
      println(s"[ivmstage] --- rep $rep ---")
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * lit(100) + lit(0.5)).as("price"))
      val cust = spark.read.parquet(s"$sfDir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      def tmp(tag: String) =
        java.nio.file.Files.createTempDirectory(s"graft-isp-$tag").toString
      val a = new graft.table.CowTable(spark, tmp("a"),
        keyCols = Seq("o_orderkey"), trackCommitVersions = true)
      val b = new graft.table.CowTable(spark, tmp("b"),
        keyCols = Seq("c_custkey"), trackCommitVersions = true)
      time("seed_a")(a.bulkInsert(orders.filter(col("o_orderkey") % 7 === 0)))
      time("seed_b")(b.bulkInsert(cust.filter(col("c_custkey") % 3 === 0)))
      val mj = time("mk_join")(new graft.cdc.MaintainedJoin(spark, tmp("v"),
        a, b, on = Seq("o_custkey" -> "c_custkey"),
        trackViewVersions = true))
      time("join_seed")(mj.refresh())
      val ma = new graft.cdc.MaintainedAgg(spark, tmp("agg"), mj.table,
        graft.cdc.IncrementalAgg.AggSpec(Seq("seg"), "price"),
        minMaxCols = Seq("price"), trackSquares = true)
      time("agg_seed")(ma.refresh())
      time("churn_a_up")(a.upsert(orders.filter(col("o_orderkey") % 14 === 0)
        .select(col("o_orderkey"), (col("o_custkey") + 1L).as("o_custkey"),
          (col("price") + 100000L).as("price"))))
      time("churn_a_del")(a.delete(orders.filter(col("o_orderkey") % 21 === 0)))
      time("churn_b_up")(b.upsert(cust.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), concat(col("seg"), lit("*")).as("seg"))))
      time("churn_b_del")(b.delete(cust.filter(col("c_custkey") % 6 === 0)))
      time("join_fold")(mj.refresh())
      time("agg_fold")(ma.refresh())
      time("read_state")(ma.current.collect())
    }
    spark.stop()
  }
}
