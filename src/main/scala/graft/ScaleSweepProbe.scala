package graft

import org.apache.spark.sql.functions._

/** Directional scale sweep for the heavy battery rows: measures each
  * operator at sf0.1 and at an N×-inflated copy (~sf1 at the default
  * N=10) and prints the growth factor — converting "the plan looks
  * linear" into a measured exponent. `runMain graft.ScaleSweepProbe
  * [sfDir] [copies]`; results recorded in BASELINE.md.
  *
  * Inflation model (written to temp parquet first, so the big leg reads
  * real files — not a 10-way in-plan union that would change plan
  * shapes):
  *   - documents: doc_id offset per copy; every TOKEN gets a per-copy
  *     suffix, so cross-copy shingles/minhashes never collide and the
  *     corpus scales as N independent sf0.1 corpora — same dup RATE,
  *     N× the data (verbatim copies would be adversarial: N× exact
  *     clones per doc drive in-bucket pairs quadratic, a different
  *     workload than scale-up).
  *   - embeddings: vec_id offset; element 0 nudged per copy so vectors
  *     stay distinct; cell balance is preserved.
  *   - orders/customer/lineitem: keys offset per copy → N disjoint
  *     copies of the trade graph / join churn.
  */
object ScaleSweepProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    // SPARK_GRAFT_CPUS parameterizes the core count (default 32) so the
    // sweep can also produce 8-vs-32-core scaling evidence at the
    // inflated size — the big leg reads multi-file temp parquet, so the
    // ScanPar gate passes through and parallel speedups are measurable
    // (the r13 scaling block showed sf0.1 alone cannot evidence them).
    val spark = GraftSession.builder(GraftSession.cpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def tmp(tag: String) =
      java.nio.file.Files.createTempDirectory(s"graft-sweep-$tag").toString
    def time(f: => Long): Double = {
      val t0 = System.nanoTime(); val n = f
      require(n >= 0); (System.nanoTime() - t0) / 1e9
    }
    def report(tag: String, base: Double, big: Double): Unit =
      println(f"[sweep] $tag%-18s base $base%7.2fs  x$copies%d ${big}%7.2fs" +
        f"  growth ${big / base}%5.2fx (linear = ${copies.toDouble}%.0fx)")

    val off = 10000000L
    // ---- inflated inputs ------------------------------------------------
    val docs0 = spark.read.parquet(s"$sfDir/documents.parquet")
    val docsBig = tmp("docs")
    (0 until copies).map { i =>
      docs0.select((col("doc_id") + lit(i * off)).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1x$i").as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(docsBig)
    val embs0 = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val embsBig = tmp("embs")
    (0 until copies).map { i =>
      embs0.select((col("vec_id") + lit(i * off)).as("vec_id"),
        transform(col("embedding"), (x, j) =>
          when(j === 0, x + lit(i * 0.001f)).otherwise(x).cast("float"))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(embsBig)
    val orders0 = spark.read.parquet(s"$sfDir/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val li0 = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_suppkey")
    val cust0 = spark.read.parquet(s"$sfDir/customer.parquet")
      .select("c_custkey", "c_mktsegment")
    val (ordersBig, liBig, custBig) = (tmp("ord"), tmp("li"), tmp("cust"))
    (0 until copies).map { i =>
      orders0.select((col("o_orderkey") + lit(i * off)).as("o_orderkey"),
        (col("o_custkey") + lit(i * off)).as("o_custkey"),
        col("o_totalprice"))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(ordersBig)
    (0 until copies).map { i =>
      li0.select((col("l_orderkey") + lit(i * off)).as("l_orderkey"),
        (col("l_suppkey") + lit(i * off)).as("l_suppkey"))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(liBig)
    (0 until copies).map { i =>
      cust0.select((col("c_custkey") + lit(i * off)).as("c_custkey"),
        col("c_mktsegment"))
    }.reduce(_ unionByName _).write.mode("overwrite").parquet(custBig)

    def docsAt(big: Boolean) =
      if (big) spark.read.parquet(docsBig) else docs0

    // ---- near_dup_lsh ---------------------------------------------------
    def lsh(big: Boolean): Long =
      graft.text.TextOps.lshNearDupPairs(docsAt(big), 3, rows = 2,
        num = 8, den = 10).count()
    lsh(false) // JIT/codegen warmup
    spark.catalog.clearCache()
    val lshBase = time(lsh(false)); spark.catalog.clearCache()
    val lshBig = time(lsh(true)); spark.catalog.clearCache()
    report("near_dup_lsh", lshBase, lshBig)

    // ---- dup_span_removal ----------------------------------------------
    def spans(big: Boolean): Long =
      graft.text.TextOps.dupSpanRemoval(docsAt(big), 5).count()
    spans(false); spark.catalog.clearCache()
    val spanBase = time(spans(false)); spark.catalog.clearCache()
    val spanBig = time(spans(true)); spark.catalog.clearCache()
    report("dup_span_removal", spanBase, spanBig)

    // ---- ann index build+ingest+search (the battery row's shape) -------
    def ann(big: Boolean): Long = {
      val embs = if (big) spark.read.parquet(embsBig) else embs0
      val ix = new graft.sim.AnnIndex(spark, tmp("annix"), 8, 8, 16, 16)
      ix.build(embs.filter(col("vec_id") < 100))
      ix.ingest(embs.filter(col("vec_id") >= 100))
      ix.search(embs, 0L, nProbe = 4, shortlist = 50, topK = 10).count()
    }
    ann(false); spark.catalog.clearCache()
    val annBase = time(ann(false)); spark.catalog.clearCache()
    val annBig = time(ann(true)); spark.catalog.clearCache()
    report("ann_index_search", annBase, annBig)

    // ---- pagerank over the trade graph ---------------------------------
    def rank(big: Boolean): Long = {
      val (o, l) =
        if (big) (spark.read.parquet(ordersBig), spark.read.parquet(liBig))
        else (orders0, li0)
      val pairs = l.join(o, col("l_orderkey") === col("o_orderkey"))
        .select(concat(lit("c"), col("o_custkey")).as("a"),
          concat(lit("s"), col("l_suppkey")).as("b"))
        .distinct()
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionAll(pairs.select(col("b").as("src"), col("a").as("dst")))
      graft.graph.GraphOps.pageRank(edges, 3).count()
    }
    rank(false); spark.catalog.clearCache()
    val rankBase = time(rank(false)); spark.catalog.clearCache()
    val rankBig = time(rank(true)); spark.catalog.clearCache()
    report("pagerank", rankBase, rankBig)

    // ---- one IVM join+agg fold (the maintained_agg battery row shape) ---
    def ivmFold(big: Boolean): Double = {
      val o = (if (big) spark.read.parquet(ordersBig) else orders0)
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * lit(100) + lit(0.5)).as("price"))
      val c = (if (big) spark.read.parquet(custBig) else cust0)
        .select(col("c_custkey"), col("c_mktsegment").as("seg"))
      val a = new graft.table.CowTable(spark, tmp("ta"),
        keyCols = Seq("o_orderkey"), trackCommitVersions = true)
      val b = new graft.table.CowTable(spark, tmp("tb"),
        keyCols = Seq("c_custkey"), trackCommitVersions = true)
      a.bulkInsert(o.filter(col("o_orderkey") % 7 === 0))
      b.bulkInsert(c.filter(col("c_custkey") % 3 === 0))
      val mj = new graft.cdc.MaintainedJoin(spark, tmp("tv"), a, b,
        on = Seq("o_custkey" -> "c_custkey"), trackViewVersions = true)
      mj.refresh()
      val ma = new graft.cdc.MaintainedAgg(spark, tmp("tg"), mj.table,
        graft.cdc.IncrementalAgg.AggSpec(Seq("seg"), "price"),
        minMaxCols = Seq("price"), trackSquares = true)
      ma.refresh()
      a.upsert(o.filter(col("o_orderkey") % 14 === 0)
        .select(col("o_orderkey"), (col("o_custkey") + 1L).as("o_custkey"),
          (col("price") + 100000L).as("price")))
      a.delete(o.filter(col("o_orderkey") % 21 === 0))
      b.upsert(c.filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey"), concat(col("seg"), lit("*")).as("seg")))
      b.delete(c.filter(col("c_custkey") % 6 === 0))
      val t0 = System.nanoTime()
      mj.refresh(); ma.refresh()
      (System.nanoTime() - t0) / 1e9
    }
    ivmFold(false); spark.catalog.clearCache()
    val ivmBase = ivmFold(false); spark.catalog.clearCache()
    val ivmBig = ivmFold(true); spark.catalog.clearCache()
    report("ivm_join_agg_fold", ivmBase, ivmBig)

    spark.stop()
  }
}
