package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cdc.MaintainedDistinct
import graft.table.CowTable

/** Maintained-COUNT(DISTINCT) probe: refresh cost of the two-level fold
  * vs from-scratch `count(DISTINCT)` recompute, as the base table GROWS
  * while the value space and the churn stay fixed — recompute rescans
  * the table (cost ∝ rows), the maintained path folds the churn into
  * support state (cost ∝ churn + support size, FLAT in table size).
  * The crossover is the 100-TB story: at warehouse scale the rescan is
  * hours while the fold stays at its small-table cost.
  *
  * `runMain graft.DistinctProbe [rowsCsv] [groups] [valsPerGroup]
  *   [batchRows]`. Results recorded in BASELINE.md.
  */
object DistinctProbe {

  /** The probe's row builder: hive-style date-ish partitions with
    * BLOCK-local ids, so churn (low ids) lands in few partitions — the
    * realistic CDC shape (uniformly-spread churn would rewrite every
    * unit of a COW source each batch; that cost belongs to the source's
    * layout, not to the maintained aggregate). Values come from a FIXED
    * space so the support state is groups*valsPerGroup rows no matter
    * how large the table grows.
    */
  private def slice(spark: SparkSession, rows: Long, groups: Int,
      valsPerGroup: Int)(from: Long, n: Long, vshift: Long): DataFrame = {
    val parts = 20
    spark.range(from, from + n).select(col("id").as("k"),
      // integer block id: `/` on columns is DOUBLE division — floor
      // it or every id mints its own partition directory
      floor(col("id") * parts / rows).cast("long").cast("string")
        .as("p"),
      (col("id") % groups).cast("string").as("grp"),
      (pmod(xxhash64(col("id") + vshift), lit(valsPerGroup.toLong)))
        .as("v"))
  }

  def main(args: Array[String]): Unit = {
    val sizes = (if (args.length > 0) args(0) else "2000000,8000000")
      .split(',').map(_.trim.toLong).toSeq
    val groups = if (args.length > 1) args(1).toInt else 50
    val valsPerGroup = if (args.length > 2) args(2).toInt else 2000
    val batchRows = if (args.length > 3) args(3).toInt else 20000
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    sizes.foreach { rows =>
      val mk = slice(spark, rows, groups, valsPerGroup) _
      val src = new CowTable(spark,
        java.nio.file.Files.createTempDirectory("dprobe-src").toString,
        keyCols = Seq("k"), partitionCols = Seq("p"),
        trackCommitVersions = true, fileIndexEntries = 100000)
      src.bulkInsert(mk(0, rows, 0))
      val md = new MaintainedDistinct(spark,
        java.nio.file.Files.createTempDirectory("dprobe-md").toString,
        src, Seq("grp"), "v")
      var t0 = System.nanoTime
      md.refresh()
      val seedS = (System.nanoTime - t0) / 1e9
      val (mTimes, rTimes) = (1 to 2).map { b =>
        src.upsert(mk(b.toLong * batchRows, batchRows, b.toLong * 7919))
        src.delete(mk(b.toLong * batchRows, batchRows / 10, 0))
        t0 = System.nanoTime
        md.refresh()
        val maintainS = (System.nanoTime - t0) / 1e9
        t0 = System.nanoTime
        val full = src.snapshot().groupBy("grp")
          .agg(count_distinct(col("v")).as("d"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        val recomputeS = (System.nanoTime - t0) / 1e9
        val got = md.current.collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        require(got == full, s"maintained distinct diverged at batch $b")
        (maintainS, recomputeS)
      }.unzip
      println(f"[dprobe] rows=$rows seed=$seedS%.1fs " +
        f"maintain=${mTimes.min}%.1fs recompute=${rTimes.min}%.1fs " +
        f"(churn=$batchRows, support=${groups * valsPerGroup}, exact)")
    }
    spark.stop()
  }
}
