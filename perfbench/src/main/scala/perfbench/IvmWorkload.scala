package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.cdc.{IncrementalAgg, MaintainedAgg, MaintainedDistinct, MaintainedJoin}
import graft.sources.{MvRegistry, MvRewriteRule}
import graft.table.CowTable

/** `ivm_chain`: a star schema of commit-tracked fact and dimension tables
  * with stacked incremental views — `MaintainedJoin` (fact ⟕ dim) feeding a
  * `MaintainedAgg` (count/sum/min/max/squares per segment), plus a
  * `MaintainedDistinct` (distinct dimension keys per category) on the fact
  * table. The aggregate is registered with `MvRegistry`.
  *
  * Each batch upserts and deletes a little of both sources, then refreshes
  * every view; a batch is done when the last view is fresh. The reads are
  * GROUP BYs over the join view that the optimizer answers from the
  * maintained aggregate.
  */
final class IvmWorkload(ctx: Ctx) extends Workload(ctx) {
  import IvmWorkload._

  val warmups = 1
  val measuredBatches = MeasuredBatches
  private val rnd = new java.util.Random(ctx.seed)
  private val inputDir = ctx.dir("input")

  // replay model: f_id -> (d_id, amount, cat); d_id -> (seg, region)
  private val fact0 = mutable.LinkedHashMap.empty[Long, (Long, Long, String)]
  private val dim0 = mutable.LinkedHashMap.empty[Long, (String, String)]
  private var fact = mutable.HashMap.empty[Long, (Long, Long, String)]
  private var dim = mutable.HashMap.empty[Long, (String, String)]

  private val churn = mutable.ArrayBuffer.empty[Churn]

  private val root = ctx.dir("ivm")
  private var factT: CowTable = _
  private var dimT: CowTable = _
  private var mj: MaintainedJoin = _
  private var ma: MaintainedAgg = _
  private var md: MaintainedDistinct = _

  private def seg() = s"seg${rnd.nextInt(Segments)}"
  private def cat() = s"cat${rnd.nextInt(Categories)}"
  private def amount() = 100L + rnd.nextInt(100000)

  def generate(): String = {
    (0L until DimRows).foreach(d => dim0(d) = (seg(), s"r${rnd.nextInt(4)}"))
    (0L until FactRows).foreach(f =>
      fact0(f) = (rnd.nextInt(DimRows).toLong, amount(), cat()))
    // the generator's own view of live keys, to aim updates and deletes
    val liveF = mutable.ArrayBuffer.from(fact0.keys)
    val liveD = mutable.ArrayBuffer.from(dim0.keys)
    var nextF = FactRows.toLong
    var nextD = DimRows.toLong
    def take(b: mutable.ArrayBuffer[Long]): Long = {
      val i = rnd.nextInt(b.size); val v = b(i)
      b(i) = b.last; b.remove(b.size - 1); v
    }
    (0 until warmups + measuredBatches).foreach { _ =>
      val dDels = (0 until DimDels).map(_ => take(liveD))
      val dUps = (0 until DimUpserts).map { j =>
        val d = if (j == 0) { nextD += 1; nextD - 1 } else liveD(rnd.nextInt(liveD.size))
        (d, seg(), s"r${rnd.nextInt(4)}")
      }
      liveD ++= dUps.map(_._1).filterNot(liveD.contains)
      val fDels = (0 until FactDels).map(_ => take(liveF))
      val touched = mutable.LinkedHashSet.empty[Long]
      while (touched.size < FactUpserts * 3 / 4)
        touched += liveF(rnd.nextInt(liveF.size))
      val fresh = (0 until FactUpserts / 4).map { _ => nextF += 1; nextF - 1 }
      val fUps = (touched.toSeq ++ fresh).map { f =>
        // rewires point at any dimension key ever issued, so some land on
        // deleted (unmatched) or brand-new dimension rows
        (f, rnd.nextInt(nextD.toInt).toLong, amount(), cat())
      }
      liveF ++= fresh
      churn += Churn(fUps, fDels, dUps, dDels)
    }
    def fj(f: Long, d: Long, a: Long, c: String) =
      Inputs.obj("f_id" -> f, "d_id" -> d, "amount" -> a, "cat" -> c)
    def dj(d: Long, s: String, r: String) =
      Inputs.obj("d_id" -> d, "seg" -> s, "region" -> r)
    Inputs.write(s"$inputDir/fact_base.jsonl",
      fact0.toSeq.map { case (f, (d, a, c)) => fj(f, d, a, c) })
    Inputs.write(s"$inputDir/dim_base.jsonl",
      dim0.toSeq.map { case (d, (s, r)) => dj(d, s, r) })
    churn.zipWithIndex.foreach { case (c, k) =>
      Inputs.write(Inputs.batchFile(s"$inputDir/fact_ups", k),
        c.factUps.map { case (f, d, a, t) => fj(f, d, a, t) })
      Inputs.write(Inputs.batchFile(s"$inputDir/fact_dels", k),
        c.factDels.map(f => Inputs.obj("f_id" -> f)))
      Inputs.write(Inputs.batchFile(s"$inputDir/dim_ups", k),
        c.dimUps.map { case (d, s, r) => dj(d, s, r) })
      Inputs.write(Inputs.batchFile(s"$inputDir/dim_dels", k),
        c.dimDels.map(d => Inputs.obj("d_id" -> d)))
    }
    Files2.digest(inputDir)
  }

  private def read(rel: String, schema: StructType): DataFrame =
    Inputs.read(spark, schema, s"$inputDir/$rel.jsonl")

  private def applyModel(c: Churn): Unit = {
    c.factUps.foreach { case (f, d, a, k) => fact(f) = (d, a, k) }
    fact --= c.factDels
    c.dimUps.foreach { case (d, s, r) => dim(d) = (s, r) }
    dim --= c.dimDels
  }

  def setup(): Unit = {
    factT = new CowTable(spark, s"$root/fact", keyCols = Seq("f_id"),
      trackCommitVersions = true)
    dimT = new CowTable(spark, s"$root/dim", keyCols = Seq("d_id"),
      trackCommitVersions = true)
    factT.bulkInsert(read("fact_base", FactSchema))
    dimT.bulkInsert(read("dim_base", DimSchema))
    mj = new MaintainedJoin(spark, s"$root/join", factT, dimT,
      on = Seq("d_id" -> "d_id"), trackViewVersions = true)
    mj.refresh()
    ma = new MaintainedAgg(spark, s"$root/agg", mj.table,
      IncrementalAgg.AggSpec(Seq("seg"), "amount"),
      minMaxCols = Seq("amount"), trackSquares = true)
    ma.refresh()
    md = new MaintainedDistinct(spark, s"$root/distinct", factT, Seq("cat"),
      "d_id")
    md.refresh()
    require(MvRegistry.register(ma), "aggregate view must be rewrite-eligible")
    fact = mutable.HashMap.from(fact0)
    dim = mutable.HashMap.from(dim0)
    (0 until warmups).foreach { k => applyBatch(k, None); applyModel(churn(k)) }
  }

  private def batchOf(rel: String, schema: StructType, k: Int): DataFrame =
    Inputs.read(spark, schema, Inputs.batchFile(s"$inputDir/$rel", k))

  private def applyBatch(k: Int, tr: Option[Tracer]): Unit = {
    def sp[T](name: String)(body: => T): T = tr match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
    val c = churn(k)
    sp("table.write") { factT.upsert(batchOf("fact_ups", FactSchema, k)) }
    if (c.factDels.nonEmpty)
      sp("table.write") { factT.delete(batchOf("fact_dels", KeySchema("f_id"), k)) }
    sp("table.write") { dimT.upsert(batchOf("dim_ups", DimSchema, k)) }
    if (c.dimDels.nonEmpty)
      sp("table.write") { dimT.delete(batchOf("dim_dels", KeySchema("d_id"), k)) }
    sp("cdc.maintained_join.refresh") { mj.refresh() }
    sp("cdc.maintained_agg.refresh") { ma.refresh() }
    sp("cdc.maintained_distinct.refresh") { md.refresh() }
  }

  def runBatch(i: Int, tr: Option[Tracer]): Long = {
    val k = warmups + i
    applyBatch(k, tr)
    val c = churn(k)
    (c.factUps.size + c.factDels.size + c.dimUps.size + c.dimDels.size).toLong
  }

  private val viewDirs = Seq("join" -> "maintained_join",
    "agg" -> "maintained_agg", "distinct" -> "maintained_distinct")
  private var versionsBefore = Map.empty[String, Long]
  private def versions(): Map[String, Long] =
    (Seq("fact", "dim") ++ viewDirs.map(_._1))
      .map(d => d -> Files2.versionsUnder(s"$root/$d")).toMap

  override def beforeBatch(i: Int, traced: Option[Tracer]): Unit =
    if (traced.isDefined) versionsBefore = versions()

  override def afterBatch(i: Int, traced: Option[Tracer]): Unit = {
    applyModel(churn(warmups + i))
    if (traced.isDefined) {
      val now = versions()
      def delta(d: String) = (now(d) - versionsBefore(d)).toDouble
      addBatch("table.versions_per_batch", now.keys.toSeq.map(delta).sum)
      viewDirs.foreach { case (d, v) => addBatch(s"cdc.$v.versions", delta(d)) }
    }
  }

  // ---------------------------------------------------------------- reads

  private def viewRead: DataFrame = spark.read.format("graft").load(mj.table.basePath)

  /** Model answer of the per-segment aggregate over the join. */
  private def modelBySeg: Seq[(String, Long, Long, Long, Long)] =
    fact.values.groupBy { case (d, _, _) => dim.get(d).map(_._1).orNull }
      .toSeq.map { case (s, rows) =>
        val a = rows.map(_._2)
        (s, a.size.toLong, a.sum, a.min, a.max)
      }.sortBy(x => Option(x._1).getOrElse(""))

  private def bySeg(df: DataFrame): Seq[(String, Long, Long, Long, Long)] =
    df.groupBy(col("seg")).agg(count(lit(1)), sum(col("amount")),
        min(col("amount")), max(col("amount")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
      .sortBy(x => Option(x._1).getOrElse(""))

  private def total(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("amount"))).head()
    (r.getLong(0), r.getLong(1))
  }

  private var hitsBefore = 0L
  private def hits = MvRewriteRule.hitLog.getOrElse(ma.table.basePath, 0L)

  def readSet(i: Int): Seq[ReadOp] = {
    val bySegExp = modelBySeg
    Seq(
      ReadOp("mv_group_by_segment", () => { hitsBefore = hits; bySeg(viewRead) },
        Some(bySegExp)),
      ReadOp("mv_rollup_total", () => { hitsBefore = hits; total(viewRead) },
        Some((bySegExp.map(_._2).sum, bySegExp.map(_._3).sum))))
  }

  override def afterRead(op: ReadOp, wallS: Double): Unit =
    addRead("sources.mv_hit_ratio", if (hits > hitsBefore) 1.0 else 0.0)

  def filesInReadTables(): Long = ma.table.manifest.files.size.toLong

  // ---------------------------------------------------------- correctness

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    def same(what: String, a: DataFrame, b: DataFrame): Unit = {
      val cols = a.columns.toSeq
      val (x, y) = (Canon.rows(a.select(cols.map(col): _*)),
        Canon.rows(b.select(cols.map(col): _*)))
      if (x != y) out += s"$what: ${x.size} rows vs ${y.size} rows; " +
        s"only left ${x.diff(y).take(3)}, only right ${y.diff(x).take(3)}"
    }
    same("maintained join current vs recompute", mj.current, mj.recompute())
    same("maintained agg current vs recompute", ma.current,
      ma.recompute(mj.recompute()))
    same("maintained distinct current vs recompute", md.current,
      factT.snapshot().groupBy(col("cat")).agg(
        countDistinct(col("d_id")).as("distinct_cnt"),
        count(col("d_id")).as("value_cnt")))
    val rewritten = bySeg(viewRead)
    MvRegistry.unregister(mj.table.basePath)
    val plain = try bySeg(viewRead) finally MvRegistry.register(ma)
    if (rewritten != plain)
      out += s"MV-rewritten GROUP BY $rewritten differs from unrewritten $plain"
    if (rewritten != modelBySeg)
      out += s"GROUP BY over the join $rewritten differs from model $modelBySeg"
    val factGot = Canon.rows(factT.snapshot().select("f_id", "d_id", "amount", "cat"))
    val factExp = fact.toSeq.map { case (f, (d, a, c)) => s"$f|$d|$a|$c" }.sorted
    if (factGot != factExp) out += s"fact snapshot: ${factGot.size} rows, model ${factExp.size}"
    val dimGot = Canon.rows(dimT.snapshot().select("d_id", "seg", "region"))
    val dimExp = dim.toSeq.map { case (d, (s, r)) => s"$d|$s|$r" }.sorted
    if (dimGot != dimExp) out += s"dim snapshot: ${dimGot.size} rows, model ${dimExp.size}"
    out.toSeq
  }

  def storageBytesPerRow(): Double =
    Files2.bytesUnder(Seq(root)).toDouble / fact.size
}

object IvmWorkload {
  /** One batch: fact upserts (f_id, d_id, amount, cat) and deletes,
    * dimension upserts (d_id, seg, region) and deletes.
    */
  final case class Churn(factUps: Seq[(Long, Long, Long, String)],
      factDels: Seq[Long], dimUps: Seq[(Long, String, String)],
      dimDels: Seq[Long])

  val FactRows = 20000
  val DimRows = 400
  val Segments = 6
  val Categories = 8
  val FactUpserts = 100
  val FactDels = 20
  val DimUpserts = 4
  val DimDels = 1
  val MeasuredBatches = 4

  val FactSchema: StructType = StructType(Seq(
    StructField("f_id", LongType), StructField("d_id", LongType),
    StructField("amount", LongType), StructField("cat", StringType)))
  val DimSchema: StructType = StructType(Seq(
    StructField("d_id", LongType), StructField("seg", StringType),
    StructField("region", StringType)))
  def KeySchema(k: String): StructType = StructType(Seq(StructField(k, LongType)))
}
