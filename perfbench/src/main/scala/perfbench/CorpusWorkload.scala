package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.sim.AnnIndex
import graft.streaming.GraftSink
import graft.table.CowTable
import graft.text.{Bm25Index, LshDedupIndex, TextOps}

/** `corpus_arrival`: the training-data arrival loop of `pipeline_e2e_incr`,
  * run over a fixed number of seeded document batches.
  *
  * Each batch: strip and normalize the HTML text; flag semantic duplicates
  * with the `AnnIndex` check and ingest the rest into the index; commit the
  * kept documents through `GraftSink.applyBatch`; ingest them into the
  * `LshDedupIndex` (near-duplicate pairs) and the `Bm25Index`. The reads are
  * BM25 top-k queries served from the index.
  *
  * A fixed number of each batch's documents re-issue an earlier document
  * with one or two words changed: half of those carry their source's embedding plus
  * small noise (semantic duplicates the ANN check drops), the other half a
  * fresh embedding (text near-duplicates the LSH index must pair).
  */
final class CorpusWorkload(ctx: Ctx) extends Workload(ctx) {
  import CorpusWorkload._

  // the first arrival batch in a JVM pays first use (ANN check and ingest,
  // code generation); measured batches are steadier after it
  val warmups = 1
  val measuredBatches = MeasuredBatches

  private val rnd = new java.util.Random(ctx.seed)
  private val inputDir = ctx.dir("input")
  private val vocab: IndexedSeq[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < Vocab)
      seen += (0 until 3 + rnd.nextInt(6)).map(_ => ('a' + rnd.nextInt(26)).toChar)
        .mkString
    seen.toIndexedSeq
  }
  /** Query terms: mid-frequency words, a fixed set per seed. */
  private val queries: Seq[Seq[String]] =
    (0 until Queries).map(_ => (0 until 2).map(_ => vocab(20 + rnd.nextInt(200))))

  // generated corpus: doc id -> (words, embedding, semantic duplicate?)
  private val words = mutable.ArrayBuffer.empty[IndexedSeq[String]]
  private val embs = mutable.ArrayBuffer.empty[Array[Float]]
  private val semanticDup = mutable.Set.empty[Long]

  private def word(): String =
    vocab(math.min(Vocab - 1, (Vocab * math.pow(rnd.nextDouble(), 2.5)).toInt))
  private def gauss(): Array[Float] = Array.fill(Dim)(rnd.nextGaussian().toFloat)

  private def newDoc(dup: Int): Unit = {
    val id = words.size
    if (dup > 0) {
      // a near-copy of an earlier document with one or two words changed;
      // odd ones keep their source's embedding (plus noise)
      val src = rnd.nextInt(id)
      val w = words(src).toArray
      (0 until 1 + rnd.nextInt(2)).foreach(_ => w(rnd.nextInt(w.length)) = word())
      words += w.toIndexedSeq
      if (dup % 2 == 1) {
        embs += embs(src).map(x => x + 0.01f * rnd.nextGaussian().toFloat)
        semanticDup += id.toLong
      } else embs += gauss()
    } else {
      words += (0 until 40 + rnd.nextInt(40)).map(_ => word())
      embs += gauss()
    }
  }

  /** Raw HTML of a document: markup, entities and mixed case around the
    * words, so stripping and normalizing have work to do.
    */
  private def html(id: Int): String = {
    val w = words(id)
    val cut = w.length / 2
    s"<html><head><title>doc $id</title><style>p{color:red}</style></head>" +
      s"<body><p>${w.take(cut).mkString(" ").capitalize},</p><!-- c -->" +
      s"<div>${w.drop(cut).mkString(" &nbsp; ")}.</div></body></html>"
  }

  private def batchRange(k: Int): Range =
    if (k == 0) 0 until BaseDocs
    else (BaseDocs + (k - 1) * BatchDocs) until (BaseDocs + k * BatchDocs)

  def generate(): String = {
    val nBatches = warmups + measuredBatches
    // every batch re-issues exactly NearDups earlier documents, at seeded
    // positions
    (0 until BaseDocs).foreach(_ => newDoc(0))
    (1 to nBatches).foreach { _ =>
      val at = rnd.ints(0, BatchDocs).distinct().limit(NearDups).toArray.toSet
      (0 until BatchDocs).foreach(j => newDoc(if (at(j)) 1 + rnd.nextInt(2) else 0))
    }
    (0 to nBatches).foreach { k =>
      Inputs.write(Inputs.batchFile(s"$inputDir/docs", k), batchRange(k).map(i =>
        Inputs.obj("doc_id" -> i, "text" -> html(i))))
      Inputs.write(Inputs.batchFile(s"$inputDir/embs", k), batchRange(k).map(i =>
        Inputs.obj("vec_id" -> i, "embedding" -> embs(i).toSeq)))
    }
    Files2.digest(inputDir)
  }

  private def docsOf(k: Int): DataFrame =
    Inputs.read(spark, DocSchema, Inputs.batchFile(s"$inputDir/docs", k))
  private def embsOf(k: Int): DataFrame =
    Inputs.read(spark, EmbSchema, Inputs.batchFile(s"$inputDir/embs", k))
  /** Embeddings of every document issued before batch k (the ANN check's
    * exact re-rank reads only ids the index returns).
    */
  private def embsBefore(k: Int): DataFrame = Inputs.read(spark, EmbSchema,
    (0 until k).map(j => Inputs.batchFile(s"$inputDir/embs", j)): _*)

  private val root = ctx.dir("corpus")
  private var ann: AnnIndex = _
  private var sink: GraftSink = _
  private var lsh: LshDedupIndex = _
  private var bm25: Bm25Index = _
  private def lakePath = s"$root/lake"
  private def lake(): DataFrame = spark.read.format("graft").load(lakePath)
  private val pairs = mutable.Set.empty[(Long, Long)]
  private val dropped = mutable.Set.empty[Long]
  private var lastKept: DataFrame = _
  private var lastBatch = 0

  def setup(): Unit = {
    ann = new AnnIndex(spark, s"$root/ann", NumSub, SubDim, PqK, Cells)
    sink = new GraftSink(() => new CowTable(spark, lakePath, keyCols = Seq("doc_id")))
    lsh = new LshDedupIndex(spark, s"$root/lsh", Shingle, Rows)
    bm25 = new Bm25Index(spark, s"$root/bm25")
    ann.build(embsOf(0))
    val base = normalize(docsOf(0)).persist(StorageLevel.MEMORY_AND_DISK)
    require(sink.applyBatch(base, 0L), "base batch must apply")
    collectPairs(lsh.ingest(base, lake(), Num, Den))
    bm25.ingest(base)
    base.unpersist()
    (1 to warmups).foreach(k => arrive(k, None))
  }

  private def normalize(raw: DataFrame): DataFrame =
    raw.select(col("doc_id"),
      TextOps.normalizeText(TextOps.htmlStrip(col("text"))).as("text"))

  private def collectPairs(df: DataFrame): Long = {
    val got = df.select("doc_a", "doc_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
    pairs ++= got
    got.length.toLong
  }

  /** One arrival batch; returns the documents committed to the lake. */
  private def arrive(k: Int, tr: Option[Tracer]): Long = {
    def sp[T](name: String)(body: => T): T = tr match {
      case Some(t) => t.span(name)(body)
      case None => body
    }
    val docs = sp("text.normalize") {
      val d = normalize(docsOf(k)).persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    val batchEmb = embsOf(k).select("vec_id", "embedding")
    val drop = sp("sim.ann_check") {
      val d = ann.nearDupCheck(batchEmb, embsBefore(k), Threshold, NProbe,
          Shortlist).filter(!col("keep")).select("vec_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    sp("sim.ann_ingest") {
      ann.ingest(batchEmb.join(broadcast(drop), Seq("vec_id"), "left_anti"))
    }
    val kept = docs.join(broadcast(drop.select(col("vec_id").as("doc_id"))),
      Seq("doc_id"), "left_anti").persist(StorageLevel.MEMORY_AND_DISK)
    val n = kept.count()
    sp("streaming.sink_apply") {
      require(sink.applyBatch(kept, k.toLong), s"batch $k must apply")
    }
    val found = sp("text.lsh_ingest") {
      collectPairs(lsh.ingest(kept, lake(), Num, Den))
    }
    tr.foreach(_ => addBatch("text.lsh_pairs", found.toDouble))
    sp("text.bm25_ingest") { bm25.ingest(kept) }
    dropped ++= drop.collect().map(_.getLong(0))
    if (lastKept != null) lastKept.unpersist()
    lastKept = kept; lastBatch = k
    docs.unpersist(); drop.unpersist()
    n
  }

  def runBatch(i: Int, tr: Option[Tracer]): Long = arrive(warmups + 1 + i, tr)

  private var versionsBefore = 0L

  override def beforeBatch(i: Int, traced: Option[Tracer]): Unit =
    if (traced.isDefined) versionsBefore = Files2.versionsUnder(root)

  override def afterBatch(i: Int, traced: Option[Tracer]): Unit =
    if (traced.isDefined) addBatch("table.versions_per_batch",
      (Files2.versionsUnder(root) - versionsBefore).toDouble)

  // ---------------------------------------------------------------- reads

  private val BmQuery = "text.bm25_query"

  def readSet(i: Int): Seq[ReadOp] = queries.map { q =>
    ReadOp(BmQuery, () => bm25.topDocs(q, topK = TopK).collect().length)
  }

  override def afterRead(op: ReadOp, wallS: Double): Unit =
    addRead("text.bm25_query_s", wallS)

  def filesInReadTables(): Long =
    Seq("postings", "doclens").map(t =>
      CowTable.open(spark, s"$root/bm25/$t").manifest.files.size.toLong).sum

  // ---------------------------------------------------------- correctness

  def check(): Seq[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val corpus = lake().select("doc_id", "text").persist()
    // the lake holds every issued document but the ANN-dropped ones
    val issued = (0 until BaseDocs + lastBatch * BatchDocs).map(_.toLong).toSet
    val ids = corpus.select("doc_id").collect().map(_.getLong(0)).toSet
    if (ids != issued -- dropped)
      out += s"lake ids: ${ids.size}, expected ${(issued -- dropped).size}"
    val falseDrops = dropped.toSet -- semanticDup
    if (falseDrops.nonEmpty)
      out += s"ANN check dropped non-duplicates ${falseDrops.take(5)}"
    val oneShot = TextOps.lshNearDupPairs(corpus, Shingle, Rows, Num, Den)
      .select("doc_a", "doc_b").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    if (oneShot != pairs)
      out += s"LSH pairs: incremental ${pairs.size}, one-shot ${oneShot.size}; " +
        s"only incremental ${(pairs.toSet -- oneShot).take(3)}, " +
        s"only one-shot ${(oneShot -- pairs).take(3)}"
    if (sink.applyBatch(lastKept, lastBatch.toLong))
      out += s"replayed batch $lastBatch was applied again"
    queries.foreach { q =>
      val a = Canon.rows(bm25.topDocs(q, topK = TopK))
      val b = Canon.rows(TextOps.bm25TopDocs(corpus, q, topK = TopK))
      if (a != b) out += s"BM25 top-$TopK for $q: index $a, corpus scan $b"
    }
    corpus.unpersist()
    out.toSeq
  }

  def storageBytesPerRow(): Double =
    Files2.bytesUnder(Seq(root)).toDouble /
      CowTable.open(spark, lakePath).fastCount().getOrElse(lake().count())
}

object CorpusWorkload {
  val Vocab = 3000
  val BaseDocs = 1000
  val BatchDocs = 150
  val MeasuredBatches = 2
  val NearDups = 15
  val Queries = 3
  val TopK = 10
  val Dim = 64
  val NumSub = 8
  val SubDim = 8
  val PqK = 16
  val Cells = 16
  val NProbe = 4
  val Shortlist = 50
  val Threshold = 0.9
  val Shingle = 3
  val Rows = 2
  val Num = 8
  val Den = 10

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))
  val EmbSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
}
