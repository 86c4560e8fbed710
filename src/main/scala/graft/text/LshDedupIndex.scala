package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing
import graft.table.CowTable

/** Incremental near-duplicate detection against a PERSISTED MinHash-LSH
  * index — the "corpus grows every day" production shape. Batch near-dup
  * ([[TextOps.lshNearDupPairs]]) re-bands the whole corpus per run (cost ∝
  * corpus); here each batch's band keys are stored in a graft table, so
  * ingesting a new batch costs:
  *
  *   - banding the BATCH (∝ batch size),
  *   - a probe of the index ([[CowTable.snapshotForValues]] with the
  *     batch's bucket hashes — the IN-list is bounded by bands × batch
  *     docs). Honest cost accounting: bucket hashes are uniform, so
  *     min/max file stats rarely exclude a file once the IN-list is wide —
  *     the probe then reads the index, which is 4 rows of 3 longs per
  *     document (~500× smaller than re-tokenizing and re-minhashing the
  *     corpus text, which is what the batch rerun pays),
  *   - exact-Jaccard verification of the surviving candidate pairs against
  *     the corpus table (point lookups by candidate doc id),
  *   - one upsert appending the batch's band rows (idempotent re-ingest:
  *     (doc_id, band, bh) is the record key).
  *
  * Key order: the record key LEADS with `doc_id`. The index's per-file
  * key ranges follow that order, so a batch of new (higher) doc ids
  * falls outside every existing file's [keyMin, keyMax]: the upsert's
  * range prune keeps all old files and writes only the batch, instead of
  * reading and rewriting the whole index each batch (a band- or
  * hash-led key spans every file's range). Re-ingested ids still hit
  * their files, so idempotence is unchanged. Read pruning is on `bh`
  * (clusterCols/statsCols) and does not depend on the key order. Tables
  * created with the earlier (band, bh, doc_id) order keep it: the key is
  * read from the manifest.
  *
  * Measured (BASELINE.md, "Round-11 incremental-dedup ingest probe"): a
  * fixed 2k-doc batch ingests in 5.4 / 6.2 / 10.4 s against 100k / 400k /
  * 1.6M-doc corpora while the full rerun pays 3.1 / 5.4 / 12.2 s and keeps
  * growing — the incremental path's growth term is the compact index
  * scan, not the corpus text.
  */
final class LshDedupIndex(
    spark: SparkSession,
    path: String,
    n: Int = 3,
    rows: Int = 2,
    /** Band-hash count above which the index probe switches from the
      * IN-list file prune ([[CowTable.snapshotForValues]]) to a
      * join-based prune: the IN-list is collected to the driver, so at
      * corpus-batch scale (batch docs × bands distinct hashes) it must
      * stay bounded. Above the cap the probe reads the index semi-joined
      * on the batch's band hashes — no driver materialization, same
      * matching rows (the candidates join on (band, bh) either way).
      * Test knob: lower it to force the join path on tiny batches.
      */
    maxProbeInList: Int = 65536) {
  require(Hashing.MinhashA.length % rows == 0, "rows must divide signature")

  private val bandCount = Hashing.MinhashA.length / rows

  private def open(): Option[CowTable] =
    if (CowTable.existsAt(spark, path)) Some(CowTable.open(spark, path))
    else None

  private def create(): CowTable = new CowTable(spark, path,
    keyCols = Seq("doc_id", "band", "bh"),
    clusterCols = Seq("bh"), statsCols = Seq("bh"), fileIndex = true)

  /** (doc_id, band, bh): one scalar 60-bit bucket hash per signature band
    * — the banded-struct bucket of [[TextOps.minhashCandidatePairs]]
    * folded to a storable/indexable column.
    */
  def bandKeys(docs: DataFrame): DataFrame = {
    val sig = TextOps.minhashSignatures(docs, n)
    val bands = (0 until bandCount).map { b =>
      struct(lit(b).as("band"),
        Hashing.hash60(concat_ws(",", lit(b) +:
          (0 until rows).map(r => col(s"mh${b * rows + r}")): _*))
          .as("bh"))
    }
    sig.select(col("doc_id"), explode(array(bands: _*)).as("e"))
      .select(col("doc_id"), col("e.band").as("band"), col("e.bh").as("bh"))
  }

  /** Ingest one batch: returns VERIFIED near-dup pairs (indexed-vs-new
    * with the indexed doc as `doc_a`, plus new-vs-new with `doc_a <
    * doc_b`), exact word-n-gram Jaccard >= num/den, then indexes the
    * batch. `corpusText` must resolve (doc_id, text) for every candidate
    * id — typically the corpus lake table (point reads by key).
    *
    * `maxBucket` is the hot-bucket guard of
    * [[TextOps.minhashCandidatePairs]] carried to the incremental path:
    * a boilerplate mega-bucket in the INDEX fans every matching new doc
    * out to the bucket's whole population (|batch∩bucket| ×
    * |index∩bucket| pairs — the quadratic re-forms across batches).
    * With `maxBucket > 0`, an index bucket above the cap contributes
    * only its MIN doc id as `doc_a` (one hub edge per new doc) and an
    * oversized batch-side bucket emits star edges to the batch-min doc
    * — linear, deterministic, and the hub (the bucket's global min,
    * which is in the index after its own ingest) keeps every later
    * batch chained into the same component. `maxBucket = 0` keeps the
    * exact enumeration the index specs certify against the batch run.
    */
  def ingest(
      newDocs: DataFrame,
      corpusText: DataFrame,
      num: Int,
      den: Int,
      maxBucket: Int = 0): DataFrame = {
    // probe and candidate phases ride the index upsert's commit metrics
    val ph = new graft.util.Phases
    val nb = nb0(newDocs)
    // Bounded probe (r14): the IN-list drives min/max + bloom FILE pruning
    // of the index, but collecting it is O(batch × bands) driver memory —
    // unbounded at corpus-batch scale. Collect at most maxProbeInList + 1
    // hashes; a batch past the cap probes via a semi-join on the batch's
    // band hashes instead (distributed, no driver round-trip). Both paths
    // return every index row matching a batch bh — extra rows from
    // partially-matching files are dropped by the (band, bh) candidate
    // joins below either way.
    val bhD = nb.select("bh").distinct()
    val bhSample = ph("band_collect")(
      bhD.limit(maxProbeInList + 1).collect().map(_.getLong(0)).toSeq)
    val existing = open() match {
      case Some(t) if bhSample.length <= maxProbeInList =>
        t.snapshotForValues("bh", bhSample).select("band", "bh", "doc_id")
      case Some(t) =>
        t.snapshot().select("band", "bh", "doc_id")
          .join(bhD, Seq("bh"), "left_semi")
          .select("band", "bh", "doc_id")
      case None =>
        spark.emptyDataFrame
          .select(lit(0).as("band"), lit(0L).as("bh"), lit(0L).as("doc_id"))
          .limit(0)
    }
    def capped(side: DataFrame): DataFrame =
      if (maxBucket <= 0) side
      else {
        val stats = side.groupBy("band", "bh")
          .agg(min(col("doc_id")).as("__hub"), count(lit(1)).as("__bsz"))
        side.join(stats, Seq("band", "bh"))
          .filter(col("__bsz") <= maxBucket || col("doc_id") === col("__hub"))
          .select("band", "bh", "doc_id")
      }
    val candOldNew = nb
      .join(capped(existing).withColumnRenamed("doc_id", "doc_a"),
        Seq("band", "bh"))
      .filter(col("doc_a") =!= col("doc_id"))
      .select(col("doc_a"), col("doc_id").as("doc_b"))
    val candNewNew = capped(nb.select("band", "bh", "doc_id")).alias("x")
      .join(nb.alias("y"), col("x.band") === col("y.band") &&
        col("x.bh") === col("y.bh") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    val cand = candOldNew.unionAll(candNewNew).distinct()
    // Eagerly pin the candidate enumeration (r14): localCheckpoint cuts
    // the lineage that READS the index table, which makes the batch's
    // index-upsert independent of verification — so the two run as
    // CONCURRENT jobs (guide §2.6, overlap independent work: verify
    // reads the pinned candidates + the corpus lake, the upsert writes
    // only the index). The pin also replaces the r13 persist: the two
    // verify consumers read the same blocks, distributed, never the
    // driver.
    val candC = ph("cand_pin")(cand.localCheckpoint())
    val batchRows = nb.select(col("band"), col("bh"), col("doc_id"))
    val verified = graft.util.Overlap.withBg {
      open() match {
        case Some(t) => t.upsert(batchRows, extraMetrics = ph.metrics)
        case None => create().bulkInsert(batchRows, extraMetrics = ph.metrics)
      }
    } { _ =>
      verify(candC, corpusText, num, den)
    }
    nb.unpersist()
    verified
  }

  private def nb0(newDocs: DataFrame): DataFrame =
    bandKeys(newDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Exact-Jaccard verification of candidate pairs: shingle sets are built
    * ONLY for candidate doc ids (a semi-join prune of the corpus), then
    * each pair intersects its two arrays — same check as
    * [[TextOps.lshNearDupPairs]]'s verify stage. `candC` must arrive
    * PINNED (checkpointed): the two consumers below (the id prune and the
    * pair join) read its blocks, and the pin is what lets the caller
    * upsert the index concurrently.
    */
  private def verify(
      candC: DataFrame, corpusText: DataFrame,
      num: Int, den: Int): DataFrame = {
    val ids = candC
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .distinct()
    val withSh = corpusText.join(ids, "doc_id")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        array_distinct(TextOps.shingles(col("toks"), n)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val out = candC
      .join(withSh.alias("a"), col("doc_a") === col("a.doc_id"))
      .join(withSh.alias("b"), col("doc_b") === col("b.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("a.sh"), col("b.sh"))).cast("long")
          .as("inter"),
        size(col("a.sh")).cast("long").as("na"),
        size(col("b.sh")).cast("long").as("nb"))
      .filter(col("inter") * den >=
        (col("na") + col("nb") - col("inter")) * num)
      .select("doc_a", "doc_b")
    // Eagerly pin the verified pairs: the returned frame must stay stable
    // against SUBSEQUENT commits to the index and the corpus lake (the
    // arrival loop upserts both between batches). An eager localCheckpoint
    // materializes it as DISTRIBUTED blocks — the corpus-wide near-dup
    // pair set never round-trips the driver (the r13 collect+parallelize
    // bounded it by driver memory, a 100 TB hazard).
    val pinned = out.localCheckpoint()
    withSh.unpersist()
    pinned
  }
}
