package graft.sim

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.table.CowTable

/** Persistent IVF-PQ (IVFADC) ANN index — the production shape of
  * similarity retrieval over a GROWING embedding corpus (the persistent
  * sibling of [[Similarity.ivfPqIndex]]/[[Similarity.ivfPqSearch]], which
  * re-assign and re-encode the whole corpus per run; cf.
  * [[graft.text.Bm25Index]] and [[graft.text.LshDedupIndex]], the lexical
  * and near-dup indexes with the same lifecycle). Three graft tables:
  *
  *   - `coarse/` — the inverted-file codebook (`centroid_id, cv`), frozen
  *     at [[build]] (nCells rows of dim doubles).
  *   - `pq/` — the product-quantization codebook (`m, centroid_id, cv`),
  *     frozen at [[build]] (numSub×k rows of subDim doubles).
  *   - `codes/` — one row per vector (`vec_id, centroid_id, code`): the
  *     cell assignment + 8-byte packed PQ code, ~16 B of index per
  *     vector. Record key `vec_id`; cell-clustered with `centroid_id`
  *     stats, so a query's nProbe cells read their file stripes via
  *     [[CowTable.snapshotForValues]], never the whole index.
  *
  * Lifecycle at 100 TB: [[build]] once (codebook training is the only
  * corpus-wide pass), then [[ingest]] per arrival batch — assign + encode
  * ONLY the batch against the frozen codebooks and key-upsert it (cost ∝
  * batch; re-ingest is idempotent; an UPDATED embedding re-encodes and
  * MOVES cell atomically because the upsert is keyed by `vec_id`), and
  * [[delete]] by key. Freezing codebooks under churn is the standard
  * IVF/PQ operating contract (FAISS's add-after-train); retrain by
  * re-[[build]]ing when drift warrants — the encode pass is
  * deterministic, so the two-batch-ingest == full-build equality is
  * spec-pinned exactly ([[AnnIndexSpec]]).
  *
  * [[search]] is [[Similarity.pqSearchIndexed]] served from the stored
  * tables: probe the nProbe nearest cells (codebook is tiny, collected
  * ids are metadata-bounded), ADC-scan only those cells' code rows
  * (integer micro-unit LUT — deterministic cross-engine), exact-re-rank
  * the shortlist against the raw embeddings. Identical output contract
  * to [[Similarity.ivfPqSearch]] on the same codebooks (spec-pinned).
  */
final class AnnIndex(spark: SparkSession, path: String,
    val numSub: Int, val subDim: Int, val pqK: Int, val nCells: Int) {

  private val coarsePath = s"$path/coarse"
  private val pqPath = s"$path/pq"
  private val codesPath = s"$path/codes"

  private def openOr(p: String)(create: => CowTable): CowTable =
    if (CowTable.existsAt(spark, p)) CowTable.open(spark, p) else create

  private def coarseTable(): CowTable = openOr(coarsePath)(
    new CowTable(spark, coarsePath, keyCols = Seq("centroid_id")))

  private def pqTable(): CowTable = openOr(pqPath)(
    new CowTable(spark, pqPath, keyCols = Seq("m", "centroid_id")))

  private def codesTable(): CowTable = openOr(codesPath)(
    new CowTable(spark, codesPath, keyCols = Seq("vec_id"),
      clusterCols = Seq("centroid_id"), statsCols = Seq("centroid_id"),
      fileIndex = true))

  def exists: Boolean =
    CowTable.existsAt(spark, coarsePath) && CowTable.existsAt(spark, pqPath)

  /** Train the codebooks on `embs` and encode it as the initial corpus.
    * `trained = false` uses the deterministic first-k codebooks (the
    * reproducible-oracle variant); `trained = true` runs k-means
    * (per-subspace for PQ) — same shapes, better recall.
    */
  def build(embs: DataFrame, trained: Boolean = false,
      kmeansIters: Int = 5): Unit = {
    require(numSub * math.log(pqK.toDouble) / math.log(2) <= 62,
      s"ann index: $pqK^$numSub codes overflow a long")
    val coarse =
      if (trained) Similarity.kmeansCentroids(embs, nCells, kmeansIters)
      else Similarity.firstKCodebook(embs, nCells)
    val pqc =
      if (trained)
        Similarity.pqTrainedCodebook(embs, numSub, subDim, pqK, kmeansIters)
      else Similarity.pqCodebook(embs, numSub, subDim, pqK)
    val ct = coarseTable()
    if (ct.exists) ct.overwrite(coarse) else ct.bulkInsert(coarse)
    val pt = pqTable()
    if (pt.exists) pt.overwrite(pqc) else pt.bulkInsert(pqc)
    // A REBUILD over an existing index must not retain rows encoded
    // against the replaced codebooks (their centroid_id and packed code
    // would be read against the NEW books): the codes table is fully
    // overwritten with the fresh encoding, never key-upserted.
    val codes = Similarity.ivfPqIndex(embs, coarseTable().snapshot(),
      pqTable().snapshot(), numSub, subDim, pqK)
    val t = codesTable()
    if (t.exists) t.overwrite(codes) else t.bulkInsert(codes)
    ()
  }

  /** Encode one arrival batch against the FROZEN codebooks and key-upsert
    * it into the codes table. Cost ∝ batch; idempotent on re-ingest;
    * updated embeddings re-encode and move cells.
    */
  def ingest(delta: DataFrame): Unit = {
    require(exists, s"ann index at $path: build() before ingest()")
    val coarse = coarseTable().snapshot()
    val pqc = pqTable().snapshot()
    val codes =
      Similarity.ivfPqIndex(delta, coarse, pqc, numSub, subDim, pqK)
    val t = codesTable()
    if (t.exists) t.upsert(codes) else t.bulkInsert(codes)
    ()
  }

  /** Drop vectors by key (`vec_id` rows). */
  def delete(ids: DataFrame): Unit = { codesTable().delete(ids); () }

  /** Periodic maintenance: re-stripe the codes by cell so each file holds
    * a contiguous cell range and probed cells read few files (ingest
    * upserts keep clustering within the files they rewrite; a growing
    * index benefits from an occasional global re-stripe).
    */
  def maintain(parallelism: Int = 0): Unit = {
    if (CowTable.existsAt(spark, codesPath))
      codesTable().recluster(Seq("centroid_id"), parallelism)
    ()
  }

  /** IVFADC top-k for `queryId`, served from the stored index: probe the
    * `nProbe` cosine-nearest cells, ADC-scan only their code stripes
    * (file-pruned via the cell stats), exact-re-rank `shortlist` rows
    * against the raw embeddings in `embs`. Output (`vec_id, adist, sim`)
    * identical to [[Similarity.ivfPqSearch]] on the same codebooks.
    */
  def search(embs: DataFrame, queryId: Long, nProbe: Int, shortlist: Int,
      topK: Int): DataFrame = {
    require(exists, s"ann index at $path: build() before search()")
    val coarse = coarseTable().snapshot()
    val pqc = pqTable().snapshot()
    val q = embs.filter(col("vec_id") === queryId)
      .select(Similarity.toDoubleVec(col("embedding")).as("qv"))
    // nProbe nearest cells: codebook-sized work; the collected ids are
    // metadata-bounded (nProbe longs), never corpus-derived
    val probedIds = coarse.crossJoin(broadcast(q))
      .select(col("centroid_id"),
        Similarity.micro6(Similarity.cosine(col("cv"), col("qv")))
          .as("csim"))
      .orderBy(col("csim").desc, col("centroid_id"))
      .limit(nProbe)
      .select("centroid_id")
      .collect().map(_.getLong(0)).toSeq
    val cellCodes = codesTable()
      .snapshotForValues("centroid_id", probedIds)
      .filter(col("centroid_id").isin(probedIds: _*))
      .select("vec_id", "code")
    Similarity.pqSearchIndexed(embs, cellCodes, queryId, pqc,
      numSub, subDim, pqK, shortlist, topK)
  }

  /** Dedup-on-arrival: flag which BATCH vectors already have a
    * near-duplicate in the INDEXED corpus — the semantic twin of
    * [[graft.text.LshDedupIndex.ingest]]'s pair check, served from the
    * ANN index (probe the batch vector's nProbe cells, ADC-shortlist,
    * exact re-rank against `corpus`). Returns one row per batch vector:
    * `(vec_id, keep, dup_of, max_sim)` with `dup_of` the MIN indexed id
    * at or above `threshold` (the min-id witness rule of
    * [[Similarity.semanticDedup]]) — `keep = dup_of IS NULL`. PURE: the
    * index is not modified; the arrival loop is
    * `check → (filter) → ingest`, and re-delivered already-indexed ids
    * never match themselves. Recall is the IVFADC contract (a duplicate
    * whose cell is outside the probe set is missed); exact duplicates
    * share a cell by construction.
    */
  def nearDupCheck(batch: DataFrame, corpus: DataFrame, threshold: Double,
      nProbe: Int, shortlist: Int): DataFrame = {
    require(exists, s"ann index at $path: build() before nearDupCheck()")
    val ids = batch.select(col("vec_id"))
    if (!CowTable.existsAt(spark, codesPath))
      return ids.select(col("vec_id"), lit(true).as("keep"),
        lit(null).cast("long").as("dup_of"),
        lit(null).cast("double").as("max_sim"))
    val coarse = coarseTable().snapshot()
    val pqc = pqTable().snapshot()
    val cb = Similarity.collectCodebook(coarse)
    val v = Similarity.toDoubleVec(col("embedding"))
    // distinct probed cells across the batch: bounded by nCells
    val probedIds = batch
      .select(explode(graft.functions.CodebookExpressions
        .topCellsCosine(v, cb, nProbe, micro = true)).as("__p"))
      .select(col("__p.centroid_id"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val cellCodes = codesTable()
      .snapshotForValues("centroid_id", probedIds)
      .filter(col("centroid_id").isin(probedIds: _*))
      .select("vec_id", "centroid_id", "code")
    val hits = Similarity.ivfPqSearchBatchDf(corpus, cellCodes, batch,
      coarse, pqc, numSub, subDim, pqK, nProbe, shortlist,
      topK = shortlist)
    val flagged = hits.filter(col("sim") >= threshold)
      .groupBy(col("q_id"))
      .agg(min(col("vec_id")).as("dup_of"), max(col("sim")).as("max_sim"))
      .withColumnRenamed("q_id", "vec_id")
    ids.join(flagged, Seq("vec_id"), "left")
      .select(col("vec_id"), col("dup_of").isNull.as("keep"),
        col("dup_of"), col("max_sim"))
  }

  /** Batched serving: IVFADC top-k for EVERY query id in one plan
    * ([[Similarity.ivfPqSearchBatch]] over the stored tables). The union
    * of the queries' probed cells (≤ |queries|·nProbe ids — metadata-
    * bounded) prunes the code files read; per-query output is identical
    * to [[search]] (spec-pinned).
    */
  def searchBatch(embs: DataFrame, queryIds: Seq[Long], nProbe: Int,
      shortlist: Int, topK: Int): DataFrame = {
    require(exists, s"ann index at $path: build() before searchBatch()")
    val coarse = coarseTable().snapshot()
    val pqc = pqTable().snapshot()
    val cb = Similarity.collectCodebook(coarse)
    val v = Similarity.toDoubleVec(col("embedding"))
    val probedIds = embs.filter(col("vec_id").isInCollection(queryIds))
      .select(explode(graft.functions.CodebookExpressions
        .topCellsCosine(v, cb, nProbe, micro = true)).as("__p"))
      .select(col("__p.centroid_id"))
      .distinct().collect().map(_.getLong(0)).toSeq
    val cellCodes = codesTable()
      .snapshotForValues("centroid_id", probedIds)
      .filter(col("centroid_id").isin(probedIds: _*))
      .select("vec_id", "centroid_id", "code")
    Similarity.ivfPqSearchBatch(embs, cellCodes, queryIds, coarse, pqc,
      numSub, subDim, pqK, nProbe, shortlist, topK)
  }
}
