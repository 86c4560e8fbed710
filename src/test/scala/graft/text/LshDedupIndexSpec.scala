package graft.text

import graft.SparkSpec
import graft.table.CowTable
import graft.util.FailingLocalFs
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class LshDedupIndexSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  private def canon(df: DataFrame): Set[(Long, Long)] =
    df.select(least(col("doc_a"), col("doc_b")),
      greatest(col("doc_a"), col("doc_b")))
      .as[(Long, Long)].collect().toSet

  /** (files_candidate, files_kept) of the index's newest commit and the
    * file count of the one before it, from its history.
    */
  private def lastCommit(path: String): (Long, Long, Long) = {
    val h = CowTable.open(spark, path).history()
      .select("files", "metrics").as[(Long, Map[String, Long])].collect()
    (h(0)._2("files_candidate"), h(0)._2("files_kept"), h(1)._1)
  }

  test("incremental two-batch ingest equals the one-shot batch run") {
    val path = tmpDir("lshidx")
    val idx = new LshDedupIndex(spark, path)
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val p1 = canon(idx.ingest(b1, docs, 8, 10))
    val p2 = canon(idx.ingest(b2, docs, 8, 10))
    // append shape: the doc_id-led record key puts the batch of higher
    // ids outside every existing file's key range, so no index file is
    // read or rewritten
    val (cand, kept, filesBefore) = lastCommit(path)
    assert(cand == 0, "new ids must prune every existing index file")
    assert(kept == filesBefore && kept > 0,
      s"every earlier file must be kept verbatim: kept $kept of $filesBefore")
    assert((p1 & p2).isEmpty, "a pair must be reported by exactly one batch")
    val batch = canon(TextOps.lshNearDupPairs(docs, 3, 2, 8, 10))
    assert((p1 | p2) == batch,
      "incremental union must equal the corpus-wide batch result")
    assert(batch.nonEmpty, "corpus contains planted near-dups")
  }

  test("join-based index probe (past maxProbeInList) matches the IN-list " +
      "path") {
    // maxProbeInList = 1 forces every ingest past the bounded IN-list
    // fast path onto the semi-join prune — the result sets must be
    // identical (the r14 driver-collect removal)
    val pathJ = tmpDir("lshidx-join")
    val idxJ = new LshDedupIndex(spark, pathJ, maxProbeInList = 1)
    val b1 = docs.filter(col("doc_id") < 250)
    val b2 = docs.filter(col("doc_id") >= 250)
    val p1 = canon(idxJ.ingest(b1, docs, 8, 10))
    val p2 = canon(idxJ.ingest(b2, docs, 8, 10))
    val batch = canon(TextOps.lshNearDupPairs(docs, 3, 2, 8, 10))
    assert((p1 | p2) == batch,
      "join-pruned incremental union must equal the batch result")
    assert((p1 & p2).isEmpty)
  }

  test("maxBucket caps cross-batch mega-bucket fan-out to hub edges") {
    // boilerplate group split across two batches: 80 indexed + 40 new
    // identical docs — uncapped, batch 2 would emit 80×40 + C(40,2)
    // old-new/new-new pairs for the group; capped, each new doc links
    // once to the bucket hub (the group's global min, indexed in batch 1)
    val boiler = (id: Long) => (id, "the same boilerplate template text " +
      "repeated verbatim across every mirrored page of the corpus")
    val g1 = spark.createDataFrame((10000L until 10080L).map(boiler))
      .toDF("doc_id", "text")
    val g2 = spark.createDataFrame((10080L until 10120L).map(boiler))
      .toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text")
      .unionByName(g1).unionByName(g2)
    val b1 = docs.filter(col("doc_id") < 250).select("doc_id", "text")
      .unionByName(g1)
    val b2 = docs.filter(col("doc_id") >= 250).select("doc_id", "text")
      .unionByName(g2)

    val pathU = tmpDir("lshidx-uncap")
    val idxU = new LshDedupIndex(spark, pathU)
    val u = canon(idxU.ingest(b1, corpus, 8, 10)) |
      canon(idxU.ingest(b2, corpus, 8, 10))

    val pathC = tmpDir("lshidx-cap")
    val idxC = new LshDedupIndex(spark, pathC)
    val c1 = canon(idxC.ingest(b1, corpus, 8, 10, maxBucket = 30))
    val c2 = canon(idxC.ingest(b2, corpus, 8, 10, maxBucket = 30))
    val c = c1 | c2
    assert(c.subsetOf(u), "the cap can only drop pairs")
    // batch 1's in-group pairs: star to hub 10000 (bucket size 80 > 30)
    assert(c1.filter(p => p._1 >= 10000 && p._2 >= 10000) ==
      (10001L until 10080L).map(x => (10000L, x)).toSet)
    // batch 2: each new doc once to the INDEXED hub (index bucket 80 > 30
    // reduces to its min 10000) plus the batch's own star to 10080 (new
    // bucket 40 > 30)
    assert(c2.filter(p => p._1 >= 10000 && p._2 >= 10000) ==
      ((10080L until 10120L).map(x => (10000L, x)).toSet ++
        (10081L until 10120L).map(x => (10080L, x)).toSet))
    // pairs not touching the mega-group are identical to the uncapped run
    assert(c.filter(p => p._1 < 10000 && p._2 < 10000) ==
      u.filter(p => p._1 < 10000 && p._2 < 10000))
    // the whole 120-doc group stays one component through the hub
    val comp = TextOps.dedupClusters(
      c.toSeq.toDF("doc_a", "doc_b"))
      .filter(col("cluster_id") === 10000L).count()
    assert(comp == 120L)
  }

  test("streaming ingest: table-as-stream -> foreachBatch dedup equals batch") {
    // the production loop: new docs land in a graft corpus table commit
    // by commit; a stream over the table feeds each micro-batch through
    // the persistent index; the union of emitted pairs equals the
    // corpus-wide batch run. Redelivery safety rides on ingest's
    // idempotent index upsert (pinned by the re-ingest spec).
    import org.apache.spark.sql.streaming.Trigger
    val corpusPath = tmpDir("lsh-stream-corpus")
    val corpus = new CowTable(spark, corpusPath, keyCols = Seq("doc_id"),
      trackCommitVersions = true)
    corpus.bulkInsert(docs.filter(col("doc_id") < 250)
      .select("doc_id", "text"))
    corpus.upsert(docs.filter(col("doc_id") >= 250)
      .select("doc_id", "text"))

    val idx = new LshDedupIndex(spark, tmpDir("lsh-stream-idx"))
    val pairs = scala.collection.mutable.Set[(Long, Long)]()
    var batches = 0
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", "1")
      .load(corpusPath)
      .writeStream
      .option("checkpointLocation", tmpDir("lsh-stream-ckpt"))
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        batches += 1
        pairs ++= canon(idx.ingest(b.select("doc_id", "text"), docs, 8, 10))
        ()
      }
      .start()
    q.awaitTermination()
    assert(batches == 2, s"one micro-batch per commit, got $batches")
    val batchRun = canon(TextOps.lshNearDupPairs(docs, 3, 2, 8, 10))
    assert(pairs.toSet == batchRun,
      "streamed incremental pairs must equal the corpus-wide batch run")
  }

  test("re-ingesting an indexed batch is idempotent on the index") {
    val path = tmpDir("lshidx-re")
    val idx = new LshDedupIndex(spark, path)
    val b1 = docs.filter(col("doc_id") < 100)
    idx.ingest(b1, docs, 8, 10)
    val rowsBefore = CowTable.open(spark, path).snapshot().count()
    val verBefore = CowTable.open(spark, path).manifest.version
    // same docs again: no self-pairs, and the upsert rewrites keys in
    // place (record key = (doc_id, band, bh)) — index size is unchanged
    val again = idx.ingest(b1, docs, 8, 10)
    assert(lastCommit(path)._1 > 0,
      "re-ingested ids must read the files that hold them")
    assert(again.filter(col("doc_a") === col("doc_b")).count() == 0)
    val after = CowTable.open(spark, path)
    assert(after.snapshot().count() == rowsBefore)
    assert(after.manifest.version > verBefore, "re-ingest still commits")
  }

  // The overlapped arrival-loop sites never await their background side;
  // a failure there must still fail the call, or later batches would miss
  // near-dups against a silently stale index.
  test("ingest fails when its overlapped index upsert fails") {
    val path = tmpDir("lshidx-bgfail")
    val idx = new LshDedupIndex(spark, path)
    idx.ingest(docs.filter(col("doc_id") < 250), docs, 8, 10)
    val e = intercept[Throwable] {
      FailingLocalFs.failingCreates(spark, _.contains(path)) {
        idx.ingest(docs.filter(col("doc_id") >= 250), docs, 8, 10)
      }
    }
    assert(FailingLocalFs.injected(e), s"unexpected failure: $e")
  }

  test("pipeline_e2e_incr fails when its background ANN ingest fails") {
    // only the ANN chain's final codes upsert (commit 2 of the codes
    // table) fails, after the semantic-drop set was handed to the body
    val e = intercept[Throwable] {
      FailingLocalFs.failingCreates(spark, p =>
          p.contains("graft-pincr-ann") && p.contains("/codes/files/c2-")) {
        graft.queries.QueryCatalog.queries("pipeline_e2e_incr")(spark, sf)
          .collect()
      }
    }
    assert(FailingLocalFs.injected(e), s"unexpected failure: $e")
  }
}
