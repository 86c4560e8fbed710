package graft.text

import graft.SparkSpec
import graft.table.{CowTable, FileIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class Bm25IndexSpec extends SparkSpec {
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet")

  private val terms = Seq("spark", "join", "vector")

  private def ranks(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select("doc_id", "dl", "score", "rnk")
      .as[(Long, Long, Double, Int)].collect().sortBy(_._4).toSeq

  /** (files_candidate, files_kept) of the table's newest commit and the
    * file count of the one before it, from its history.
    */
  private def lastCommit(table: String): (Long, Long, Long) = {
    val h = CowTable.open(spark, table).history()
      .select("files", "metrics").as[(Long, Map[String, Long])].collect()
    (h(0)._2("files_candidate"), h(0)._2("files_kept"), h(1)._1)
  }

  test("index-served ranking equals the corpus-scan ranking exactly") {
    val path = tmpDir("bm25idx")
    val idx = new Bm25Index(spark, path)
    idx.ingest(docs)
    val fromIndex = ranks(idx.topDocs(terms))
    val fromScan = ranks(TextOps.bm25TopDocs(docs, terms))
    assert(fromIndex == fromScan,
      s"index vs scan diverged: ${fromIndex.take(3)} vs ${fromScan.take(3)}")
    assert(fromIndex.nonEmpty)
  }

  test("a query reads its corpus stats in one aggregate") {
    val idx = new Bm25Index(spark, tmpDir("bm25idx-jobs"))
    idx.ingest(docs)
    idx.topDocs(terms) // warm the read path
    // the count and the length sum were two aggregates of two jobs each
    val (df, jobs) = org.apache.spark.JobCount(spark.sparkContext)(
      idx.topDocs(terms))
    assert(jobs == 2, s"corpus stats must cost one aggregate: $jobs jobs")
    assert(ranks(df) == ranks(TextOps.bm25TopDocs(docs, terms)))
  }

  test("split-batch incremental ingest equals one-shot; re-ingest idempotent") {
    val path = tmpDir("bm25idx-inc")
    val idx = new Bm25Index(spark, path)
    idx.ingest(docs.filter(col("doc_id") < 250))
    idx.ingest(docs.filter(col("doc_id") >= 250))
    // append shape: the doc_id-led postings key puts the batch of higher
    // ids outside every existing file's key range, so no file is read
    // or rewritten
    val (cand, kept, filesBefore) = lastCommit(s"$path/postings")
    assert(cand == 0, "new ids must prune every existing postings file")
    assert(kept == filesBefore && kept > 0,
      s"every earlier file must be kept verbatim: kept $kept of $filesBefore")
    val expected = ranks(TextOps.bm25TopDocs(docs, terms))
    assert(ranks(idx.topDocs(terms)) == expected,
      "two-batch ingest must serve the same ranking as a full build")
    // re-ingest a batch already indexed: postings/doclens overwrite in
    // place and the derived stats recount — the ranking must not move
    val postingsBefore =
      CowTable.open(spark, s"$path/postings").snapshot().count()
    idx.ingest(docs.filter(col("doc_id") < 250))
    assert(lastCommit(s"$path/postings")._1 > 0,
      "re-ingested ids must read the files that hold them")
    assert(CowTable.open(spark, s"$path/postings").snapshot().count() ==
      postingsBefore, "re-ingest must not grow the postings table")
    assert(ranks(idx.topDocs(terms)) == expected,
      "re-ingest must leave the ranking unchanged")
  }

  test("query-term postings reads are file-pruned by term stats") {
    val path = tmpDir("bm25idx-prune")
    val idx = new Bm25Index(spark, path)
    idx.ingest(docs)
    // restripe into term ranges (the tiny test corpus lands in one file
    // otherwise); queries must still rank identically afterwards
    idx.maintain(parallelism = 8)
    val t = CowTable.open(spark, s"$path/postings")
    val all = t.manifest.baseFiles.size
    assert(all >= 8, s"recluster must produce term stripes, got $all")
    // term-stat file skipping must narrow the read to the stripes that
    // can hold the query terms
    val pruned = FileIndex.filesForValues(spark, t.basePath, t.manifest,
      "term", terms.map(x => x: Any))
    assert(pruned.size < all,
      s"expected term-pruned read, got ${pruned.size} of $all files")
    assert(ranks(idx.topDocs(terms)) ==
      ranks(TextOps.bm25TopDocs(docs, terms)),
      "maintenance must not change rankings")
  }
}
