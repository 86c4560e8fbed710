package graft.table

import graft.SparkSpec
import graft.cdc.{CdcPipeline, GoldenFixtures, TableConfig}
import org.apache.spark.QueryPlans

/** Merge-on-read semantics: log-append writes, `_ro`/`_rt` read modes,
  * read-time merge ordering, inline compaction cadence, manifest
  * round-trip of the MOR fields, incremental reads.
  */
class MorTableSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(compactEvery: Int = 0): MorTable =
    new MorTable(spark, tmpDir("mor"), Seq("id"), Seq("p"),
      precombineField = "seq", compactEvery = compactEvery)

  private def rows(t: (Int, String, String, Int)*) =
    t.toSeq.toDF("id", "v", "p", "seq")

  test("manifest round-trips the MOR fields") {
    val m = Manifest(7L, rows((1, "a", "p1", 1)).schema.json, Seq("id"),
      Seq("p"), "seq",
      partitions = Map("p=p1" -> Seq("files/c1/a.parquet")),
      logPartitions = Map("p=p1" -> Seq("files/c2/l.parquet", "files/c3/l.parquet")),
      deltaCommits = 2L, lastCompaction = 1L,
      operation = "log_upsert",
      metrics = Map("files_added" -> 2L, "units_written" -> 1L))
    val back = ManifestCodec.parseManifest(ManifestCodec.renderManifest(m))
    assert(back == m)
  }

  test("commits carry an operation audit trail with write metrics") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1), (3, "c", "p2", 1)))
    assert(t.manifest.operation == "bulk_insert")
    assert(t.manifest.metrics("units_written") == 2L)
    t.upsert(rows((1, "a2", "p1", 2)))
    assert(t.manifest.operation == "log_upsert")
    assert(t.manifest.metrics("units_written") == 1L)
    t.delete(rows((3, "c", "p2", 3)))
    assert(t.manifest.operation == "log_delete")
    t.compactLogs()
    assert(t.manifest.operation == "log_compaction")
    assert(t.manifest.metrics("units_rewritten") == 2L)
    // the trail survives reload and time travel across retained versions
    assert(t.manifestAt(2L).operation == "log_upsert")
    // and reads back as the timeline DataFrame
    val hist = t.history().select("version", "operation")
      .as[(Long, String)].collect().toSeq
    assert(hist == Seq((4L, "log_compaction"), (3L, "log_delete"),
      (2L, "log_upsert"), (1L, "bulk_insert")), s"newest first: $hist")
  }

  test("upsert/delete append logs; _ro stays stale, _rt merges") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1), (2, "b", "p1", 1), (3, "c", "p2", 1)))
    t.upsert(rows((2, "b2", "p1", 2), (4, "d", "p2", 2)))
    t.delete(rows((1, "a", "p1", 3)))

    // base untouched by log writes
    assert(t.readOptimized().count() == 3)
    assert(t.manifest.deltaCommits == 2)
    assert(t.manifest.logPartitions.keySet == Set("p=p1", "p=p2"))

    val rt = t.realtime().select("id", "v").as[(Int, String)].collect().toMap
    assert(rt == Map(2 -> "b2", 3 -> "c", 4 -> "d"))
    // snapshot() on MOR IS the realtime view
    assert(t.snapshot().count() == 3)
  }

  test("applyChanges: two log appends with the metrics on the last; a " +
      "cold start writes base files; an empty call counts no delta commit") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1), (2, "b", "p1", 1), (3, "c", "p2", 1)))
    val v0 = t.manifest.version
    t.applyChanges(Some(rows((2, "b2", "p1", 2), (4, "d", "p2", 2))),
      Some(rows((1, "a", "p1", 3))), extraMetrics = Map("mark_x" -> 7L))
    assert(t.manifest.version == v0 + 2 && t.manifest.deltaCommits == 2)
    assert(t.manifestAt(v0 + 1).operation == "log_upsert")
    assert(!t.manifestAt(v0 + 1).metrics.contains("mark_x"),
      "a crash after the first append must leave the metrics behind")
    assert(t.manifest.operation == "log_delete")
    assert(t.manifest.metrics.get("mark_x").contains(7L))
    assert(t.realtime().select("id", "v").as[(Int, String)].collect().toMap ==
      Map(2 -> "b2", 3 -> "c", 4 -> "d"))
    // neither side: one metadata-only commit, no log, no delta commit
    val files = t.manifest.files
    t.applyChanges(None, None, extraMetrics = Map("mark_x" -> 8L))
    assert(t.manifest.version == v0 + 3 && t.manifest.deltaCommits == 2)
    assert(t.manifest.operation == "ledger" && t.manifest.files == files)
    assert(t.manifest.metrics.get("mark_x").contains(8L))

    // cold start: a table with no files yet takes its upserts as BASE
    // files (precombined), the deletes as a log
    val c = freshTable()
    c.createEmpty(rows((1, "a", "p1", 1)).schema)
    c.applyChanges(Some(rows((1, "a", "p1", 1), (1, "a2", "p1", 2),
      (2, "b", "p2", 1))), Some(rows((2, "b", "p2", 3))))
    assert(c.manifestAt(2L).operation == "insert_append")
    assert(c.readOptimized().select("id", "v").as[(Int, String)].collect()
      .toMap == Map(1 -> "a2", 2 -> "b"))
    assert(c.manifest.operation == "log_delete")
    assert(c.realtime().select("id", "v").as[(Int, String)].collect()
      .toMap == Map(1 -> "a2"))
  }

  test("data-skipping snapshot scans merge the pending logs") {
    val t = new MorTable(spark, tmpDir("mor-skip"), Seq("id"), Seq("p"),
      precombineField = "seq", compactEvery = 0, statsCols = Seq("id"))
    t.bulkInsert(rows((1, "a", "p1", 1), (2, "b", "p1", 1), (3, "c", "p2", 1)))
    t.upsert(rows((2, "b2", "p1", 2)))
    t.delete(rows((3, "c", "p2", 3)))
    def ids(df: org.apache.spark.sql.DataFrame, keep: Set[Int]) =
      df.select("id", "v").as[(Int, String)].collect()
        .filter(r => keep(r._1)).toMap
    assert(ids(t.snapshotForRange("id", 1, 3), Set(1, 2, 3)) ==
      Map(1 -> "a", 2 -> "b2"))
    assert(ids(t.snapshotForValues("id", Seq(2, 3)), Set(2, 3)) ==
      Map(2 -> "b2"))
    assert(ids(t.snapshotForValuesAt(2L, "id", Seq(2, 3)), Set(2, 3)) ==
      Map(2 -> "b2", 3 -> "c"))
  }

  test("upsert after delete re-inserts the key (commit order wins)") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1)))
    t.delete(rows((1, "a", "p1", 2)))
    assert(t.realtime().count() == 0)
    t.upsert(rows((1, "a2", "p1", 3)))
    val rt = t.realtime().select("id", "v").as[(Int, String)].collect()
    assert(rt.toSeq == Seq((1, "a2")))
  }

  test("intra-batch conflicts resolve by precombine, like the COW path") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1)))
    // one upsert batch, two rows for key 1: seq=9 must win over seq=5
    t.upsert(rows((1, "low", "p1", 5), (1, "high", "p1", 9)))
    assert(t.realtime().select("v").as[String].collect().toSeq == Seq("high"))
  }

  test("applyChanges with incomingUnique writes the upsert log without " +
      "a precombine window") {
    def windows(unique: Boolean): Int = {
      val t = freshTable()
      t.bulkInsert(rows((1, "a", "p1", 1), (2, "b", "p2", 1)))
      val (_, plans) = QueryPlans(spark)(t.applyChanges(
        Some(rows((1, "a2", "p1", 2), (3, "c", "p2", 2))), None,
        incomingUnique = unique))
      assert(t.manifest.operation == "log_upsert")
      assert(t.realtime().select("id", "v").as[(Int, String)].collect()
        .toMap == Map(1 -> "a2", 2 -> "b", 3 -> "c"))
      plans.map(_.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }.size).sum
    }
    assert(windows(unique = false) == 1, "the log write precombines")
    assert(windows(unique = true) == 0,
      "a batch the caller vouches unique skips the window")
  }

  test("compactLogs folds logs into base and resets MOR state") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1), (3, "c", "p2", 1)))
    t.upsert(rows((1, "a2", "p1", 2), (4, "d", "p2", 2)))
    t.delete(rows((3, "c", "p2", 3)))
    val rtBefore = t.realtime().select("id", "v").as[(Int, String)]
      .collect().toMap

    assert(t.compactLogs())
    val m = t.manifest
    assert(m.logPartitions.isEmpty && m.deltaCommits == 0)
    assert(m.lastCompaction == m.version)
    // read-optimized == realtime after compaction, values preserved
    val ro = t.readOptimized().select("id", "v").as[(Int, String)]
      .collect().toMap
    assert(ro == rtBefore && ro == Map(1 -> "a2", 4 -> "d"))
    // nothing left to compact
    assert(!t.compactLogs())
  }

  test("inline compaction triggers at the delta-commit cadence") {
    val t = freshTable(compactEvery = 2)
    t.bulkInsert(rows((1, "a", "p1", 1)))
    t.upsert(rows((1, "a2", "p1", 2)))
    assert(t.manifest.deltaCommits == 1) // below cadence: logs pending
    t.upsert(rows((1, "a3", "p1", 3)))
    val m = t.manifest
    assert(m.deltaCommits == 0 && m.logPartitions.isEmpty,
      "second delta commit must inline-compact")
    assert(t.readOptimized().select("v").as[String].collect().toSeq ==
      Seq("a3"))
  }

  test("changesSince reads only post-version files and skips deletes") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1), (2, "b", "p2", 1)))   // v1
    t.upsert(rows((2, "b2", "p2", 2), (3, "c", "p1", 2)))      // v2
    t.delete(rows((1, "a", "p1", 3)))                          // v3
    val ch = t.changesSince(1L).select("id", "v").as[(Int, String)]
      .collect().toMap
    assert(ch == Map(2 -> "b2", 3 -> "c"),
      "changed keys surface once; the deleted key does not surface")
    // time travel across log commits
    assert(t.realtimeAt(2L).count() == 3)
    assert(t.realtimeAt(1L).count() == 2)
  }

  test("log appends evolve the schema additively; old rows read null-filled") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1)))
    val withNew = Seq((2, "b", "p1", 2, "extra"))
      .toDF("id", "v", "p", "seq", "note")
    t.upsert(withNew)
    assert(t.manifest.schema.fieldNames.contains("note"))
    val got = t.realtime().select("id", "note")
      .as[(Int, Option[String])].collect().toMap
    assert(got == Map(1 -> None, 2 -> Some("extra")))
    // compaction carries the evolved schema into base files
    t.compactLogs()
    val ro = t.readOptimized().select("id", "note")
      .as[(Int, Option[String])].collect().toMap
    assert(ro == Map(1 -> None, 2 -> Some("extra")))
  }

  test("upsertPartial on MOR compacts pending logs, then coalesce-merges") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1), (2, "b", "p1", 1)))
    t.upsert(rows((2, "b2", "p1", 2)))          // pending log
    // partial update: null v means keep stored value — must see b2, the
    // LOG state, not the stale base
    val partial = Seq((2, null.asInstanceOf[String], "p1", 3))
      .toDF("id", "v", "p", "seq")
    t.upsertPartial(partial)
    val got = t.realtime().select("id", "v", "seq")
      .as[(Int, String, Int)].collect()
      .map { case (i, v, q) => i -> ((v, q)) }.toMap
    assert(got(2) == (("b2", 3)), s"stored log value must survive: $got")
    assert(got(1) == (("a", 1)))
    assert(t.manifest.logPartitions.isEmpty, "partial upsert compacts first")
  }

  test("changesSince stays row-exact across a compaction rewrite") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1), (2, "b", "p1", 1)))   // v1
    t.upsert(rows((2, "b2", "p1", 2), (3, "c", "p1", 2)))      // v2 (log)
    t.compactLogs()                                            // v3 rewrite
    // compaction rewrote partition p1's files, but rows keep their commit
    // stamps: only the v2 changes must surface
    val ch = t.changesSince(1L).select("id", "v").as[(Int, String)]
      .collect().toMap
    assert(ch == Map(2 -> "b2", 3 -> "c"), s"got $ch")
    assert(t.changesSince(3L).count() == 0)
  }

  test("bucketed MOR routes logs per key-hash bucket and merges correctly") {
    val t = new MorTable(spark, tmpDir("mor-b"), Seq("id"), Nil,
      precombineField = "seq", numBuckets = 4, compactEvery = 0)
    val all = (1 to 40).map(i => (i, s"v$i", "p", 1))
    t.bulkInsert(rows(all: _*))
    t.upsert(rows((3, "v3b", "p", 2), (17, "v17b", "p", 2)))
    t.delete(rows((5, "v5", "p", 3)))
    // log listings are keyed by bucket — only touched buckets carry logs
    assert(t.manifest.logPartitions.keySet.forall(_.startsWith("__bucket=")))
    val rt = t.realtime().select("id", "v").as[(Int, String)].collect().toMap
    assert(rt.size == 39 && rt(3) == "v3b" && rt(17) == "v17b" &&
      !rt.contains(5) && rt(1) == "v1")
    t.compactLogs()
    assert(t.readOptimized().count() == 39)
  }

  test("vacuumOrphans rolls back crashed-commit debris, keeps live data") {
    val t = freshTable()
    t.bulkInsert(rows((1, "a", "p1", 1)))
    t.upsert(rows((2, "b", "p1", 2)))
    // simulate a writer that died after writing data, before its manifest
    val orphan = new java.io.File(s"${t.basePath}/files/c99")
    orphan.mkdirs()
    java.nio.file.Files.write(orphan.toPath.resolve("part-dead.parquet"),
      Array[Byte](1, 2, 3))
    val removed = t.vacuumOrphans()
    assert(removed == Seq("c99"))
    assert(!orphan.exists())
    assert(t.realtime().count() == 2, "live data must be untouched")
    assert(t.vacuumOrphans().isEmpty, "idempotent once clean")
  }

  test("golden scenario on MOR reaches 190 in _rt; _ro catches up at compaction") {
    val fullLoad = GoldenFixtures.fullLoad(spark)
    val cdcBatch = GoldenFixtures.cdcBatch(spark)
    val cfg = TableConfig.fromFile(GoldenFixtures.controlFile).head
      .copy(storageType = "mor")
    val pipe = new CdcPipeline(spark, tmpDir("wh-mor"))

    pipe.run(cfg, spark.read.parquet(fullLoad))
    val table = pipe.tableFor(cfg).asInstanceOf[MorTable]
    assert(table.readOptimized().count() == 100)

    pipe.run(cfg, spark.read.parquet(cdcBatch))
    // writes were log appends: base is stale, merge view is current
    assert(table.readOptimized().count() == 100)
    assert(table.realtime().count() == 190)

    // both reference-named views were synced by the run
    assert(spark.sql(
      s"SELECT count(*) FROM ${pipe.viewName(cfg)}_rt")
      .collect()(0).getLong(0) == 190)
    assert(spark.sql(
      s"SELECT count(*) FROM ${pipe.viewName(cfg)}_ro")
      .collect()(0).getLong(0) == 100)

    // updated values visible through the merge
    val updated = table.realtime()
      .filter($"measurement_id".isin((100 to 109)
        .map(i => s"MeasurementID-$i"): _*))
      .select($"measurement_value".cast("string")).as[String].collect()
    assert(updated.length == 10 && updated.forall(_ == "100.00"))

    // compaction folds the logs; _ro converges to the golden state
    assert(table.compactLogs())
    assert(table.readOptimized().count() == 190)
    assert(table.realtime().count() == 190)
  }
}
