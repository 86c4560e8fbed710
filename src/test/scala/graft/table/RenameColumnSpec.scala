package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Metadata-only RENAME COLUMN over parquet field ids: files written
  * under the old name must keep resolving by id, new writes land under
  * the new name, data skipping re-keys, and the legacy/name-only cases
  * refuse loudly.
  */
class RenameColumnSpec extends SparkSpec {
  import spark.implicits._

  test("rename resolves old and new files by field id, metadata-only") {
    val t = new CowTable(spark, tmpDir("ren"), keyCols = Seq("id"))
    t.bulkInsert(Seq((1L, 10.0, "a"), (2L, 20.0, "b"))
      .toDF("id", "v", "tag"))
    t.upsert(Seq((3L, 30.0, "c")).toDF("id", "v", "tag"))
    val t2 = t.renameColumn("v", "amount")
    val m = CowTable.openManifest(spark, t.basePath)
    assert(m.operation == "rename_column")
    assert(m.metrics.get("files_added").forall(_ == 0L),
      "rename must not write data files")
    assert(m.schema.fieldNames.toSeq == Seq("id", "amount", "tag"))
    // pre-rename files (two commits) resolve by id
    val got = t2.snapshot().select("id", "amount", "tag")
      .as[(Long, Double, String)].collect().sortBy(_._1)
    assert(got.toSeq == Seq((1L, 10.0, "a"), (2L, 20.0, "b"),
      (3L, 30.0, "c")), got.mkString(", "))
    // post-rename write carries the new name; mixed files still exact
    t2.upsert(Seq((4L, 40.0, "d")).toDF("id", "amount", "tag"))
    assert(t2.snapshot().count() == 4)
    assert(t2.snapshot().filter($"amount" === 40.0).count() == 1)
    // the DSv2 read path resolves ids too
    val viaSource = spark.read.format("graft").load(t.basePath)
      .select(sum($"amount")).head.getDouble(0)
    assert(viaSource == 100.0)
    // renaming BACK also works (id unchanged throughout)
    val t3 = t2.renameColumn("amount", "v")
    assert(t3.snapshot().select(sum($"v")).head.getDouble(0) == 100.0)
  }

  test("rename re-keys per-file stats so skipping keeps pruning") {
    val t = new CowTable(spark, tmpDir("ren-stats"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("k"))
    def stripe(lo: Int) = (lo until lo + 10)
      .map(i => (i.toLong, i.toLong)).toDF("id", "k")
    t.bulkInsert(stripe(0), parallelism = 1)
    t.insertAppend(stripe(100), parallelism = 1)
    val t2 = t.renameColumn("k", "bucketed_key")
    val m = CowTable.openManifest(spark, t.basePath)
    assert(m.props.get.statsCols == Seq("bucketed_key"))
    assert(m.fileStats.valuesIterator
      .forall(_.colStats.keySet == Set("bucketed_key")),
      "per-file stats must re-key to the new name")
    val pruned = FileIndex.filesForRange(spark, m, "bucketed_key",
      Some(100L), Some(105L))
    assert(pruned.size == 1,
      s"stats under the new name must prune: ${pruned.size} of 2 kept")
    // snapshotForRange is FILE-level skipping (superset contract): the
    // one surviving stripe file contributes all 10 of its rows
    assert(t2.snapshotForRange("bucketed_key", 100L, 105L)
      .count() == 10)
    assert(t2.snapshotForRange("bucketed_key", 100L, 105L)
      .filter($"bucketed_key" <= 105).count() == 6)
  }

  test("guards: key/partition, collisions, constraints and legacy refuse") {
    val t = new CowTable(spark, tmpDir("ren-guard"),
      keyCols = Seq("id"), partitionCols = Seq("p"),
      checkConstraints = Seq("v >= 0"))
    t.bulkInsert(Seq((1L, "x", 1.0, "m")).toDF("id", "p", "v", "w"))
    intercept[IllegalArgumentException] { t.renameColumn("id", "id2") }
    intercept[IllegalArgumentException] { t.renameColumn("p", "p2") }
    intercept[IllegalArgumentException] { t.renameColumn("w", "v") }
    intercept[IllegalArgumentException] { t.renameColumn("nope", "x") }
    intercept[IllegalArgumentException] { t.renameColumn("w", "_graft_x") }
    // constraint references v
    intercept[IllegalArgumentException] { t.renameColumn("v", "val") }
    // w is free
    assert(t.renameColumn("w", "label").snapshot()
      .columns.contains("label"))

    // legacy table (manifest schema without field ids): refuse
    val lt = new CowTable(spark, tmpDir("ren-legacy"), keyCols = Seq("id"))
    lt.bulkInsert(Seq((1L, 1.0)).toDF("id", "v"))
    val lm = CowTable.openManifest(spark, lt.basePath)
    val legacy = lm.copy(version = lm.version + 1,
      schemaJson = CowTable.stripFieldIds(lm.schema).json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(lt.basePath, "_commits",
        s"v${legacy.version}.json"),
      ManifestCodec.renderManifest(legacy))
    val e = intercept[IllegalArgumentException] {
      CowTable.open(spark, lt.basePath).renameColumn("v", "x")
    }
    assert(e.getMessage.contains("field-id"), e.getMessage)
  }

  test("rename and drop work on MOR: logs resolve by id, purge compacts") {
    val t = new MorTable(spark, tmpDir("ren-mor"), keyCols = Seq("id"),
      precombineField = "v")
    t.bulkInsert(Seq((1L, 1.0, "a"), (2L, 2.0, "b")).toDF("id", "v", "tag"))
    t.upsert(Seq((2L, 20.0, "b2")).toDF("id", "v", "tag")) // pending log
    val t2 = t.renameColumn("tag", "label")
      .asInstanceOf[MorTable]
    // realtime view merges base (old name in files) + log by field id
    val rt = t2.realtime().select("id", "v", "label")
      .as[(Long, Double, String)].collect().sortBy(_._1)
    assert(rt.toSeq == Seq((1L, 1.0, "a"), (2L, 20.0, "b2")),
      rt.mkString(", "))
    // drop + purge: purge compacts pending logs first, then rewrites
    t2.alterSchema(dropCols = Seq("label"))
    val t3 = CowTable.open(spark, t.basePath)
    assert(t3.purgeDroppedColumns())
    assert(CowTable.openManifest(spark, t.basePath).droppedCols.isEmpty)
    val after = t3.asInstanceOf[MorTable].realtime()
    assert(after.columns.toSeq.filterNot(_.startsWith("_graft")) ==
      Seq("id", "v"))
    assert(after.count() == 2)
  }

  test("rename chains through change feeds and incremental reads") {
    val t = new CowTable(spark, tmpDir("ren-feed"), keyCols = Seq("id"),
      trackCommitVersions = true)
    t.bulkInsert(Seq((1L, 1.0)).toDF("id", "v"))
    val v1 = t.manifest.version
    val t2 = t.renameColumn("v", "score")
    // a rename commit adds no rows to the feed window
    assert(t2.changesSince(v1).count() == 0)
    t2.upsert(Seq((2L, 2.0)).toDF("id", "score"))
    val changed = t2.changesSince(v1).select("id", "score")
      .as[(Long, Double)].collect()
    assert(changed.toSeq == Seq((2L, 2.0)))
  }
}
