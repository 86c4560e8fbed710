package graft.table

import graft.SparkSpec

/** Zero-copy shallow clones: one manifest write, absolute file refs,
  * independent divergence, continued version counter.
  */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def fileCount(t: CowTable): Int = {
    val fs = new org.apache.hadoop.fs.Path(t.basePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val files = new org.apache.hadoop.fs.Path(t.basePath, "files")
    if (!fs.exists(files)) 0
    else {
      val it = fs.listFiles(files, true)
      var n = 0
      while (it.hasNext) { if (it.next().getPath.getName.endsWith(
        ".parquet")) n += 1 }
      n
    }
  }

  test("clone reads the source's data without copying a single file") {
    val src = new CowTable(spark, tmpDir("cl-src"), keyCols = Seq("id"),
      partitionCols = Seq("p"), trackCommitVersions = true,
      fileIndex = true, statsCols = Seq("fk"),
      bloomCols = Seq("fk"))
    src.bulkInsert((0 until 200)
      .map(i => (i.toLong, if (i % 2 == 0) "a" else "b", i.toLong))
      .toDF("id", "p", "fk"))
    src.upsert(Seq((5L, "b", 500L)).toDF("id", "p", "fk"))
    val srcV = src.manifest.version

    val clone = src.cloneTo(tmpDir("cl-dst"))
    assert(fileCount(clone) == 0, "shallow: no data files under the clone")
    assert(clone.manifest.version == srcV,
      "clone continues the source version counter")
    assert(clone.manifest.operation == "clone")
    assert(clone.snapshot().count() == 200)
    assert(clone.snapshot().filter($"id" === 5L).select("fk")
      .as[Long].head() == 500L)
    // config carried: keys, stats, blooms; index prunes through the clone
    assert(clone.keyCols == Seq("id") && clone.bloomCols == Seq("fk"))
    val hit = clone.snapshotForValues("fk", Seq(500L))
    assert(hit.inputFiles.nonEmpty &&
      hit.inputFiles.length < clone.manifest.baseFiles.size,
      s"clone prunes via absolutized index: ${hit.inputFiles.length}")

    // divergence: clone write rewrites ITS unit locally; source unchanged
    clone.upsert(Seq((6L, "a", 600L)).toDF("id", "p", "fk"))
    assert(fileCount(clone) > 0, "clone writes produce local files")
    assert(src.snapshot().filter($"id" === 6L).select("fk")
      .as[Long].head() == 6L, "source must not see clone writes")
    assert(clone.snapshot().filter($"id" === 6L).select("fk")
      .as[Long].head() == 600L)
    // untouched partition still serves from the source's absolute files
    assert(clone.snapshot().filter($"p" === "a").count() == 100)

    // source write after the clone: clone must not see it
    src.upsert(Seq((7L, "b", 700L)).toDF("id", "p", "fk"))
    assert(clone.snapshot().filter($"id" === 7L).select("fk")
      .as[Long].head() == 7L, "clone is a snapshot, not a view")

    // incremental reads on the clone see ONLY post-clone commits
    val changed = clone.changesSince(srcV).select("id").as[Long]
      .collect().toSet
    assert(changed.contains(6L) && !changed.contains(7L),
      s"changesSince($srcV) on clone: $changed")
    assert(!changed.contains(42L),
      "source-era rows must not leak into the clone's increments")
  }

  test("clone of a MOR table carries pending logs; compaction localizes") {
    val src = new MorTable(spark, tmpDir("clm-src"), keyCols = Seq("id"),
      precombineField = "v", compactEvery = 0)
    src.bulkInsert(Seq((1L, 1.0), (2L, 2.0)).toDF("id", "v"))
    src.upsert(Seq((1L, 10.0)).toDF("id", "v")) // pending log
    val clone = src.cloneTo(tmpDir("clm-dst")).asInstanceOf[MorTable]
    assert(clone.manifest.logPartitions.nonEmpty,
      "pending logs ride the clone")
    assert(clone.realtime().select("id", "v").as[(Long, Double)]
      .collect().toMap == Map(1L -> 10.0, 2L -> 2.0))
    assert(fileCount(clone) == 0)
    // compacting the clone folds into LOCAL base files; source untouched
    clone.compactLogs()
    assert(fileCount(clone) > 0)
    assert(clone.manifest.files.forall(_.startsWith("files/")),
      s"post-compaction listing is local: ${clone.manifest.files}")
    assert(src.realtime().select("id", "v").as[(Long, Double)]
      .collect().toMap == Map(1L -> 10.0, 2L -> 2.0))
  }

  test("clone at an older version and clone-of-clone") {
    val src = new CowTable(spark, tmpDir("clv-src"), keyCols = Seq("id"))
    src.bulkInsert(Seq((1L, "a")).toDF("id", "s"))    // v1
    src.upsert(Seq((2L, "b")).toDF("id", "s"))        // v2
    val atV1 = src.cloneTo(tmpDir("clv-d1"), version = Some(1L))
    assert(atV1.snapshot().count() == 1)
    assert(atV1.manifest.version == 1L)
    val again = atV1.cloneTo(tmpDir("clv-d2"))
    assert(again.snapshot().select("id").as[Long].collect().toSeq ==
      Seq(1L), "clone of clone resolves the original absolute refs")
  }

  test("CALL system.clone clones by name through the catalog") {
    val wh = tmpDir("clc-wh")
    spark.conf.set("spark.sql.catalog.clcat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.clcat.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS clcat.lake")
    spark.sql("""CREATE TABLE clcat.lake.src (id BIGINT, v DOUBLE)
      USING graft TBLPROPERTIES ('keyCols'='id')""")
    spark.sql("INSERT INTO clcat.lake.src VALUES (1, 1.0), (2, 2.0)")
    val out = spark.sql(
      "CALL clcat.system.clone(table => 'lake.src', dest => 'lake.dev')")
      .collect()
    assert(out.head.getString(0) == "cloned_from_version")
    assert(spark.sql("SELECT id FROM clcat.lake.dev").as[Long]
      .collect().toSet == Set(1L, 2L))
    spark.sql("INSERT INTO clcat.lake.dev VALUES (3, 3.0)")
    assert(spark.sql("SELECT count(*) FROM clcat.lake.src")
      .as[Long].head() == 2L, "source unaffected by clone writes")
  }

  test("clone keeps the z-order marks of the files it references") {
    val src = new CowTable(spark, tmpDir("cl-z"), keyCols = Seq("k"),
      numBuckets = 2, clusterCols = Seq("k"))
    src.bulkInsert((1L to 200L).map(k => (k, (k % 7) * 1.0)).toDF("k", "v"))
    assert(src.reclusterZOrder("k", "v", parallelism = 2))
    val marks = src.manifest.unorderedFiles
    assert(marks.nonEmpty, "the z-order rewrite marks its files")
    val clone = src.cloneTo(tmpDir("cl-z-dst"))
    val cm = clone.manifest
    // the marks follow the listing into the clone's absolute refs, so the
    // bucket scan still claims no order for the z-ordered files
    assert(cm.unorderedFiles.size == marks.size &&
      cm.unorderedFiles.toSet == cm.baseFiles.toSet,
      s"clone marks ${cm.unorderedFiles} vs source $marks")
  }
}
