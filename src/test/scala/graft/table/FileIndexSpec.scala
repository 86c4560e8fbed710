package graft.table

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Per-file record-key index (`fileIndex = true`): key-range + bloom
  * pruning of merge reads — the Hudi default-BLOOM-index semantics.
  */
class FileIndexSpec extends SparkSpec {
  import spark.implicits._

  private def rows(xs: (String, String, Double)*) = xs.toDF("id", "p", "v")

  test("indexed upsert/delete produce the same table as unindexed") {
    def drive(t: CowTable): Map[String, Double] = {
      t.bulkInsert((0 until 200).map(i => (s"k$i", s"p${i % 3}", i.toDouble))
        .toDF("id", "p", "v"))
      t.upsert(rows(("k5", "p2", 500.0), ("new1", "p0", 1.0)))
      t.delete(rows(("k10", "p1", 0.0)))
      t.upsert(rows(("k11", "p2", 110.0)))
      t.snapshot().select("id", "v").as[(String, Double)].collect().toMap
    }
    val plain = drive(new CowTable(spark, tmpDir("fi"), keyCols = Seq("id"),
      partitionCols = Seq("p")))
    val indexed = drive(new CowTable(spark, tmpDir("fi"), keyCols = Seq("id"),
      partitionCols = Seq("p"), fileIndex = true))
    assert(indexed == plain)
    assert(indexed("k5") == 500.0 && !indexed.contains("k10"))
  }

  test("bloom prunes sibling files with overlapping key ranges") {
    // Two append commits into the SAME (unpartitioned) unit: file A holds
    // even keys, file B odd keys — their lexicographic ranges overlap
    // almost completely, so only the bloom phase can tell them apart.
    val t = new CowTable(spark, tmpDir("fi"), keyCols = Seq("id"),
      fileIndex = true)
    t.bulkInsert((0 until 100 by 2).map(i => (f"k$i%03d", i.toDouble))
      .toDF("id", "v"), parallelism = 1)
    t.insertAppend((1 until 100 by 2).map(i => (f"k$i%03d", i.toDouble))
      .toDF("id", "v"), parallelism = 1)
    val m0 = t.manifest
    assert(m0.partitions("").size == 2, "two base files in the unit")
    assert(m0.fileStats.size == 2, "both files indexed")

    t.upsert(Seq(("k042", 4200.0)).toDF("id", "v"))
    val m1 = t.manifest
    assert(m1.metrics("files_candidate") == 1,
      s"only the even-key file is a candidate: ${m1.metrics}")
    assert(m1.metrics("files_kept") == 1)
    // the odd-key file survived the commit VERBATIM
    assert(m1.partitions("").toSet.intersect(m0.partitions("").toSet)
      .nonEmpty, "pruned file kept in the new snapshot")
    val got = t.snapshot().select("id", "v")
      .as[(String, Double)].collect().toMap
    assert(got.size == 100 && got("k042") == 4200.0 && got("k041") == 41.0)
  }

  test("fixed-width key encoding keeps numeric ranges in numeric order") {
    // contiguous numeric appends [0,100) and [100,200): legacy cast(string)
    // ranges OVERLAP lexically ("150" < "99"); fixed-width ranges are
    // disjoint, so the range phase prunes numeric block probes correctly
    val t = new CowTable(spark, tmpDir("fi-enc"), keyCols = Seq("id"),
      fileIndex = true)
    t.bulkInsert(spark.range(0, 100).toDF("id"), parallelism = 1)
    t.insertAppend(spark.range(100, 200).toDF("id"), parallelism = 1)
    val m = t.manifest
    assert(m.keyEncoding == CowTable.CurrentKeyEncoding,
      "new tables must record the current encoding")
    val ranges = m.fileStats.values.map(s => (s.keyMin, s.keyMax)).toSeq
      .sortBy(_._1)
    assert(ranges.size == 2)
    assert(ranges(0)._2 < ranges(1)._1,
      s"fixed-width encoded ranges must be disjoint: $ranges")
    assert(ranges.forall(r => r._1.length == 20 && r._2.length == 20),
      s"integral keys are zero-padded to 20 digits: $ranges")
    // probes still find their rows (encoding matches on both sides)
    val hit = t.lookupByKeys(Seq(150L).toDF("id"))
    assert(hit.inputFiles.length == 1 && hit.count() == 1)
    // manifest round-trip preserves the encoding; legacy JSON defaults to 1
    val back = ManifestCodec.parseManifest(ManifestCodec.renderManifest(m))
    assert(back.keyEncoding == CowTable.CurrentKeyEncoding)
    val legacy = ManifestCodec.renderManifest(m)
      .replaceAll(",?\\s*\"keyEncoding\"\\s*:\\s*\\d+", "")
    assert(ManifestCodec.parseManifest(legacy).keyEncoding == 1L)
  }

  test("snapshotForRange skips files outside a stat column's range") {
    val t = new CowTable(spark, tmpDir("fi-skip"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("ts"))
    def batch(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, java.sql.Timestamp.valueOf(
        f"2024-01-${i / 100 + 1}%02d 00:00:00"), i.toDouble))
      .toDF("id", "ts", "v")
    // four append commits, each a distinct day -> disjoint ts ranges
    t.bulkInsert(batch(0, 100), parallelism = 1)
    t.insertAppend(batch(100, 200), parallelism = 1)
    t.insertAppend(batch(200, 300), parallelism = 1)
    t.insertAppend(batch(300, 400), parallelism = 1)
    assert(t.manifest.fileStats.values.forall(_.colStats.contains("ts")))
    // manifest round-trips the column ranges
    val back =
      ManifestCodec.parseManifest(ManifestCodec.renderManifest(t.manifest))
    assert(back == t.manifest)

    val day2 = t.snapshotForRange("ts",
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-02 23:59:59"))
    assert(day2.inputFiles.length == 1,
      s"one day must read one file: ${day2.inputFiles.toSeq}")
    assert(day2.count() == 100)
    // superset contract: pruned scan + row filter == full filter
    val full = t.snapshot().filter(
      col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
    val pruned = day2.filter(
      col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
    assert(pruned.count() == full.count())
    // an upsert rewrite keeps stats fresh on the rewritten file
    t.upsert(Seq((150L, java.sql.Timestamp.valueOf("2024-01-02 12:00:00"),
      -1.0)).toDF("id", "ts", "v"))
    assert(t.manifest.fileStats.values.forall(_.colStats.contains("ts")))
  }

  test("snapshotForValues skips files whose stat range misses every value") {
    val t = new CowTable(spark, tmpDir("fi-vals"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("fk"))
    def batch(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, i.toLong, i.toDouble)).toDF("id", "fk", "v")
    // four appends -> four files with disjoint fk ranges
    t.bulkInsert(batch(0, 100), parallelism = 1)
    t.insertAppend(batch(100, 200), parallelism = 1)
    t.insertAppend(batch(200, 300), parallelism = 1)
    t.insertAppend(batch(300, 400), parallelism = 1)

    // values land in files 1 and 3 only
    val hit = t.snapshotForValues("fk", Seq(42L, 250L, 260L))
    assert(hit.inputFiles.length == 2,
      s"two stripes expected: ${hit.inputFiles.toSeq}")
    assert(hit.filter(col("fk").isin(42L, 250L, 260L)).count() == 3)
    // miss everything -> nothing read
    assert(t.snapshotForValues("fk", Seq(9999L)).inputFiles.isEmpty)
    // a null probe value disables pruning (null-safe probes must see all)
    assert(t.snapshotForValues("fk", Seq(42L, null))
      .inputFiles.length == 4)

    // MOR: pruned base still merges ALL pending logs
    val mt = new MorTable(spark, tmpDir("fi-vals-mor"), keyCols = Seq("id"),
      compactEvery = 0, fileIndex = true, statsCols = Seq("fk"))
    mt.bulkInsert(batch(0, 100), parallelism = 1)
    mt.insertAppend(batch(100, 200), parallelism = 1)
    // log rows: update fk=42's value, and a NEW key with fk=5000
    mt.upsert(Seq((42L, 42L, -42.0), (900L, 5000L, 9.0))
      .toDF("id", "fk", "v"))
    val morHit = mt.snapshotForValues("fk", Seq(42L, 5000L))
      .filter(col("fk").isin(42L, 5000L))
      .select("id", "v").as[(Long, Double)].collect().toMap
    assert(morHit == Map(42L -> -42.0, 900L -> 9.0),
      "log winners must surface through the pruned read")
  }

  test("column blooms prune equality probes where ranges cannot") {
    // interleaved fk values: every file's [min, max] spans ~the whole
    // domain, so range stats keep everything — only the bloom can prune
    val t = new CowTable(spark, tmpDir("fi-cbloom"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("fk"),
      bloomCols = Seq("fk"))
    def batch(res: Int) = (0 until 100)
      .map(i => ((i * 8 + res).toLong, (i * 8 + res).toLong, 1.0))
      .toDF("id", "fk", "v")
    t.bulkInsert(batch(0), parallelism = 1)      // fks ≡ 0 (mod 8)
    t.insertAppend(batch(1), parallelism = 1)    // fks ≡ 1 (mod 8)
    t.insertAppend(batch(2), parallelism = 1)
    t.insertAppend(batch(3), parallelism = 1)
    val m = t.manifest
    assert(m.fileStats.valuesIterator.forall(_.colBloomRefs.contains("fk")),
      "every file records an fk bloom sidecar")

    // ranges all contain 40 and 201; blooms know better: 2 files max
    // (fpp can theoretically add one, but not at 100 entries / tiny fpp)
    val hit = t.snapshotForValues("fk", Seq(40L, 201L))
    assert(hit.inputFiles.length == 2,
      s"bloom must cut 4 overlapping stripes to 2: ${hit.inputFiles.toSeq}")
    assert(hit.filter(col("fk").isin(40L, 201L)).count() == 2)
    // a value inside every file's range but ≡ 4 (mod 8): absent from
    // all four files — blooms reject everything, ranges couldn't
    assert(t.snapshotForValues("fk", Seq(4L)).inputFiles.isEmpty,
      "absent in-range probe must prune every file")

    // a table opened by path keeps building blooms (props round-trip)
    val re = CowTable.open(spark, t.basePath)
    assert(re.bloomCols == Seq("fk"), s"bloomCols lost: ${re.bloomCols}")
    re.insertAppend(Seq((9000L, 9000L, 1.0)).toDF("id", "fk", "v"),
      parallelism = 1)
    val st = re.manifest.fileStats
    assert(st.valuesIterator.forall(_.colBloomRefs.contains("fk")),
      "files written through open() must carry blooms too")
  }

  test("double range pruning: correct on v3 tables, disabled on legacy") {
    // The round-6 bug: doubles encoded as plain cast(string), where lex
    // order diverges from numeric order ("9.5" > "10.2") — a lex range
    // check wrongly skipped the [10.2, 10.9] file for the query
    // [9.5, 10.5]. v3's sign-flip bits encoding prunes CORRECTLY; legacy
    // encodings (enc <= 2) must not prune doubles at all.
    val t = new CowTable(spark, tmpDir("fi-dbl"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("v"))
    t.bulkInsert(Seq((1L, 10.2), (2L, 10.9)).toDF("id", "v"),
      parallelism = 1)
    t.insertAppend(Seq((3L, 2.0), (4L, 3.0)).toDF("id", "v"),
      parallelism = 1)
    val m = t.manifest
    // v3: the [10.2, 10.9] file intersects [9.5, 10.5] and is KEPT; the
    // [2, 3] file does not and is PRUNED
    val kept = CowTable.filesForRange(spark, m, "v", Some(9.5), Some(10.5))
    assert(kept.size == 1, s"v3 must prune the non-intersecting file: $kept")
    val got = t.snapshotForRange("v", 9.5, 10.5)
      .filter(col("v") >= 9.5 && col("v") <= 10.5)
      .select("id").as[Long].collect().toSet
    assert(got == Set(1L), s"row 10.2 must survive the range scan: $got")
    // negative/zero boundaries: -0.0 encodes as +0.0 so >= 0.0 keeps it
    assert(graft.functions.OrderedDoubleBits.orderedBits(-0.0) ==
      graft.functions.OrderedDoubleBits.orderedBits(0.0))
    assert(graft.functions.OrderedDoubleBits.orderedBits(-1.5) <
      graft.functions.OrderedDoubleBits.orderedBits(-1.0))
    assert(graft.functions.OrderedDoubleBits.orderedBits(-1.0) <
      graft.functions.OrderedDoubleBits.orderedBits(0.0))
    assert(graft.functions.OrderedDoubleBits.orderedBits(0.0) <
      graft.functions.OrderedDoubleBits.orderedBits(10.2))
    assert(graft.functions.OrderedDoubleBits.orderedBits(10.2) <
      graft.functions.OrderedDoubleBits.orderedBits(
        Double.PositiveInfinity))
    assert(graft.functions.OrderedDoubleBits.orderedBits(
      Double.PositiveInfinity) <
      graft.functions.OrderedDoubleBits.orderedBits(Double.NaN))
    // the encoding gates: legacy tables keep the no-pruning guard
    assert(CowTable.orderPreservingStats(
      org.apache.spark.sql.types.LongType, 2L))
    assert(!CowTable.orderPreservingStats(
      org.apache.spark.sql.types.LongType, 1L), "legacy enc=1 numerics")
    assert(!CowTable.orderPreservingStats(
      org.apache.spark.sql.types.DoubleType, 2L), "legacy enc=2 doubles")
    assert(CowTable.orderPreservingStats(
      org.apache.spark.sql.types.DoubleType, 3L))
    assert(CowTable.orderPreservingStats(
      org.apache.spark.sql.types.DecimalType(12, 2), 3L))
    assert(!CowTable.orderPreservingStats(
      org.apache.spark.sql.types.DecimalType(20, 2), 3L),
      "wide decimals exceed the unscaled-long encoding")
  }

  test("decimal stats columns prune ranges exactly (v3 unscaled encoding)") {
    val t = new CowTable(spark, tmpDir("fi-dec"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("price"))
    // money-typed: decimal(12,2), inside the unscaled-long encoding range
    def batch(rows: (Long, String)*) = rows.toSeq.toDF("id", "p0")
      .select(col("id"), col("p0").cast("decimal(12,2)").as("price"))
    t.bulkInsert(batch((1L, "9.50"), (2L, "9.99")), parallelism = 1)
    t.insertAppend(batch((3L, "10.20"), (4L, "10.90")), parallelism = 1)
    val m = t.manifest
    val kept = CowTable.filesForRange(spark, m, "price",
      Some("10.00"), Some("10.50"))
    assert(kept.size == 1, s"only the [10.20, 10.90] file intersects: $kept")
    val got = t.snapshotForRange("price", "10.00", "10.50")
      .filter(col("price") <= lit("10.50").cast("decimal(12,2)"))
      .select("id").as[Long].collect().toSet
    assert(got == Set(3L), s"decimal range scan: $got")
  }

  test("lookupByKeys reads only index-matching files") {
    val t = new CowTable(spark, tmpDir("fi"), keyCols = Seq("id"),
      fileIndex = true)
    t.bulkInsert((0 until 100 by 2).map(i => (f"k$i%03d", i.toDouble))
      .toDF("id", "v"), parallelism = 1)
    t.insertAppend((1 until 100 by 2).map(i => (f"k$i%03d", i.toDouble))
      .toDF("id", "v"), parallelism = 1)
    val probe = Seq(("k042", 0.0)).toDF("id", "v")
    val hit = t.lookupByKeys(probe)
    assert(hit.inputFiles.length == 1,
      s"bloom must keep the point read to one file: ${hit.inputFiles.toSeq}")
    assert(hit.select("id", "v").as[(String, Double)].collect().toSeq ==
      Seq(("k042", 42.0)))
    // a key the table never held: range/bloom reject every file
    val miss = t.lookupByKeys(Seq(("zzz", 0.0)).toDF("id", "v"))
    assert(miss.inputFiles.isEmpty && miss.isEmpty)
  }

  test("kept files retain their index entries; rewritten files get fresh ones") {
    val t = new CowTable(spark, tmpDir("fi"), keyCols = Seq("id"),
      fileIndex = true)
    t.bulkInsert((0 until 50).map(i => (f"a$i%02d", i.toDouble))
      .toDF("id", "v"), parallelism = 1)
    t.insertAppend((0 until 50).map(i => (f"z$i%02d", i.toDouble))
      .toDF("id", "v"), parallelism = 1)
    t.upsert(Seq(("a10", -1.0)).toDF("id", "v"))
    val m = t.manifest
    // every live base file has an index entry, and no dead entries linger
    assert(m.fileStats.keySet == m.partitions.valuesIterator.flatten.toSet)
    // the kept z-file's range never saw an 'a' key; its sidecar bloom
    // (next to the data file, .parquet.bloom) agrees
    val (zFile, zStat) = m.fileStats.collectFirst {
      case (f, st) if st.keyMin.startsWith("z") => (f, st)
    }.get
    assert(zStat.keyMin == "z00" && zStat.keyMax == "z49")
    assert(zStat.bloomRef == zFile + ".bloom")
    val fs = new org.apache.hadoop.fs.Path(t.basePath).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val bloom = {
      val in = fs.open(new org.apache.hadoop.fs.Path(
        t.basePath, zStat.bloomRef))
      try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
      finally in.close()
    }
    assert(bloom.mightContainString("z1010.0" .takeWhile(_ != ''))
      || true) // key string is just the id for single-col keys
    assert(bloom.mightContainString("z10"))
    assert(!bloom.mightContainString("a10"))
  }

  test("manifest round-trips fileStats") {
    val m = Manifest(3L, """{"type":"struct","fields":[]}""", Seq("id"),
      Nil, "", Map("" -> Seq("files/c3/x.parquet")),
      fileStats = Map("files/c3/x.parquet" ->
        FileStat("kA", "kB", "files/c3/x.parquet.bloom")),
      operation = "upsert", metrics = Map("files_added" -> 1L))
    val back = ManifestCodec.parseManifest(ManifestCodec.renderManifest(m))
    assert(back == m)
  }

  test("bucket routing bounds random-key point lookups to one bucket") {
    // random keys make every file's range span the key space — the index
    // caveat. With numBuckets, a lookup consults only its bucket's blooms.
    val t = new CowTable(spark, tmpDir("fi-bucket"), keyCols = Seq("k"),
      numBuckets = 4, fileIndex = true)
    def slice(a: Int) = spark.range(200)
      .select(xxhash64(col("id") + lit(a * 200L)).as("k"),
        col("id").cast("double").as("v"))
    t.bulkInsert(slice(0), parallelism = 4)
    t.insertAppend(slice(1), parallelism = 4)
    t.insertAppend(slice(2), parallelism = 4)
    val m = t.manifest
    assert(m.partitions.size == 4, s"four buckets: ${m.partitions.keySet}")
    val filesPerBucket = m.partitions.values.map(_.size).max
    val totalFiles = m.baseFiles.size
    assert(totalFiles > filesPerBucket, "buckets must split the files")

    val probeKey = spark.range(1)
      .select(xxhash64(lit(42L)).as("k")).head().getLong(0)
    val before = CowTable.bloomLoads.get()
    val hit = t.lookupByKeys(Seq(probeKey).toDF("k"))
    assert(hit.count() == 1, "the key must be found")
    val consulted = CowTable.bloomLoads.get() - before
    assert(consulted <= filesPerBucket,
      s"lookup must consult ONE bucket's blooms: $consulted of $totalFiles")
    assert(hit.inputFiles.length == 1, "bloom narrows the read to one file")
    // and the read stays inside the routed bucket directory
    val bucketDirs = hit.inputFiles.flatMap(
      _.split('/').find(_.startsWith("__p___bucket="))).distinct
    assert(bucketDirs.length == 1, s"one bucket dir: ${bucketDirs.toSeq}")
  }

  test("composite keys index on the joint key string") {
    val t = new CowTable(spark, tmpDir("fi"), keyCols = Seq("id", "sub"),
      fileIndex = true)
    t.bulkInsert(Seq(("a", "1", 1.0), ("a", "2", 2.0), ("b", "1", 3.0))
      .toDF("id", "sub", "v"), parallelism = 1)
    t.upsert(Seq(("a", "2", 20.0)).toDF("id", "sub", "v"))
    val got = t.snapshot().select("id", "sub", "v")
      .as[(String, String, Double)].collect().toSet
    assert(got == Set(("a", "1", 1.0), ("a", "2", 20.0), ("b", "1", 3.0)))
    // ("a","2") vs ("a2","") must not collide: the separator keeps the
    // concatenation injective
    t.upsert(Seq(("a2", "", 9.0)).toDF("id", "sub", "v"))
    assert(t.snapshot().count() == 4)
  }
}
