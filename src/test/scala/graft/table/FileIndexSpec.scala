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
    val kept = FileIndex.filesForRange(spark, m, "v", Some(9.5), Some(10.5))
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
    assert(FileIndex.orderPreservingStats(
      org.apache.spark.sql.types.LongType, 2L))
    assert(!FileIndex.orderPreservingStats(
      org.apache.spark.sql.types.LongType, 1L), "legacy enc=1 numerics")
    assert(!FileIndex.orderPreservingStats(
      org.apache.spark.sql.types.DoubleType, 2L), "legacy enc=2 doubles")
    assert(FileIndex.orderPreservingStats(
      org.apache.spark.sql.types.DoubleType, 3L))
    assert(FileIndex.orderPreservingStats(
      org.apache.spark.sql.types.DecimalType(12, 2), 3L))
    assert(!FileIndex.orderPreservingStats(
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
    val kept = FileIndex.filesForRange(spark, m, "price",
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
    val before = FileIndex.bloomLoads.get()
    val hit = t.lookupByKeys(Seq(probeKey).toDF("k"))
    assert(hit.count() == 1, "the key must be found")
    val consulted = FileIndex.bloomLoads.get() - before
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

  // ------------------------------------------------- golden file lists

  /** A stable name for a manifest file (or a scan URI ending in one):
    * its partition key and the version of the commit that wrote it.
    */
  private def label(m: Manifest)(f: String): String = {
    val rel = m.baseFiles.find(b => f == b || f.endsWith("/" + b)).get
    val k = m.partitions.collectFirst {
      case (k, fs) if fs.contains(rel) => k }.get
    s"$k@${"files/c(\\d+)".r.findFirstMatchIn(rel).get.group(1)}"
  }

  /** `statsCols` fk (long, bloomed), x (double) and big (decimal(20,2),
    * whose stats do not preserve order); the first file predates the
    * index and has no entry. fk values interleave (every file's range
    * spans the domain), x ranges are disjoint per file.
    */
  private def statsFixture(): CowTable = {
    def batch(r: Int) = (0 until 50).map(i => (r * 100L + i, i * 8L + r,
        r * 10 + i * 0.1, (r * 1000 + i).toString))
      .toDF("id", "fk", "x", "b").select(col("id"), col("fk"), col("x"),
        col("b").cast("decimal(20,2)").as("big"))
    val t0 = new CowTable(spark, tmpDir("gold-stats"), keyCols = Seq("id"))
    t0.bulkInsert(batch(0), parallelism = 1)
    val t = t0.alterProps(Map("fileIndex" -> "true",
      "statsCols" -> "fk,x,big", "bloomCols" -> "fk"))
    (1 to 3).foreach(r => t.insertAppend(batch(r), parallelism = 1))
    t
  }

  /** Key index only on a single-column long key: three files of even
    * ids in disjoint blocks, then one file of odd ids spanning them all;
    * w is an unstatted double.
    */
  private def keyFixture(): CowTable = {
    val t = new CowTable(spark, tmpDir("gold-key"), keyCols = Seq("id"),
      fileIndex = true)
    def batch(ids: Seq[Long]) = ids.map(i => (i, i * 0.5)).toDF("id", "w")
    t.bulkInsert(batch(0L until 100L by 2), parallelism = 1)
    t.insertAppend(batch(100L until 200L by 2), parallelism = 1)
    t.insertAppend(batch(200L until 300L by 2), parallelism = 1)
    t.insertAppend(batch(1L until 300L by 2), parallelism = 1)
    t
  }

  /** String partitions p in {a, b, c}, two commits each, key index on. */
  private def partitionFixture(): CowTable = {
    val t = new CowTable(spark, tmpDir("gold-part"), keyCols = Seq("id"),
      partitionCols = Seq("p"), fileIndex = true)
    def batch(lo: Long) = (lo until lo + 30).map(i =>
      (i, Seq("a", "b", "c")((i % 3).toInt), i.toDouble)).toDF("id", "p", "v")
    t.bulkInsert(batch(0), parallelism = 1)
    t.insertAppend(batch(100), parallelism = 1)
    t
  }

  /** Deletion vectors over two indexed files with fk stats. */
  private def dvFixture(): CowTable = {
    val t = new CowTable(spark, tmpDir("gold-dv"), keyCols = Seq("id"),
      fileIndex = true, statsCols = Seq("fk"), deleteVectors = true)
    def batch(lo: Long) = (lo until lo + 40).map(i => (i, i / 10, i * 1.0))
      .toDF("id", "fk", "v")
    t.bulkInsert(batch(0), parallelism = 1)
    t.insertAppend(batch(40), parallelism = 1)
    t.delete((5L until 75L by 7).map(i => (i, 0L, 0.0)).toDF("id", "fk", "v"))
    t
  }

  private def runtimePrune(t: CowTable,
      fs: org.apache.spark.sql.sources.Filter*): Seq[String] = {
    val m = t.manifest
    val scan = new graft.sources.GraftRuntimeScan(spark, t.basePath, m,
      m.baseFiles, _ => null, null)
    scan.filter(fs.toArray)
    scan.currentFiles
  }

  /** A point read's data files (a DV'd read also lists its sidecars). */
  private def dataFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.inputFiles.toSeq.filterNot(_.contains("/files/dv"))

  /** fastCount and the runtime scan's exact row count, as one entry. */
  private def counts(t: CowTable): Seq[String] = {
    val m = t.manifest
    val n = new graft.sources.GraftRuntimeScan(spark, t.basePath, m,
      m.baseFiles, _ => null, null, rowsExact = true)
      .estimateStatistics().numRows()
    Seq(s"fastCount=${t.fastCount()}",
      s"numRows=${if (n.isPresent) n.getAsLong.toString else "none"}")
  }

  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        (b.scan match {
          case g: graft.sources.GraftRuntimeScan => g.innerScan
          case s => s
        }).asInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.FileScan]
          .fileIndex.inputFiles.toSeq
    }.flatten

  /** Every probe's file list on the four fixtures, as sorted labels. */
  private def goldenLists(): Seq[(String, Seq[String])] = {
    import org.apache.spark.sql.sources.{EqualTo, In}
    val out = Seq.newBuilder[(String, Seq[String])]
    def rec(name: String, m: Manifest, files: Seq[String]): Unit = {
      val l = files.map(label(m))
      assert(l.distinct.size == l.size, s"$name: labels collide")
      out += name -> l.sorted
    }
    def values(t: CowTable, c: String, vs: Any*) =
      FileIndex.filesForValues(spark, t.basePath, t.manifest, c, vs)
    def range(m: Manifest, c: String, lo: Option[Any], hi: Option[Any]) =
      FileIndex.filesForRange(spark, m, c, lo, hi)
    val st = statsFixture(); val sm = st.manifest
    def vals(c: String, vs: Any*) = values(st, c, vs: _*)
    rec("stats.values fk 8", sm, vals("fk", 8L))
    rec("stats.values fk 17,26", sm, vals("fk", 17L, 26L))
    rec("stats.values fk 4 (bloom miss)", sm, vals("fk", 4L))
    rec("stats.values fk 10000", sm, vals("fk", 10000L))
    rec("stats.values fk empty", sm, vals("fk"))
    rec("stats.values fk 8,null", sm, vals("fk", 8L, null))
    rec("stats.values x 10.5", sm, vals("x", 10.5))
    rec("stats.values x 22.0,30.1", sm, vals("x", 22.0, 30.1))
    rec("stats.values big 1001", sm, vals("big", BigDecimal(1001)))
    rec("stats.values id 150 (key)", sm, vals("id", 150L))
    rec("stats.range x 10..12", sm, range(sm, "x", Some(10.0), Some(12.0)))
    rec("stats.range x ..-1", sm, range(sm, "x", None, Some(-1.0)))
    rec("stats.range fk 100..120", sm,
      range(sm, "fk", Some(100L), Some(120L)))
    rec("stats.range big 1000..1010", sm,
      range(sm, "big", Some("1000"), Some("1010")))
    rec("stats.range id 0..10", sm, range(sm, "id", Some(0L), Some(10L)))
    rec("stats.runtime fk in 8,17", sm,
      runtimePrune(st, In("fk", Array(8L, 17L))))
    rec("stats.runtime x = 31.0", sm, runtimePrune(st, EqualTo("x", 31.0)))
    rec("stats.runtime id in 5,305", sm,
      runtimePrune(st, In("id", Array(5L, 305L))))
    rec("stats.lookup 5,305", sm,
      dataFiles(st.lookupByKeys(Seq(5L, 305L).toDF("id"))))
    rec("stats.scan fk = 17", sm, scannedFiles(
      spark.read.format("graft").load(st.basePath).filter(col("fk") === 17L)))
    rec("stats.scan x in 2.0,35.0", sm, scannedFiles(
      spark.read.format("graft").load(st.basePath)
        .filter(col("x").isin(2.0, 35.0))))

    val kt = keyFixture(); val km = kt.manifest
    def kvals(vs: Any*) = values(kt, "id", vs: _*)
    rec("key.values 42", km, kvals(42L))
    rec("key.values 43", km, kvals(43L))
    rec("key.values 150,251", km, kvals(150L, 251L))
    rec("key.values 999", km, kvals(999L))
    rec("key.values empty", km, kvals())
    rec("key.values 42,null", km, kvals(42L, null))
    rec("key.values w 21.0 (no stats)", km, values(kt, "w", 21.0))
    rec("key.runtime id in 42,251", km,
      runtimePrune(kt, In("id", Array(42L, 251L))))
    rec("key.lookup 42,251", km,
      dataFiles(kt.lookupByKeys(Seq(42L, 251L).toDF("id"))))
    rec("key.lookup 999", km,
      dataFiles(kt.lookupByKeys(Seq(999L).toDF("id"))))

    val pt = partitionFixture(); val pm = pt.manifest
    rec("part.runtime p in a,c", pm,
      runtimePrune(pt, In("p", Array("a", "c"))))
    rec("part.runtime p = b", pm, runtimePrune(pt, EqualTo("p", "b")))
    rec("part.runtime p = z", pm, runtimePrune(pt, EqualTo("p", "z")))
    rec("part.runtime p in a + id in 3,103", pm,
      runtimePrune(pt, In("p", Array("a")), In("id", Array(3L, 103L))))
    rec("part.scan p = a", pm, scannedFiles(
      spark.read.format("graft").load(pt.basePath).filter(col("p") === "a")))
    rec("part.scan p = c and v > 100", pm, scannedFiles(
      spark.read.format("graft").load(pt.basePath)
        .filter(col("p") === "c" && col("v") > 100.0)))
    rec("part.lookup", pm, dataFiles(pt.lookupByKeys(
      Seq((3L, "a"), (104L, "c")).toDF("id", "p"))))

    val dt = dvFixture(); val dm = dt.manifest
    rec("dv.values fk 2,6", dm, values(dt, "fk", 2L, 6L))
    rec("dv.range fk 3..4", dm, range(dm, "fk", Some(3L), Some(4L)))
    rec("dv.values id 12 (key)", dm, values(dt, "id", 12L))
    rec("dv.lookup 12,47", dm,
      dataFiles(dt.lookupByKeys(Seq(12L, 47L).toDF("id"))))
    Seq(st, kt, pt, dt).zip(Seq("stats", "key", "part", "dv")).foreach {
      case (t, n) => out += s"$n.counts" -> counts(t) }
    out.result()
  }

  /** Each probe's file list as the pre-FileIndex functions returned it
    * (the key cases from the record-key probe, with an empty set giving
    * no files), recorded on the same fixtures.
    */
  private val goldenParent: Seq[(String, Seq[String])] = Seq(
    "stats.values fk 8" -> Seq("@1"),
    "stats.values fk 17,26" -> Seq("@1", "@3", "@4"),
    "stats.values fk 4 (bloom miss)" -> Seq("@1"),
    "stats.values fk 10000" -> Seq("@1"),
    "stats.values fk empty" -> Seq(),
    "stats.values fk 8,null" -> Seq("@1", "@3", "@4", "@5"),
    "stats.values x 10.5" -> Seq("@1", "@3"),
    "stats.values x 22.0,30.1" -> Seq("@1", "@4", "@5"),
    "stats.values big 1001" -> Seq("@1", "@3", "@4", "@5"),
    "stats.values id 150 (key)" -> Seq("@1"),
    "stats.range x 10..12" -> Seq("@1", "@3"),
    "stats.range x ..-1" -> Seq("@1"),
    "stats.range fk 100..120" -> Seq("@1", "@3", "@4", "@5"),
    "stats.range big 1000..1010" -> Seq("@1", "@3", "@4", "@5"),
    "stats.range id 0..10" -> Seq("@1", "@3", "@4", "@5"),
    "stats.runtime fk in 8,17" -> Seq("@1", "@3"),
    "stats.runtime x = 31.0" -> Seq("@1", "@5"),
    "stats.runtime id in 5,305" -> Seq("@1", "@5"),
    "stats.lookup 5,305" -> Seq("@1", "@5"),
    "stats.scan fk = 17" -> Seq("@1", "@3"),
    "stats.scan x in 2.0,35.0" -> Seq("@1"),
    "key.values 42" -> Seq("@1"),
    "key.values 43" -> Seq("@4"),
    "key.values 150,251" -> Seq("@2", "@4"),
    "key.values 999" -> Seq(),
    "key.values empty" -> Seq(),
    "key.values 42,null" -> Seq("@1", "@2", "@3", "@4"),
    "key.values w 21.0 (no stats)" -> Seq("@1", "@2", "@3", "@4"),
    "key.runtime id in 42,251" -> Seq("@1", "@4"),
    "key.lookup 42,251" -> Seq("@1", "@4"),
    "key.lookup 999" -> Seq(),
    "part.runtime p in a,c" -> Seq("p=a@1", "p=a@2", "p=c@1", "p=c@2"),
    "part.runtime p = b" -> Seq("p=b@1", "p=b@2"),
    "part.runtime p = z" -> Seq(),
    "part.runtime p in a + id in 3,103" -> Seq("p=a@1"),
    "part.scan p = a" -> Seq("p=a@1", "p=a@2"),
    "part.scan p = c and v > 100" -> Seq("p=c@1", "p=c@2"),
    "part.lookup" -> Seq("p=a@1", "p=c@2"),
    "dv.values fk 2,6" -> Seq("@1", "@2"),
    "dv.range fk 3..4" -> Seq("@1", "@2"),
    "dv.values id 12 (key)" -> Seq("@1"),
    "dv.lookup 12,47" -> Seq("@1", "@2"),
    "stats.counts" -> Seq("fastCount=None", "numRows=none"),
    "key.counts" -> Seq("fastCount=Some(300)", "numRows=300"),
    "part.counts" -> Seq("fastCount=Some(60)", "numRows=60"),
    "dv.counts" -> Seq("fastCount=Some(70)", "numRows=80"))

  test("every probe returns the pre-FileIndex file list on each index shape") {
    val got = goldenLists()
    assert(got.map(_._1) == goldenParent.map(_._1))
    got.zip(goldenParent).foreach { case ((n, l), (_, want)) =>
      assert(l == want, s"$n")
    }
  }

  test("a DV'd table reads the same live rows through every path") {
    val t = dvFixture()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "fk", "v").as[(Long, Long, Double)].collect().toSet
    val snap = rows(t.snapshot())
    assert(snap.size == 70 && !snap.exists(_._1 == 12L))
    assert(rows(spark.read.format("graft").load(t.basePath)) == snap)
  }
}
