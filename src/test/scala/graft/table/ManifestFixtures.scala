package graft.table

import scala.collection.immutable.ListMap

import ManifestCodec.ShardSlot

/** The manifests whose rendered bytes are checked in under
  * `src/test/resources/manifests/` ([[ManifestCodecSpec]]). Each root
  * fixture sets or unsets a different group of optional fields; strings
  * carry quotes, backslashes, slashes and non-ASCII text so escaping is
  * pinned too. Changing any value here means regenerating its fixture.
  */
object ManifestFixtures {
  private val schemaJson =
    """{"type":"struct","fields":[{"name":"id","type":"long",""" +
      """"nullable":true,"metadata":{"parquet.field.id":1}},""" +
      """{"name":"p","type":"string","nullable":true,"metadata":{}}]}"""

  /** No optional field set: no props, no stamp, nothing sharded. */
  val minimal = Manifest(
    version = 1L,
    schemaJson = schemaJson,
    keyCols = Seq("id"),
    partitionCols = Seq("p"),
    precombineField = "",
    partitions = Map(
      "p=b" -> Seq("files/c1-0000aaaa/__p_p=b/part-1.parquet"),
      "p=a" -> Seq("files/c1-0000aaaa/__p_p=a/part-0.parquet",
        "files/c1-0000aaaa/__p_p=a/part-2.parquet")),
    operation = "bulk_insert",
    metrics = Map("files_added" -> 3L, "units_written" -> 2L),
    keyEncoding = 3L)

  private val fileA = "files/c4-1234abcd/__p_p=a/part-0.parquet"
  private val fileB = "files/c4-1234abcd/__p_p=b \"q\"/part-1.parquet"

  /** Every optional root field set, with `props` carrying the optional
    * `bloomCols`, `checkConstraints` and `deleteVectors`.
    */
  val full = Manifest(
    version = 4L,
    schemaJson = schemaJson,
    keyCols = Seq("id", "sub"),
    partitionCols = Seq("p"),
    precombineField = "ts",
    partitions = Map("p=a" -> Seq(fileA), "p=b \"q\"" -> Seq(fileB),
      "p=empty" -> Nil),
    deltaCommits = 2L,
    lastCompaction = 3L,
    fileStats = Map(
      fileA -> FileStat("00000000000000000001", "00000000000000000009",
        fileA + ".bloom", Map("v" -> Seq("a", "z\\"), "w" -> Seq("1", "2")),
        rows = 9L, bytes = 1024L,
        colBloomRefs = Map("v" -> (fileA + ".v.bloom"))),
      fileB -> FileStat("ké", "kÿ", fileB + ".bloom")),
    operation = "upsert",
    metrics = Map("phase_write_ms" -> 12L, "mark_src" -> 7L,
      "neg" -> -5L),
    storageType = "cow",
    keyEncoding = 3L,
    props = Some(TableProps(keepCommits = 5, numBuckets = 4,
      clusterCols = Seq("id"), trackCommitVersions = true, fileIndex = true,
      statsCols = Seq("v", "w"), compactEvery = 7, bloomCols = Seq("v"),
      checkConstraints = Seq("v > 0", "w <> \"x\\y\""),
      deleteVectors = true)),
    tombstones = Map("3" -> Seq("files/t3-aa/part-0.parquet"),
      "4" -> Seq("files/t4-bb/part-0.parquet", "files/t4-bb/part-1.parquet")),
    drops = Map("2" -> DropRecord(
      Map("p=old" -> Seq("files/c1-00/__p_p=old/part-0.parquet")),
      Map("p=old" -> Seq("files/l1-00/__p_p=old/log-0.parquet")))),
    commitTimeMs = 1760000000123L,
    dvs = ListMap(fileA -> DvEntry(Seq("files/dv4-cc/part-0.parquet"), 2L)),
    unorderedFiles = Seq(fileA, fileB),
    tableColStats = ListMap(
      "v" -> ColStatRec(10L, 1L, 8L, 16L,
        histogram = Seq((0.1, 2.5, 3L), (2.5, 1.0e10, 4L), (-3.5, 1.0e-7, 1L)),
        histoHeight = 2.25),
      "w" -> ColStatRec(3L, 0L, 4L, 4L)),
    tableColStatsVersion = 4L,
    droppedCols = Seq("gone", "old_col"))

  /** A merge-on-read root whose props leave the optional lists empty. */
  val morPlainProps = Manifest(
    version = 6L,
    schemaJson = schemaJson,
    keyCols = Seq("id"),
    partitionCols = Nil,
    precombineField = "ts",
    partitions = Map("" -> Seq("files/c5-aa/part-0.parquet")),
    logPartitions = Map("" -> Seq("files/l6-bb/log-0.parquet")),
    deltaCommits = 1L,
    lastCompaction = 5L,
    operation = "log_append",
    storageType = "mor",
    keyEncoding = 2L,
    props = Some(TableProps(statsCols = Seq("ts"))),
    commitTimeMs = 1760000000999L)

  /** A sharded root: the file-scale maps live in the named shards. */
  val sharded = Manifest(
    version = 9L,
    schemaJson = schemaJson,
    keyCols = Seq("id"),
    partitionCols = Seq("p"),
    precombineField = "",
    partitions = Map.empty,
    operation = "upsert",
    metrics = Map("files_added" -> 1L),
    keyEncoding = 3L,
    props = Some(TableProps(fileIndex = true)),
    commitTimeMs = 1760000001000L,
    shardRefs = Seq("s0-0011223344556677.json", "s7-8899aabbccddeeff.json"))

  /** More than 2,000 live files: rendered compact, not pretty. */
  val large = Manifest(
    version = 12L,
    schemaJson = schemaJson,
    keyCols = Seq("id"),
    partitionCols = Seq("p"),
    precombineField = "",
    partitions = (0 until 21).map { p =>
      s"p=$p" -> (0 until 100).map(i =>
        f"files/c12-ab/__p_p=$p/part-$i%05d.parquet")
    }.toMap,
    logPartitions = Map("p=0" -> Seq("files/l12-cd/__p_p=0/log-0.parquet")),
    fileStats = (0 until 40).map { i =>
      val f = f"files/c12-ab/__p_p=0/part-$i%05d.parquet"
      f -> FileStat(f"$i%020d", f"${i + 1}%020d", f + ".bloom",
        Map("v" -> Seq(s"$i", s"${i + 5}")), rows = i.toLong, bytes = 100L + i)
    }.toMap,
    operation = "bulk_insert",
    metrics = Map("files_added" -> 2100L),
    keyEncoding = 3L,
    props = Some(TableProps(fileIndex = true, statsCols = Seq("v"))),
    commitTimeMs = 1760000002000L)

  val roots: Seq[(String, Manifest)] = Seq(
    "root-minimal" -> minimal,
    "root-full" -> full,
    "root-mor-plain-props" -> morPlainProps,
    "root-sharded" -> sharded,
    "root-large" -> large)

  /** One shard document: listings (one empty-listed partition), stats
    * with and without column blooms, and deletion vectors.
    */
  val shard = ShardSlot(
    partitions = Map("p=a" -> Seq(fileA, "files/c3-ee/__p_p=a/part-9.parquet"),
      "p=empty" -> Nil),
    logPartitions = Map("p=a" -> Seq("files/l5-ff/__p_p=a/log-0.parquet")),
    fileStats = full.fileStats,
    dvs = full.dvs)

  val shards: Seq[(String, ShardSlot)] = Seq("shard" -> shard)

  /** A pre-props root as an early table wrote it: no `props`,
    * `storageType`, `keyEncoding` or `commitTimeMs`; file stats without
    * `rows`/`bytes`; integer histogram bounds; a non-integer metric; an
    * unknown root key.
    */
  val legacyPreProps: String =
    """{
      |  "version" : 3,
      |  "schemaJson" : "{\"type\":\"struct\",\"fields\":[]}",
      |  "keyCols" : [ "id" ],
      |  "partitionCols" : [ "p" ],
      |  "precombineField" : "ts",
      |  "partitions" : {
      |    "p=a" : [ "files/c1/a.parquet", "files/c3/a.parquet" ]
      |  },
      |  "deltaCommits" : 0,
      |  "lastCompaction" : 0,
      |  "fileStats" : {
      |    "files/c1/a.parquet" : {
      |      "keyMin" : "1",
      |      "keyMax" : "9",
      |      "bloomRef" : "files/c1/a.parquet.bloom",
      |      "colStats" : {
      |        "v" : [ "1", "2" ]
      |      }
      |    }
      |  },
      |  "operation" : "upsert",
      |  "metrics" : {
      |    "files_added" : 1,
      |    "ratio" : 0.5,
      |    "label" : "x"
      |  },
      |  "tombstones" : { },
      |  "tableColStats" : {
      |    "v" : {
      |      "ndv" : 3,
      |      "nulls" : 0,
      |      "avgLen" : 8,
      |      "maxLen" : 8,
      |      "histoHeight" : 2,
      |      "histogram" : [ [ 1, 5, 2 ], [ 5.5, 9, 1 ] ]
      |    }
      |  },
      |  "someFutureKey" : { "nested" : [ 1, 2, 3 ] }
      |}""".stripMargin

  val legacyPrePropsParsed = Manifest(
    version = 3L,
    schemaJson = """{"type":"struct","fields":[]}""",
    keyCols = Seq("id"),
    partitionCols = Seq("p"),
    precombineField = "ts",
    partitions = Map("p=a" -> Seq("files/c1/a.parquet", "files/c3/a.parquet")),
    fileStats = Map("files/c1/a.parquet" -> FileStat("1", "9",
      "files/c1/a.parquet.bloom", Map("v" -> Seq("1", "2")))),
    operation = "upsert",
    metrics = Map("files_added" -> 1L),
    tableColStats = Map("v" -> ColStatRec(3L, 0L, 8L, 8L,
      histogram = Seq((1.0, 5.0, 2L), (5.5, 9.0, 1L)), histoHeight = 2.0)))

  /** A pre-switch root whose props record the integer `fileIndexEntries`
    * instead of the boolean `fileIndex`.
    */
  val legacyFileIndexEntries: String =
    """{
      |  "version" : 5,
      |  "schemaJson" : "{\"type\":\"struct\",\"fields\":[]}",
      |  "keyCols" : [ "id" ],
      |  "partitionCols" : [ ],
      |  "precombineField" : "",
      |  "partitions" : { },
      |  "logPartitions" : { },
      |  "deltaCommits" : 0,
      |  "lastCompaction" : 0,
      |  "fileStats" : { },
      |  "operation" : "create",
      |  "metrics" : { },
      |  "storageType" : "cow",
      |  "keyEncoding" : 2,
      |  "tombstones" : { },
      |  "props" : {
      |    "keepCommits" : 10,
      |    "numBuckets" : 0,
      |    "clusterCols" : [ ],
      |    "trackCommitVersions" : true,
      |    "fileIndexEntries" : 4096,
      |    "statsCols" : [ "v" ],
      |    "compactEvery" : 20
      |  }
      |}""".stripMargin

  val legacyFileIndexEntriesParsed = Manifest(
    version = 5L,
    schemaJson = """{"type":"struct","fields":[]}""",
    keyCols = Seq("id"),
    partitionCols = Nil,
    precombineField = "",
    partitions = Map.empty,
    operation = "create",
    keyEncoding = 2L,
    props = Some(TableProps(trackCommitVersions = true, fileIndex = true,
      statsCols = Seq("v"))))
}
