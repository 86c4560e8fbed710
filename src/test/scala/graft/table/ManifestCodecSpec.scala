package graft.table

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

/** The manifest format pinned byte for byte. The checked-in fixtures
  * under `src/test/resources/manifests/` were rendered by the earlier
  * json4s root codec and Jackson shard codec; every manifest already on
  * disk was written that way, and shard names are hashes of their bytes,
  * so rendering must reproduce them exactly.
  */
class ManifestCodecSpec extends AnyFunSuite {
  import ManifestFixtures._

  private def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/manifests/$name.json")
    assert(in != null, s"missing fixture $name")
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  roots.foreach { case (name, m) =>
    test(s"root $name renders byte-identically and round-trips") {
      val txt = ManifestCodec.renderManifest(m)
      assert(txt == fixture(name))
      assert(ManifestCodec.parseManifest(txt) == m)
    }
  }

  shards.foreach { case (name, s) =>
    test(s"shard $name renders byte-identically and round-trips") {
      val bytes = ManifestCodec.renderShardDoc(s).getBytes(UTF_8)
      assert(new String(bytes, UTF_8) == fixture(name))
      assert(ManifestCodec.parseShard(bytes) == s)
    }
  }

  test("a manifest parses its schema once, and a copy parses its own") {
    val m = roots.head._2
    assert(m.schema eq m.schema)
    val other = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("z",
        org.apache.spark.sql.types.LongType)))
    val c = m.copy(schemaJson = other.json)
    assert(c.schema == other && c.schema.fieldNames.toSeq == Seq("z"))
    assert(m.schema != other)
    // the cached schema is no field: equality and rendering see schemaJson
    assert(m.copy() == m &&
      ManifestCodec.renderManifest(m.copy()) == ManifestCodec.renderManifest(m))
  }

  test("small roots print pretty, roots over 2,000 files print compact") {
    assert(fixture("root-minimal").contains("\"version\" : 1"))
    assert(large.files.size > 2000)
    assert(!fixture("root-large").contains("\n"))
  }

  test("split, render, parse and merge of shards gives back the maps") {
    val docs = ManifestCodec.shardSplit(full).filterNot(_.isEmpty).toSeq
      .map(s => ManifestCodec.parseShard(
        ManifestCodec.renderShardDoc(s).getBytes(UTF_8)))
    val root = ManifestCodec.parseManifest(ManifestCodec.renderManifest(
      full.copy(shardRefs = Seq("s0-x.json"))))
    assert(root.partitions.isEmpty && root.fileStats.isEmpty)
    assert(ManifestCodec.mergeShards(root, docs) ==
      full.copy(shardRefs = Seq("s0-x.json")))
  }

  test("legacy roots parse with their implied defaults") {
    assert(ManifestCodec.parseManifest(legacyPreProps) == legacyPrePropsParsed)
    assert(ManifestCodec.parseManifest(legacyFileIndexEntries) ==
      legacyFileIndexEntriesParsed)
  }

  test("a bad or missing version throws") {
    val txt = ManifestCodec.renderManifest(minimal)
    intercept[IllegalArgumentException](ManifestCodec.parseManifest(
      txt.replace("\"version\" : 1", "\"version\" : \"1\"")))
    intercept[IllegalArgumentException](ManifestCodec.parseManifest(
      txt.replace("\"version\" : 1,", "")))
  }

  test("a fileStats entry missing keyMin, keyMax or bloomRef names the file") {
    val txt = ManifestCodec.renderManifest(full)
    Seq("keyMin", "keyMax", "bloomRef").foreach { field =>
      val broken = txt.replaceFirst(s""""$field" : "[^"]*",""", "")
      val e = intercept[IllegalArgumentException](
        ManifestCodec.parseManifest(broken))
      assert(e.getMessage.contains(
        "files/c4-1234abcd/__p_p=a/part-0.parquet") &&
        e.getMessage.contains(field), e.getMessage)
    }
  }

  test("an unknown field in a shard or a shard entry fails loudly") {
    val txt = ManifestCodec.renderShardDoc(shard)
    def parse(s: String) = ManifestCodec.parseShard(s.getBytes(UTF_8))
    val top = intercept[IllegalArgumentException](
      parse(txt.replaceFirst("\\{", "{\"extra\":1,")))
    assert(top.getMessage.contains("extra"))
    val stat = intercept[IllegalArgumentException](
      parse(txt.replace("\"rows\":9,", "\"rows\":9,\"extra\":1,")))
    assert(stat.getMessage.contains("extra"))
    val dv = intercept[IllegalArgumentException](
      parse(txt.replace("\"rows\":2}", "\"rows\":2,\"extra\":1}")))
    assert(dv.getMessage.contains("extra"))
  }
}
