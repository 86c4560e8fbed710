package graft.table

import scala.collection.immutable.ListMap
import scala.collection.mutable

import com.fasterxml.jackson.core.{JsonFactory, JsonGenerator, JsonParser, JsonToken}
import org.apache.hadoop.fs.{FileSystem, Path}

/** The manifest format: the root version document and the shard
  * documents, Jackson streaming, with one [[Writer]] and one [[Reader]]
  * method per file-scale map that both documents call. Equal content
  * renders to identical bytes (fixed field order, sorted keys, empty
  * optional fields omitted), which is what lets a shard be named by the
  * hash of its bytes. Roots read leniently, so every manifest ever
  * written stays readable; shards read strictly.
  */
object ManifestCodec {

  /** File-count threshold at which [[CowTable.writeManifest]]
    * externalizes the manifest's file-scale maps (`partitions`,
    * `logPartitions`, `fileStats`, `dvs`) into [[ShardCount]]
    * content-addressed shard files under `_commits/shards/` — the
    * Iceberg manifest-list / Hudi metadata-table arrangement, sized for
    * the limit measured in BASELINE.md ("Round-8 manifest scalability
    * probe": ~72 MB / 0.5 s single-thread parse at 200k files → a
    * 100-TB table at 128 MB files ≈ 800k files needs the split). Below
    * the threshold the monolithic single-file manifest is strictly
    * better (one read, one write, human-greppable). A `var` so specs
    * exercise the sharded path at small sizes; every version
    * self-describes, so mixed timelines read fine.
    */
  @volatile private[graft] var ShardFileThreshold: Int = 50000
  val ShardCount: Int = 32

  private val factory = new JsonFactory()

  /** Parsed-manifest cache. Version files are WRITE-ONCE (exclusive slot
    * claim + rename in `tryPublish`; losers never overwrite), so a parsed
    * manifest is immutable for the life of its file — the cache key adds
    * (mtime, length) anyway so a table deleted and recreated at the same
    * path (tests, reruns) can never serve stale state. Matters because
    * `manifest` is read on EVERY table operation and parse cost is
    * O(files × stats): at a 10k-file table each JSON parse is tens of ms,
    * and a pipeline step does dozens of manifest reads. Bounded by entry
    * count with full clear on overflow (manifests of big tables are MBs;
    * an LRU would buy little over clearing a driver-side cache).
    */
  private val manifestCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), Manifest]()
  private val ManifestCacheMax = 64

  /** Test hook: drop the JVM-wide manifest cache so a spec can prove a
    * genuinely cold re-read (the (path, mtime, len) key makes same-file
    * re-reads warm by design).
    */
  private[graft] def clearCacheForTest(): Unit = manifestCache.clear()

  private[table] def readManifestFile(fs: FileSystem, p: Path): Manifest = {
    val st = fs.getFileStatus(p)
    val key = (p.toString, st.getModificationTime, st.getLen)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    // bulk byte read, not Source (char-iterator slurping is ~10x slower
    // on multi-MB shard files)
    def slurp(f: Path): Array[Byte] = {
      val in = fs.open(f)
      try in.readAllBytes() finally in.close()
    }
    val m0 = parseManifest(
      new String(slurp(p), java.nio.charset.StandardCharsets.UTF_8))
    // sharded root: resolve the externalized file-scale maps. Shards
    // parse in PARALLEL (they are independent documents), which is what
    // keeps a million-file cold open sub-second; the merged result is
    // what gets cached, so warm re-reads stay O(1) regardless of size.
    val m =
      if (m0.shardRefs.isEmpty) m0
      else {
        import scala.concurrent.{Await, Future, blocking}
        import scala.concurrent.duration._
        import scala.concurrent.ExecutionContext.Implicits.global
        val dir = new Path(p.getParent, "shards")
        // blocking{} marks the FS reads for the global pool's
        // ManagedBlocker so concurrent manifest opens issued from pool
        // threads spawn compensation threads instead of starving each
        // other; the finite await turns a wedged filesystem into a
        // diagnosable error rather than a forever-hang
        val shards =
          try Await.result(
            Future.sequence(m0.shardRefs.toList.map(n => Future {
              blocking(parseShard(slurp(new Path(dir, n))))
            })),
            10.minutes)
          catch {
            case _: java.util.concurrent.TimeoutException =>
              throw new java.io.IOException(
                s"graft: timed out reading ${m0.shardRefs.size} manifest " +
                  s"shards under $dir after 10 minutes — filesystem wedged?")
          }
        mergeShards(m0, shards)
      }
    if (manifestCache.size >= ManifestCacheMax) manifestCache.clear()
    manifestCache.put(key, m)
    m
  }

  /** Pull-parser cursor: every read starts ON its value's first token
    * and ends on its last. `strict` makes an unknown field or a wrongly
    * shaped value an error instead of a skipped value.
    */
  private final class Reader(p: JsonParser, doc: String, strict: Boolean) {
    import JsonToken._

    p.nextToken() // onto the document's first token
    private def tok: JsonToken = p.currentToken
    def isInt: Boolean = tok == VALUE_NUMBER_INT

    def skip(): Unit =
      if (!strict) p.skipChildren()
      else throw new IllegalArgumentException(s"$doc: unknown field or " +
        s"unexpected $tok at ${p.getParsingContext.pathAsPointer}")

    /** `body(name)` on each field's value; false if not an object. */
    def fields(body: String => Unit): Boolean =
      if (tok != START_OBJECT) { skip(); false }
      else {
        while (p.nextToken() != END_OBJECT) {
          val k = p.currentName()
          p.nextToken()
          body(k)
        }
        true
      }

    def entries[V](value: String => V): ListMap[String, V] = {
      val b = mutable.LinkedHashMap.empty[String, V]
      fields(k => b.update(k, value(k)))
      ListMap.from(b)
    }

    def elements(body: => Unit): Unit =
      if (tok != START_ARRAY) skip()
      else while (p.nextToken() != END_ARRAY) body

    // a scalar of another type reads as the default
    def string(dflt: String): String =
      if (tok == VALUE_STRING) p.getText else { p.skipChildren(); dflt }
    def long(dflt: Long): Long =
      if (isInt) p.getLongValue else { p.skipChildren(); dflt }
    def double(dflt: Double): Double =
      if (tok.isNumeric) p.getDoubleValue else { p.skipChildren(); dflt }
    def bool(dflt: Boolean): Boolean =
      if (tok.isBoolean) tok == VALUE_TRUE else { p.skipChildren(); dflt }

    def strings(): Seq[String] = {
      val b = Vector.newBuilder[String]
      elements { val s = string(null); if (s != null) b += s }
      b.result()
    }

    /** The integer-valued fields of an object. */
    def longs(): Map[String, Long] = {
      val b = Map.newBuilder[String, Long]
      fields(k => if (isInt) b += k -> p.getLongValue else p.skipChildren())
      b.result()
    }

    def listing(): Map[String, Seq[String]] = entries(_ => strings())

    /** A hash map, not a ListMap: readers probe it per file. */
    def fileStats(): Map[String, FileStat] = {
      val b = Map.newBuilder[String, FileStat]
      fields { f =>
        var st = FileStat(null, null, null)
        fields {
          case "keyMin" => st = st.copy(keyMin = string(null))
          case "keyMax" => st = st.copy(keyMax = string(null))
          case "bloomRef" => st = st.copy(bloomRef = string(null))
          case "rows" => st = st.copy(rows = long(-1L))
          case "bytes" => st = st.copy(bytes = long(-1L))
          case "colStats" => st = st.copy(colStats = listing())
          case "colBlooms" =>
            st = st.copy(colBloomRefs = entries(_ => string(null)))
          case _ => skip()
        }
        for ((n, v) <- Seq("keyMin" -> st.keyMin, "keyMax" -> st.keyMax,
            "bloomRef" -> st.bloomRef) if v == null)
          throw new IllegalArgumentException(s"fileStats[$f] missing $n")
        b += f -> st
      }
      b.result()
    }

    def dvs(): Map[String, DvEntry] = entries { _ =>
      var e = DvEntry(Nil, 0L)
      fields {
        case "files" => e = e.copy(files = strings())
        case "rows" => e = e.copy(rows = long(0L))
        case _ => skip()
      }
      e
    }
  }

  private def parseWith[A](p: JsonParser, doc: String, strict: Boolean)(
      read: Reader => A): A =
    try read(new Reader(p, doc, strict)) finally p.close()

  /** Missing fields read as the values older manifests imply (e.g.
    * `storageType` cow, `keyEncoding` 1, `props` None).
    */
  private[graft] def parseManifest(txt: String): Manifest =
    parseWith(factory.createParser(txt), "manifest", strict = false) { r =>
      var m = Manifest(Long.MinValue, null, Nil, Nil, "", Map.empty)
      r.fields {
        case "version" =>
          require(r.isInt, "manifest: bad version (not an integer)")
          m = m.copy(version = r.long(0L))
        case "schemaJson" => m = m.copy(schemaJson = r.string(null))
        case "keyCols" => m = m.copy(keyCols = r.strings())
        case "partitionCols" => m = m.copy(partitionCols = r.strings())
        case "precombineField" => m = m.copy(precombineField = r.string(""))
        case "shards" => m = m.copy(shardRefs = r.strings())
        case "partitions" => m = m.copy(partitions = r.listing())
        case "logPartitions" => m = m.copy(logPartitions = r.listing())
        case "deltaCommits" => m = m.copy(deltaCommits = r.long(0L))
        case "lastCompaction" => m = m.copy(lastCompaction = r.long(0L))
        case "fileStats" => m = m.copy(fileStats = r.fileStats())
        case "operation" => m = m.copy(operation = r.string(""))
        case "metrics" => m = m.copy(metrics = r.longs())
        case "storageType" => m = m.copy(storageType = r.string("cow"))
        case "keyEncoding" => m = m.copy(keyEncoding = r.long(1L))
        case "commitTimeMs" => m = m.copy(commitTimeMs = r.long(0L))
        case "tombstones" => m = m.copy(tombstones = r.listing())
        case "dvs" => m = m.copy(dvs = r.dvs())
        case "unorderedFiles" => m = m.copy(unorderedFiles = r.strings())
        case "tableColStats" =>
          m = m.copy(tableColStats = r.entries(_ => readColStat(r)))
        case "tableColStatsVersion" =>
          m = m.copy(tableColStatsVersion = r.long(0L))
        case "droppedCols" => m = m.copy(droppedCols = r.strings())
        case "drops" => m = m.copy(drops = r.entries { _ =>
          var d = DropRecord(Map.empty)
          r.fields {
            case "partitions" => d = d.copy(partitions = r.listing())
            case "logPartitions" => d = d.copy(logPartitions = r.listing())
            case _ => r.skip()
          }
          d
        })
        case "props" => m = m.copy(props = readProps(r))
        case _ => r.skip()
      }
      require(m.version != Long.MinValue, "manifest: missing version")
      require(m.schemaJson != null, "manifest: missing schemaJson")
      m
    }

  private def readColStat(r: Reader): ColStatRec = {
    var st = ColStatRec(0L, 0L, 0L, 0L)
    r.fields {
      case "ndv" => st = st.copy(ndv = r.long(0L))
      case "nulls" => st = st.copy(nulls = r.long(0L))
      case "avgLen" => st = st.copy(avgLen = r.long(0L))
      case "maxLen" => st = st.copy(maxLen = r.long(0L))
      case "histoHeight" => st = st.copy(histoHeight = r.double(0.0))
      case "histogram" =>
        // [lo, hi, ndv] bins (integer-valued bounds read as doubles); a
        // bin of another arity is dropped
        val bins = Vector.newBuilder[(Double, Double, Long)]
        r.elements {
          val b = mutable.ArrayBuffer.empty[Double]
          r.elements(b += r.double(0.0))
          if (b.size == 3) bins += ((b(0), b(1), b(2).toLong))
        }
        st = st.copy(histogram = bins.result())
      case _ => r.skip()
    }
    st
  }

  /** None unless `props` is an object (pre-props manifests). */
  private def readProps(r: Reader): Option[TableProps] = {
    var p = TableProps()
    var fileIndex = Option.empty[Boolean]
    var fileIndexEntries = 0L
    val isObject = r.fields {
      case "keepCommits" => p = p.copy(keepCommits = r.long(10L).toInt)
      case "numBuckets" => p = p.copy(numBuckets = r.long(0L).toInt)
      case "clusterCols" => p = p.copy(clusterCols = r.strings())
      case "trackCommitVersions" =>
        p = p.copy(trackCommitVersions = r.bool(false))
      case "fileIndex" => fileIndex = Some(r.bool(false))
      // a pre-switch manifest's integer entry count reads as `> 0`
      case "fileIndexEntries" => fileIndexEntries = r.long(0L)
      case "statsCols" => p = p.copy(statsCols = r.strings())
      case "compactEvery" => p = p.copy(compactEvery = r.long(20L).toInt)
      case "bloomCols" => p = p.copy(bloomCols = r.strings())
      case "checkConstraints" => p = p.copy(checkConstraints = r.strings())
      case "deleteVectors" => p = p.copy(deleteVectors = r.bool(false))
      case _ => r.skip()
    }
    Option.when(isObject)(
      p.copy(fileIndex = fileIndex.getOrElse(fileIndexEntries > 0)))
  }

  private[table] def parseShard(bytes: Array[Byte]): ShardSlot =
    parseWith(factory.createParser(bytes), "shard", strict = true) { r =>
      var s = ShardSlot(Map.empty, Map.empty, Map.empty, Map.empty)
      r.fields {
        case "partitions" => s = s.copy(partitions = r.listing())
        case "logPartitions" => s = s.copy(logPartitions = r.listing())
        case "fileStats" => s = s.copy(fileStats = r.fileStats())
        case "dvs" => s = s.copy(dvs = r.dvs())
        case _ => r.skip()
      }
      s
    }

  /** Merge parsed shards back into the root manifest. Listings combine
    * per partition key and SORT (file identity is path-borne — bucket
    * ids ride `__bucket=N` segments — so list order carries no
    * semantics; sorting makes the merge deterministic regardless of
    * shard order).
    */
  private[table] def mergeShards(
      root: Manifest, shards: Seq[ShardSlot]): Manifest = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    def mergeListing(ls: Seq[Map[String, Seq[String]]])
        : Map[String, Seq[String]] = {
      val out = mutable.LinkedHashMap
        .empty[String, mutable.ArrayBuffer[String]]
      ls.foreach(_.foreach { case (k, v) =>
        out.getOrElseUpdate(k, mutable.ArrayBuffer.empty[String]) ++= v
      })
      ListMap(out.toSeq.map { case (k, v) =>
        k -> (v.sortInPlace().toSeq: Seq[String])
      }.sortBy(_._1): _*)
    }
    // the shard maps are disjoint (each file's entries live in ONE
    // slot), so the stats merge is a pure HAMT union of the maps the
    // parallel parse already built — no per-entry rebuild; and the
    // independent merges overlap on the pool
    val fParts = Future(mergeListing(shards.map(_.partitions)))
    val fLogs = Future(mergeListing(shards.map(_.logPartitions)))
    val fStats = Future(shards.map(_.fileStats)
      .foldLeft(Map.empty[String, FileStat])(_ ++ _))
    root.copy(
      partitions = Await.result(fParts, Duration.Inf),
      logPartitions = Await.result(fLogs, Duration.Inf),
      fileStats = Await.result(fStats, Duration.Inf),
      dvs = ListMap(shards.iterator.flatMap(_.dvs).toSeq.sortBy(_._1): _*))
  }

  private def render(pretty: Boolean)(body: Writer => Unit): String = {
    val sw = new java.io.StringWriter(1 << 16)
    val g = factory.createGenerator(sw)
    if (pretty) g.useDefaultPrettyPrinter()
    g.writeStartObject()
    body(new Writer(g))
    g.writeEndObject()
    g.close()
    sw.toString
  }

  /** The writing mirror of [[Reader]]. */
  private final class Writer(val g: JsonGenerator) {
    def array(xs: Seq[String]): Unit = g.writeArray(xs.toArray, 0, xs.size)

    def strings(name: String, xs: Seq[String]): Unit = {
      g.writeFieldName(name)
      array(xs)
    }

    /** An object field: `xs` sorted by key, each value written by `value`. */
    def sorted[V](name: String, xs: Map[String, V])(value: V => Unit): Unit = {
      g.writeObjectFieldStart(name)
      xs.toSeq.sortBy(_._1).foreach { case (k, v) =>
        g.writeFieldName(k)
        value(v)
      }
      g.writeEndObject()
    }

    def sortedObjects[V](name: String, xs: Map[String, V])(
        body: V => Unit): Unit =
      sorted(name, xs) { v =>
        g.writeStartObject()
        body(v)
        g.writeEndObject()
      }

    def listing(name: String, ps: Map[String, Seq[String]]): Unit =
      sorted(name, ps)(array)

    def fileStats(stats: Map[String, FileStat]): Unit =
      sortedObjects("fileStats", stats) { st =>
        g.writeStringField("keyMin", st.keyMin)
        g.writeStringField("keyMax", st.keyMax)
        g.writeStringField("bloomRef", st.bloomRef)
        g.writeNumberField("rows", st.rows)
        g.writeNumberField("bytes", st.bytes)
        listing("colStats", st.colStats)
        // omitted when empty: bloom-less entries render as before blooms
        if (st.colBloomRefs.nonEmpty)
          sorted("colBlooms", st.colBloomRefs)(g.writeString)
      }

    /** Omitted when empty: DV-less documents render as before DVs. */
    def dvs(dvs: Map[String, DvEntry]): Unit =
      if (dvs.nonEmpty) sortedObjects("dvs", dvs) { e =>
        strings("files", e.files)
        g.writeNumberField("rows", e.rows)
      }
  }

  /** Optional fields are omitted when empty, so a manifest that predates
    * a field renders exactly as it did then.
    */
  private[table] def renderManifest(m: Manifest): String =
    // pretty JSON is for humans debugging small tables; past a few
    // thousand file entries the indentation roughly doubles manifest
    // bytes paid on every commit write + (cold) read, so render compact
    render(pretty = m.files.size <= 2000) { w =>
      import w.g
      // sharded root: the file-scale maps live in the named shards; every
      // version self-describes, so a table can cross the threshold either
      // way at any commit
      val inline = m.shardRefs.isEmpty
      g.writeNumberField("version", m.version)
      g.writeStringField("schemaJson", m.schemaJson)
      w.strings("keyCols", m.keyCols)
      w.strings("partitionCols", m.partitionCols)
      g.writeStringField("precombineField", m.precombineField)
      if (!inline) w.strings("shards", m.shardRefs)
      if (inline) w.listing("partitions", m.partitions)
      if (inline) w.listing("logPartitions", m.logPartitions)
      g.writeNumberField("deltaCommits", m.deltaCommits)
      g.writeNumberField("lastCompaction", m.lastCompaction)
      if (inline) w.fileStats(m.fileStats)
      g.writeStringField("operation", m.operation)
      w.sorted("metrics", m.metrics)(g.writeNumber(_: Long))
      g.writeStringField("storageType", m.storageType)
      g.writeNumberField("keyEncoding", m.keyEncoding)
      if (m.commitTimeMs > 0) g.writeNumberField("commitTimeMs", m.commitTimeMs)
      w.listing("tombstones", m.tombstones)
      if (inline) w.dvs(m.dvs)
      if (m.unorderedFiles.nonEmpty)
        w.strings("unorderedFiles", m.unorderedFiles.sorted)
      if (m.tableColStats.nonEmpty)
        w.sortedObjects("tableColStats", m.tableColStats) { st =>
          g.writeNumberField("ndv", st.ndv)
          g.writeNumberField("nulls", st.nulls)
          g.writeNumberField("avgLen", st.avgLen)
          g.writeNumberField("maxLen", st.maxLen)
          if (st.histoHeight > 0)
            g.writeNumberField("histoHeight", st.histoHeight)
          if (st.histogram.nonEmpty) {
            g.writeArrayFieldStart("histogram")
            st.histogram.foreach { case (lo, hi, n) =>
              g.writeStartArray()
              g.writeNumber(lo)
              g.writeNumber(hi)
              g.writeNumber(n)
              g.writeEndArray()
            }
            g.writeEndArray()
          }
        }
      if (m.tableColStatsVersion > 0)
        g.writeNumberField("tableColStatsVersion", m.tableColStatsVersion)
      if (m.droppedCols.nonEmpty) w.strings("droppedCols", m.droppedCols)
      if (m.drops.nonEmpty) w.sortedObjects("drops", m.drops) { d =>
        w.listing("partitions", d.partitions)
        w.listing("logPartitions", d.logPartitions)
      }
      m.props.foreach { p =>
        g.writeObjectFieldStart("props")
        g.writeNumberField("keepCommits", p.keepCommits)
        g.writeNumberField("numBuckets", p.numBuckets)
        w.strings("clusterCols", p.clusterCols)
        g.writeBooleanField("trackCommitVersions", p.trackCommitVersions)
        g.writeBooleanField("fileIndex", p.fileIndex)
        w.strings("statsCols", p.statsCols)
        g.writeNumberField("compactEvery", p.compactEvery)
        if (p.bloomCols.nonEmpty) w.strings("bloomCols", p.bloomCols)
        if (p.checkConstraints.nonEmpty)
          w.strings("checkConstraints", p.checkConstraints)
        if (p.deleteVectors) g.writeBooleanField("deleteVectors", true)
        g.writeEndObject()
      }
    }

  private[table] def renderShardDoc(s: ShardSlot): String =
    render(pretty = false) { w =>
      w.listing("partitions", s.partitions)
      w.listing("logPartitions", s.logPartitions)
      w.fileStats(s.fileStats)
      w.dvs(s.dvs)
    }

  /** One shard's slice of the file-scale maps, with SORTED listings —
    * the canonical content whose rendering is what gets content-addressed
    * (sorted canonical form ⇒ logically-equal slots render
    * byte-identically ⇒ untouched slots reuse their file).
    */
  private[table] final case class ShardSlot(
      partitions: Map[String, Seq[String]],
      logPartitions: Map[String, Seq[String]],
      fileStats: Map[String, FileStat],
      dvs: Map[String, DvEntry]) {
    def isEmpty: Boolean = partitions.isEmpty && logPartitions.isEmpty &&
      fileStats.isEmpty && dvs.isEmpty
  }

  /** A published manifest's slot split, memoized on the handle that
    * published it: `names` are the root's shardRefs at `version`, the
    * equality witness that `slots` really is the published content.
    */
  private[table] final case class SplitCache(
      version: Long, names: Seq[String], slots: Array[ShardSlot])

  private[table] def shardSlot(file: String): Int =
    math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(file), ShardCount)

  /** Split the file-scale maps into [[ShardCount]] slots: every entry
    * lands in the slot its FILE hashes to. Hashing by file (not
    * partition) keeps shards balanced even for unpartitioned tables; a
    * partition's listing may span shards and re-merges on read.
    * Empty-listed partitions pin to slot 0 so their existence survives
    * the round trip.
    */
  private[table] def shardSplit(m: Manifest): Array[ShardSlot] = {
    val n = ShardCount
    def split(ps: Map[String, Seq[String]])
        : Array[Map[String, Seq[String]]] = {
      val arr = Array.fill(n)(
        mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]])
      ps.foreach { case (pk, fls) =>
        if (fls.isEmpty) {
          arr(0).getOrElseUpdate(pk, mutable.ArrayBuffer.empty[String]); ()
        } else fls.foreach { f =>
          arr(shardSlot(f)).getOrElseUpdate(pk,
            mutable.ArrayBuffer.empty[String]) += f
        }
      }
      arr.map(_.iterator.map { case (k, v) =>
        k -> (v.sortInPlace().toSeq: Seq[String])
      }.toMap)
    }
    val parts = split(m.partitions)
    val logs = split(m.logPartitions)
    val stats = Array.fill(n)(mutable.LinkedHashMap.empty[String, FileStat])
    m.fileStats.foreach { case (f, st) => stats(shardSlot(f)).update(f, st) }
    val dvs = Array.fill(n)(mutable.LinkedHashMap.empty[String, DvEntry])
    m.dvs.foreach { case (f, e) => dvs(shardSlot(f)).update(f, e) }
    Array.tabulate(n)(i =>
      ShardSlot(parts(i), logs(i), stats(i).toMap, dvs(i).toMap))
  }
}
