package graft.table

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{
  ByteType, DataType, DateType, IntegerType, LongType, ShortType,
  StringType, StructType}

/** Reads per-file metadata out of a manifest: key ranges and column stats
  * ([[FileStat]]), sidecar blooms, recorded sizes and row counts, and
  * deletion vectors. [[CowTable]]'s write side builds that metadata in the
  * encoding defined here. Every probe keeps the superset contract: a file
  * without an entry is always kept.
  */
object FileIndex {
  /** Key-string encoding shared by the writer-side index and merge-side
    * probes (composite keys joined with a non-printable separator).
    * VERSIONED per table (`Manifest.keyEncoding`, fixed at creation — the
    * stored ranges and bloom contents are in this encoding, so probes must
    * match it forever):
    *
    *   - v1 (legacy): plain `cast(string)`. Sound, but numeric keys order
    *     lexicographically ("999" > "10000"), so the RANGE phase passes
    *     files a numeric range probe shouldn't touch, and multi-key
    *     probes then amplify bloom fpp into false candidates.
    *   - v2: integral/timestamp/date key columns are shifted to
    *     non-negative decimal and zero-padded to fixed width — string
    *     order == numeric order, so range pruning is as tight as the file
    *     layout allows (measured in BASELINE.md's clustering probe).
    */
  private[table] def keyExpr(keyCols: Seq[String], enc: Long,
      schemaOf: String => DataType): Column =
    concat_ws("\u0001",
      keyCols.map(c => encodeExpr(col(c), schemaOf(c), enc)): _*)

  /** The versioned order-preserving encoding of one column's values —
    * what stats and key ranges store, and what probe values (literal
    * expressions, driver-side foldable) are compared in.
    */
  private[table] def encodeExpr(in: Column, dt: DataType,
      enc: Long): Column = {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.GraftBridge
    val asLong: Option[Column] = dt match {
      case ByteType | ShortType | IntegerType | LongType if enc >= 2 =>
        Some(in.cast("long"))
      case TimestampType | TimestampNTZType if enc >= 2 =>
        Some(unix_micros(in))
      case DateType if enc >= 2 => Some(in.cast("int").cast("long"))
      // v3: IEEE-754 sign-flip bits — float/double keys and stats become
      // order-preserving (see graft.functions.OrderedDoubleBits)
      case FloatType | DoubleType if enc >= 3 =>
        Some(GraftBridge.column(graft.functions.OrderedDoubleBits(
          GraftBridge.expression(in.cast("double")))))
      // v3: fixed-scale decimals up to 18 digits ride their exact unscaled
      // long (decimal(12,2) money columns prune like integers)
      case d: DecimalType if enc >= 3 && d.precision <= 18 =>
        Some(GraftBridge.column(
          org.apache.spark.sql.catalyst.expressions.UnscaledValue(
            GraftBridge.expression(in))))
      case _ => None
    }
    asLong match {
      case Some(l) =>
        // order-preserving fixed width: long + 2^63 fits decimal(20,0),
        // zero-padded to 20 digits; null keys stay null (concat_ws skips)
        lpad((l.cast(DecimalType(21, 0)) +
            lit(new java.math.BigDecimal("9223372036854775808")))
          .cast(DecimalType(20, 0)).cast("string"), 20, "0")
      case None => in.cast("string")
    }
  }

  /** Encode probe `values` exactly as stored stats for `column`, WITHOUT
    * launching a Spark job: each chunk becomes one projection of literal
    * encode expressions over a one-row LocalRelation, which the
    * optimizer's ConvertToLocalRelation rule evaluates driver-side — so
    * runtime join pruning and IN-list skipping cost microseconds, not a
    * task-scheduling round trip. Throws if a value does not cast to the
    * column type (callers treat probe values as trusted query constants).
    */
  private[table] def encodeValues(spark: SparkSession, column: String,
      dt: DataType, enc: Long, values: Seq[Any]): Array[String] = {
    import org.apache.spark.sql.types.StructField
    // fast path: values as ROWS of a LocalRelation, one encode expression
    // — the plan is constant-size regardless of |values|, and the
    // optimizer's ConvertToLocalRelation rule evaluates the projection
    // driver-side (no job, no codegen). Value types that don't match the
    // column's external type (e.g. string-typed range-bound options)
    // throw in row conversion and take the literal-cast path below.
    try {
      val rows = new java.util.ArrayList[org.apache.spark.sql.Row](
        values.size)
      values.foreach(v => rows.add(org.apache.spark.sql.Row(v)))
      spark.createDataFrame(rows, StructType(Seq(StructField(column, dt))))
        .select(encodeExpr(col(column), dt, enc))
        .collect().map(_.getString(0))
    } catch { case scala.util.control.NonFatal(_) =>
      val one = spark.createDataFrame(
        java.util.Collections.singletonList(org.apache.spark.sql.Row.empty),
        StructType(Nil))
      // 512-wide chunks keep each projection's schema bounded
      values.grouped(512).flatMap { chunk =>
        val row = one.select(chunk.zipWithIndex.map { case (v, i) =>
          encodeExpr(lit(v).cast(dt), dt, enc).as(s"_e$i")
        }.toIndexedSeq: _*).head()
        chunk.indices.map(row.getString)
      }.toArray
    }
  }

  /** Whether the stored stat strings for a column of type `dt` sort in the
    * column's NUMERIC/temporal order under plain lexicographic comparison.
    * Stats are lex min/max of [[encodeExpr]] output, so range pruning is
    * only sound when that encoding is order-preserving: integral/timestamp/
    * date under encoding v2+ (fixed-width offset-binary), and strings (the
    * encoding is the identity, so lex order IS the column's order).
    * Floating point and decimal fall back to plain `cast(string)` where lex
    * order diverges from numeric order ("9.5" > "10.2") — pruning on those
    * could wrongly skip files, so they are never pruned. Booleans are safe
    * ("false" < "true") but pruning them is pointless. Key-BLOOM range
    * checks are unaffected: they only need a consistent total order, not
    * the column's order (see [[FileStat]] doc).
    */
  private[table] def orderPreservingStats(
      dt: DataType, enc: Long): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType |
           TimestampType | TimestampNTZType | DateType => enc >= 2
      // v3 added sign-flip float bits and unscaled-decimal encodings
      case FloatType | DoubleType => enc >= 3
      case d: DecimalType => enc >= 3 && d.precision <= 18
      case StringType | BooleanType => true
      case _ => false
    }
  }

  /** Schema columns with a recorded per-file [min, max] on any file. */
  private[graft] def statColumns(m: Manifest): Set[String] =
    m.fileStats.valuesIterator.flatMap(_.colStats.keysIterator).toSet
      .intersect(m.schema.fieldNames.toSet)

  /** The record key when a single-column key is indexed: its per-file
    * [keyMin, keyMax] and key bloom prune value probes on it.
    */
  private[graft] def keyIndexColumn(m: Manifest): Option[String] =
    if (m.keyCols.size == 1 && m.fileStats.nonEmpty) m.keyCols.headOption
    else None

  /** The `col=value` segment value Spark's partition writer gives a
    * Catalyst value `v` of type `dt`: its cast to string (the cast
    * [[CowTable]]'s unit keys use), with null and the empty string as
    * [[CowTable.HiveDefaultPartition]]. Manifest keys hold segments
    * unescaped, so no path escaping applies.
    */
  private[graft] def partitionSegment(v: Any, dt: DataType): String = {
    val s = if (v == null) null else Cast(Literal(v, dt), StringType,
      Some(SQLConf.get.sessionLocalTimeZone)).eval()
    if (s == null || s.toString.isEmpty) CowTable.HiveDefaultPartition
    else s.toString
  }

  /** [[partitionSegment]] of an external Scala value (a runtime filter's
    * `java.sql.Date`, `LocalDate`, `String`, ...), converted through the
    * column type first; None when it does not convert to `dt`.
    */
  private[graft] def externalSegment(v: Any, dt: DataType): Option[String] =
    scala.util.Try(partitionSegment(
      CatalystTypeConverters.createToCatalystConverter(dt)(v), dt)).toOption

  /** Partition columns whose [[partitionSegment]] is exact — one segment
    * per value and one value per segment, bar the default partition:
    * string (default collation), date and the integral types. Timestamp
    * segments depend on the session time zone, floating and decimal ones
    * on formatting, so those columns are left to the column stats.
    */
  private[graft] def exactPartitionCols(m: Manifest): Map[String, DataType] = {
    lazy val fields = m.schema.fields
    m.partitionCols.flatMap(c => fields.find(_.name == c).map(_.dataType)
      .collect { case dt @ (StringType | DateType | ByteType | ShortType |
        IntegerType | LongType) => c -> dt }).toMap
  }

  /** Files of every partition whose `column` segment value passes `keep`;
    * partitions without that segment keep all their files. A segment
    * value may itself hold '/': a piece that does not start a unit
    * column's segment continues the previous one.
    */
  private[graft] def partitionFiles(m: Manifest, column: String,
      keep: String => Boolean): Set[String] = {
    val heads = (m.partitionCols :+ CowTable.BucketCol).map(_ + "=")
    def value(key: String): Option[String] = {
      val segs = scala.collection.mutable.ArrayBuffer.empty[String]
      key.split('/').foreach { p =>
        if (segs.isEmpty || heads.exists(p.startsWith)) segs += p
        else segs(segs.size - 1) = segs.last + "/" + p
      }
      segs.collectFirst { case s if s.startsWith(column + "=") =>
        s.substring(column.length + 1) }
    }
    m.partitions.iterator.filter { case (key, _) => value(key).forall(keep) }
      .flatMap(_._2).toSet
  }

  /** The sum of a per-file stat over `files`; None when any file has no
    * entry or records the stat as unknown (−1) — never a partial sum.
    */
  private[graft] def statTotal(m: Manifest, files: Iterable[String])(
      get: FileStat => Long): Option[Long] = {
    val vs = files.iterator.map(f => m.fileStats.get(f).map(get)).toSeq
    if (vs.forall(_.exists(_ >= 0L))) Some(vs.flatten.sum) else None
  }

  /** Row count from a parquet file's FOOTER (driver-side metadata read,
    * no Spark job) — sums the row-group counts, which parquet maintains
    * for zero-row files too.
    */
  private[graft] def parquetRowCount(conf: Configuration, f: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf)
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** The physical rows of `files`: each file's recorded count, else a
    * footer read ([[parquetRowCount]]) on a pool of up to 8 threads. None,
    * with no file opened, when more than `maxReads` files lack a count.
    */
  private[graft] def rowTotal(spark: SparkSession, basePath: String,
      m: Manifest, files: Seq[String], maxReads: Int): Option[Long] = {
    val (known, unknown) = files.partition(
      f => m.fileStats.get(f).exists(_.rows >= 0L))
    if (unknown.size > maxReads) return None
    val recorded = known.iterator.map(m.fileStats(_).rows).sum
    if (unknown.isEmpty) return Some(recorded)
    val conf = spark.sessionState.newHadoopConf()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(8, unknown.size))
    try {
      val futs = unknown.map(f => pool.submit(
        new java.util.concurrent.Callable[Long] {
          override def call(): Long = parquetRowCount(conf,
            new Path(CowTable.resolveFile(basePath, f)))
        }))
      Some(recorded + futs.iterator.map(_.get().longValue).sum)
    } catch { case e: java.util.concurrent.ExecutionException =>
      throw e.getCause
    } finally pool.shutdownNow()
  }

  /** A file's size: the manifest's recorded bytes, else one FS stat;
    * None when neither knows it.
    */
  private[graft] def fileSize(fs: FileSystem, basePath: String, m: Manifest,
      f: String): Option[Long] =
    m.fileStats.get(f).map(_.bytes).filter(_ >= 0L).orElse(
      scala.util.Try(fs.getFileStatus(
        new Path(CowTable.resolveFile(basePath, f))).getLen).toOption)

  /** Data-skipping core: the subset of `m.baseFiles` whose recorded
    * [min, max] for `column` intersects [lo, hi] (either bound optional =
    * unbounded). Bounds are cast to the column's type, so string-typed
    * option values ("2024-01-02", "42") encode exactly like stored stats.
    * Files without a recorded range are always kept, and columns whose
    * stored encoding is not order-preserving (float/double/decimal, or any
    * numeric on legacy keyEncoding=1 tables) prune nothing — the result is
    * ALWAYS a superset of every row matching the range.
    */
  def filesForRange(spark: SparkSession, m: Manifest, column: String,
      lo: Option[Any], hi: Option[Any]): Seq[String] = {
    val dt = m.schema(column).dataType
    // Lex comparison of stats is meaningless for this type under the
    // table's encoding: keep every file (superset contract over speed).
    if (!orderPreservingStats(dt, m.keyEncoding)) return m.baseFiles
    def enc(v: Any): String = {
      val r = encodeValues(spark, column, dt, m.keyEncoding, Seq(v)).head
      require(r != null, s"range bound $v does not cast to $dt")
      r
    }
    val eLo = lo.map(enc); val eHi = hi.map(enc)
    m.baseFiles.filter { f =>
      m.fileStats.get(f).flatMap(_.colStats.get(column)) match {
        case Some(Seq(mn, mx)) =>
          eHi.forall(mn <= _) && eLo.forall(_ <= mx)
        case _ => true // no stats -> cannot prune
      }
    }
  }

  /** Value-set data-skipping core: the subset of `m.baseFiles` whose
    * entry for `column` might hold at least one of `values` — a range
    * check against the entry's [min, max], then a probe of its sidecar
    * bloom, loaded lazily for range survivors only. The entry is the
    * column's stats ([[statColumns]], with its `bloomCols` bloom when
    * recorded) or, for an unstatted single-column record key, the key
    * index ([[keyIndexColumn]]), so key-equality joins skip files
    * without the key declared in `statsCols`. Superset contract: an
    * empty set gives no files; a null probe value, a column with neither
    * source, or non-order-preserving column stats give every file (stats
    * are computed over non-null values, so a file of all-null rows may
    * carry a range that excludes it — null-safe probes must see every
    * file).
    */
  def filesForValues(spark: SparkSession, basePath: String, m: Manifest,
      column: String, values: Seq[Any]): Seq[String] = {
    if (values.isEmpty) return Nil
    if (values.exists(_ == null)) return m.baseFiles
    val keyed = !statColumns(m)(column)
    if (keyed && !keyIndexColumn(m).contains(column)) return m.baseFiles
    val dt = m.schema(column).dataType
    // key ranges only need a consistent total order: no encoding guard
    if (!keyed && !orderPreservingStats(dt, m.keyEncoding)) return m.baseFiles
    // one file's (min, max, bloom) for `column`, None without an entry
    val entry: FileStat => Option[(String, String, Option[String])] =
      if (keyed) st =>
        if (st.keyMin == null || st.keyMax == null) None
        else Some((st.keyMin, st.keyMax, Some(st.bloomRef)))
      else st => st.colStats.get(column).collect { case Seq(mn, mx) =>
        (mn, mx, st.colBloomRefs.get(column)) }
    val encoded: Array[String] =
      encodeValues(spark, column, dt, m.keyEncoding, values).sorted
    lazy val bloomFs = new Path(basePath).getFileSystem(
      spark.sessionState.newHadoopConf())
    // probe the bloom with the in-range values only; no false negatives,
    // so still a superset
    def bloomHit(ref: String, from: Int, mx: String): Boolean = {
      val bloom = loadBloom(bloomFs, new Path(basePath, ref))
      var i = from; var hit = false
      while (!hit && i < encoded.length && encoded(i) <= mx) {
        if (bloom.mightContainString(encoded(i))) hit = true
        i += 1
      }
      hit
    }
    m.baseFiles.filter { f =>
      m.fileStats.get(f).flatMap(entry) match {
        case Some((mn, mx, bloomRef)) =>
          // an encoded value >= mn starts the range scan (any duplicate of
          // an equal value gives the same answers)
          val from = encoded.search(mn).insertionPoint
          from < encoded.length && encoded(from) <= mx &&
            bloomRef.forall(bloomHit(_, from, mx))
        case None => true // no entry -> cannot prune
      }
    }
  }

  /** Split the files of `parts` into (candidates, kept-by-partition):
    * a file is a candidate iff it has no index entry, or at least one
    * incoming key passes its range check AND its bloom probe. Two-phase,
    * like Hudi's bloom index:
    *   1. RANGE phase — distinct incoming key strings stream against the
    *      broadcast (file, min, max) table (bounded by the file count of
    *      the touched units, which partition/bucket scoping already
    *      capped); only range-passing FILE NAMES are collected.
    *   2. BLOOM phase — only the range-survivors' sidecar blooms are
    *      loaded (lazily; bytes proportional to files we might read
    *      anyway, not to the table) and probed the same way.
    * With `enabled` off (the writing handle's `fileIndex`), or with no
    * indexed file among `parts`, every file is a candidate, in sorted
    * partition order, and nothing is kept.
    */
  private[table] def pruneCandidateFiles(spark: SparkSession,
      basePath: String, m: Manifest, keyCols: Seq[String], enabled: Boolean,
      parts: Set[String], incoming: DataFrame)
      : (Seq[String], Map[String, Seq[String]]) = {
    val files: Seq[(String, String)] = parts.toSeq.sorted
      .flatMap(p => m.partitions.getOrElse(p, Nil).map(p -> _))
    val indexed = files.collect {
      case (_, f) if m.fileStats.contains(f) => f
    }
    if (!enabled || indexed.isEmpty)
      return (files.map(_._2), Map.empty)
    import spark.implicits._
    // NO key-side distinct and NO persist: the per-partition hit-set
    // already dedups file answers (duplicate keys only re-probe an array),
    // and the probe count rides a LongAccumulator — the range phase is
    // ONE job with one tiny file-name shuffle, not three (range pass +
    // count() + cache materialization). Commit latency is a job-round
    // chain; every fused job is wall-clock off an IVM fold.
    val keys: Dataset[String] = incoming.select(
      keyExpr(keyCols, m.keyEncoding, c => incoming.schema(c).dataType)
        .as("k")).as[String]
    val probeCount = spark.sparkContext.longAccumulator("prune_probes")
    // the files of `entries` that some key passes `test` for, in one job;
    // every probed key counts in probeCount
    def hitFiles[A](entries: Array[(String, A)])(
        test: (String, A) => Boolean): Set[String] = {
      val b = spark.sparkContext.broadcast(entries)
      keys.mapPartitions { it =>
        val idx = b.value
        val hits = scala.collection.mutable.HashSet.empty[String]
        it.foreach { k =>
          probeCount.add(1L)
          var i = 0
          while (i < idx.length) {
            val (f, e) = idx(i)
            if (!hits.contains(f) && test(k, e)) hits += f
            i += 1
          }
        }
        hits.iterator
      }.distinct().collect().toSet
    }
    val inRange = hitFiles(indexed.map { f =>
      val st = m.fileStats(f)
      f -> (st.keyMin, st.keyMax)
    }.toArray) { case (k, (mn, mx)) => k >= mn && k <= mx }
    def materialize(hit: Set[String])
        : (Seq[String], Map[String, Seq[String]]) = {
      val candidates = files.collect {
        case (_, f) if hit(f) || !m.fileStats.contains(f) => f
      }
      val kept = files.filterNot { case (_, f) => candidates.contains(f) }
      (candidates,
        kept.groupBy(_._1).map { case (p, fs) => p -> fs.map(_._2) })
    }
    // Bloom phase cost model: a file survives the bloom only if NONE of
    // the K probe keys hits it — probability ~e^(-K/files) under spread
    // keys. At K >= 20x the in-range file count that is ~zero: loading
    // every sidecar bloom (MBs each) would prune nothing. Spread bulk
    // churn takes the range-phase answer directly; sparse point probes
    // (the lookup pattern the blooms exist for) still go through them.
    // (keyCount is the raw probe count from the range pass's
    // accumulator — duplicates inflate it, which is the RIGHT bias:
    // probes, not identities, are what hit the blooms. Spark also does
    // NOT dedupe accumulator updates from retried/speculative shuffle-map
    // tasks, so retries can inflate it further — same direction, same
    // consequence: skip the bloom pass and take the range answer, which
    // is always sound, just less pruned. A heuristic input only; never
    // feed this accumulator into anything correctness-bearing.)
    val keyCount = probeCount.value
    if (keyCount >= 20L * math.max(inRange.size, 1))
      return materialize(inRange)
    val fs = new Path(basePath).getFileSystem(
      spark.sessionState.newHadoopConf())
    materialize(hitFiles(inRange.toSeq.sorted.map { f =>
      f -> loadBloom(fs, new Path(basePath, m.fileStats(f).bloomRef))
    }.toArray)((k, bloom) => bloom.mightContainString(k)))
  }

  /** Diagnostic counter: sidecar blooms loaded since JVM start. Probes use
    * the delta across a lookup to show index fan-out (files CONSULTED per
    * lookup — the cost bucketing bounds at random keys).
    */
  val bloomLoads = new java.util.concurrent.atomic.AtomicLong

  /** Bloom sidecars are WRITE-ONCE (a rewritten file gets a new path
    * under a fresh commit dir), so a path-keyed LRU is always coherent —
    * no invalidation, ever. Bounded by entry count (~550 KB per
    * 312k-entry bloom at the 1e-3 fpp → ≲70 MB at the cap); repeated
    * probes against the same files (maintained-view refreshes, runtime
    * join pruning, point-lookup loops) pay the sidecar read once.
    */
  private val BloomCacheCap = 128
  private val bloomCache = new java.util.LinkedHashMap[
      String, org.apache.spark.util.sketch.BloomFilter](
      BloomCacheCap, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        String, org.apache.spark.util.sketch.BloomFilter]): Boolean =
      size() > BloomCacheCap
  }

  /** Read one sidecar bloom (see [[FileStat.bloomRef]]) through the
    * bloom cache. Every call counts in `bloomLoads` — CONSULTATIONS, hit
    * or miss (the index-probe metric specs and probes assert on), not IO.
    */
  private[table] def loadBloom(
      fs: FileSystem, p: Path): org.apache.spark.util.sketch.BloomFilter = {
    bloomLoads.incrementAndGet()
    val key = p.toString
    val cached = bloomCache.synchronized(Option(bloomCache.get(key)))
    cached.getOrElse {
      val in = fs.open(p)
      val b = try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
        finally in.close()
      bloomCache.synchronized(bloomCache.put(key, b))
      b
    }
  }

  /** DV positions join on SCHEME-STRIPPED ABSOLUTE path identity; this
    * is the scan-side key for a `_metadata.file_path`.
    */
  private[graft] def dvScanId(c: Column): Column =
    regexp_replace(c, CowTable.SchemePrefixRe, "/")

  /** Read DV sidecars and resolve each stored path to the shared
    * ABSOLUTE join space ([[dvScanId]]): a RELATIVE stored value
    * resolves against the sidecar file's OWN table root — derived from
    * its fixed `<root>/files/dv{v}-uuid/part` layout via the sidecar's
    * own `_metadata.file_path` — so the identity survives BOTH table
    * relocation (the sidecar moves with the table, so its root tracks
    * the new location) and clone-by-reference (the clone's manifest
    * points at the source's sidecar, whose root stays the source —
    * exactly where the shared data files live). Legacy absolute values
    * pass through scheme-stripped, matching while the table has not
    * moved (the pre-change behavior).
    */
  private def readDvPositions(
      spark: SparkSession, basePath: String, refs: Seq[String])
      : DataFrame = {
    val raw = spark.read
      .parquet(refs.map(f => CowTable.resolveFile(basePath, f)): _*)
      .select(col(CowTable.DvFileCol), col(CowTable.DvPosCol),
        dvScanId(col("_metadata.file_path")).as("__graft_dv_sc"))
    val sidecarRoot = regexp_replace(col("__graft_dv_sc"),
      "/files/dv[0-9]+-[^/]*/[^/]*$", "")
    val stored = col(CowTable.DvFileCol)
    val isAbs = stored.startsWith("/") ||
      stored.rlike("^[a-zA-Z][a-zA-Z0-9+.\\-]*:/")
    raw.select(
      when(isAbs, regexp_replace(stored, CowTable.SchemePrefixRe, "/"))
        .otherwise(concat(sidecarRoot, lit("/"), stored))
        .as(CowTable.DvFileCol),
      col(CowTable.DvPosCol))
  }

  /** Whether a DV position set is safe to force-broadcast: bounded by
    * ESTIMATED BYTES (rows × per-row path+position payload), not raw row
    * count — a row-count bound on long path strings could force hundreds
    * of MB through the broadcast hint, bypassing
    * `spark.sql.autoBroadcastJoinThreshold`.
    */
  private def dvBroadcastable(m: Manifest, dvd: Seq[String]): Boolean = {
    val bytes = dvd.iterator.map { f =>
      m.dvs.get(f).map(e => e.rows * (f.length + 24L)).getOrElse(0L)
    }.sum
    bytes <= 64L * 1024 * 1024
  }

  /** The live rows of `files`: read with `schema`, projected to `cols`
    * plus each row's scan id (`DvFileCol` = [[dvScanId]] of its file,
    * `DvPosCol` = its row index), minus every position a recorded
    * deletion vector marks dead. Files without a vector pass through;
    * the positional anti-join runs only when some file has one, and
    * force-broadcasts the positions while [[dvBroadcastable]]. Both sides
    * join in the absolute path space, so a relocated or cloned table
    * keeps matching its sidecars.
    */
  private[graft] def liveRows(spark: SparkSession, basePath: String,
      m: Manifest, schema: StructType, cols: Seq[String],
      files: Seq[String]): DataFrame = {
    import CowTable.{DvFileCol, DvPosCol}
    val scanned = spark.read.schema(schema)
      .parquet(files.map(f => CowTable.resolveFile(basePath, f)): _*)
      .select(cols.map(col) :+
        dvScanId(col("_metadata.file_path")).as(DvFileCol) :+
        col("_metadata.row_index").as(DvPosCol): _*)
    val dvd = files.filter(m.dvs.contains)
    val refs = dvd.flatMap(f => m.dvs(f).files).distinct
    if (refs.isEmpty) scanned
    else {
      val dv0 = readDvPositions(spark, basePath, refs)
      val dv = if (dvBroadcastable(m, dvd)) broadcast(dv0) else dv0
      scanned.join(dv, scanned(DvFileCol) === dv(DvFileCol) &&
        scanned(DvPosCol) === dv(DvPosCol), "left_anti")
    }
  }
}
