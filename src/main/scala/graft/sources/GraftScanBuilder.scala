package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, EqualTo, Expression, GenericInternalRow,
  GreaterThan, GreaterThanOrEqual, In, InSet, IsNotNull, LessThan,
  LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.connector.expressions.aggregate.{
  Aggregation, CountStar}
import org.apache.spark.sql.connector.read.{
  Scan, ScanBuilder, SupportsPushDownAggregates,
  SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.FileScanBuilder
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.{
  BinaryType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.table.{CowTable, FileIndex, Manifest}

/** Scan builder that turns PUSHED-DOWN Catalyst filters into FILE-level
  * data skipping against the manifest — automatically, with no
  * `rangeColumn` options:
  *
  * {{{
  *   spark.read.format("graft").load(p).filter($"ts" <= x)  // reads only
  *   // files whose recorded ts range intersects (-inf, x]
  * }}}
  *
  * The Delta/Hudi data-skipping analog: Spark's V2 pushdown rule hands the
  * scan builder each WHERE conjunct; bounds and value sets on columns with
  * recorded column stats (`statsCols`, with their `bloomCols` blooms)
  * shrink the file list BEFORE any parquet footer is opened, and
  * equality, IN and IS NOT NULL on partition columns prune whole
  * partition listings. The record-key index is not consulted here;
  * key-equality joins prune through it at runtime ([[GraftRuntimeScan]]).
  * The inner builder is Spark's native parquet one rebuilt over the
  * pruned listing, so row-group pruning, column pruning, and vectorized
  * reading are unchanged on top.
  *
  * Stats pruning keeps the superset contract ([[FileIndex
  * .filesForRange]]: stat-less files stay, non-order-preserving
  * encodings prune nothing), so Spark evaluates those filters row-level.
  * Partition pruning is EXACT where the segment rendering is
  * ([[FileIndex.exactPartitionCols]]): every row of a kept file passes
  * the conjunct, so it is not returned as a post-scan filter, and a
  * `COUNT(*)` over such a scan is answered from metadata (see
  * [[supportCompletePushDown]]).
  */
private[sources] class GraftScanBuilder(
    spark: SparkSession,
    base: String,
    m: Manifest,
    initialFiles: Seq[String],
    schema: StructType,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownCatalystFilters
  with SupportsPushDownAggregates
  with SupportsPushDownRequiredColumns {

  // Footer-stats aggregate pushdown counts PHYSICAL rows, so a served
  // listing must never contain a deletion-vectored file: the table
  // refuses to build this scan for one (GraftWritableTable's require),
  // and the invariant is re-asserted here so any future construction
  // site cannot silently serve masked rows through pushed aggregates.
  require(m.dvs.isEmpty || !initialFiles.exists(m.dvs.contains),
    s"GraftScanBuilder built over a DV'd listing at $base")

  private def mkInner(files: Seq[String]): FileScanBuilder =
    ParquetTable(
      s"graft:$base@v${m.version}",
      spark,
      options,
      files.map(f => CowTable.resolveFile(base, f)).toIndexedSeq,
      Some(schema),
      classOf[ParquetFileFormat])
      .newScanBuilder(options).asInstanceOf[FileScanBuilder]

  // Built on first use, over the listing as pruned by then: a parquet
  // builder lists its files when made (a Spark job past 32 files), which
  // a metadata count never needs.
  private var innerBuilt: Option[FileScanBuilder] = None
  private def inner: FileScanBuilder = innerBuilt.getOrElse {
    val b = mkInner(currentFiles)
    innerBuilt = Some(b)
    b
  }

  // captured push-down state so the runtime-filter scan can rebuild the
  // inner parquet scan over a SMALLER listing with identical semantics
  private var currentFiles: Seq[String] = initialFiles
  private var savedPushed: Seq[Expression] = Nil
  private var savedRequired: Option[StructType] = None

  // filters Spark still evaluates over the scan's rows
  private var postScan: Seq[Expression] = Nil

  /** Filters the partition prune made exact are consumed: neither
    * returned nor pushed on. They hold for every row of the kept files,
    * so row-group stats could skip nothing for them, and the parquet
    * reader evaluates pushed predicates against the columns it READS —
    * one on a column no longer read would drop every row group. Every
    * other filter goes to the inner parquet builder (row-group skipping)
    * and comes back as post-scan.
    */
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    val conjuncts = filters.flatMap(splitAnd)
    val (byPartition, exact) = partitionPrune(conjuncts)
    val pruned = pruneFiles(conjuncts, byPartition)
    if (pruned.size < currentFiles.size) {
      currentFiles = pruned
      innerBuilt = None
    }
    savedPushed = filters.filterNot(f => splitAnd(f).forall(exact))
    postScan = inner.pushFilters(savedPushed)
    postScan
  }

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    inner.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    savedRequired = Some(requiredSchema)
    inner.pruneColumns(requiredSchema)
  }

  // ------------------------------------------- aggregate pushdown (DSv2)

  private var aggPushed = false
  // the answer of a pushed metadata COUNT(*), one value per aggregate
  private var counted: Option[Array[Long]] = None

  /** Two answers, neither of which scans a data page:
    *
    *   - `COUNT(*)` alone, with no GROUP BY and no post-scan filter left
    *     (so every row of the kept files is a served row), is the sum of
    *     those files' row counts: the manifest's recorded count, else a
    *     driver-side footer read. Past [[GraftScanBuilder.MaxFooterReads]]
    *     files without a recorded count it declines (warning once per
    *     table) and the aggregate runs as below. [[build]] then returns
    *     a one-row `LocalScan`: no file scan, no shuffle.
    *   - Any other MIN/MAX/COUNT shape delegates to Spark's parquet
    *     builder (gated by its `spark.sql.parquet.aggregatePushDown` conf),
    *     which answers from FOOTER statistics and refuses while any data
    *     filter remains, so a pushed aggregate is always exact.
    *
    * Both count PHYSICAL rows: the no-DV-listing invariant above keeps
    * them equal to served rows, and the listing is the version the scan
    * reads (`versionAsOf` included). A MOR table served here is its
    * read-optimized base files.
    */
  override def supportCompletePushDown(agg: Aggregation): Boolean =
    (countStarOnly(agg) && keptRows.isDefined) || (inner match {
      case b: SupportsPushDownAggregates => b.supportCompletePushDown(agg)
      case _ => false
    })

  override def pushAggregation(agg: Aggregation): Boolean =
    if (countStarOnly(agg) && keptRows.isDefined) {
      counted =
        keptRows.map(n => Array.fill(agg.aggregateExpressions.length)(n))
      aggPushed = true
      true
    } else inner match {
      case b: SupportsPushDownAggregates =>
        aggPushed = b.pushAggregation(agg)
        aggPushed
      case _ => false
    }

  private def countStarOnly(agg: Aggregation): Boolean =
    postScan.isEmpty && agg.groupByExpressions.isEmpty &&
      agg.aggregateExpressions.nonEmpty &&
      agg.aggregateExpressions.forall(_.isInstanceOf[CountStar])

  // Spark pushes filters before aggregates, so the listing is final here
  private lazy val keptRows: Option[Long] = {
    val n = FileIndex.rowTotal(spark, base, m, currentFiles,
      GraftScanBuilder.MaxFooterReads)
    if (n.isEmpty) GraftScanBuilder.countDeclined(base)
    n
  }

  /** Serve the bucket-aware scan ([[GraftBucketScan]], storage-partitioned
    * joins) when the table is bucket-only laid out and the session opted
    * into V2 bucketing; otherwise the plain size-split parquet scan.
    * Partitioned-AND-bucketed tables stay on the plain scan: their
    * grouping key would need the partition values too, and the common
    * co-location layout for fact-to-fact joins is bucket-only.
    */
  override def build(): Scan = counted match {
    case Some(ns) =>
      GraftProcedureResult(
        StructType(ns.indices.map(i => StructField(s"count_$i", LongType,
          nullable = false))),
        Array(new GenericInternalRow(ns.map(n => n: Any)): InternalRow))
    case None => buildScan()
  }

  private def buildScan(): Scan = {
    val scan = inner.build()
    val spjEnabled = spark.sessionState.conf
      .getConfString("spark.sql.sources.v2.bucketing.enabled", "false")
      .toBoolean
    val bucketSeg = CowTable.DirColPrefix + CowTable.BucketCol + "="
    m.props.map(_.numBuckets).filter(_ > 0) match {
      // a pushed aggregation changed the scan's row shape to aggregate
      // buckets — the key-grouped SPJ wrap no longer applies
      case Some(n) if !aggPushed && spjEnabled && m.partitionCols.isEmpty &&
          scan.isInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan] &&
          m.baseFiles.forall(_.contains(bucketSeg)) =>
        GraftBucketScan(
          scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan],
          n, m.keyCols,
          clusterCols = m.tableProps.clusterCols,
          unorderedFiles = m.unorderedFiles)
      // plain data scan: advertise runtime (DPP-style) file pruning.
      // Skipped when an aggregate was pushed (the scan's row shape is
      // aggregate buckets) and for the key-grouped SPJ scan (runtime
      // pruning may not change a KeyGroupedPartitioning's group set).
      case _ if !aggPushed && scan.isInstanceOf[
          org.apache.spark.sql.execution.datasources.v2.FileScan] =>
        val rebuildScan = (fs: Seq[String]) => {
          val b = mkInner(fs)
          b.pushFilters(savedPushed)
          savedRequired.foreach(b.pruneColumns)
          b.build()
        }
        new GraftRuntimeScan(spark, base, m, currentFiles, rebuildScan,
          scan, rowsExact = postScan.isEmpty, listed = initialFiles.size)
      case _ => scan
    }
  }

  // ------------------------------------------------------- file pruning

  /** Columns with recorded per-file stats: the prunable bound targets. */
  private lazy val statCols = FileIndex.statColumns(m)

  /** Intersect the partition-pruned listing with every extractable
    * stats bound.
    */
  private def pruneFiles(conjuncts: Seq[Expression],
      byPartition: Seq[String]): Seq[String] = {
    val bounds = rangeBounds(conjuncts)
    val ranged = bounds.foldLeft(byPartition) {
      case (files, (column, (lo, hi))) =>
        val keep = FileIndex.filesForRange(spark, m, column, lo, hi).toSet
        files.filter(keep)
    }
    valueSets(conjuncts).foldLeft(ranged) { case (files, (column, vals)) =>
      val keep = FileIndex.filesForValues(spark, base, m, column, vals).toSet
      files.filter(keep)
    }
  }

  /** IN-list conjuncts on stat columns → value-set skipping
    * ([[FileIndex.filesForValues]] — a file survives iff its [min, max]
    * and bloom admit at least one listed value). Lists above the cap skip
    * pruning (the literal-encode job grows with the list; at that size
    * stripes cover the table anyway).
    */
  private def valueSets(conjuncts: Seq[Expression])
      : Seq[(String, Seq[Any])] = {
    val cap = 1000
    conjuncts.flatMap {
      case In(a: AttributeReference, list)
        if statCols(a.name) && list.nonEmpty && list.size <= cap &&
          list.forall(_.isInstanceOf[Literal]) =>
        val conv =
          CatalystTypeConverters.createToScalaConverter(a.dataType)
        Seq(a.name -> list.map(l =>
          conv(l.asInstanceOf[Literal].value)))
      case InSet(a: AttributeReference, hset)
        if statCols(a.name) && hset.nonEmpty && hset.size <= cap =>
        val conv =
          CatalystTypeConverters.createToScalaConverter(a.dataType)
        Seq(a.name -> hset.toSeq.map(conv))
      // plain equality = a 1-value set: the range phase already narrows
      // to [x, x], but routing it through the value path ALSO probes the
      // column's sidecar bloom (bloomCols) — on a non-clustered column
      // that is the difference between reading every file and reading
      // the files that contain x
      case EqualTo(a: AttributeReference, l: Literal)
        if statCols(a.name) && l.value != null =>
        Seq(a.name -> Seq(CatalystTypeConverters
          .createToScalaConverter(a.dataType)(l.value)))
      case EqualTo(l: Literal, a: AttributeReference)
        if statCols(a.name) && l.value != null =>
        Seq(a.name -> Seq(CatalystTypeConverters
          .createToScalaConverter(a.dataType)(l.value)))
      case _ => Nil
    }
  }

  private def splitAnd(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other => Seq(other)
  }

  /** Column -> tightest (lo, hi) across all conjuncts: the largest lower
    * and the smallest upper bound under the column's own ordering, since
    * [[FileIndex.filesForRange]] keeps files overlapping [lo, hi]. Bounds
    * stay INCLUSIVE supersets (strict comparisons keep their literal as
    * the bound — never wrong, at most one extra file).
    */
  private def rangeBounds(conjuncts: Seq[Expression])
      : Map[String, (Option[Any], Option[Any])] = {
    def lo(a: AttributeReference, l: Literal) = Seq((a, Some(l), None))
    def hi(a: AttributeReference, l: Literal) = Seq((a, None, Some(l)))
    val perCol = conjuncts.flatMap {
      case GreaterThan(a: AttributeReference, l: Literal) => lo(a, l)
      case GreaterThanOrEqual(a: AttributeReference, l: Literal) => lo(a, l)
      case LessThan(a: AttributeReference, l: Literal) => hi(a, l)
      case LessThanOrEqual(a: AttributeReference, l: Literal) => hi(a, l)
      case EqualTo(a: AttributeReference, l: Literal) => lo(a, l) ++ hi(a, l)
      // literal-first spellings
      case GreaterThan(l: Literal, a: AttributeReference) => hi(a, l)
      case GreaterThanOrEqual(l: Literal, a: AttributeReference) => hi(a, l)
      case LessThan(l: Literal, a: AttributeReference) => lo(a, l)
      case LessThanOrEqual(l: Literal, a: AttributeReference) => lo(a, l)
      case EqualTo(l: Literal, a: AttributeReference) => lo(a, l) ++ hi(a, l)
      case _ => Nil
    }.filter { case (a, l, h) =>
      val lit = l.orElse(h).get
      statCols(a.name) && lit.value != null && lit.dataType == a.dataType
    }
    perCol.groupBy(_._1.name).map { case (c, bs) =>
      val dt = bs.head._1.dataType
      val ord = TypeUtils.getInterpretedOrdering(dt)
      val ext = CatalystTypeConverters.createToScalaConverter(dt)
      def pick(vs: Seq[Any])(first: (Any, Any) => Boolean) =
        vs.reduceOption((x, y) => if (first(x, y)) x else y).map(ext)
      c -> ((pick(bs.flatMap(_._2.map(_.value)))(ord.gteq),
        pick(bs.flatMap(_._3.map(_.value)))(ord.lteq)))
    }
  }

  /** Partition pruning by the rendered `col=value` segments
    * ([[FileIndex.partitionSegment]]) of the exactly-rendered partition
    * columns, plus the conjuncts that pruning made EXACT:
    *
    *   - `=`, IN on such a column with non-null literals keep the
    *     partitions whose segment is one of the literals' renderings —
    *     exact unless a literal renders as the default partition (the
    *     empty string, or the literal default-partition name);
    *   - IS NOT NULL on a partition column drops its default partition,
    *     exact when no non-null value renders there (any type but string
    *     and binary, whose empty value does) or when an exact `=`/IN on
    *     the column already kept only non-default partitions.
    *
    * Conjuncts on other columns are left to the stats prune.
    */
  private def partitionPrune(conjuncts: Seq[Expression])
      : (Seq[String], Set[Expression]) = {
    val types = FileIndex.exactPartitionCols(m)
    def segments(a: AttributeReference, dt: DataType, vs: Seq[Any])
        : Option[(String, Set[String])] =
      types.get(a.name).filter(t => t == a.dataType && t == dt &&
          vs.nonEmpty && !vs.contains(null))
        .map(t => a.name -> vs.map(FileIndex.partitionSegment(_, t)).toSet)
    val valued: Seq[(Expression, (String, Set[String]))] =
      conjuncts.flatMap { e =>
        val seg = e match {
          case EqualTo(a: AttributeReference, l: Literal) =>
            segments(a, l.dataType, Seq(l.value))
          case EqualTo(l: Literal, a: AttributeReference) =>
            segments(a, l.dataType, Seq(l.value))
          case In(a: AttributeReference, list) if list.forall {
                case l: Literal => l.dataType == a.dataType
                case _ => false
              } =>
            segments(a, a.dataType, list.map(_.asInstanceOf[Literal].value))
          case InSet(a: AttributeReference, hset) =>
            segments(a, a.dataType, hset.toSeq)
          case _ => None
        }
        seg.map(e -> _)
      }
    val exactValued = valued.collect {
      case (e, (c, segs)) if !segs(CowTable.HiveDefaultPartition) => e -> c
    }
    val partCols = m.partitionCols.toSet
    lazy val fields = m.schema.fields
    val notNull = conjuncts.collect {
      case e @ IsNotNull(a: AttributeReference) if partCols(a.name) =>
        e -> a.name
    }.filter { case (_, c) =>
      fields.find(_.name == c).exists(f =>
        !f.dataType.isInstanceOf[StringType] && f.dataType != BinaryType) ||
        exactValued.exists(_._2 == c)
    }
    val files = valued.map(_._2).foldLeft(initialFiles) {
      case (fs, (c, segs)) => fs.filter(FileIndex.partitionFiles(m, c, segs))
    }
    val kept = notNull.foldLeft(files) { case (fs, (_, c)) =>
      fs.filter(FileIndex.partitionFiles(m, c,
        (_: String) != CowTable.HiveDefaultPartition))
    }
    (kept, (exactValued ++ notNull).map(_._1).toSet)
  }
}

object GraftScanBuilder {
  /** A metadata COUNT(*) reads at most this many footers (files without a
    * recorded row count); past it the count scans like any aggregate.
    */
  private[sources] val MaxFooterReads = 128

  private val log = org.apache.logging.log4j.LogManager
    .getLogger("graft.sources.GraftScanBuilder")

  /** Tables whose metadata count declined (diagnostic; driver-side). */
  private[sources] val declinedTables = java.util.concurrent
    .ConcurrentHashMap.newKeySet[String]()

  private def countDeclined(base: String): Unit =
    if (declinedTables.add(base))
      log.warn(s"metadata COUNT(*) declined at $base: more than " +
        s"$MaxFooterReads files lack a recorded row count; scanning instead")
}
