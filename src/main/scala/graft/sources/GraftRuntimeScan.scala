package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read.{
  Batch, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeFiltering}
import org.apache.spark.sql.sources.{EqualTo, Filter, In}
import org.apache.spark.sql.types.StructType

import graft.table.{FileIndex, Manifest}

/** Runtime file pruning for graft scans — the DSv2 analog of dynamic
  * partition pruning, extended to ANY column with recorded file stats.
  *
  * When a graft table joins a dimension that carries a selective filter,
  * Spark's `PartitionPruning` rule plants a `DynamicPruningSubquery` on
  * the graft side because this scan advertises the prunable columns via
  * [[filterAttributes]]. At execution, the build side's distinct join
  * keys arrive here as an `IN` runtime filter ([[filter]]); the file
  * listing is re-intersected with the manifest's per-file stats
  * ([[FileIndex.filesForValues]] for `statsCols` and a single-column
  * key index, [[FileIndex.partitionFiles]] for string, date and integral
  * partition directories) and the inner parquet scan is
  * rebuilt over the survivors — with the original pushed filters and
  * column pruning re-applied, so row-group skipping and vectorized
  * reading are unchanged on top.
  *
  * At 100 TB this is the star-schema workhorse: a fact table clustered
  * by its fk reads only the file stripe matching the dimension's
  * surviving keys, decided at RUNTIME from the broadcast result —
  * no static predicate needed in the query text.
  *
  * Superset contract throughout: unknown filter shapes, null values,
  * non-order-preserving encodings, stat-less files, and oversized value
  * sets ([[GraftRuntimeScan.MaxRuntimeValues]]) all prune NOTHING —
  * Spark still evaluates the join itself, so pruning is only ever an
  * IO optimization, never a correctness dependency.
  */
final class GraftRuntimeScan(
    spark: SparkSession,
    base: String,
    m: Manifest,
    files0: Seq[String],
    rebuild: Seq[String] => Scan,
    initialScan: Scan,
    /** True when NO data filter was pushed into the inner scan — the
      * scan returns every row of its files, so the manifest's per-file
      * row counts sum to an EXACT numRows (file/partition pruning only
      * narrows which files, never which rows of a file).
      */
    rowsExact: Boolean = false,
    /** The listing's size before any static pruning (the plan's
      * `files=k/N`); -1 takes `files0`'s.
      */
    listed: Int = -1)
  extends Scan with SupportsRuntimeFiltering with SupportsReportStatistics {

  @volatile private var files: Seq[String] = files0
  @volatile private var inner: Scan = initialScan

  /** Post-runtime-filter listing (probes/specs; driver-side only). */
  def currentFiles: Seq[String] = files

  /** The wrapped parquet scan (probes/specs; driver-side only). */
  def innerScan: Scan = inner

  // ------------------------------------------------ delegation to inner

  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch = inner.toBatch
  override def description(): String =
    s"GraftRuntimeScan(files=${files.size}/" +
      s"${if (listed < 0) files0.size else listed}) " +
      inner.description()
  override def supportedCustomMetrics(): Array[CustomMetric] =
    inner.supportedCustomMetrics()
  override def reportDriverMetrics(): Array[CustomTaskMetric] =
    inner.reportDriverMetrics()
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    inner.columnarSupportMode()
  override def estimateStatistics(): Statistics = {
    val innerStats = inner match {
      case s: SupportsReportStatistics => Some(s.estimateStatistics())
      case _ => None
    }
    // exact numRows from the manifest's per-file counts (over the
    // CURRENT file set — runtime pruning narrows it): a certified row
    // count beats the parquet scan's size-derived estimate for CBO join
    // sizing. Only when every live file has a recorded count and no
    // row-level filter was pushed.
    val exact: Option[Long] =
      if (!rowsExact) None else FileIndex.statTotal(m, files)(_.rows)
    // ANALYZE-computed column statistics, served ONLY while fresh
    // (recorded at the manifest's own version): NDV/null-count/lengths
    // feed CBO join estimation (spark.sql.cbo.enabled) — at 100 TB the
    // difference between a join order planned on evidence and one
    // planned on byte-size heuristics
    val colStats: java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = {
      val out = new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
      if (m.tableColStatsVersion == m.version && m.tableColStats.nonEmpty) {
        val served = readSchema().fieldNames.toSet
        m.tableColStats.foreach { case (c, st) =>
          if (served.contains(c)) out.put(
            org.apache.spark.sql.connector.expressions.Expressions
              .column(c),
            new org.apache.spark.sql.connector.read.colstats
              .ColumnStatistics {
              override def distinctCount() =
                java.util.OptionalLong.of(st.ndv)
              override def nullCount() =
                java.util.OptionalLong.of(st.nulls)
              override def avgLen() = java.util.OptionalLong.of(st.avgLen)
              override def maxLen() = java.util.OptionalLong.of(st.maxLen)
              override def histogram() =
                if (st.histogram.isEmpty) java.util.Optional.empty()
                else java.util.Optional.of(
                  new org.apache.spark.sql.connector.read.colstats
                    .Histogram {
                    override def height(): Double = st.histoHeight
                    override def bins() = st.histogram.map {
                      case (binLo, binHi, binNdv) =>
                        new org.apache.spark.sql.connector.read.colstats
                          .HistogramBin {
                          override def lo() = binLo
                          override def hi() = binHi
                          override def ndv() = binNdv
                        }
                    }.toArray
                  })
            })
        }
      }
      out
    }
    new Statistics {
      override def sizeInBytes() = innerStats
        .map(_.sizeInBytes()).getOrElse(java.util.OptionalLong.empty())
      override def numRows() = exact match {
        case Some(n) => java.util.OptionalLong.of(n)
        case None => innerStats.map(_.numRows())
          .getOrElse(java.util.OptionalLong.empty())
      }
      override def columnStats() = colStats
    }
  }

  // ------------------------------------------------- runtime filtering

  /** Columns Spark may plant a DynamicPruningSubquery on: every column
    * with recorded per-file [min, max] stats, the indexed single-column
    * key, and the partition columns whose `col=value` segments render
    * exactly ([[FileIndex.exactPartitionCols]]: string, date, integral),
    * which prune whole partition listings.
    */
  override def filterAttributes(): Array[NamedReference] = {
    // PartitionPruning resolves each ref against the scan relation's
    // OUTPUT, which is the column-pruned schema — advertising a pruned
    // column is an analysis error, so intersect with what's still read
    val visible = inner.readSchema().fieldNames.toSet
    (FileIndex.statColumns(m) ++ partitionTypes.keySet ++
      FileIndex.keyIndexColumn(m)).filter(visible).toArray
      .map(Expressions.column)
  }

  private lazy val partitionTypes = FileIndex.exactPartitionCols(m)

  override def filter(filters: Array[Filter]): Unit = {
    var keep = files
    filters.foreach {
      case In(att, values) if values != null && !values.contains(null) =>
        keep = pruneByValues(keep, att, values.toSeq)
      case EqualTo(att, v) if v != null =>
        keep = pruneByValues(keep, att, Seq(v))
      case _ => () // unknown shape: prune nothing
    }
    if (keep.size < files.size) {
      GraftRuntimeScan.pruneLog.put(base, (files.size, keep.size))
      files = keep
      inner = rebuild(keep)
    }
  }

  private def pruneByValues(
      current: Seq[String], column: String, values: Seq[Any]): Seq[String] = {
    if (values.isEmpty || values.size > GraftRuntimeScan.MaxRuntimeValues)
      return current
    // runtime values are external objects: render each through the
    // column type; one that does not convert prunes no partition
    val segments = partitionTypes.get(column).map(dt =>
      values.map(FileIndex.externalSegment(_, dt)))
    val byPartition = segments match {
      case Some(segs) if segs.forall(_.isDefined) =>
        current.filter(FileIndex.partitionFiles(m, column, segs.flatten.toSet))
      case _ => current
    }
    byPartition.filter(
      FileIndex.filesForValues(spark, base, m, column, values).toSet)
  }
}

object GraftRuntimeScan {
  /** Runtime IN-sets above this skip pruning: the per-value encode cost
    * grows linearly while the expected skipping shrinks (that many
    * distinct build-side keys almost always stripe the whole table).
    */
  val MaxRuntimeValues = 8192

  /** (files before, files after) of the last runtime prune per table
    * base path — diagnostic for specs; driver-side only.
    */
  val pruneLog = new ConcurrentHashMap[String, (Int, Int)]()
}
