package org.apache.spark.sql.execution.datasources

import org.apache.spark.internal.io.FileCommitProtocol
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.sketch.BloomFilter

import graft.table.CowTable

/** Write-path file statistics collected DURING the write job — the
  * Delta/Hudi-style `WriteTaskStatsTracker` integration that lets the
  * graft table index (per-file key min/max + bloom + stats-column
  * ranges) ride the commit's own write pass instead of a dedicated
  * re-read job per commit. Lives under `o.a.s.sql.execution.datasources`
  * because `FileFormatWriter` and the tracker hooks are `private[sql]`
  * (same access-shim pattern as [[org.apache.spark.sql.GraftBridge]]).
  *
  * Soundness note for consumers: a file MISSING from the collected map
  * degrades to "no index entry" downstream, which the prune path treats
  * as always-a-candidate — so partial coverage can only cost
  * performance, never correctness. The values themselves are evaluated
  * by the SAME resolved Catalyst expressions the read-back pass uses
  * ([[GraftWriteStats.resolveAndBind]] runs the real analyzer, so
  * implicit casts/coercions match a DataFrame evaluation exactly).
  */
case class GraftFileKeyStat(
    path: String,
    keyMin: String,
    keyMax: String,
    bloomBytes: Array[Byte],
    statMins: Seq[String],
    statMaxs: Seq[String],
    numRows: Long,
    colBloomBytes: Seq[Array[Byte]])

case class GraftKeyFileStats(files: Seq[GraftFileKeyStat])
  extends WriteTaskStats

/** Executor-side per-task tracker: evaluates the bound projection
  * `[keyString, stat_0 … stat_{n-1}]` on every row as it is written and
  * folds per-OPEN-FILE min/max/bloom state. Multiple concurrently open
  * files (the concurrent-writers fallback) are supported via the
  * per-path state map; memory is bounded by one file's key set per open
  * file — the same bound as the read-back pass's `mapGroups` buffer.
  */
class GraftKeyStatsTaskTracker(
    bound: Seq[Expression],
    nStats: Int,
    bloomIdx: Array[Int]) extends WriteTaskStatsTracker {

  private final class FileState {
    var mn: String = null
    var mx: String = null
    val smn = Array.fill[String](nStats)(null)
    val smx = Array.fill[String](nStats)(null)
    val keys = scala.collection.mutable.ArrayBuffer.empty[String]
    val colVals = bloomIdx.map(_ =>
      scala.collection.mutable.ArrayBuffer.empty[String])
  }
  private val open = scala.collection.mutable.HashMap.empty[String, FileState]
  private val done = scala.collection.mutable.ArrayBuffer
    .empty[GraftFileKeyStat]
  private lazy val proj = UnsafeProjection.create(bound)

  override def newPartition(partitionValues: InternalRow): Unit = ()
  override def newFile(filePath: String): Unit =
    open.update(filePath, new FileState)
  override def closeFile(filePath: String): Unit =
    open.remove(filePath).foreach(st => done += finalize(filePath, st))
  override def newRow(filePath: String, row: InternalRow): Unit = {
    val st = open.getOrElseUpdate(filePath, new FileState)
    val p = proj(row)
    val k = p.getUTF8String(0).toString
    st.keys += k
    if (st.mn == null || k < st.mn) st.mn = k
    if (st.mx == null || k > st.mx) st.mx = k
    var i = 0
    while (i < nStats) {
      // null column values stay out of the range, like the read-back pass
      if (!p.isNullAt(i + 1)) {
        val v = p.getUTF8String(i + 1).toString
        if (st.smn(i) == null || v < st.smn(i)) st.smn(i) = v
        if (st.smx(i) == null || v > st.smx(i)) st.smx(i) = v
      }
      i += 1
    }
    var j = 0
    while (j < bloomIdx.length) {
      if (!p.isNullAt(bloomIdx(j) + 1))
        st.colVals(j) += p.getUTF8String(bloomIdx(j) + 1).toString
      j += 1
    }
  }

  private def finalize(path: String, st: FileState): GraftFileKeyStat = {
    val nRows = st.keys.length.toLong
    // every bloom is sized to the file's own key count, exactly as the
    // read-back pass sizes it (CowTable.fileBloom)
    val bloom = CowTable.fileBloom(nRows)
    st.keys.foreach(bloom.putString)
    def bytesOf(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    val colBlooms = st.colVals.map { vs =>
      val b = CowTable.fileBloom(nRows)
      vs.foreach(b.putString)
      bytesOf(b)
    }
    GraftFileKeyStat(path, st.mn, st.mx, bytesOf(bloom),
      st.smn.toSeq, st.smx.toSeq, nRows, colBlooms.toSeq)
  }

  override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
    open.foreach { case (p, st) => done += finalize(p, st) }
    open.clear()
    GraftKeyFileStats(done.toSeq)
  }
}

/** Driver-side job tracker: serialized into the write description (task
  * instances are created executor-side); `processStats` runs on the
  * driver after job commit with the stats of exactly the COMMITTED task
  * attempts, so `results` covers the committed file set.
  */
class GraftKeyStatsJobTracker(
    bound: Seq[Expression],
    nStats: Int,
    bloomIdx: Array[Int]) extends WriteJobStatsTracker {
  @transient private var collected: Seq[GraftFileKeyStat] = Nil
  def results: Seq[GraftFileKeyStat] = collected
  override def newTaskInstance(): WriteTaskStatsTracker =
    new GraftKeyStatsTaskTracker(bound, nStats, bloomIdx)
  override def processStats(stats: Seq[WriteTaskStats],
      jobCommitTime: Long): Unit =
    collected = stats.flatMap {
      case s: GraftKeyFileStats => s.files
      case _ => Nil
    }
}

object GraftWriteStats {

  /** Resolve `cols` against `schema` through the REAL analyzer (a
    * Project over a LocalRelation), then bind to row ordinals — so the
    * per-row tracker projection evaluates exactly what
    * `df.select(cols)` would (implicit casts and coercions included).
    */
  def resolveAndBind(spark: org.apache.spark.sql.SparkSession,
      schema: StructType, cols: Seq[Column]): Seq[Expression] = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = LocalRelation(DataTypeUtils.toAttributes(schema))
    // s.expression runs the session's ColumnNode converter EAGERLY, so
    // the Project holds real (if unresolved) Catalyst nodes the analyzer
    // then resolves — ExpressionUtils.expression's lazy wrapper would
    // survive analysis unresolved and fail at codegen
    val proj = Project(cols.zipWithIndex.map { case (c, i) =>
      Alias(s.expression(c), s"_gw$i")()
    }, rel)
    val analyzed = s.sessionState.analyzer.execute(proj)
    s.sessionState.analyzer.checkAnalysis(analyzed)
    analyzed.asInstanceOf[Project].projectList
      .map { case a: Alias => BindReferences.bindReference(a.child, rel.output) }
  }

  /** Run the physical write of `df` into `outputPath` partitioned by
    * `partitionColNames` (the already-duplicated dir columns) through
    * [[FileFormatWriter]], attaching `trackers` — the ONLY reason this
    * exists instead of `df.write.partitionBy(...).parquet(...)`, which
    * offers no tracker hook. Commit semantics (job setup/commit/abort,
    * task-attempt cleanup, speculative duplicates) are the standard
    * [[FileCommitProtocol]], identical to the DataFrameWriter path.
    */
  def write(
      df: DataFrame,
      outputPath: String,
      partitionColNames: Seq[String],
      trackers: Seq[WriteJobStatsTracker]): Unit = {
    val qe = df.queryExecution
      .asInstanceOf[org.apache.spark.sql.execution.QueryExecution]
    val spark = df.sparkSession
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val outputCols = qe.analyzed.output
    val partCols = partitionColNames.map(n =>
      outputCols.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"partition column $n missing from ${outputCols.map(_.name)}")))
    val committer = FileCommitProtocol.instantiate(
      spark.sessionState.conf.fileCommitProtocolClass,
      jobId = java.util.UUID.randomUUID().toString,
      outputPath = outputPath,
      dynamicPartitionOverwrite = false)
    // Run under a fresh SQL execution id (like the DataFrameWriter path
    // does): without it the tracked commit writes — the hottest write
    // path — carry no execution id, vanishing from the SQL UI and every
    // execution-scoped metrics listener.
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(
      qe, Some("graft tracked write")) {
      FileFormatWriter.write(
        sparkSession = spark,
        plan = qe.executedPlan,
        fileFormat = new ParquetFileFormat(),
        committer = committer,
        outputSpec =
          FileFormatWriter.OutputSpec(outputPath, Map.empty, outputCols),
        hadoopConf =
          spark.sessionState.newHadoopConfWithOptions(Map.empty),
        partitionColumns = partCols,
        bucketSpec = None,
        statsTrackers = trackers,
        options = Map.empty)
    }
    ()
  }
}
