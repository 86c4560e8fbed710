package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Hadoop `file:` file system that counts the operations the engine issues
  * through it. Installed only in traced runs, via `fs.file.impl`.
  */
class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    mutations.incrementAndGet()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    mutations.incrementAndGet(); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    mutations.incrementAndGet(); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    mutations.incrementAndGet(); super.mkdirs(f, permission)
  }
  override def listStatus(f: Path): Array[FileStatus] = {
    lists.incrementAndGet(); super.listStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    reads.incrementAndGet(); super.open(f, bufferSize)
  }
}

object CountingLocalFs {
  val mutations = new AtomicLong
  val lists = new AtomicLong
  val reads = new AtomicLong
  def snapshot(): (Long, Long, Long) = (mutations.get, lists.get, reads.get)
}

/** One timed region of a traced run. Jobs and tasks are attributed to the
  * innermost open span through the SparkContext local property
  * [[Tracer.SpanProp]], which Spark copies into every job and stage it
  * starts on behalf of the calling thread.
  */
final case class Span(id: Int, name: String, parent: Int, startNs: Long,
    startMs: Long, var endNs: Long = -1L, var endMs: Long = Long.MaxValue)

final class JobRec(val propSpan: Int, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val tasks = new StageAgg
}

final class StageAgg {
  var tasks = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def add(o: StageAgg): Unit = {
    tasks += o.tasks; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill
  }
}

/** In-memory span recorder plus the listeners that attribute Spark work to
  * spans: a `SparkListener` for jobs/tasks and a `QueryExecutionListener`
  * for planning time and scan file counts.
  *
  * Pooled driver threads (the engine overlaps some jobs on
  * `ExecutionContext.global`) inherit local properties once, when the pool
  * creates them, so a reused thread can carry a span id that has already
  * ended. Such a job, or one whose span is an ancestor of the span open when
  * the job started, is attributed to the innermost span open at its start.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  /** Queries finished while a read span was the active "query sink":
    * (planning seconds, files scanned).
    */
  @volatile private var querySink: Option[mutable.ArrayBuffer[(Double, Long)]] =
    None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.put(e.jobId, new JobRec(spanOf(e.properties), e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val r = jobs.get(e.jobId)
      if (r != null) r.endMs = e.time
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
      if (j != null && e.taskMetrics != null) {
        val a = j.tasks
        val m = e.taskMetrics
        a.synchronized {
          a.tasks += 1
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit =
      querySink.foreach { buf =>
        val phases = qe.tracker.phases
        val planNs = Seq("analysis", "optimization", "planning")
          .flatMap(phases.get).map(p => p.endTimeMs - p.startTimeMs).sum
        buf.synchronized { buf += ((planNs / 1e3, filesScanned(qe))) }
      }
    override def onFailure(fn: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(SpanProp)))
      .map(_.toInt).getOrElse(-1)

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val s = Span(id, name, parent, System.nanoTime(),
      System.currentTimeMillis())
    spans += s
    stack.push(id)
    sc.setLocalProperty(SpanProp, id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      sc.setLocalProperty(SpanProp,
        stack.headOption.map(_.toString).orNull)
    }
  }

  /** Collect planning time and scan file counts of the queries `body` runs.
    * The bus is drained before returning, off the caller's clock.
    */
  def collectQueries[T](body: => T): (T, Seq[(Double, Long)]) = {
    drain()
    val buf = mutable.ArrayBuffer.empty[(Double, Long)]
    querySink = Some(buf)
    val r = try body finally drain()
    querySink = None
    (r, buf.toSeq)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def wallS(s: Span): Double = (s.endNs - s.startNs) / 1e9

  private def children: Map[Int, Seq[Int]] =
    spans.groupBy(_.parent).map { case (k, v) => k -> v.map(_.id).toSeq }

  /** The span and all spans nested under it. */
  def subtree(id: Int): Set[Int] = {
    val out = mutable.Set(id)
    val todo = mutable.Stack(id)
    while (todo.nonEmpty)
      children.getOrElse(todo.pop(), Nil).foreach { c => out += c; todo.push(c) }
    out.toSet
  }

  private def isAncestor(a: Int, b: Int): Boolean =
    b >= 0 && (spans(b).parent == a || isAncestor(a, spans(b).parent))

  /** The span a job is charged to (see the class comment). */
  private def spanOfJob(j: JobRec): Int = {
    val open = spans.filter(s => s.startMs <= j.startMs && j.startMs <= s.endMs)
    val innermost = if (open.isEmpty) -1 else open.maxBy(_.id).id
    val p = j.propSpan
    if (p < 0 || spans(p).endMs < j.startMs || isAncestor(p, innermost))
      innermost
    else p
  }

  private lazy val charged: Seq[(Int, JobRec)] = {
    import scala.jdk.CollectionConverters._
    jobs.values.asScala.toSeq.map(j => spanOfJob(j) -> j)
  }

  /** Jobs charged to the span or a span nested under it. Call only after
    * the measured phase, when every span has closed and the bus is drained.
    */
  def jobsUnder(id: Int): Seq[JobRec] = {
    val ids = subtree(id)
    charged.collect { case (s, j) if ids(s) => j }
  }

  def tasksUnder(id: Int): StageAgg = {
    val out = new StageAgg
    jobsUnder(id).foreach(j => out.add(j.tasks))
    out
  }

  /** Length of the union of the jobs' [start, end] intervals, seconds. */
  def busyS(js: Seq[JobRec]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs))
      .sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  /** Spans with this name nested under `root`. */
  def named(root: Int, name: String): Seq[Span] =
    subtree(root).toSeq.sorted.map(spans).filter(_.name == name)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val SpanProp = "perfbench.span"

  /** Files read by the scans of an executed plan (AQE stages included). */
  def filesScanned(qe: QueryExecution): Long = {
    val helper = new AdaptiveSparkPlanHelper {}
    helper.collectWithSubqueries(qe.executedPlan) {
      case f: FileSourceScanExec =>
        f.metrics.get("numFiles").map(_.value).getOrElse(0L)
      case b: BatchScanExec =>
        b.inputPartitions.map {
          case fp: FilePartition => fp.files.length.toLong
          case _ => 0L
        }.sum
    }.sum[Long]
  }

  /** JVM-wide garbage-collection time so far, seconds. */
  def gcS(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
}
