package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What every workload sees: the session, its private work directory, the
  * seed and the core count the session was sized for.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val cores: Int) {
  def dir(rel: String): String = s"$work/$rel"
}

/** One timed read of a workload's fixed read set. `run` returns the value
  * the correctness check compares; `expected` is computed off the clock
  * from the replay model (None when the check compares something else).
  */
final case class ReadOp(name: String, run: () => Any,
    expected: Option[Any] = None)

/** A benchmark workload. The runner owns the clock: it times `setup`,
  * `runBatch` and each `ReadOp.run`, and calls every other hook untimed.
  */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark

  /** Writes every raw input from the seed; returns their SHA-256. */
  def generate(): String

  /** Builds the state the measured phase continues from: base load, index
    * and view seeding, and `warmups` batches.
    */
  def setup(): Unit

  /** Batches applied during set-up. */
  def warmups: Int

  /** Batches the measured phase applies. */
  def measuredBatches: Int

  /** Batches a traced run applies to each of its two copies: all measured
    * batches, unless twice the work would not fit a run's time limit.
    */
  def tracedBatches: Int = measuredBatches

  /** Applies measured batch `i`; returns the input rows (or docs) it
    * committed. With a tracer, the workload opens one span per module call.
    */
  def runBatch(i: Int, tr: Option[Tracer]): Long

  /** Untimed bookkeeping before and after measured batch `i` (replay model,
    * traced per-batch counters).
    */
  def beforeBatch(i: Int, traced: Option[Tracer]): Unit = ()
  def afterBatch(i: Int, traced: Option[Tracer]): Unit = ()

  /** The fixed read set run after measured batch `i`; `i = -1` gives the
    * warm-up reads that end each set-up.
    */
  def readSet(i: Int): Seq[ReadOp]

  /** Untimed per-read counters of a traced read that took `wallS` (besides
    * planning time and scan counts, which the runner records).
    */
  def afterRead(op: ReadOp, wallS: Double): Unit = ()

  /** Files in the tables the reads scan (denominator of
    * `table.files_read_ratio`).
    */
  def filesInReadTables(): Long

  /** Correctness check after the timed phase: mismatch descriptions. */
  def check(): Seq[String]

  /** All bytes under the workload's table directories per live row. */
  def storageBytesPerRow(): Double

  /** Per-batch and per-read counters recorded by traced hooks. */
  val batchCounters = mutable.LinkedHashMap.empty[String, Double]
  val readCounters = mutable.LinkedHashMap.empty[String, Double]
  def addBatch(k: String, v: Double): Unit =
    batchCounters(k) = batchCounters.getOrElse(k, 0.0) + v
  def addRead(k: String, v: Double): Unit =
    readCounters(k) = readCounters.getOrElse(k, 0.0) + v

  /** Spark jobs of the whole batch count as `cdc.pipeline.jobs`. */
  def isCdc: Boolean = false
}
