package graft.util

/** Wall-clock phase timings of one unit of work — a merge commit, a CDC
  * batch, a maintained-view fold, an index ingest — recorded into the
  * metrics of the commit that work produces, so `history()` shows where
  * a commit's time went (`phase_<name>_ms`, Delta-style per-phase
  * operation metrics). Always on: a phase costs two `System.nanoTime`
  * reads.
  *
  * Thread-safe: phases of one unit may run on [[Overlap.withBg]]
  * threads. Timing the same name twice accumulates. Names never start
  * with `mark_`, so the commit protocol's monotone-mark carry-forward
  * never copies a phase into a later commit.
  */
final class Phases {
  private var ms = Map.empty[String, Long]

  def apply[X](name: String)(f: => X): X = {
    val t0 = System.nanoTime()
    val r = f
    val d = (System.nanoTime() - t0) / 1000000L
    synchronized { ms = ms.updated(name, ms.getOrElse(name, 0L) + d) }
    r
  }

  /** The phases timed so far, as `phase_<name>_ms` commit metrics. */
  def metrics: Map[String, Long] =
    synchronized(ms).map { case (n, v) => s"phase_${n}_ms" -> v }
}
