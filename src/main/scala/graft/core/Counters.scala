package graft.core

/** Driver-side counters for bench adjudication (VERDICT r11 #1/#2):
  * operator internals that explain a timing — contraction rounds taken,
  * endgame (single-task chain-walk) input size, a stream run's batches
  * and per-phase times (graft.streaming.ReplayRunner) — accumulate here and
  * Bench snapshots the per-query delta into BENCH_DETAIL. Driver-only by
  * design: the instrumented code (the assembler's contraction loop) runs
  * its control flow on the driver, so no executor-side plumbing is
  * needed, and queries that never touch an instrumented operator cost
  * nothing. */
object Counters {
  private val m = new scala.collection.concurrent.TrieMap[String, Long]()

  def add(key: String, v: Long): Unit = {
    m.updateWith(key) { case Some(x) => Some(x + v); case None => Some(v) }
    ()
  }

  def max(key: String, v: Long): Unit = {
    m.updateWith(key) { case Some(x) => Some(math.max(x, v)); case None => Some(v) }
    ()
  }

  def snapshot: Map[String, Long] = m.toMap

  /** Per-query delta between two snapshots (max-keyed counters diff like
    * sums — callers reset between queries instead). */
  def diff(before: Map[String, Long], after: Map[String, Long]): Map[String, Long] =
    after.collect {
      case (k, v) if v != before.getOrElse(k, 0L) => k -> (v - before.getOrElse(k, 0L))
    }
}
