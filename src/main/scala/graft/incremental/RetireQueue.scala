package graft.incremental

import scala.collection.mutable

/** Two-step DEFERRED release of pinned resources — the one lifecycle
  * discipline every stateful operator in this library shares (KeyedState
  * segments, RollingLinearState delta checkpoints, IncrementalClosure /
  * IncrementalScc generations). The contract it implements: a frame handed
  * out by step N may still be read while step N+1 runs, so a resource
  * superseded at generation G is released only when the clock reaches G+2 —
  * never immediately (reference economics: the spine's deferred batch drop,
  * crates/dbsp/src/trace/spine_fueled.rs — superseded batches outlive the
  * merge that retired them until no reader can hold them).
  *
  * One instance per stateful owner; `T` is whatever handle the owner pins
  * (a DataFrame, an RDD). NOT thread-safe by itself — owners already
  * serialize their step calls, and within a step only the one step task
  * that installs the merge (`StepTasks`) touches this queue. */
final class RetireQueue[T](release: T => Unit) {
  private val retired = mutable.Buffer[(Long, T)]()
  private var gen = 0L

  /** The step clock — advanced once per step/merge by `advance()`. */
  def generation: Long = gen

  /** Advance the step clock and free everything retired ≥2 generations ago:
    * by the lifecycle contract no outstanding view can still reference it. */
  def advance(): Unit = {
    gen += 1
    val (free, keep) = retired.partition(_._1 <= gen - 2)
    free.foreach { case (_, t) => release(t) }
    retired.clear()
    retired ++= keep
  }

  /** Queue resources for release two generations from now. */
  def retire(items: T*): Unit = items.foreach(t => retired += ((gen, t)))

  /** Release everything still pending — the owner is closing. Idempotent. */
  def close(): Unit = {
    retired.foreach { case (_, t) => release(t) }
    retired.clear()
  }
}
