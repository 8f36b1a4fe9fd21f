package graft.incremental

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Range}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.core.ZSetFrame

/** Pinned-block lifecycle helpers. Every stateful operator in this library
  * pins its trace (localCheckpoint / persist) so steps cost O(Δ); the flip
  * side is that a state that is DONE must release those blocks, or a long
  * session (the bench runs 115 queries × reps in one JVM) accumulates dead
  * pinned storage whose eviction churn taxes every later RDD-state job —
  * observed as BENCH r8's q15 cross-run degradation (first run 0.3 s/step,
  * later runs ~2.5 s/step on identical code; standalone q15 repeated 6×
  * shows no drift, so the cost was session debris, not the query). */
object Pinned {

  /** Lineage-truncation cadence of the generation-per-step states: state
    * generation N's lineage references generation N−1, which is
    * unpersisted — after K steps a lost block would replay K delta merges,
    * and unbounded chains eventually overflow the stack. Every 8th
    * generation localCheckpoints (reusing its persisted blocks), bounding
    * any replay to <8 steps; BucketedUpsertStateLong's spine compaction and
    * the dedup steppers' slice consolidation ride the same cadence. */
  val TruncateEvery = 8

  /** The DETERMINISM GUARD: `plan` re-evaluates to the same rows over the
    * same inputs. Beyond Catalyst's `deterministic` (rand(), uuid(), a
    * nondeterministic UDF), it turns away a plan that reads the clock:
    * `current_timestamp()` counts as deterministic but is re-fixed on
    * every optimization, so two plans over the same delta would see
    * different values. */
  private[incremental] def fixedRows(plan: LogicalPlan): Boolean =
    plan.deterministic && !plan.containsPattern(CURRENT_LIKE)

  /** THE PIN RULE. A delta is STABLE when every evaluation of it yields the
    * same rows: its analyzed plan passes the determinism guard and every
    * leaf is fixed data — a LocalRelation (`Seq.toDF`), a Range, or a
    * LogicalRDD whose RDD is checkpointed or persisted (an eager or lazy
    * `localCheckpoint`). Deterministic lineage over fixed inputs
    * re-evaluates to the same rows (the D-Streams recovery argument), so a
    * stable delta is never pinned; a file scan, a KeyedState view (its
    * segments are reclaimed two merges on), a streaming micro-batch or a
    * rand()/clock plan is not stable, and the step pins it exactly once. */
  private[graft] def isStable(df: DataFrame): Boolean = {
    val plan = df.queryExecution.analyzed
    fixedRows(plan) && plan.collectLeaves().forall {
      case _: LocalRelation | _: Range => true
      case l: LogicalRDD => l.rdd.isCheckpointed || l.rdd.getStorageLevel != StorageLevel.NONE
      case _ => false
    }
  }

  /** `z` itself when it is stable, else `z` pinned (`localCheckpoint`,
    * eager or lazy), with the pin handed to `own` — its owner releases it. */
  private[graft] def stabilized(z: ZSetFrame, eager: Boolean)
                               (own: ZSetFrame => Unit): ZSetFrame =
    if (isStable(z.df)) z
    else { val p = z.localCheckpoint(eager); own(p); p }

  /** Pin `rdd` in memory NOW (`localCheckpoint` + one job). A failed job
    * leaves nothing pinned, and a task's user-facing Spark error (an
    * arithmetic overflow, a `raise_error`) is thrown as it was raised, not
    * wrapped in the job's abort. */
  private[graft] def pinNow[T](rdd: RDD[T]): RDD[T] = {
    rdd.localCheckpoint()
    try rdd.count()
    catch {
      case e: org.apache.spark.SparkException => unpersistTree(rdd); throw (e.getCause match {
        case c: org.apache.spark.SparkThrowable if c.getCondition != null && !c.isInternalError =>
          c.asInstanceOf[Throwable]
        case _ => e
      })
      case e: Throwable => unpersistTree(rdd); throw e
    }
    rdd
  }

  /** Unpersist `rdd` and every persisted ancestor: a DataFrame's `.rdd` is
    * a row-conversion CHILD of the internally persisted checkpoint RDD, so
    * releasing a checkpointed frame means walking the (short) dependency
    * chain to whichever ancestor actually holds the blocks. */
  /** OWNERSHIP RULE: the walk stops at the FIRST persisted node on each
    * path — that node is the storage this frame itself pinned (the
    * checkpoint backing its data); anything persisted DEEPER in the
    * lineage belongs to someone else. Recursing past it is unsound: a
    * delta whose plan reads a KeyedState VIEW carries the state's live
    * segments in its (untruncated) lineage, and walking through would
    * unpersist blocks the state still serves (observed as
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND two steps later). For
    * checkpoint-truncated chains — every segment, every eager step
    * output — the first persisted node is the only one, so the behavior
    * is unchanged. */
  /** The walk must never pass THROUGH a released boundary (code-review
    * r16): `unpersist` drops the storage level synchronously, so when a
    * plan reaches the same persisted generation by TWO paths (self-join /
    * union, or two sibling frames sharing an ancestor), the second path
    * used to see level NONE and recurse into the node's untruncated
    * lineage — unpersisting blocks a live state still serves (the exact
    * CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND mode the rule above forbids). Two
    * guards: a per-walk identity set (dual paths within one release), and
    * a hard stop at checkpoint-marked nodes even when already released
    * (sibling releases across calls — checkpoint metadata survives
    * unpersist, so the boundary stays visible). */
  def unpersistTree(rdd: RDD[_]): Unit = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[RDD[_], java.lang.Boolean]())
    def walk(r: RDD[_]): Unit =
      if (seen.add(r)) {
        // isCheckpointed covers BOTH reliable and local checkpoints once
        // materialized (every pinned generation is count()'d before use),
        // and checkpoint metadata survives unpersist — the boundary stays
        // visible after release
        if (r.getStorageLevel != StorageLevel.NONE) r.unpersist(false)
        else if (r.isCheckpointed) ()
        else r.dependencies.foreach(d => walk(d.rdd))
      }
    walk(rdd)
  }

  /** Release a (possibly null) pinned DataFrame. */
  def release(df: DataFrame): Unit =
    if (df != null) unpersistTree(df.rdd)

  /** Release a (possibly null) pinned RDD. */
  def release(rdd: RDD[_]): Unit =
    if (rdd != null) unpersistTree(rdd)

  /** BENCH/TEST-HARNESS ONLY: unpersist every RDD still registered with the
    * context. Safe between self-contained measured units (each query/run
    * builds its own state and has fully emitted its output); NEVER call
    * while any incremental state is still live — its pinned trace would be
    * dropped and, being checkpointed (lineage truncated), could not be
    * recomputed. BLOCKING on purpose: async removals of a big state would
    * land inside the NEXT measured unit's runs and tax them — the sweep
    * pays the removal cost here, outside any timed region. Returns the
    * number of RDDs released. */
  def sweepSession(sc: SparkContext): Int = {
    val live = sc.getPersistentRDDs.values.toSeq
    live.foreach(_.unpersist(blocking = true))
    live.size
  }
}
