package graft.incremental

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.ZSetFrame

/** Deterministic step-loop incremental evaluation — the batch-mode twin of
  * the reference's `DBSPHandle::step` (reference:
  * crates/dbsp/src/circuit/dbsp_handle.rs:87-94). Each step consumes input
  * delta Z-sets and produces output deltas whose running sum equals the
  * batch recomputation — per-step cost proportional to |Δ|, not |DB|.
  *
  * State (the "trace", reference operator/trace.rs) is an accumulated,
  * consolidated ZSetFrame, localCheckpoint'ed so lineage stays flat across
  * steps; in a cluster deployment this state would live in a Delta-style
  * table or the streaming state store partitioned by the operator key. */
object Incremental {

  /** Accumulated state of one stream: `acc = Σ deltas`, consolidated. */
  final class State(init: ZSetFrame) {
    var acc: ZSetFrame = init.consolidate.localCheckpoint()
    def update(delta: ZSetFrame): Unit =
      acc = (acc + delta).consolidate.localCheckpoint()
    // no close(): callers (generalAggDelta's delta rule) hold PREVIOUS
    // generations after update, so the state cannot know which are dead —
    // harness-level cleanup is Pinned.sweepSession between measured units
  }

  /** Step-loop state with an EVENT-TIME BOUND — the reference's
    * `trace_with_bound` / TraceBound lateness GC (reference:
    * operator/trace.rs:46-56,181-247): every update evicts rows whose bound
    * column fell below the caller's waterline, so state size tracks the
    * retention horizon, not the stream length. Operators that only correct
    * within the horizon (rolling aggregates, windowed joins) keep exact
    * semantics; data later than the waterline is late by definition. */
  final class BoundedState(init: ZSetFrame, boundCol: String) {
    var acc: ZSetFrame = init.consolidate.localCheckpoint()
    def update(delta: ZSetFrame, waterline: Long): Unit =
      acc = (acc + delta).consolidate
        .where(col(boundCol) >= lit(waterline)).localCheckpoint()
  }

  def emptyLike(z: ZSetFrame): ZSetFrame =
    ZSetFrame.fromDelta(z.df.where(lit(false)))

  /** Differentiate: x(t) − x(t−1) — recover the delta between two snapshots
    * at an ingestion boundary (reference: operator/differentiate.rs:24). */
  def differentiate(prev: ZSetFrame, curr: ZSetFrame): ZSetFrame =
    (curr - prev).consolidate

  /** Incremental bilinear join: Δ(A⋈B) = ΔA ⋈ B_old + A_new ⋈ ΔB
    * (reference: operator/join.rs:128,180). `aNew` must already include ΔA. */
  def joinDelta(dA: ZSetFrame, bOld: ZSetFrame, aNew: ZSetFrame, dB: ZSetFrame,
                keys: Seq[String]): ZSetFrame =
    dA.join(bOld, keys) + aNew.join(dB, keys)

  /** Incremental bilinear join over KEY-PARTITIONED traces: each delta is
    * joined against a PROBE of the other side's trace (only the buckets the
    * delta's keys hash into are read), so a step costs O(|Δ| + touched
    * buckets) — the reference's sharded-trace join lookup
    * (operator/join.rs:180). Merges ΔB into `bSt` and ΔA into `aSt`. */
  def joinDeltaKeyed(aSt: KeyedState, dA: ZSetFrame,
                     bSt: KeyedState, dB: ZSetFrame,
                     keys: Seq[String],
                     knownTouchedA: Option[Seq[Int]] = None,
                     knownTouchedB: Option[Seq[Int]] = None): ZSetFrame = {
    require(aSt.nBuckets == bSt.nBuckets && aSt.keys == bSt.keys,
      "join traces must share key columns and bucket count")
    // bucket ids are computed ONCE per delta and shared between the probe
    // of one trace and the merge of the other (identical hash layout).
    // Callers that know a delta's bucket span pass it via knownTouched*
    // (any SUPERSET of the actual span is correct — a DENSE delta passes
    // all buckets, skipping the per-step bucket-discovery job entirely,
    // since discovery would return every bucket anyway).
    // PIN each delta the pin rule cannot prove stable ONCE, eagerly, up
    // front (code-review r15): the discovery job, both merges, and the
    // output join all read it, concurrently across the merge task and the
    // output job, so a plan not stable under re-evaluation (rand(), a
    // growing source table) would otherwise land DIFFERENT rows in the
    // traces than in the emitted join delta with no error. A stable delta
    // (driver-resident, or already pinned by its producer) is not pinned
    // again, and neither merge re-pins the pinned one: it is stable. Each
    // delta's route is resolved once and shared by its probe span and its
    // merge. The pins are released once the output is materialized and
    // both merges have installed their (eagerly materialized) segments.
    val pinned = scala.collection.mutable.Buffer.empty[ZSetFrame]
    def resolve(st: KeyedState, d: ZSetFrame): (ZSetFrame, KeyedState.DeltaRoute) = {
      val p = Pinned.stabilized(d, eager = true)(pinned += _)
      (p, st.route(p))
    }
    try {
      val (pinA, routeA) = resolve(aSt, dA)
      val (pinB, routeB) = resolve(bSt, dB)
      val aTouched = aSt.span(routeA, knownTouchedA)
      val bTouched = bSt.span(routeB, knownTouchedB)
      val bOldProbe = bSt.view(aTouched)               // B_old for ΔA's buckets
      // A_new for ΔB's buckets, built LAZILY from the pre-merge view + the
      // slice of ΔA hashing into those buckets — so the output job does not
      // wait for A's segment build (the aggStep JOB-FUSION shape): both
      // merges run as a side task concurrent with the single output action.
      val aOldProbe = aSt.view(bTouched)
      val dAInB = pinA.where(
        pmod(hash(keys.map(col): _*), lit(aSt.nBuckets)).isin(bTouched: _*))
      val aNewProbe = aOldProbe + dAInB
      // eager: the emitted join delta references partition-pruned probe
      // views that are only valid until the second subsequent merge
      // (KeyedState reclaims superseded segments) — materialize it first
      StepTasks.output("join-merge" -> (() => {
        aSt.mergeRouted(routeA, Some(aTouched), append = false)
        bSt.mergeRouted(routeB, Some(bTouched), append = false)
      })) {
        (pinA.join(bOldProbe, keys) + aNewProbe.join(pinB, keys)).localCheckpoint(eager = true)
      }
    } finally pinned.foreach(p => Pinned.release(p.df))
  }

  /** Incremental distinct: δ = distinct(A_new) − distinct(A_old)
    * (reference: operator/distinct.rs:64 root-scope fast path). */
  def distinctDelta(aOld: ZSetFrame, aNew: ZSetFrame): ZSetFrame =
    aNew.distinctZ - aOld.distinctZ

  /** Incremental linear aggregate (SUM/COUNT family): the output delta is
    * just the linear aggregate of the input delta — O(|Δ|) with no state
    * (reference: aggregate/mod.rs:253 aggregate_linear / weigh). The running
    * sum of emitted (key, partial) rows consolidates to the true aggregate:
    * weigh folds f(row) into the Z-set weight, so consolidate's weight-sum
    * IS the group sum. */
  def linearAggDelta(delta: ZSetFrame, keyCols: Seq[Column], f: Column): ZSetFrame =
    delta.weigh(f).select(keyCols: _*)

  /** Incremental general aggregate (min/max/argmax...): re-aggregate only
    * the keys touched by the delta, retracting their previous output rows
    * (reference: aggregate/mod.rs:204-244 — same touched-key strategy over
    * the integrated trace). `agg` maps a (positive-multiset) ZSetFrame of
    * rows to one output row per key. */
  def generalAggDelta(delta: ZSetFrame, aOld: ZSetFrame, aNew: ZSetFrame,
                      keys: Seq[String])(agg: ZSetFrame => ZSetFrame): ZSetFrame = {
    // NULL-SAFE key restriction (code-review r15): the touched keys are
    // GROUP identities, and groupBy treats NULL as a group — a plain
    // left_semi equi-join (NULL != NULL) would exclude a null-key group
    // from both restricted sides, emit no delta for it, and let the
    // incremental output diverge from the batch answer permanently. The
    // query-facing semiJoin keeps SQL semantics (its batch twin, EXISTS,
    // doesn't match NULLs either); group restriction must not.
    val touched = delta.df.select(keys.map(col): _*).distinct()
      .select(keys.map(k => col(k).as(s"__t_$k")): _*)
    def restrict(z: ZSetFrame): ZSetFrame = ZSetFrame.fromDelta(
      z.df.join(touched,
        keys.map(k => z.df(k) <=> touched(s"__t_$k")).reduce(_ && _),
        "left_semi"))
    val oldOut = agg(restrict(aOld))
    val newOut = agg(restrict(aNew))
    newOut - oldOut
  }
}
