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
    * buckets). Merges ΔA into `aSt` and ΔB into `bSt`.
    *
    * CO-PARTITIONED: each delta takes its trace's one step path
    * (`KeyedState.route` → `align` → `mergeAligned`): it is routed ONCE
    * into the trace's packed bucket layout, and both terms join inside that
    * layout — the reference's sharded join, where a delta meets the other
    * trace in the shard both were routed to (operator/join.rs:180,
    * communication/shard.rs):
    *   ΔA ⋈ B_old — ΔA's mini-segment against B's view over ΔA's groups;
    *   A_new ⋈ ΔB — A's pre-merge view over ΔB's groups with ΔA read as its
    *                extra spine batch, against ΔB's mini-segment.
    * The two traces share key columns, key types and bucket count, so both
    * sides of a term have one layout and Catalyst plans each as a
    * shuffled-hash join with NO exchange (BucketClusteredPartitioning's
    * layout compatibility; the delta side is the hash build side). A step
    * runs the output job and the two merges CONCURRENTLY (`StepTasks`),
    * each merge reusing its delta's mini-segment: 3 jobs when both deltas
    * are driver-resident, plus one routing-shuffle map job per
    * cluster-resident delta. A delta's span is the buckets its rows land
    * in (a knownTouched* is only checked against them), so a delta with no
    * rows adds no term and its merge installs nothing.
    *
    * DELTA PIN: each trace's `route` decides its delta's pin — a delta the
    * pin rule cannot prove stable is pinned ONCE, lazily, and the routing
    * map stage, the step's only read of the delta, fills the pin: the
    * output job and the merge read the routed mini-segment, so a plan not
    * stable under re-evaluation (rand(), a growing source table) lands the
    * same rows in the traces as in the emitted join delta. The pin is
    * released on the trace's deferred schedule. */
  def joinDeltaKeyed(aSt: KeyedState, dA: ZSetFrame,
                     bSt: KeyedState, dB: ZSetFrame,
                     keys: Seq[String],
                     knownTouchedA: Option[Seq[Int]] = None,
                     knownTouchedB: Option[Seq[Int]] = None): ZSetFrame = {
    require(aSt ne bSt,
      "graft: joinDeltaKeyed needs two traces - its two merges run concurrently and " +
        "would race on one state; keep the second side in a KeyedState of its own")
    require(aSt.nBuckets == bSt.nBuckets && aSt.keys == bSt.keys,
      "join traces must share key columns and bucket count")
    require(aSt.keyTypes == bSt.keyTypes,
      s"graft: joinDeltaKeyed traces must share key types (a key hashes by its type): " +
        s"${aSt.keys.zip(aSt.keyTypes).map { case (k, t) => s"$k ${t.sql}" }.mkString(", ")} vs " +
        s"${bSt.keys.zip(bSt.keyTypes).map { case (k, t) => s"$k ${t.sql}" }.mkString(", ")}")
    val a = aSt.align(aSt.route(dA), knownTouchedA)
    val b = bSt.align(bSt.route(dB), knownTouchedB)
    // the PRE-merge views are taken here, before the merges start (a view
    // snapshots its buckets' segment lists); the terms over them are
    // composed and planned on the output task while the merges run
    val terms = Seq(
      // ΔA ⋈ B_old
      a -> (aSt.deltaView(a).hint("shuffle_hash"), bSt.viewOf(a.groups)),
      // A_new ⋈ ΔB
      b -> (aSt.viewOf(b.groups, extra = Some(a.seg)), bSt.deltaView(b).hint("shuffle_hash")))
      .collect { case (d, (l, r)) if !d.isEmpty => (l, r) }
    // eager: the emitted join delta reads views that are only valid until
    // the second subsequent merge (KeyedState reclaims superseded
    // segments) — materialize it while the merges run
    StepTasks.output(
        "merge-a" -> (() => aSt.mergeAligned(a)),
        "merge-b" -> (() => bSt.mergeAligned(b))) {
      def join(l: DataFrame, r: DataFrame) = ZSetFrame.fromDelta(l).join(ZSetFrame.fromDelta(r), keys)
      terms.map((join _).tupled).reduceOption(_ + _)
        .getOrElse(emptyLike(join(aSt.viewOf(Vector.empty), bSt.viewOf(Vector.empty))))
        .localCheckpoint(eager = true)
    }
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
