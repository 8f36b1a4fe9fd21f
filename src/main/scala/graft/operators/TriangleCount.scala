package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.ZSetFrame
import graft.incremental.{Incremental, KeyedState, Pinned}

/** Incremental triangle counting as a CASCADE of two bilinear incremental
  * joins over key-partitioned traces — the circuit composition the
  * reference builds for multi-join queries (each join maintains its own
  * sharded trace; reference: operator/join.rs:180 sharded-trace probe,
  * circuit composition in circuit/circuit_builder.rs):
  *
  *   J1 (wedges):    W(u,v,w) = E(u,v) ⋈_u E(u,w), v < w   [self-join]
  *   J2 (triangles): T(u,v,w) = W(u,v,w) ⋈_{(v,w)} E(v,w)
  *
  * with id-canonical edges (u < v). Per step: ΔW = ΔE⋈E_old + E_new⋈ΔE
  * probes ONLY the edge-trace buckets ΔE's u-keys hash into (the merge's
  * old/new touched views — one touched-bucket job); ΔT = ΔW⋈E_old +
  * W_new⋈ΔE likewise probes by ΔW's and ΔE's (v,w) keys. No term ever
  * scans a full trace, so a step costs O(|Δ|·deg + touched buckets) while
  * the integrated wedge trace (the O(Σdeg²) intermediate) sits in place,
  * partitioned and pinned. The summed ΔT weights telescope to the batch
  * triangle count (RecursiveSpec gates every step prefix against both the
  * direct trilinear telescoping and brute-force enumeration; step_bench's
  * `tri` track gates the per-step floor's flatness across a 10× graph).
  *
  * Retractions flow through unchanged: a −1 edge weight multiplies through
  * both joins, retracting exactly the wedges and triangles it participated
  * in. Orientation is by id, not degree — degree orientation (q71's batch
  * trick) is unstable under deltas, a degree change would reorient edges
  * and force non-Δ recomputation.
  */
final class TriangleCountState(spark: SparkSession, nBuckets: Int = 32) {
  private val W = ZSetFrame.W

  private def empty2(c1: String, c2: String) = ZSetFrame.fromDelta(
    spark.range(0).select(col("id").as(c1), col("id").as(c2), lit(1L).as(W)))
  private def empty3 = ZSetFrame.fromDelta(
    spark.range(0).select(col("id").as("u"), col("id").as("v"),
      col("id").as("w"), lit(1L).as(W)))

  /** Edge trace keyed on u — probed by J1's self-join. */
  private val edgeU = new KeyedState(Seq("u"), nBuckets, empty2("u", "v"))
  /** The same edges re-keyed (v,w) := (u,v) — J2's closing-edge trace. */
  private val edgeVW = new KeyedState(Seq("v", "w"), nBuckets, empty2("v", "w"))
  /** Wedge trace keyed on the closing pair (v,w). */
  private val wedges = new KeyedState(Seq("v", "w"), nBuckets, empty3)

  /** Advance by one edge delta (u < v rows, ±weights); returns this step's
    * triangle delta (u,v,w, weight) — eagerly materialized, sum of weights
    * = ΔT. Accumulated over steps, the weights telescope to the count.
    *
    * DELTA PIN (code-review r16): the step reads dE in several
    * independent jobs (trace merges, both bilinear join terms, the wedge
    * maintenance), so a plan that re-evaluates to different rows would
    * silently diverge the traces from the emitted deltas. The engine pins
    * exactly the deltas the pin rule (`Pinned.isStable`) cannot prove
    * stable, lazily — the edge merge's routing job fills the pin, so no
    * barrier is added to the gated tri-track floor; a stable delta (every
    * in-repo caller's) is read as it is. The step's pins (that one and the
    * wedge delta) are released once the triangle delta is materialized. */
  def advance(delta: ZSetFrame): ZSetFrame = {
    val pins = scala.collection.mutable.Buffer.empty[ZSetFrame]
    val dE = Pinned.stabilized(delta, eager = false)(pins += _)
    try {
      // J1: wedge delta through the u-keyed self-join. merge() returns the
      // old/new content of exactly the delta's buckets — both probe views.
      val (eOldT, eNewT) = edgeU.merge(dE)
      def roleB(z: ZSetFrame) = ZSetFrame.fromDelta(
        z.df.select(col("u"), col("v").as("w"), col(W)))
      val dW = (dE.join(roleB(eOldT), Seq("u")) + eNewT.join(roleB(dE), Seq("u")))
        .where(col("w") > col("v"))
        .localCheckpoint(eager = true)
      pins += dW
      // J2: close wedges against the (v,w)-keyed edge trace; both deltas
      // enter their traces, probes are partition-pruned by each delta's keys
      val dEvw = ZSetFrame.fromDelta(
        dE.df.select(col("u").as("v"), col("v").as("w"), col(W)))
      Incremental.joinDeltaKeyed(wedges, dW, edgeVW, dEvw, Seq("v", "w"))
    } finally pins.foreach(p => Pinned.release(p.df))
  }

  /** Release all three traces' pinned storage (state unusable afterwards;
    * emitted triangle deltas are already eagerly materialized — consumers
    * holding them must have consolidated before close). */
  def close(): Unit = { edgeU.close(); edgeVW.close(); wedges.close() }
}
