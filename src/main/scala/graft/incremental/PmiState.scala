package graft.incremental

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.ZSetFrame

/** Incrementally maintained PMI co-occurrence association score per document
  * under document inserts AND deletes — embedding-free similarity/phrase
  * evidence for a curation pipeline: a document's score is the sum, over
  * every pair of TARGET-vocabulary terms co-occurring in it, of the
  * quantized exp-PMI surrogate
  *
  *   pmi_q(a,b) = floor( (N·c_ab) / (c_a·c_b) · grid )
  *
  * where N is the live doc count, c_a the doc frequency of term a, and
  * c_ab the doc frequency of the PAIR (both terms in one doc) — exp(PMI) =
  * p(ab)/(p(a)p(b)) with every probability's N cancelling to one factor.
  * High-scoring docs concentrate strongly-associated term pairs (phrase
  * mining / topical-coherence signals); the target vocabulary plays the
  * role BM25's query terms play: the state is restricted to it.
  *
  * The third SCREENED state (VERDICT r14 #4 — the proof that
  * [[ScreenedState]] is an abstraction, not a two-instance coincidence), with a
  * twist that makes it the DEGENERATE-coupling corner of the family: in
  * TF-IDF the screen predicate needs per-posting data (tf); in BM25 it
  * needs per-posting tf AND dl; in PMI the score of a pair is a function
  * of the driver-held constants ALONE — so floor crossing is decided ON
  * THE DRIVER over the ≤|U|² pair dimension, with zero cluster work, and
  * the cluster-side screen degrades to a semi-join of the pair trace
  * against the broadcast crossed-pair list (skipped entirely on steps
  * where nothing crossed). The reference's touched-key recompute analog:
  * crates/dbsp/src/operator/aggregate/mod.rs:204-244.
  *
  * Per-step shape (the 100 TB story):
  *   - O(Δ·|U|²) pair derivation: the delta's U-restricted distinct-term
  *     rows self-joined per doc (≤ C(|U|,2) pairs per doc), eagerly pinned
  *     and reused by the stat action, the index append, and the affected
  *     set.
  *   - ONE ≤(1+|U|+C(|U|,2))-row action advances N, the |U| c_a values and
  *     the pair c_ab values (driver-held scalars — the operator's
  *     broadcast constants), and carries the step-contract check: weights
  *     must be ±1 (the maintenance is presence-based doc-frequency
  *     counting; a |w|>1 row would silently corrupt every constant, so it
  *     fails loudly here, riding the same action). The OTHER contract — a
  *     doc's full distinct-term set shipped at most once per polarity —
  *     stays caller-owned, as the reference's upsert sources own key
  *     uniqueness; a CDC update may ship both polarities in one delta
  *     (pairs are derived per (doc, w), so the old and new sets never
  *     cross).
  *   - Screen: crossed pairs computed driver-side on the old/new constant
  *     maps (pure arithmetic, the SAME IEEE sequence the rescore and the
  *     oracle use); one no-shuffle scan of the pair trace vs the broadcast
  *     crossed list ONLY on steps where some pair's floor crossed.
  *   - O(affected) rescore: affected = crossed-pair docs ∪ delta docs,
  *     partition-pruned by the bucket span riding the checkpoint
  *     ([[ScreenedState]]); the per-pair pmi_q values are computed
  *     ON THE DRIVER (≤|U|² of them) and broadcast — the rescore is a
  *     broadcast join + per-doc sum, no float ops per posting.
  *
  * State, each a bucket-partitioned [[KeyedState]] trace keyed by doc_id:
  *   - pairIdx:  (doc_id, ta, tb) pair-presence rows, U-restricted;
  *               O(Δ) spine-append per step
  *   - scoreIdx: doc_id → (n_pairs, score_q), the emitted answer — its
  *               −old/+new replacement delta IS the operator's output
  *
  * Exactness induction (per doc): a stored score is the exact BIGINT sum
  * of per-pair pmi_q values under the constants at its last rescore; a
  * pair's pmi_q is unchanged unless the pair is in this step's crossed
  * set, and a doc outside (crossed-pair docs ∪ delta docs) holds only
  * un-crossed pairs — so unaffected docs' scores stay equal to a
  * from-scratch batch evaluation under the CURRENT constants. Emitted
  * deltas integrate to the batch answer (t15's DuckDB oracle; the
  * IncrementalSpec law test replays mixed inserts/retracts vs a
  * brute-force model at two grids).
  *
  * Numeric envelope (the Bm25 discipline): pmi_q is exact-and-portable
  * while N·c_ab < 2^53 and c_a·c_b stays a faithful long product — both
  * hold to N ≈ 9·10^7 docs per maintained corpus shard at the worst case
  * c_ab = c_a = c_b = N; beyond that, shard the corpus (constants are
  * per-shard) or widen the surrogate to DECIMAL.
  */
final class PmiState(emptyTerms: ZSetFrame, val terms: Seq[String],
                     val nBuckets: Int,
                     /** Quantization grid (1e4 in production — what t15's
                       * oracle hard-codes; resolution 1e-4 in exp-PMI
                       * units). Coarser than BM25's 1e6 BY DESIGN: pmi_q ≈
                       * grid·expPMI with expPMI ~O(1) regardless of term
                       * popularity (no tf/df decay to absorb drift), so
                       * the grid itself is the only absorption lever — a
                       * step's relative constant drift is ~|Δ|/N, the
                       * crossing rate is ~grid·|Δ|/N per pair, and the
                       * EXPECTED rescore cost (crossing rate × docs per
                       * pair) is ~grid·|Δ| — independent of corpus size.
                       * At 1e6 every step crosses and the screen never
                       * prunes. Tests shrink it further to reach the
                       * pruning regime at toy corpus sizes. */
                     val grid: Double = 1e4)
    extends ScreenedState(nBuckets, None) {
  import ZSetFrame.W
  import ScreenedState.{Frame, Merge, Rescored}

  private val spark = emptyTerms.spark

  private val pairIdx = index(Seq("doc_id"), nBuckets,
    ZSetFrame.fromDelta(emptyTerms.df.select(col("doc_id"),
      lit("").as("ta"), lit("").as("tb"), col(W))))
  private val scoreIdx = index(Seq("doc_id"), nBuckets,
    ZSetFrame.fromDelta(emptyTerms.df.select(col("doc_id"),
      lit(0L).as("n_pairs"), lit(0L).as("score_q"), col(W))))

  protected def answer: KeyedState = scoreIdx

  // driver-held constants, advanced O(Δ) per step: N, the |U| term doc
  // frequencies, the ≤C(|U|,2) pair doc frequencies
  private var nDocs = 0L
  private val ca = scala.collection.mutable.Map[String, Long]()
  private val cab = scala.collection.mutable.Map[(String, String), Long]()

  /** The quantized exp-PMI surrogate — the ONE IEEE sequence shared by the
    * driver-side crossing decision, the broadcast rescore table, and the
    * DuckDB oracle (floor((N·c_ab AS DOUBLE)/(c_a·c_b AS DOUBLE)·grid)).
    * MinValue marks undefined/vanished sides (no live pair). */
  private def pq(n: Long, cabV: Long, caV: Long, cbV: Long): Long =
    if (n <= 0L || cabV <= 0L || caV <= 0L || cbV <= 0L) Long.MinValue
    else math.floor((n * cabV).toDouble / (caV * cbV).toDouble * grid).toLong

  private def tlits: Seq[Any] = terms.map(_.asInstanceOf[Any])

  /** One step. DELTA PIN (ADVICE r15): the step reads the delta in
    * several scans (the pairDelta derivation and the stat action's doc and
    * term groups), and a plan that re-evaluates to different rows would
    * land different rows in the driver constants than in the pair trace.
    * The engine pins exactly the deltas the pin rule
    * (`Pinned.isStable`) cannot prove stable, lazily — the stat action
    * fills the pin, so no barrier is added to the quiet-step floor this
    * state exists to minimize (the pmi_growth gate); a stable delta
    * (materialized, or a deterministic plan over pinned data) is read as
    * it is, while a view-derived or streaming micro-batch delta is pinned
    * and released with the step's other pins.
    *
    * `delta` holds consolidated (doc_id, term) rows with ±1
    * weights — one row per DISTINCT term of the doc (presence, not tf),
    * the doc's FULL distinct-term set per polarity: insert ships +1 rows,
    * retract ships −1 rows, and a CDC UPDATE may ship both sets in one
    * delta (pairs are derived per (doc, w), so polarities never cross);
    * non-target terms contribute only to the N maintenance and are never
    * stored. Per-(doc, w) term distinctness and at-most-once-per-polarity
    * shipment are caller-owned (as the reference's upsert sources own key
    * uniqueness; [[graft.queries.Postings.distinctTerms]] makes the former
    * structural). Returns the −old/+new per-doc score replacement delta;
    * the emitted rows integrate to (doc_id, n_pairs, score_q) over docs
    * holding ≥1 target pair. */
  def step(delta: ZSetFrame): ZSetFrame = runStep {
    // 1. the delta's target-pair rows — pinned; reused by the stat action,
    //    the index append, and the affected set (three consumers, one
    //    materialization). The join keys on (doc_id, w): a CDC update delta
    //    carries a doc at BOTH polarities, and the old set's pairs (−1) must
    //    not cross with the new set's (+1).
    var deltaPin = Seq.empty[DataFrame]
    val d = Pinned.stabilized(delta, eager = false)(p => deltaPin = Seq(p.df)).df
    val ut = d.where(col("term").isin(tlits: _*))
    val right = ut.select(col("doc_id"), col(W), col("term").as("tb2"))
    val pairDelta = ut.join(right, Seq("doc_id", W))
      .where(col("term") < col("tb2"))
      .select(col("doc_id"), col("term").as("ta"), col("tb2").as("tb"),
        col(W))
      // LAZY since r17: the stat action below reads pairDelta (cabAgg) and
      // materializes the pin as a side effect — one fewer driver barrier
      // per step, same single-evaluation guarantee
      .localCheckpoint(false)
    // 2. ONE bounded action: ΔN + the unit-weight contract check (distinct
    //    doc rows), Δc_a (target term groups), Δc_ab (pair groups over the
    //    pinned pairDelta) — ≤ 1+|U|+C(|U|,2) rows. The rider: weights
    //    must be ±1 — pair derivation and the N/c_a/c_ab doc-frequency
    //    semantics are presence-based, so a |w|>1 row would silently
    //    corrupt every constant; it fails loudly here, riding the action.
    val docAgg = d.select(col("doc_id"), col(W)).distinct()
      .agg(coalesce(sum(col(W)), lit(0L)).as("a"),
        coalesce(max(abs(col(W))), lit(1L)).as("viol"))
      .select(lit(null).cast("string").as("ta"),
        lit(null).cast("string").as("tb"), col("a"), col("viol"))
    val caAgg = ut.groupBy("term").agg(sum(col(W)).as("a"))
      .where(col("a") =!= 0L)
      .select(col("term").as("ta"), lit(null).cast("string").as("tb"),
        col("a"), lit(0L).as("viol"))
    val cabAgg = pairDelta.groupBy("ta", "tb").agg(sum(col(W)).as("a"))
      .where(col("a") =!= 0L)
      .select(col("ta"), col("tb"), col("a"), lit(0L).as("viol"))
    val statRows = docAgg.unionByName(caAgg).unionByName(cabAgg).collect()
    val nOld = nDocs
    val caOld = ca.toMap
    val cabOld = cab.toMap
    statRows.foreach { r =>
      if (r.isNullAt(0)) {
        require(r.getLong(3) == 1L,
          "graft: PMI step contract violated — a delta row carries a " +
            "weight beyond ±1; the presence-based N/c_a/c_ab maintenance " +
            "and the per-(doc, w) pair derivation would be silently " +
            "corrupted")
        nDocs += r.getLong(2)
      } else if (r.isNullAt(1))
        ca(r.getString(0)) = ca.getOrElse(r.getString(0), 0L) + r.getLong(2)
      else {
        val k = (r.getString(0), r.getString(1))
        cab(k) = cab.getOrElse(k, 0L) + r.getLong(2)
      }
    }
    // 3. floor crossings — decided ON THE DRIVER (the degenerate-coupling
    //    corner: every score input is a held constant), over the union of
    //    old and new pair keys
    val crossed = (cabOld.keySet ++ cab.keySet).toSeq.filter { case (a, b) =>
      pq(nOld, cabOld.getOrElse((a, b), 0L),
         caOld.getOrElse(a, 0L), caOld.getOrElse(b, 0L)) !=
      pq(nDocs, cab.getOrElse((a, b), 0L),
         ca.getOrElse(a, 0L), ca.getOrElse(b, 0L))
    }
    // 4. screen: docs holding a crossed pair — one no-shuffle semi-join of
    //    the pair trace vs the broadcast crossed list; SKIPPED when nothing
    //    crossed (zero cluster work on quiet steps)
    import spark.implicits._
    val screened =
      if (crossed.isEmpty) pairDelta.select("doc_id").where(lit(false))
      else pairIdx.view(0 until nBuckets).consolidate.df
        .join(broadcast(crossed.toDF("ta", "tb")), Seq("ta", "tb"))
        .select("doc_id")
    Frame(screened, pairDelta.select("doc_id"), pairDelta +: deltaPin) { (affected, affB) =>
      // 5. rescore the affected docs over (pre-merge view ⊕ pinned
      //    pairDelta): the per-pair pmi_q values under the NEW constants
      //    are computed driver-side (≤C(|U|,2) of them) and broadcast — the
      //    rescore is a partition-pruned scan + broadcast join + per-doc
      //    sum; a fully retracted doc yields no row, so its old score is
      //    retracted by the replacement delta
      val pcTab = cab.toSeq.collect { case ((a, b), c) if c > 0L =>
        (a, b, pq(nDocs, c, ca.getOrElse(a, 0L), ca.getOrElse(b, 0L)))
      }.toDF("ta", "tb", "pq")
      val rows = (pairIdx.view(affB) + ZSetFrame.fromDelta(pairDelta))
        .consolidate.df.join(affected, Seq("doc_id"))
      val newScores = rows.join(broadcast(pcTab), Seq("ta", "tb"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_pairs"), sum(col("pq")).as("score_q"))
        .select("doc_id", "n_pairs", "score_q")
      val oldScores = scoreIdx.view(affB).consolidate.df
        .join(affected, Seq("doc_id"))
        .select("doc_id", "n_pairs", "score_q")
      // with the lazy pairDelta pin the quiet-step shape is stat →
      // affected → emission → merges: 4 barriers
      Rescored(newScores, oldScores, Seq(
        Merge("pair", pairIdx, ZSetFrame.fromDelta(pairDelta), Some(affB))))
    }
  }
}
