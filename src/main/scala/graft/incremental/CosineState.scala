package graft.incremental

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.ZSetFrame

/** Incrementally maintained TF-IDF COSINE doc-to-centroid assignment under
  * document inserts AND deletes — embedding-free semantic routing for a
  * curation pipeline: each document's U-restricted tf-idf vector is scored
  * by cosine against a FIXED set of centroid vectors (topic prototypes /
  * cluster centroids, a dimension like BM25's standing queries), and the
  * maintained answer is the per-doc best centroid with its quantized cosine
  *
  *   cos_q(d, c) = floor( dot(d,c) / (‖d‖·‖c‖) · grid )
  *   dot(d, c)   = Σ_t tf(d,t) · iq(t) · cw(c,t)
  *   ‖d‖²        = Σ_t (tf(d,t) · iq(t))²          (U-subspace norm)
  *   ‖c‖²        = Σ_t cw(c,t)²                     (a FIXED integer)
  *   iq(t)       = min( floor(idfGrid·N / df(t)), idfGrid·idfCap )
  *
  * The FOURTH Screened state (VERDICT r15 #5 — r14's named alternative to
  * PMI): embedding-free near-dup/topical scoring that composes the
  * [[TfIdfState]] index discipline with a centroid dimension. Its coupling
  * sits BETWEEN the family's corners: like PMI, the crossing decision is
  * pure driver arithmetic (every score input that can move — N and the |U|
  * df values — is a driver-held constant, so floor crossings of the
  * quantized idf iq(t) are decided over the |U| TERM dimension with zero
  * cluster work); like TF-IDF, the affected set is data-dependent (docs
  * HOLDING a crossed term), acquired by one no-shuffle semi-join of the
  * posting trace against the broadcast crossed-term list, skipped entirely
  * on quiet steps. Reference analog: touched-key recompute,
  * crates/dbsp/src/operator/aggregate/mod.rs:204-244.
  *
  * DESIGN INVARIANT (what makes the per-term screen SOUND): centroids are
  * specified directly in the weighted space — their components cw are fixed
  * integers, NOT re-weighted by idf — so ‖c‖ is a constant and cos_q(d, c)
  * is a function of (d's postings, iq over d's own terms, the centroid)
  * alone. Had the centroid side carried iq too, one term's crossing would
  * move ‖c‖ and with it EVERY doc's score against c, and the affected set
  * could not be confined to docs holding the term. (This is also the
  * natural semantics: learned cluster centroids over tf-idf vectors already
  * live in the weighted space.)
  *
  * The idf cap (idfCap, a RATIO cap: iq saturates once N/df ≥ idfCap) is
  * the standard smoothing against ultra-rare-term domination, and it is
  * what makes the screen prune at scale: a rare term's raw floor(idfGrid·
  * N/df) would cross on every step (its relative df drift is large), but
  * at the cap it cannot move at all; a hot term's relative (N, df) drift
  * per step is ~|Δ|/N, so its floor crossing probability is
  * ~idfGrid·(N/df)·|Δ|/N — vanishing with corpus size. Crossings
  * concentrate in the mid-band, where the per-term rescore fan-out
  * (docs holding the term) is moderate by construction.
  *
  * Per-step shape (the 100 TB story):
  *   - O(Δ) scalar maintenance: N and the |U| df values advance by ONE
  *     ≤|U|+1-row aggregation action over the pinned delta, carrying the
  *     unit-weight step-contract check (presence-based df maintenance —
  *     a |w|>1 row would silently corrupt the constants; it fails loudly
  *     riding the same action).
  *   - Crossings decided ON THE DRIVER over the |U| term dimension (the
  *     PMI discipline); quiet steps schedule ZERO cluster-side screening.
  *   - Screen (crossing steps only): one no-shuffle semi-join of the
  *     TERM-keyed posting trace vs the broadcast crossed-term list,
  *     bucket-pruned to the crossed terms' own hash buckets (r18) —
  *     O(crossed-term postings) reads in every regime.
  *   - O(affected) rescore: the ≤|U|-row iq table and the centroid
  *     dimension are broadcast; the rescore is a partition-pruned trace
  *     read + two broadcast joins + per-(doc, cid) integer sums — the only
  *     float ops are one division, two sqrt and one multiply per scored
  *     pair, the exact IEEE sequence the DuckDB oracle mirrors.
  *
  * State, each a bucket-partitioned [[KeyedState]] trace:
  *   - postIdx: U-restricted postings (doc_id, term, tf) keyed by doc;
  *              O(Δ∩U) spine-append per step
  *   - termIdx: the same postings keyed by TERM (r18 — the screen's
  *              bucket-pruned probe side; TfIdfState's dual-key layout)
  *   - simIdx:  doc_id → (cid, cos_q), the per-doc best centroid — its
  *              −old/+new replacement delta IS the emitted output
  *
  * Exactness induction (per doc): a stored assignment is the argmax over
  * present (doc, centroid) support overlaps of cos_q under the iq vector
  * at its last rescore; iq(t) is unchanged unless t is in this step's
  * crossed set, and a doc outside (crossed-term docs ∪ delta docs) holds
  * only un-crossed terms — so unaffected docs' assignments stay equal to a
  * from-scratch batch evaluation under the CURRENT constants. Emitted
  * deltas integrate to the batch answer (t16's DuckDB oracle; the
  * IncrementalSpec law test replays mixed inserts/retracts/CDC updates vs
  * a brute-force model at two idf grids).
  *
  * Numeric envelope: every sum is an exact BIGINT and, with the default
  * idfGrid=64 / idfCap=64 (iq ≤ 4096), each of ‖d‖², dot and their per-term
  * products stays below 2^53 for tf ≤ ~10^4 and |U| ≤ ~10^3 — so the
  * BIGINT→DOUBLE casts in cos_q are value-exact and the committed scores
  * are bit-portable across engines. Only the tie-broken argmax is emitted,
  * so the output is a per-doc dimension row, never a pair table.
  */
final class CosineState(emptyTf: ZSetFrame,
                        /** (centroid_id, support term → weight). Weights are
                          * fixed positive integers in the weighted space (see
                          * the design invariant above). U = the union of all
                          * supports. */
                        val cents: Seq[(String, Seq[(String, Long)])],
                        val nBuckets: Int,
                        /** Quantization grid of the idf ratio N/df:
                          * iq = floor(idfGrid·N/df). Coarse BY DESIGN — the
                          * grid is the screen's absorption lever (crossing
                          * probability per term ∝ idfGrid·(N/df)·|Δ|/N);
                          * 64 levels per unit ratio ranks terms amply.
                          * Tests shrink it to reach the crossing regime at
                          * toy corpus sizes. */
                        val idfGrid: Long = 64L,
                        /** Ratio cap: iq saturates at idfGrid·idfCap once
                          * N/df ≥ idfCap (idf ceiling — the smoothing that
                          * also freezes rare-term floors). */
                        val idfCap: Long = 64L,
                        /** Cosine output grid (cos_q = floor(cos·grid)). */
                        val grid: Double = 1e6)
    extends ScreenedState(nBuckets, None) {
  import ZSetFrame.W
  import ScreenedState.{Frame, Merge, Rescored}

  require(cents.nonEmpty && cents.forall(_._2.forall(_._2 > 0L)),
    "graft: CosineState centroids must be non-empty with positive weights " +
      "(absent (doc, centroid) support overlaps score as 0 by construction; " +
      "a negative component would break that ordering)")

  private val spark = emptyTf.spark

  /** U: the union support — what the posting trace is restricted to and
    * the granularity of df maintenance. */
  val uterms: Seq[String] = cents.flatMap(_._2.map(_._1)).distinct

  private val postIdx = index(Seq("doc_id"), nBuckets, emptyTf)
  private val simIdx = index(Seq("doc_id"), nBuckets,
    ZSetFrame.fromDelta(emptyTf.df.select(col("doc_id"),
      lit("").as("cid"), lit(0L).as("cos_q"), col(W))))

  protected def answer: KeyedState = simIdx

  // the centroid dimension — built once, broadcast into every rescore;
  // nc2 = Σ cw² is FIXED (the design invariant)
  private val centTab: DataFrame = {
    import spark.implicits._
    cents.flatMap { case (cid, ts) =>
      val nc2 = ts.map(w => w._2 * w._2).sum
      ts.map { case (t, w) => (cid, t, w, nc2) }
    }.toDF("cid", "term", "cw", "nc2")
  }

  // driver-held constants, advanced O(Δ) per step
  private var nDocs = 0L
  private val dfU = scala.collection.mutable.Map[String, Long]()

  /** TERM-KEYED secondary posting trace (r18, VERDICT r17 #4 — the
    * shard-or-widen escape the r17 span map documented, now built): the
    * same U-restricted postings postIdx holds, keyed by TERM instead of
    * doc (TfIdfState's dual tfIdx/fwdIdx layout applied here). A crossing
    * step screens `termIdx.view(buckets(crossed))` — the crossed terms'
    * OWN hash buckets, computed driver-side with zero discovery jobs
    * ([[KeyedState.bucketOfString]]) — so the screen reads O(crossed-term
    * postings + same-bucket collisions) in EVERY regime, including the
    * steady mid-band where the r17 doc-bucket span map legitimately
    * saturated to all nBuckets (a crossable term has ≥ N/idfCap holders
    * spread over every doc bucket; its TERM bucket is still exactly one).
    * Maintained by the same O(Δ∩U) spine-append every step, concurrent
    * with its peers — no extra barrier; storage doubles the U-restricted
    * posting bytes, the price TfIdfState already pays for two-way keying. */
  private val termIdx = index(Seq("term"), nBuckets, emptyTf)

  /** Diagnostic: bucket ids the last step's screen actually scanned —
    * since r18 these are TERM-keyed bucket ids of the crossed terms
    * (≤ |crossed|, never saturating with corpus size). Empty on quiet
    * steps — zero cluster work; the StepBench cossim diagnostic and the
    * law test's pruning gate read it. */
  private[graft] var lastScreenBuckets: Seq[Int] = Nil

  /** The quantized idf — the ONE integer sequence shared by the driver-side
    * crossing decision, the broadcast iq table, and the DuckDB oracle
    * (LEAST((idfGrid·N) // df, idfGrid·idfCap)). MinValue marks vanished
    * sides (no live posting / empty corpus). */
  private def iqOf(n: Long, df: Long): Long =
    if (n <= 0L || df <= 0L) Long.MinValue
    else math.min(Math.floorDiv(idfGrid * n, df), idfGrid * idfCap)

  private def ulits: Seq[Any] = uterms.map(_.asInstanceOf[Any])

  /** One step. `delta` holds consolidated (doc_id, term, tf) posting rows
    * with ±1 weights — a doc's FULL posting set on insert (+1) or retract
    * (−1); a CDC update may ship both polarities in one delta. Non-U terms
    * contribute only to the N maintenance and are never stored. The delta
    * is pinned ONCE at step entry (ADVICE r15: every downstream consumer
    * reads the pinned plan, so a caller's delta plan is evaluated exactly
    * once) and released with the next step's prologue. Returns the
    * −old/+new per-doc assignment replacement delta; the emitted rows
    * integrate to (doc_id, cid, cos_q) over docs holding ≥1 U-term. */
  def step(delta: ZSetFrame): ZSetFrame = runStep {
    // 0. pin the delta once — the stat action, the index append and the
    //    affected set all read this one materialization. LAZY since r17:
    //    the stat action below is the step's first job and materializes it
    //    as a side effect (one fewer driver barrier per step — the `moved`
    //    discipline from TfIdfState applied to the delta itself)
    val d = delta.df.localCheckpoint(false)
    val ut = d.where(col("term").isin(ulits: _*))
    // 1. ONE bounded action: ΔN (distinct doc rows — carrying the
    //    unit-weight contract check) + Δdf per U term (postings are unique
    //    per (doc, term, polarity), so presence weight == row weight) —
    //    ≤ |U|+1 rows. Term groups are kept even when their df movement
    //    cancels (a CDC move between docs leaves df unchanged): the term
    //    rows double as the delta's U-term list, which routes the termIdx
    //    merge below without a bucket-discovery job.
    val docAgg = d.select(col("doc_id"), col(W)).distinct()
      .agg(coalesce(sum(col(W)), lit(0L)).as("a"),
        coalesce(max(abs(col(W))), lit(1L)).as("viol"))
      .select(lit(null).cast("string").as("term"), col("a"), col("viol"))
    val dfAgg = ut.groupBy("term").agg(sum(col(W)).as("a"))
      .select(col("term"), col("a"), lit(0L).as("viol"))
    val statRows = docAgg.unionByName(dfAgg).collect()
    val nOld = nDocs
    val dfOld = dfU.toMap
    val deltaTerms = scala.collection.mutable.Buffer[String]()
    statRows.foreach { r =>
      if (r.isNullAt(0)) {
        // ≤ 1, not == 1 (ADVICE r16): a delta consisting solely of
        // weight-0 rows — harmless no-op rows a raw delta may carry — has
        // max(abs(w)) = 0 and must pass through as the no-op it is
        require(r.getLong(2) <= 1L,
          "graft: Cosine step contract violated — a delta row carries a " +
            "weight beyond ±1; the presence-based N/df maintenance would " +
            "be silently corrupted")
        nDocs += r.getLong(1)
      } else {
        val t = r.getString(0)
        if (r.getLong(1) != 0L) dfU(t) = dfU.getOrElse(t, 0L) + r.getLong(1)
        deltaTerms += t
      }
    }
    // 2. floor crossings of the quantized idf — decided ON THE DRIVER over
    //    the |U| term dimension (the PMI degenerate-coupling discipline)
    val crossed = uterms.filter { t =>
      iqOf(nOld, dfOld.getOrElse(t, 0L)) != iqOf(nDocs, dfU.getOrElse(t, 0L))
    }
    // 3. screen: docs holding a crossed term — one no-shuffle semi-join of
    //    the TERM-KEYED trace vs the broadcast crossed list; SKIPPED when
    //    nothing crossed (zero cluster work on quiet steps). The view span
    //    is the crossed terms' OWN buckets (driver arithmetic, r18 —
    //    formerly the cumulative doc-bucket span map, which saturated to
    //    all nBuckets in the mid-band regime): the screen reads
    //    O(crossed-term postings + bucket collisions) in every regime.
    import spark.implicits._
    val screenSpan =
      if (crossed.isEmpty) Nil
      else KeyedState.bucketsOfStringKeys(crossed, nBuckets)
    lastScreenBuckets = screenSpan
    val screened =
      if (screenSpan.isEmpty) ut.select("doc_id").where(lit(false))
      else termIdx.view(screenSpan).consolidate.df
        .join(broadcast(crossed.toDF("term")), Seq("term"))
        .select("doc_id")
    Frame(screened, ut.select("doc_id"), Seq(d)) { (affected, affB) =>
      // 4. rescore the affected docs under the NEW constants over
      //    (pre-merge view ⊕ pinned delta): the ≤|U|-row iq table is
      //    driver-computed and broadcast with the centroid dimension —
      //    integer sums per (doc, cid), then the one shared IEEE sequence
      //    per scored pair. A fully retracted doc yields no row, so its old
      //    assignment is retracted by the replacement delta.
      val iqTab = uterms.flatMap { t =>
        val v = iqOf(nDocs, dfU.getOrElse(t, 0L))
        if (v == Long.MinValue) None else Some((t, v))
      }.toDF("term", "iq")
      val rows = (postIdx.view(affB) + ZSetFrame.fromDelta(ut)).consolidate.df
        .join(affected, Seq("doc_id"))
        .join(broadcast(iqTab), Seq("term"))
        .select(col("doc_id"), col("term"), (col("tf") * col("iq")).as("dvq"))
        // ONE doc_id clustering for the rest of the rescore: both sums, their
        // join and the per-doc top-1 window are then satisfied in place. Left
        // to AQE, the sums shuffle apart and the join is re-planned once a
        // side is measured; when it turns into a broadcast join the window
        // needs an exchange of its own — one job more, depending on which
        // stage finished first
        .repartition(col("doc_id"))
      val nd = rows.groupBy("doc_id")
        .agg(sum(col("dvq") * col("dvq")).as("nd2"))
      val dt = rows.join(broadcast(centTab), Seq("term"))
        .groupBy("doc_id", "cid", "nc2")
        .agg(sum(col("dvq") * col("cw")).as("dot"))
      val scored = dt.join(nd, Seq("doc_id"))
        .select(col("doc_id"), col("cid"),
          floor(col("dot").cast("double")
            / (sqrt(col("nd2").cast("double")) * sqrt(col("nc2").cast("double")))
            * lit(grid)).cast("long").as("cos_q"))
      val newTop = scored.withColumn("rn", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("cos_q").desc, col("cid").asc)))
        .where(col("rn") === 1)
        .select("doc_id", "cid", "cos_q")
      val oldTop = simIdx.view(affB).consolidate.df
        .join(affected, Seq("doc_id"))
        .select("doc_id", "cid", "cos_q")
      // the two posting appends (doc- and term-keyed); with the lazy delta
      // pin the quiet-step shape is stat → affected → emission → merges:
      // 4 barriers. The termIdx merge routes by the delta's own U-term list
      // (stat rows → driver-hashed buckets — no discovery job).
      Rescored(newTop, oldTop, Seq(
        Merge("post", postIdx, ZSetFrame.fromDelta(ut), Some(affB)),
        Merge("term", termIdx, ZSetFrame.fromDelta(ut),
          Some(KeyedState.bucketsOfStringKeys(deltaTerms, nBuckets)))))
    }
  }
}
