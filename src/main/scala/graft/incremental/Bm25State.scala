package graft.incremental

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.ZSetFrame
import graft.functions.Bm25

/** Incrementally maintained BM25-surrogate top-k retrieval for MANY standing
  * query-term sets under document inserts AND deletes — a retrieval INDEX
  * serving concurrent ranked queries over a continuously refreshed corpus
  * (VERDICT r13 #7; [[Bm25State]] below is the single-query specialization).
  * The reference analog of the sharing is the circuit cache handing one
  * trace to every consumer (reference: crates/dbsp/src/circuit/cache.rs,
  * operator/distinct.rs:23-24): all queries share ONE term-restricted
  * posting trace, one set of corpus constants, one screen — a query set is
  * a row set in a small (query_id, term) dimension, not a new circuit.
  *
  * Coupling (as in the single-query case, harsher than TF-IDF's): the
  * corpus constants N (doc count) and T (token count) enter EVERY posting's
  * score, so any insert moves, in principle, every matching document of
  * every query. The reference's answer to non-linear aggregates is
  * touched-key recompute (reference:
  * crates/dbsp/src/operator/aggregate/mod.rs:204-244); the touched set here
  * is QUANTIZATION-AWARE: scores are sums of floor-quantized per-posting
  * contributions ([[Bm25.sq]], quantize-before-sum), and a stored
  * (query, doc) score only moves when some posting's floor CROSSES under
  * this step's (N, T, df) transition. Floor crossing is a PER-POSTING
  * predicate independent of which queries contain the term, so one screen
  * serves every standing query.
  *
  * Per-step shape (the 100 TB story):
  *   - O(Δ) scalar maintenance: N, T, and the |U| df values (U = union of
  *     all query terms) advance per step (driver-held scalars — the
  *     operator's broadcast constants, the reference keeps the same
  *     integrals as circuit scalars). Since r18 the screen's and rescore's
  *     old/new constant tables derive cluster-side and the driver's
  *     collect runs concurrently with the emission, so the step has NO
  *     stat barrier of its own (3 driver barriers: affected,
  *     max(emission, stat), merges).
  *   - One NO-SHUFFLE screening scan of the U-RESTRICTED inverted index:
  *     storage is O(postings of U's terms) — the union match set, never the
  *     corpus — with the |U|-row old/new df table broadcast. Shared across
  *     queries; adding a query set adds dimension rows, not scans.
  *   - O(affected) rescore: exactly the docs with a crossed floor plus the
  *     delta's matching docs, partition-pruned by the affected bucket span
  *     (an Observation riding the checkpoint — the d31 discipline); each
  *     affected doc rescoes once per query that matches it, via the
  *     broadcast (query_id, term) dimension join.
  *   - O(touched buckets) top-k maintenance per query: the two-level
  *     winner structure keyed by doc bucket with query_id as a data
  *     column — per-(query, bucket) top-k recomputed only for touched
  *     buckets, each query's global top-k re-derived from its
  *     ≤ nBuckets·k per-bucket winners (a dimension trace, scan-in-place).
  *
  * State, each a bucket-partitioned [[KeyedState]] trace keyed by doc_id:
  *   - qIdx:      U-restricted postings (doc_id, term, tf, dl);
  *                O(Δ∩U) spine-append per step — SHARED by all queries
  *   - scoreIdx:  (doc, query) → current quantized score
  *   - bucketTop: per-(query, bucket) top-k winner rows (⊆ scoreIdx)
  *   - topIdx:    the per-query global top-k answer
  *                (query_id, doc_id, score_q, rnk) — its −old/+new
  *                replacement delta IS the emitted output
  *
  * Exactness induction (as [[Bm25State]]'s, per (query, doc)): a stored
  * score is the exact BIGINT sum of per-posting sq's under the constants at
  * its last rescore; each step's screen certifies per posting that
  * sq(prev) == sq(new) for every unaffected doc, and a (query, doc) score
  * is a sum over a subset of the doc's postings — so unaffected docs'
  * scores stay equal to a from-scratch batch evaluation under the CURRENT
  * constants, for every query at once. The emitted deltas integrate to the
  * per-query batch top-k (t14's DuckDB oracle gates this bit-for-bit;
  * t13/q89 gate the single-query specialization through the same code).
  */
final class MultiBm25State(emptyPosting: ZSetFrame,
                           val qsets: Seq[(String, Seq[String])],
                           val nBuckets: Int, val topK: Int = 10,
                           /** Quantization grid (1e6 in production — the
                             * value the oracles hard-code via [[Bm25.sq]]'s
                             * default). Tests shrink it to reach the pruning
                             * regime at toy corpus sizes. */
                           val grid: Double = 1e6,
                           /** DURABLE mirror of the posting trace (the
                             * reference's persistent-spine property,
                             * crates/dbsp/src/trace/persistent/
                             * mod.rs:1-40, applied to the flagship
                             * operator family): when set, every step also
                             * merges its U-restricted delta into this
                             * disk-backed [[DurableKeyedState]] and then
                             * records the driver constants (N, T, df, and
                             * the state identity: query sets, topK, grid)
                             * in the commit sidecar — qIdx + constants are
                             * the state's PRIMARY data; scoreIdx /
                             * bucketTop / topIdx are derived and are
                             * REBUILT from scratch at
                             * [[MultiBm25State.restore]]. A torn step is
                             * detected at restore, not replayed (see
                             * [[DurableMirror]]); a CLEAN teardown/restore
                             * — what q92 and DurableStateSpec certify —
                             * resumes exactly. */
                           durablePath: Option[String] = None)
    extends ScreenedState(nBuckets,
      durablePath.map(MultiBm25State.Files.create(_, nBuckets, emptyPosting))) {
  import ZSetFrame.W
  import ScreenedState.{Frame, Merge, Rescored}

  private val spark = emptyPosting.spark

  /** U: the union term set — what the shared posting trace is restricted
    * to, and the granularity of df maintenance. */
  private val uterms: Seq[String] = qsets.flatMap(_._2).distinct

  private val qIdx = index(Seq("doc_id"), nBuckets, emptyPosting)
  private val scoreIdx = index(Seq("doc_id"), nBuckets,
    ZSetFrame.fromDelta(emptyPosting.df.select(col("doc_id"),
      lit("").as("query_id"), lit(0L).as("score_q"), col(W))))
  private val bucketTop = index(Seq("doc_id"), nBuckets,
    ZSetFrame.fromDelta(emptyPosting.df.select(col("doc_id"),
      lit("").as("query_id"), lit(0L).as("score_q"), col(W))))
  private val topIdx = index(Seq("doc_id"), nBuckets,
    ZSetFrame.fromDelta(emptyPosting.df.select(col("doc_id"),
      lit("").as("query_id"), lit(0L).as("score_q"), lit(0).as("rnk"),
      col(W))))

  protected def answer: KeyedState = topIdx
  override protected def consts: Seq[(String, String)] =
    MultiBm25State.constsOf(nDocs, tToks, dfU.toMap, qsets, topK, grid)

  // corpus constants and the |U| df values — driver-held scalars, advanced
  // O(Δ) per step and broadcast into the screen/rescore expressions
  private var nDocs = 0L
  private var tToks = 0L
  private val dfU = scala.collection.mutable.Map[String, Long]()

  // the (query_id, term) dimension — the verdict's "dfTab broadcast becomes
  // a keyed dimension join": built once, broadcast into every rescore
  private val qtTab: DataFrame = {
    import spark.implicits._
    qsets.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
  }

  private def ulits: Seq[Any] = uterms.map(_.asInstanceOf[Any])

  /** Per (query, doc), the quantized score Σ Bm25.sq over the doc's
    * matching `rows` under the (term, df) table and the one-row (n_new,
    * t_new) constants — the step's rescore and the restore rebuild both
    * score through here, so the two share one IEEE sequence. */
  private def scoresOf(rows: DataFrame, dfTab: DataFrame,
                       nt: DataFrame): DataFrame =
    rows.join(broadcast(dfTab), Seq("term"))
      .join(broadcast(qtTab), Seq("term"))
      .crossJoin(broadcast(nt))
      .select(col("query_id"), col("doc_id"),
        Bm25.sq(col("tf"), col("dl"), col("df"),
          col("n_new"), col("t_new"), grid).as("sq"))
      .groupBy("query_id", "doc_id").agg(sum(col("sq")).as("score_q"))

  /** Two-level top-k, level 1: per-(query, doc bucket) winners. */
  private def bucketTopOf(scores: DataFrame): DataFrame =
    scores.select("query_id", "doc_id", "score_q")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("query_id"),
            pmod(hash(col("doc_id")), lit(nBuckets)))
          .orderBy(col("score_q").desc, col("doc_id").asc)))
      .where(col("rn") <= topK).drop("rn")

  /** Level 2: per-query global top-k over the per-bucket winners. */
  private def globalTopOf(winners: DataFrame): DataFrame =
    winners.select("query_id", "doc_id", "score_q")
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("score_q").desc, col("doc_id").asc)))
      .where(col("rnk") <= topK)

  /** One step. `delta` holds consolidated (doc_id, term, tf, dl) posting
    * rows with ±1 weights — a doc's FULL posting set on insert (+1) or
    * retract (−1); non-matching terms contribute only to the N/T scalar
    * maintenance and are not stored. Returns the −old/+new top-k
    * replacement delta across ALL queries; the emitted rows integrate to
    * (query_id, doc_id, score_q, rnk). */
  def step(delta: ZSetFrame): ZSetFrame = runStep {
    // LAZY-pin the delta (r17 — measured: the raw plan re-ran the caller's
    // tokenize+explode chain in every consumer job of a streaming step;
    // the lazy checkpoint materializes inside the affected action and
    // every later job reads pinned blocks — zero extra barriers, one delta
    // evaluation)
    val d = delta.df.localCheckpoint(false)
    val nOld = nDocs; val tOld = tToks
    val dfOld = dfU.toMap
    import spark.implicits._
    // 1. The step's old/new constants derive CLUSTER-SIDE (r18, VERDICT
    //    r17 #3 — the former ≤|U|+1-row stat collect was a driver barrier
    //    that had to complete before the screen could even be planned):
    //    driver-literal OLD values ⊕ the delta's own aggregates, broadcast
    //    into the screen and the rescore. The driver's own copies (next
    //    step's literals, the contract check, the durable sidecar) are
    //    collected CONCURRENTLY with the emission action (step 5). (An
    //    Observation-riding variant was tried first and reverted:
    //    CollectMetrics inside a broadcast-build subtree reports in plain
    //    executions — ObservationSpec pins that — but a q90 streaming
    //    micro-batch execution dropped the metrics and Observation.get
    //    blocked forever; the concurrent collect has no such mode.)
    //      - ntNew: ONE row (n_new, t_new) = (N,T)_old + (ΔN, ΔT) over the
    //        per-(doc, w) groups; ndl = the group's distinct dl count, so
    //        the dl-contract violation is a plain sum for the stat pass
    //      - ddf: the U-restricted Δdf aggregate, LAZILY pinned — the
    //        affected action's dfTab broadcast build materializes it, and
    //        the stat collect reads the pinned blocks instead of planning
    //        a second Δdf scan of the delta
    //      - dfTab: |U| rows (term, df_old literal, df_new = df_old + Δdf)
    val docRows = d.groupBy(col("doc_id"), col(W))
      .agg(count_distinct(col("dl")).as("ndl"), max(col("dl")).as("dl"))
    val ntNew = docRows
      .agg(coalesce(sum(col(W)), lit(0L)).as("dn"),
        coalesce(sum(col("dl") * col(W)), lit(0L)).as("dt"))
      .select((lit(nOld) + col("dn")).as("n_new"),
        (lit(tOld) + col("dt")).as("t_new"))
    val ddf = d.where(col("term").isin(ulits: _*))
      .groupBy("term").agg(sum(col(W)).as("ddf"))
      .localCheckpoint(false)
    val dfTab = uterms.map(t => (t, dfOld.getOrElse(t, 0L)))
      .toDF("term", "df_old")
      .join(ddf, Seq("term"), "left")
      .select(col("term"), col("df_old"),
        (col("df_old") + coalesce(col("ddf"), lit(0L))).as("df_new"))
    // 2. screen: ONE no-shuffle scan of the U-restricted index — every
    //    stored posting's floor under (N,T,df)_old vs (N,T,df)_new (both
    //    sides column expressions; the new constants come from the two
    //    broadcast tables above). A posting with df_new == 0 has all its
    //    docs in this step's delta (its term vanished from the corpus);
    //    MinValue marks it moved defensively. Query-independent: one scan
    //    serves every standing query set.
    def sqAt(df: Column, n: Column, t: Column): Column =
      when(n <= lit(0L) || t <= lit(0L) || df <= lit(0L),
        lit(Long.MinValue))
        .otherwise(Bm25.sq(col("tf"), col("dl"), df, n, t, grid))
    val postings = qIdx.view(0 until nBuckets).consolidate.df
    val screened = postings.join(broadcast(dfTab), Seq("term"))
      .crossJoin(broadcast(ntNew))
      .where(sqAt(col("df_old"), lit(nOld), lit(tOld))
        =!= sqAt(col("df_new"), col("n_new"), col("t_new")))
      .select(col("doc_id"))
    // 3. affected = crossed docs ∪ the delta's matching docs; this ONE
    //    action also materializes the delta pin, ddf and the two broadcast
    //    constant tables
    val dU = ZSetFrame.fromDelta(d.where(col("term").isin(ulits: _*)))
    Frame(screened, dU.df.select("doc_id"), Seq(d, ddf)) { (affected, affB) =>
      // 4. rescore the affected docs under the NEW constants over (pre-merge
      //    view ⊕ pinned delta), fanned out to matching queries by the
      //    broadcast (query_id, term) dimension. A fully retracted doc (or a
      //    (query, doc) pair whose last matching posting left) yields no
      //    row, so its old score is retracted by the replacement delta;
      //    unaffected-query rows of an affected doc cancel in the Z-set
      //    minus. The whole two-level top-k cascade below is ONE output
      //    action (the emission checkpoint): the intermediate replacement
      //    deltas (scDelta, btDelta) are LAZILY checkpointed, so the action
      //    pins them as it runs and the trace merges read pinned blocks
      //    instead of recomputing the cascade. The rescore's constants are
      //    the SAME cluster-side tables the screen used — identical values
      //    and the identical IEEE sequence — which is what frees the
      //    emission from waiting on the stat collect.
      val rows = (qIdx.view(affB) + dU).consolidate.df
        .join(affected, Seq("doc_id"))
      val newScores = scoresOf(rows,
        dfTab.select(col("term"), col("df_new").as("df")), ntNew)
      val oldScores = scoreIdx.view(affB).consolidate.df
        .join(affected, Seq("doc_id"))
        .select("query_id", "doc_id", "score_q")
      val scDelta = (ZSetFrame.fromTable(newScores)
        - ZSetFrame.fromTable(oldScores)).consolidate.localCheckpoint()
      // level 1 for exactly the touched buckets — O(touched bucket rows)
      val newBT = bucketTopOf(
        (scoreIdx.view(affB) + scDelta).consolidate.df)
      val oldBT = bucketTop.view(affB).consolidate.df
        .select("query_id", "doc_id", "score_q")
      val btDelta = (ZSetFrame.fromTable(newBT)
        - ZSetFrame.fromTable(oldBT)).consolidate.localCheckpoint()
      // level 2 over the ≤ |Q|·nBuckets·k per-bucket winners — a
      // dimension-sized trace (the per-query window sorts winner rows,
      // never data)
      val newTop = globalTopOf(
        (bucketTop.view(0 until nBuckets) + btDelta).consolidate.df)
      val oldTop = topIdx.view(0 until nBuckets).consolidate.df
        .select("query_id", "doc_id", "score_q", "rnk")
      // 5. emission ∥ stat (r18): the emission reads no driver constant,
      //    so the ≤|U|+1-row stat collect — ΔN/ΔT/Δdf for the next step's
      //    literals, the dl-contract check (ADVICE r13), and the durable
      //    sidecar — runs CONCURRENTLY with it over the pinned delta and
      //    ddf. Its driver-side effect lands only after both succeed and
      //    BEFORE any trace merge, so a violating delta leaves every trace
      //    untouched. (The OTHER contract — a doc's posting set shipped at
      //    most once per polarity — stays UNCHECKED: detecting a duplicate
      //    shipment needs a per-(doc,term) groupBy over the delta, a second
      //    shuffle this path deliberately avoids; callers own it, as the
      //    reference's upsert sources own key uniqueness.)
      val stat = () => {
        val docAgg = docRows
          .agg(coalesce(sum(col(W)), lit(0L)).as("a"),
            coalesce(sum(col("dl") * col(W)), lit(0L)).as("b"),
            coalesce(sum(col("ndl") - lit(1L)), lit(0L)).as("viol"))
          .select(lit(null).cast("string").as("term"), col("a"), col("b"),
            col("viol"))
        val ddfAgg = ddf.where(col("ddf") =!= 0L)
          .select(col("term"), col("ddf").as("a"), lit(0L).as("b"),
            lit(0L).as("viol"))
        val statRows = docAgg.unionByName(ddfAgg).collect()
        () => statRows.foreach { r =>
          if (r.isNullAt(0)) {
            require(r.getLong(3) == 0L,
              "graft: Bm25 step contract violated — a (doc_id, w) pair in " +
                "the delta carries more than one distinct dl; N/T " +
                "maintenance would be silently corrupted")
            nDocs += r.getLong(1); tToks += r.getLong(2)
          } else
            dfU(r.getString(0)) =
              dfU.getOrElse(r.getString(0), 0L) + r.getLong(1)
        }
      }
      // 6. merges: dU by the affected action, scDelta/btDelta by the
      //    emission action are all pinned; affB is a superset of the
      //    delta's span (correct by merge's contract), and the durable
      //    mirror replays the posting merge
      Rescored(newTop, oldTop, Seq(
          Merge("q", qIdx, dU, Some(affB), mirrored = true),
          Merge("score", scoreIdx, scDelta, Some(affB)),
          Merge("bucket", bucketTop, btDelta, Some(affB))),
        pins = Seq(scDelta.df, btDelta.df), alongside = Some(stat))
    }
  }

  /** Rebuild the derived indexes (scoreIdx / bucketTop / topIdx) from the
    * posting trace under the CURRENT constants — the restore path's second
    * half. Exact by the screen's induction: every pre-crash stored score
    * equals a from-scratch evaluation under the constants at the last
    * committed step, so the rebuilt indexes are bit-identical to the lost
    * in-memory ones and subsequent steps emit the same replacement deltas
    * an uninterrupted run would. Emits nothing (the consumer already holds
    * the integrated pre-restart output). */
  private def rebuildDerived(): Unit = {
    import spark.implicits._
    val all = 0 until nBuckets // full rebuild: no discovery jobs
    val dfTab = uterms.map(t => (t, dfU.getOrElse(t, 0L))).toDF("term", "df")
    val nt = Seq((nDocs, tToks)).toDF("n_new", "t_new")
    scoreIdx.merge(ZSetFrame.fromTable(scoresOf(
        qIdx.view(all).consolidate.df, dfTab, nt)), knownTouched = Some(all))
    bucketTop.merge(ZSetFrame.fromTable(bucketTopOf(
        scoreIdx.view(all).consolidate.df)), knownTouched = Some(all))
    topIdx.merge(ZSetFrame.fromTable(globalTopOf(
        bucketTop.view(all).consolidate.df)), knownTouched = Some(all))
  }
}

object MultiBm25State {
  private[incremental] val Files = ScreenedState.MirrorFiles(
    "_graft_bm25_intent.txt", "_graft_bm25_consts.txt", "retrieval")

  private def qsetsSig(qsets: Seq[(String, Seq[String])]): String =
    qsets.map { case (q, ts) => s"$q:${ts.mkString("|")}" }.mkString(";")

  /** The state's constants codec (the DurableMirror sidecar body). */
  private[incremental] def constsOf(n: Long, t: Long, df: Map[String, Long],
      qsets: Seq[(String, Seq[String])], topK: Int, grid: Double)
      : Seq[(String, String)] =
    Seq("nDocs" -> n.toString, "tToks" -> t.toString,
      "qsets" -> qsetsSig(qsets), "topK" -> topK.toString,
      "grid" -> grid.toString) ++
      df.toSeq.sortBy(_._1).map { case (k, v) => s"df.$k" -> v.toString }

  /** Re-attach to a durable retrieval state written by a
    * `durablePath`-enabled instance (see [[ScreenedState.restore]]): the
    * posting trace is bulk-loaded into a fresh in-memory spine, the
    * constants come from the sidecar, and the derived indexes are rebuilt
    * from scratch (exact — see `rebuildDerived`). The standing query sets
    * must match the writer's (the sidecar records their signature);
    * `restored.committedGen` tells the CDC source which deltas to replay. */
  def restore(spark: org.apache.spark.sql.SparkSession, path: String,
              qsets: Seq[(String, Seq[String])], nBuckets: Int,
              topK: Int = 10, grid: Double = 1e6): MultiBm25State =
    ScreenedState.restore(spark, path, nBuckets, Files) { (empty, kv) =>
      require(kv("qsets") == qsetsSig(qsets),
        "graft: MultiBm25State.restore qsets do not match the durable " +
          s"state's (stored ${kv("qsets")}) — the trace is restricted to " +
          "the writer's union term set; attach with the same standing " +
          "queries")
      // grid/topK are part of the state's identity: a restore under a
      // different quantization (or k) would rebuild scores that never
      // cancel against the consumer's integrated pre-restart output
      require(kv.get("topK").forall(_.toInt == topK) &&
          kv.get("grid").forall(_.toDouble == grid),
        s"graft: MultiBm25State.restore topK/grid ($topK/$grid) do not " +
          s"match the durable state's (${kv.get("topK")}/${kv.get("grid")})")
      val st = new MultiBm25State(empty, qsets, nBuckets, topK, grid)
      st.nDocs = kv("nDocs").toLong
      st.tToks = kv("tToks").toLong
      kv.foreach { case (k, v) =>
        if (k.startsWith("df.")) st.dfU(k.drop(3)) = v.toLong }
      st
    } { (st, snapshot) =>
      st.qIdx.merge(snapshot)
      st.rebuildDerived()
    }
}

/** Incrementally maintained BM25-surrogate top-k retrieval for a FIXED
  * single query-term set — the "standing ranked query" behind a
  * continuously refreshed retrieval corpus. Since r14 this is a thin
  * specialization of [[MultiBm25State]] (one query set; the query_id
  * dimension projected away from the emitted delta — it is constant, so
  * Z-set semantics are untouched): t13/q89 certify the shared engine
  * through this surface, t14 certifies the multi-query fan-out. */
final class Bm25State private (inner: MultiBm25State, val qterms: Seq[String]) {

  def this(emptyPosting: ZSetFrame, qterms: Seq[String],
           nBuckets: Int, topK: Int = 10, grid: Double = 1e6,
           durablePath: Option[String] = None) =
    this(new MultiBm25State(emptyPosting, Seq("q" -> qterms), nBuckets,
      topK, grid, durablePath), qterms)

  /** Diagnostic passthrough (see [[MultiBm25State.lastAffected]]). */
  private[graft] def lastAffected: DataFrame = inner.lastAffected

  /** Durable commit generation (see [[MultiBm25State.committedGen]]). */
  def committedGen: Long = inner.committedGen

  /** One step; see [[MultiBm25State.step]]. The emitted rows integrate to
    * (doc_id, score_q, rnk). */
  def step(delta: ZSetFrame): ZSetFrame =
    inner.step(delta).select(col("doc_id"), col("score_q"), col("rnk"))

  def close(): Unit = inner.close()
}

object Bm25State {
  /** Recovery path for a `durablePath`-enabled instance — see
    * [[MultiBm25State.restore]]. */
  def restore(spark: org.apache.spark.sql.SparkSession, path: String,
              qterms: Seq[String], nBuckets: Int,
              topK: Int = 10, grid: Double = 1e6): Bm25State =
    new Bm25State(MultiBm25State.restore(
      spark, path, Seq("q" -> qterms), nBuckets, topK, grid), qterms)
}
