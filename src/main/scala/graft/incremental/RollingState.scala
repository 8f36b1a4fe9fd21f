package graft.incremental

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.core.ZSetFrame

/** Incremental LINEAR rolling-window aggregate over a TIME-CHUNKED spine —
  * the Spark rendition of the reference's radix-tree rolling aggregate
  * (reference: crates/dbsp/src/operator/time_series/radix_tree/mod.rs:1-60,
  * rolling_aggregate.rs:235): alongside the event spine it maintains
  * per-(key, time-chunk) SUM/COUNT partials, and a step ASSEMBLES each
  * affected row's frame value from full-chunk partials plus two edge-chunk
  * scans — no window sort over the restricted range at all.
  *
  * Layout: both states are `KeyedState`s keyed by (key, chunk) where
  * chunk = floorDiv(ts, chunkLen) — the radix tree's level-0 time index
  * realized through the existing hash-bucket machinery, so a step's reads
  * prune BY TIME as well as by key: data touched per step is
  * O(touched keys × frame-adjacent chunks), independent of how long the
  * keys' histories grow. (A plain key-partitioned trace re-reads a bucket
  * that grows with history; a (key, chunk) bucket doesn't.)
  *
  * The step computes the output delta DIRECTLY (no old-vs-new window
  * recompute): over the affected span [lo, hi + horizon],
  *   F_new(k, t)  — assembled from partials + edge rows (post-merge logic
  *                  built lazily from pre-merge views + the stable Δ);
  *   F_old(k, t)  =  F_new(k, t) − D(k, t), D = the delta's own
  *                   contribution to the frame (a join against tiny Δ);
  *   emitted      =  rows_new·F_new − rows_old·F_old, rows_old =
  *                   rows_new − Δ restricted to the span.
  * Rows outside the span cancel exactly (their frames see no delta) — the
  * same argument that makes `aggStep.restrictTo` exact. Assembled frames
  * are EXACT (edge chunks are read down to t − horizon), so no
  * truncation-cancellation is even needed.
  *
  * JOB SHAPE (the per-step action floor, VERDICT r9 #4): the two state
  * merges (spine append segment, partials segment) run as a side task
  * CONCURRENTLY with the output-assembly action; a step whose delta the
  * pin rule proves stable (`Pinned.isStable`) pays ONE sequential Spark
  * action, any other delta one eager pin first. All bucket ids are
  * computed driver-side from caller-supplied CDC metadata (the keys and
  * time span that DEFINE the batch) — no discovery job.
  *
  * The value column must be a caller-scaled LONG (the q06/q36 decimal×10⁴
  * idiom) so partials and assembly stay integer-exact. The maintained pair
  * is (cnt, vsum) = (Σ w, Σ w·v) over [t − horizon, t]; callers derive
  * avg etc. IncrementalSpec gates step-assembled outputs against a
  * from-scratch window recompute on every prefix of a mixed
  * insert/retract sequence. */
final class RollingLinearState(init: ZSetFrame, keyCol: String, tsCol: String,
                               valCol: String, horizon: Long, chunkLen: Long,
                               nBuckets: Int,
                               sortRowsMax: Long = RollingLinearState.DefaultSortRowsMax) {
  require(horizon > 0 && chunkLen > 0, "horizon and chunkLen must be positive")
  private val CH = "__chunk"
  private val spark = init.spark

  /** floorDiv as a Column — INTEGRAL division (code-review r15): Spark's
    * Column `/` is Divide, which casts both Long operands to DOUBLE; for
    * |ts| beyond 2^53 (nanosecond epochs are ~1.7e18) the numerator itself
    * rounds in double and the computed chunk diverges from the exact
    * driver-side Math.floorDiv that bucketsFor/dBuckets use — making
    * knownTouched under-inclusive, which KeyedState refuses (the step
    * fails). IntegralDivide on the pmod-floored numerator is
    * exact over the full Long range (numerator divisible by chunkLen, and
    * pmod's non-negative remainder turns truncation into floor). */
  private def chunkOf(ts: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.IntegralDivide
    ColumnBridge.column(IntegralDivide(
      ColumnBridge.expression(ts - pmod(ts, lit(chunkLen))),
      ColumnBridge.expression(lit(chunkLen)),
      evalMode = org.apache.spark.sql.catalyst.expressions.EvalMode.LEGACY
    )).cast("long")
  }

  private val dataCols: Seq[String] = init.dataCols.toSeq
  require(Seq(keyCol, tsCol, valCol).forall(dataCols.contains),
    s"init must carry $keyCol/$tsCol/$valCol")
  // HARD TYPE CONTRACT (ADVICE r10): bucketsFor routes buckets through
  // KeyedState.bucketOfLongs, which reproduces SQL hash() ONLY for LongType
  // columns. A caller handing touchedKeys with e.g. an IntegerType key would
  // make knownTouched under-inclusive (KeyedState refuses it, but only
  // mid-stream, when a step's rows first hash elsewhere). Fail at
  // construction instead; the
  // value column must be Long anyway (caller-scaled integer sums) and the
  // chunk column is derived as long from a long ts.
  locally {
    import org.apache.spark.sql.types.LongType
    val schema = init.df.schema
    Seq(keyCol, tsCol, valCol).foreach { c =>
      require(schema(c).dataType == LongType,
        s"graft: RollingLinearState requires LongType $c (driver-side bucket " +
          s"routing mirrors SQL hash() for longs only); got ${schema(c).dataType}")
    }
  }

  private def withChunk(z: ZSetFrame): ZSetFrame =
    z.withColumn(CH, chunkOf(col(tsCol)))

  /** Event spine, keyed (key, chunk): spine-append merges, chunk-pruned
    * reads. */
  private val spine = new KeyedState(Seq(keyCol, CH), nBuckets,
    withChunk(Incremental.emptyLike(init)))

  /** Per-(key, chunk) partials (cnt, vsum), physically-unique rows. */
  private val partials = new KeyedState(Seq(keyCol, CH), nBuckets,
    ZSetFrame.fromDelta(
      spark.range(0).select(col("id").as(keyCol), col("id").as(CH),
        col("id").as("p_cnt"), col("id").as("p_vsum"),
        col("id").as(ZSetFrame.W))))

  /** Pinned per-step frames (Δ checkpoint) pending release — same two-step
    * deferral as KeyedState's retired segments. */
  private val retireQ = new RetireQueue[DataFrame](Pinned.release)

  def close(): Unit = {
    retireQ.close()
    spine.close()
    partials.close()
  }

  private def floorDiv(a: Long, b: Long): Long = Math.floorDiv(a, b)

  /** Bucket ids of (key × chunk-range) pairs, driver-side. */
  private def bucketsFor(keys: Seq[Long], cLo: Long, cHi: Long): Seq[Int] =
    (for (k <- keys; c <- cLo to cHi)
      yield KeyedState.bucketOfLongs(Seq(k, c), nBuckets)).distinct.sorted

  /** The integrated event set (read-out / testing; scans everything). */
  def snapshot: ZSetFrame =
    spine.snapshot.consolidate.select(dataCols.map(col): _*)

  /** WATERMARK GC, chunk-aligned (the reference's watermark-driven rolling
    * variant, time_series/rolling_aggregate.rs:155-220 + watermark.rs:33):
    * drop every spine event and partials cell whose time chunk lies
    * ENTIRELY below `watermark − horizon` — no future step with
    * `lo ≥ watermark` can read them (frames reach back exactly `horizon`),
    * and the cut is on whole chunks so spine edge scans and per-chunk
    * partials stay mutually consistent. CONTRACT: after gcBefore(w), every
    * subsequent step must have lo ≥ w (the standard watermark lateness
    * bound — later-than-allowed data would assemble against truncated
    * state). Cost is one O(live state) rewrite per call (KeyedState.compact
    * with a retention predicate); continuous deployments call it on a
    * periodic cadence so the per-step amortized cost is O(state/period),
    * the fueled-spine GC economics. The adaptive-strategy stats are
    * re-based on the survivors by one aggregate riding the same pass. */
  def gcBefore(watermark: Long): Unit = {
    val cut = floorDiv(watermark - horizon, chunkLen)
    spine.compact(Some(col(CH) >= cut))
    partials.compact(Some(col(CH) >= cut))
    chunkLoSeen = math.max(chunkLoSeen, cut)
    val r = partials.snapshot.df.agg(
      coalesce(sum(col("p_cnt")), lit(0L)), count(lit(1))).head()
    rowsNet = r.getLong(0)
    cellsOccupied = r.getLong(1)
  }

  // ---- driver-side adaptive-strategy statistics (exact, maintained on the
  // merge task from the partials merge's own pruned views — zero jobs on
  // the step's critical path, zero driver-side key sets). rowsNet is the
  // partials state's Σ p_cnt (= spine row count net of retractions);
  // cellsOccupied its row count (= occupied (key, chunk) cells). The
  // strategy bound needs only their ratio (average cell occupancy) and the
  // ingested time extent, all O(1) driver state — the allPairsMax
  // discipline of Recursive.scc applied to rolling (reference:
  // time_series/rolling_aggregate.rs:235 — the operator picks its tree
  // strategy internally; callers never choose).
  @volatile private var rowsNet = 0L
  @volatile private var cellsOccupied = 0L
  private var chunkLoSeen = Long.MaxValue
  private var chunkHiSeen = Long.MinValue
  /** Strategy the last Auto step actually took (None before any Auto step) —
    * exposed so specs/fixtures can assert both regimes were exercised. */
  @volatile var lastChoseSort: Option[Boolean] = None

  /** The per-step strategy bound: estimated restricted-row count the SORT
    * path would window-sort, from exact driver-side stats. Sparse steps
    * read at most |keys| × frame-adjacent chunks occupied cells; dense
    * steps read the time-uniform share of all occupied cells. The estimate
    * deliberately errs toward SORT (cells counted as occupied may be
    * empty), matching the measured local floors: the sort path wins on
    * stage-barrier count until the restricted range is big enough that
    * sorting it dominates — `sortRowsMax` is that measured crossover. */
  private def estimatedSortRows(touchedKeys: Option[Seq[Long]],
                                lo: Long, hi: Long): Double = {
    val readChunks =
      floorDiv(hi + horizon, chunkLen) - floorDiv(lo - horizon, chunkLen) + 1
    val avgCell =
      if (cellsOccupied > 0) rowsNet.toDouble / cellsOccupied else 0.0
    val totalChunks =
      if (chunkHiSeen >= chunkLoSeen) chunkHiSeen - chunkLoSeen + 1 else 1L
    val cellsRead = touchedKeys match {
      case Some(ks) => math.min(ks.size.toDouble * readChunks, cellsOccupied.toDouble)
      case None => cellsOccupied.toDouble *
        math.min(1.0, readChunks.toDouble / totalChunks)
    }
    cellsRead * avgCell
  }

  /** BULK LOAD: apply `delta` to the STATE ONLY — spine append + partials
    * replace + adaptive stats, no output assembly. This is the bootstrap
    * path a deployment uses to prime a rolling state from historical data
    * whose window outputs are not wanted (and what the step-bench seeds
    * use: a seed's output assembly over the whole corpus was the tier's
    * single most expensive job, VERDICT r15 #1). The post-ingest state is
    * bit-identical to `step`'s — both run [[admit]] and [[mergeDelta]] —
    * so subsequent `step` calls emit exactly what they would after an
    * output-producing load of the same data. */
  def ingest(delta: ZSetFrame, lo: Long, hi: Long,
             touchedKeys: Option[Seq[Long]]): Unit = {
    val (d, dBuckets) = admit(delta, lo, hi, touchedKeys)
    chunkLoSeen = math.min(chunkLoSeen, floorDiv(lo, chunkLen))
    chunkHiSeen = math.max(chunkHiSeen, floorDiv(hi, chunkLen))
    mergeDelta(d, dBuckets, withStats = true)
  }

  /** A step's delta, chunk-aligned and — unless the pin rule proves it
    * stable — eagerly pinned, with the buckets it touches: the spine merge,
    * the partials merge and the output assembly all read it, the merges
    * concurrently with the assembly, so every reader must see the same
    * rows. */
  private def admit(delta: ZSetFrame, lo: Long, hi: Long,
                    touchedKeys: Option[Seq[Long]]): (ZSetFrame, Seq[Int]) = {
    retireQ.advance()
    val aligned = withChunk(ZSetFrame.fromDelta(
      delta.df.select((dataCols :+ ZSetFrame.W).map(col): _*)))
    val d = Pinned.stabilized(aligned, eager = true)(c => retireQ.retire(c.df))
    val dBuckets = touchedKeys.fold[Seq[Int]](0 until nBuckets)(ks =>
      bucketsFor(ks, floorDiv(lo, chunkLen), floorDiv(hi, chunkLen)))
    (d, dBuckets)
  }

  /** Merge the aligned delta `d` into the state: the partials delta
    * (linear, O(Δ): −old +new per touched (k, chunk), from the PRE-merge
    * partials view), the partials merge, the adaptive stats when
    * `withStats`, then the spine append.
    *
    * The partials merge REPLACES (consolidates) its touched buckets — an
    * O(touched bucket) shuffle, but one that keeps rows physically unique
    * and the per-step plan width constant. The append-mode alternative was
    * measured and rejected: O(Δ) merges, but every step leaves another
    * segment in the view union, and the growing plan width cost more at the
    * step floor than the consolidation it saved. The consolidation term
    * scales with bucket SIZE, a deployment constant (partition count ∝
    * state, Spark's own sizing rule — see STEPBENCH.md radix notes).
    *
    * The stats are two aggregates over the PRUNED touched views (co-bucketed
    * untouched cells appear in both and cancel) — exact global rowsNet /
    * cellsOccupied maintenance. */
  private def mergeDelta(d: ZSetFrame, dBuckets: Seq[Int],
                         withStats: Boolean): Unit = {
    val dAgg = d.df.groupBy(col(keyCol), col(CH))
      .agg(sum(col(ZSetFrame.W)).as("d_cnt"),
        sum(col(valCol) * col(ZSetFrame.W)).as("d_vsum"))
    val oldP = partials.view(dBuckets).consolidate.df
      .select(col(keyCol), col(CH), col("p_cnt"), col("p_vsum"))
    val joinedP = dAgg.join(oldP, Seq(keyCol, CH), "left_outer")
    val newRows = joinedP.select(col(keyCol), col(CH),
      (coalesce(col("p_cnt"), lit(0L)) + col("d_cnt")).as("p_cnt"),
      (coalesce(col("p_vsum"), lit(0L)) + col("d_vsum")).as("p_vsum"),
      lit(1L).as(ZSetFrame.W))
    val retractRows = joinedP.where(col("p_cnt").isNotNull)
      .select(col(keyCol), col(CH), col("p_cnt"), col("p_vsum"),
        lit(-1L).as(ZSetFrame.W))
    val pDelta = ZSetFrame.fromDelta(
      newRows.where(col("p_cnt") =!= 0L || col("p_vsum") =!= 0L)
        .unionByName(retractRows))
    val (oldT, newT) = partials.merge(pDelta, Some(dBuckets))
    if (withStats) {
      def stats(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
        val r = df.agg(coalesce(sum(col("p_cnt")), lit(0L)),
          count(lit(1))).head()
        (r.getLong(0), r.getLong(1))
      }
      val (oSum, oCnt) = stats(oldT.df)
      val (nSum, nCnt) = stats(newT.df)
      rowsNet += nSum - oSum
      cellsOccupied += nCnt - oCnt
    }
    spine.merge(d, Some(dBuckets), append = true)
  }

  /** One step: apply `delta` (cols = init's data cols + weight; event times
    * within [lo, hi]; keys within `touchedKeys` — CDC batch metadata;
    * `touchedKeys = None` declares a DENSE batch touching every key, so
    * bucket pruning degrades to the chunk filter alone) and return the
    * output delta: rows (data cols, cnt, vsum) with Z-set weights whose
    * running sum tracks the batch rolling aggregate. Eagerly materialized.
    *
    * STRATEGY (Auto, the default): the OUTPUT assembly picks per step
    * between two exact plans over the same chunk-pruned views —
    *   SORT: one weighted window pass over the restricted range (3 stage
    *     barriers; wins at local floors while the restricted range is
    *     small, because the per-step cost there is barrier count, not
    *     rows);
    *   RADIX: frame values assembled from per-chunk partials + edge scans
    *     (no sort at all; wins when the restricted range is large — its
    *     cost follows targets × frame-chunks, independent of how dense
    *     the frames are).
    * The choice is internal, from `estimatedSortRows` vs the measured
    * `sortRowsMax` crossover; both paths are oracle-certified and
    * IncrementalSpec asserts they agree step-for-step. ForceSort/ForceRadix
    * exist for measurement harnesses (step_bench tracks) and specs.
    * State maintenance (spine append + partials replace) is identical
    * under every strategy. */
  /** DELTA PINS: the merge task and the output job evaluate the delta
    * CONCURRENTLY, so a plan that re-evaluates to different rows (rand(), a
    * table being written) would silently diverge spine, partials and
    * emitted output from each other. The engine pins exactly the deltas
    * the pin rule (`Pinned.isStable`) cannot prove stable; a delta that is
    * already materialized, or a deterministic plan over pinned data, is
    * read as it is. */
  def step(delta: ZSetFrame, lo: Long, hi: Long,
           touchedKeys: Option[Seq[Long]],
           strategy: RollingLinearState.Strategy = RollingLinearState.Auto): ZSetFrame = {
    val C = chunkLen
    val (d, dBuckets) = admit(delta, lo, hi, touchedKeys)
    val all: Seq[Int] = 0 until nBuckets

    // strategy decision BEFORE this step's stats update (the stats describe
    // the pre-step state, which is what the restricted read covers)
    val useSort = strategy match {
      case RollingLinearState.ForceSort => true
      case RollingLinearState.ForceRadix => false
      case RollingLinearState.Auto =>
        val s = estimatedSortRows(touchedKeys, lo, hi) <= sortRowsMax
        lastChoseSort = Some(s)
        s
    }
    chunkLoSeen = math.min(chunkLoSeen, floorDiv(lo, C))
    chunkHiSeen = math.max(chunkHiSeen, floorDiv(hi, C))

    // ---- affected span + pre-merge spine view (assembly inputs)
    val (spanLo, spanHi) = (lo, hi + horizon)           // outputs that can change
    val (readLo, readHi) = (lo - horizon, hi + horizon) // frame inputs they read
    val readBuckets = touchedKeys.fold(all)(ks =>
      bucketsFor(ks, floorDiv(readLo, C), floorDiv(readHi, C)))
    val kSet = touchedKeys.fold(lit(true))(ks => col(keyCol).isin(ks: _*))
    val inRead = kSet && col(tsCol).between(readLo, readHi)
    // PRE-merge views, captured before the merge task starts (the merge
    // installs new segments; these views stay valid through it — the
    // KeyedState lifecycle contract — but a view taken AFTER the merge
    // would already include the delta and double-count)
    val sOldView = spine.view(readBuckets).where(inRead)
    val pOldView = partials.view(readBuckets).df.where(kSet)

    // ---- both state merges as a side task, concurrent with assembly
    // (the stats ride the merge task, off the critical path; forced-
    // strategy callers — measurement harnesses — skip them). The state is
    // never left half-stepped: the merges are awaited even when the
    // assembly fails.
    StepTasks.output("rolling-merge" -> (() =>
        mergeDelta(d, dBuckets, withStats = strategy == RollingLinearState.Auto))) {
      // Both output paths below are built LAZILY from pre-merge views + the
      // stable Δ and exploit WEIGHT LINEARITY end-to-end: no intermediate
      // consolidation anywhere — weight-split spine duplicates and the
      // partials' −old/+new delta rows sum out inside the final aggregates,
      // so the only shuffles are the ones the plan semantically needs.
      val out0 =
        if (useSort) {
          // ---- SORT PATH: one weighted window pass over the restricted
          // range. U carries each row's total weight W and its OLD-side
          // weight __wo (0 for delta rows); a single window computes the
          // post-merge frame sums (Σ W, Σ v·W) and the pre-merge sums
          // (Σ __wo, Σ v·__wo) together, and each row emits its +new and
          // −old output in one generator — 3 stage barriers total (window
          // exchange, inline, final consolidate), the measured local floor.
          import org.apache.spark.sql.expressions.Window
          val wspec = Window.partitionBy(keyCol).orderBy(col(tsCol))
            .rangeBetween(-horizon, 0L)
          val U = sOldView.df.select(
              dataCols.map(col) :+ col(ZSetFrame.W) :+
                col(ZSetFrame.W).as("__wo"): _*)
            .unionByName(d.where(inRead).df.select(
              dataCols.map(col) :+ col(ZSetFrame.W) :+ lit(0L).as("__wo"): _*))
          U.withColumn("__cn", sum(col(ZSetFrame.W)).over(wspec))
            .withColumn("__vn", sum(col(valCol) * col(ZSetFrame.W)).over(wspec))
            .withColumn("__co", sum(col("__wo")).over(wspec))
            .withColumn("__vo", sum(col(valCol) * col("__wo")).over(wspec))
            .where(col(tsCol).between(spanLo, spanHi))
            .select(dataCols.map(col) :+ inline(array(
              struct(col("__cn").as("cnt"), col("__vn").as("vsum"),
                col(ZSetFrame.W).as(ZSetFrame.W)),
              struct(col("__co").as("cnt"), col("__vo").as("vsum"),
                (-col("__wo")).as(ZSetFrame.W)))): _*)
            .where(col(ZSetFrame.W) =!= 0L)
        } else {
          // ---- RADIX PATH: frames assembled from per-chunk partials +
          // edge scans, no window sort. S is the post-merge restricted
          // spine (old view ⊎ Δ, NOT consolidated — every consumer below
          // is weight-linear).
          val S = sOldView + d.where(inRead)
          val inSpan = col(tsCol).between(spanLo, spanHi)
          // Anchors: one aggregation yields each span row's post-merge
          // weight __wn and its delta weight __dw (old weight = __wn−__dw);
          // rows fully retracted by Δ survive with __wn=0, __dw≠0 — they
          // still need their −old output.
          val A = sOldView.df.where(inSpan).select(
              dataCols.map(col) :+ col(ZSetFrame.W).as("__wn") :+
                lit(0L).as("__dw"): _*)
            .unionByName(d.df.where(inSpan).select(
              dataCols.map(col) :+ col(ZSetFrame.W).as("__wn") :+
                col(ZSetFrame.W).as("__dw"): _*))
            .groupBy(dataCols.map(col): _*)
            .agg(sum("__wn").as("__wn"), sum("__dw").as("__dw"))
            .where(col("__wn") =!= 0L || col("__dw") =!= 0L)
          // ANCHOR-KEYED assembly: the consolidated anchors themselves are
          // the frame targets — every contribution row carries the full
          // anchor payload (dataCols, __wn, __dw) and ONE aggregation folds
          // each anchor's frame directly. This removes the former separate
          // target-distinct shuffle AND the re-anchor join: anchors sharing
          // a (k, t) recompute the same frame (each joins its own chunk
          // rows), which duplicates lookup work only by co-timestamp
          // multiplicity — trivially bounded in event data — while cutting
          // two stage barriers from every step.
          val T = A
            .withColumn("__clo", chunkOf(col(tsCol) - horizon))
            .withColumn("__chi", chunkOf(col(tsCol)))
          // post-merge partials over the read window as CONTRIBUTION rows:
          // pre-merge view contributions ⊎ the delta's OWN rows as per-row
          // increments — post-merge p_cnt = old + Σ delta weights, and F
          // only ever SUMS contributions, so the delta needs no
          // pre-aggregation and no join against the old partials here
          // (pDelta's −old/+new form exists solely for the state merge on
          // the side task). This keeps the whole partials-lookup branch
          // exchange-free: two pruned scans under one equi-join.
          val P = pOldView.select(col(keyCol), col(CH),
              (col("p_cnt") * col(ZSetFrame.W)).as("__pc"),
              (col("p_vsum") * col(ZSetFrame.W)).as("__pv"))
            .unionByName(d.df.where(kSet && col(CH).between(
                floorDiv(readLo, C), floorDiv(readHi, C)))
              .select(col(keyCol), col(CH),
                col(ZSetFrame.W).as("__pc"),
                (col(valCol) * col(ZSetFrame.W)).as("__pv")))
          // EQUI-join shape (not a band join): each frame target explodes
          // into its frame's chunk ids — ≤ horizon/chunkLen + 1 rows each —
          // and both lookups become plain (key, chunk) equi-joins. A band
          // join (key equality + chunk range) degenerates per-key-quadratic
          // on dense keys; the explode bounds work at |T| · (H/C)
          // regardless of key density — the shape that survives hot keys.
          // ONE-PASS assembly: all three lookups (full-chunk partials,
          // edge-row scans, the delta's own contribution) emit CONTRIBUTION
          // rows folded by a single aggregation.
          // full chunks strictly inside the frame → partial sums (sequence
          // flips to DESCENDING when start > stop, so guard the empty case)
          val anchorCols = dataCols.map(col) ++ Seq(col("__wn"), col("__dw"))
          val fullChunks = when(col("__clo") + 1 <= col("__chi") - 1,
            sequence(col("__clo") + 1, col("__chi") - 1))
            .otherwise(array().cast("array<bigint>"))
          val fullRows = T
            .withColumn(CH, explode(fullChunks))
            .join(P, Seq(keyCol, CH))
            .select(anchorCols ++ Seq(col("__pc").as("c1"),
              col("__pv").as("v1"), lit(0L).as("c2"), lit(0L).as("v2")): _*)
          // edge chunks (the two frame boundaries) → row scans, chunk-pruned
          val E = S.df.select(col(keyCol), col(tsCol).as("__ets"), col(CH),
            col(valCol).as("__ev"), col(ZSetFrame.W).as("__ew"))
          val edgeRows = T
            .withColumn(CH, explode(when(col("__clo") === col("__chi"),
                array(col("__clo"))).otherwise(array(col("__clo"), col("__chi")))))
            .join(E, Seq(keyCol, CH))
            .where(col("__ets").between(col(tsCol) - horizon, col(tsCol)))
            .select(anchorCols ++ Seq(col("__ew").as("c1"),
              (col("__ev") * col("__ew")).as("v1"),
              lit(0L).as("c2"), lit(0L).as("v2")): _*)
          // the delta's own frame contribution (for F_old = F_new − D).
          // NO broadcast hint: a steady-state delta is tiny and AQE converts
          // the join to broadcast at runtime anyway, but seed/dense batches
          // (q85's first batch, runRadix's 50M-row seed) are the WHOLE
          // table — a forced broadcast would collect them to the driver and
          // ship them to every executor, the unbounded-broadcast failure
          // mode at scale
          val dd = d.df.select(col(keyCol).as("dk"),
            col(tsCol).as("__dts"), col(valCol).as("__dv"),
            col(ZSetFrame.W).as("__dw2"))
          val contribRows = T.join(dd,
              T(keyCol) === col("dk") &&
                col("__dts").between(T(tsCol) - horizon, T(tsCol)))
            .select((dataCols ++ Seq("__wn", "__dw")).map(n => T(n)) ++ Seq(
              lit(0L).as("c1"), lit(0L).as("v1"),
              col("__dw2").as("c2"), (col("__dv") * col("__dw2")).as("v2")): _*)
          // zero row per anchor: guarantees every anchor survives the fold
          // even with an empty frame interior and no edge/delta rows
          val zeroRows = T.select(anchorCols ++ Seq(lit(0L).as("c1"),
            lit(0L).as("v1"), lit(0L).as("c2"), lit(0L).as("v2")): _*)
          // each group below IS one anchor (A's groupBy made dataCols
          // unique; __wn/__dw are its aggregates) — the fold emits both
          // output rows per anchor from a single generator: +new (F_new,
          // weight __wn) and −old (F_new − D, weight −(__wn−__dw)). The
          // former separate target shuffle, re-anchor join, and Z-set
          // minus all live inside this one aggregation.
          fullRows.unionByName(edgeRows).unionByName(contribRows)
            .unionByName(zeroRows)
            .groupBy(dataCols.map(col) ++ Seq(col("__wn"), col("__dw")): _*)
            .agg(sum(col("c1")).as("cnt"), sum(col("v1")).as("vsum"),
              sum(col("c2")).as("d_cnt"), sum(col("v2")).as("d_vsum"))
            .select(dataCols.map(col) :+ inline(array(
              struct(col("cnt").as("cnt"), col("vsum").as("vsum"),
                col("__wn").as(ZSetFrame.W)),
              struct((col("cnt") - col("d_cnt")).as("cnt"),
                (col("vsum") - col("d_vsum")).as("vsum"),
                (col("__dw") - col("__wn")).as(ZSetFrame.W)))): _*)
            .where(col(ZSetFrame.W) =!= 0L)
        }
      // the emitted delta is a valid (UN-consolidated) Z-set: rows whose
      // frame the step did not change appear as exactly-cancelling ±pairs
      // rather than being consolidated away here — consumers consolidate
      // where physical uniqueness matters (q85 does, the spec oracle does),
      // and dropping the per-step consolidate removes a whole exchange +
      // stage barrier from every step's critical path
      ZSetFrame.fromDelta(out0).localCheckpoint(eager = true)
    }
  }
}

object RollingLinearState {
  /** Output-assembly strategy (see `step`). Auto is the contract; the
    * forced variants exist for measurement harnesses and spec gates. */
  sealed trait Strategy
  case object Auto extends Strategy
  case object ForceSort extends Strategy
  case object ForceRadix extends Strategy

  /** Measured local crossover for the Auto bound: below this estimated
    * restricted-row count the windowed sort's 3-barrier plan beats the
    * radix assembly's join fan; above it the sort dominates the step.
    * Deployments tune it like shuffle.partitions — it is a cluster
    * constant, not data-dependent. */
  val DefaultSortRowsMax = 2000000L
}
