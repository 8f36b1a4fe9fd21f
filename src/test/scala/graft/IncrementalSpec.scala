package graft

import org.apache.spark.sql.functions._
import graft.core.ZSetFrame
import graft.incremental.Incremental

/** The central DBSP law: accumulate(incremental(op, deltas)) == batch(op,
  * accumulate(deltas)) — the reference's `*_slow` proptest pattern
  * (reference: time_series/rolling_aggregate.rs:608-960) over random delta
  * sequences with retractions. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  /** Random delta: rows (k, v, w) with w in −2..2 (no zero). */
  private def randomDelta(rnd: scala.util.Random, n: Int): ZSetFrame = {
    val rows = Seq.fill(n) {
      val w = { val x = rnd.nextInt(4) - 2; if (x >= 0) x + 1 else x }
      (rnd.nextInt(5).toLong, rnd.nextInt(8).toLong, w.toLong)
    }
    ZSetFrame.fromDelta(rows.toDF("k", "v", ZSetFrame.W))
  }

  test("incremental distinct ≡ batch distinct over random delta sequences") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed)
      val deltas = Seq.fill(3)(randomDelta(rnd, 12))
      val in = new Incremental.State(Incremental.emptyLike(deltas.head))
      val out = new Incremental.State(Incremental.emptyLike(deltas.head))
      deltas.foreach { d =>
        val old = in.acc
        in.update(d)
        out.update(Incremental.distinctDelta(old, in.acc))
      }
      assertSameRows(out.acc.consolidate.df, in.acc.distinctZ.df)
    }
  }

  test("incremental join ≡ batch join over random delta sequences") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 100)
      val (das, dbs) = (Seq.fill(3)(randomDelta(rnd, 10)),
        Seq.fill(3)(randomDelta(rnd, 10).select(col("k"), col("v").as("v2"))))
      val aSt = new Incremental.State(Incremental.emptyLike(das.head))
      val bSt = new Incremental.State(Incremental.emptyLike(dbs.head))
      val out = new Incremental.State(Incremental.emptyLike(das.head.join(dbs.head, Seq("k"))))
      das.zip(dbs).foreach { case (dA, dB) =>
        val bOld = bSt.acc
        aSt.update(dA)
        val d = Incremental.joinDelta(dA, bOld, aSt.acc, dB, Seq("k"))
        bSt.update(dB)
        out.update(d)
      }
      assertSameRows(out.acc.consolidate.df,
        aSt.acc.join(bSt.acc, Seq("k")).consolidate.df)
    }
  }

  test("incremental linear agg ≡ batch weighted sum") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 200)
      val deltas = Seq.fill(3)(randomDelta(rnd, 12))
      val out = new Incremental.State(Incremental.emptyLike(
        deltas.head.select(col("k"))))
      val in = new Incremental.State(Incremental.emptyLike(deltas.head))
      deltas.foreach { d =>
        in.update(d)
        out.update(Incremental.linearAggDelta(d, Seq(col("k")), col("v")))
      }
      val batch = in.acc.df.groupBy("k")
        .agg(sum(col("v") * col(ZSetFrame.W)).as("s"))
        .where(col("s") =!= 0)
      val inc = out.acc.df.select(col("k"), col(ZSetFrame.W).as("s"))
      assertSameRows(inc, batch)
    }
  }

  test("generalAggDelta maintains NULL-key groups (null-safe restriction)") {
    // code-review r15: groupBy treats NULL as a group, but a plain
    // left_semi equi-join (NULL != NULL) excluded the null-key group from
    // both restricted sides - no delta was emitted for it and the
    // incremental output diverged from the batch answer permanently.
    def z(rows: Seq[(java.lang.Long, Long, Long)]) = ZSetFrame.fromDelta(
      rows.toDF("k", "v", ZSetFrame.W))
    def aggFn(zf: ZSetFrame): ZSetFrame =
      zf.aggregate(Seq(col("k")), expandWeights = false,
        max(col("v")).as("mx"), count(lit(1)).as("n"))
    val deltas = Seq(
      z(Seq((1L, 10L, 1L), (null, 5L, 1L))),       // null group born
      z(Seq((null, 9L, 1L), (2L, 3L, 1L))),        // null group grows
      z(Seq((null, 5L, -1L))))                     // null group shrinks
    val in = new Incremental.State(Incremental.emptyLike(deltas.head))
    val out = new Incremental.State(Incremental.emptyLike(aggFn(deltas.head)))
    deltas.foreach { d =>
      val old = in.acc
      in.update(d)
      out.update(Incremental.generalAggDelta(d, old, in.acc, Seq("k"))(aggFn))
    }
    assertSameRows(out.acc.consolidate.df, aggFn(in.acc).df)
  }

  test("RollingLinearState is exact for timestamps beyond 2^53 (integral chunk ids)") {
    // code-review r15: Column `/` casts Long to DOUBLE, so for |ts| > 2^53
    // (nanosecond epochs ~1.7e18) the computed __chunk diverged from the
    // exact driver-side Math.floorDiv used for bucket spans - knownTouched
    // went under-inclusive and rows were silently dropped. chunkOf now
    // uses IntegralDivide (exact over the full Long range).
    import graft.incremental.{Incremental, RollingLinearState}
    val base = (1L << 61) // ~2.3e18, double-rounds by ~256 at this scale
    val horizon = 1000L
    def rows(ts: Seq[Long], w: Long) = ts.map(t => (7L, t, 1L, w))
    def z(rs: Seq[(Long, Long, Long, Long)]) = ZSetFrame.fromDelta(
      rs.toDF("k", "ts", "v", ZSetFrame.W))
    val empty = Incremental.emptyLike(z(rows(Seq(base), 1L)))
    val st = new RollingLinearState(empty, "k", "ts", "v",
      horizon, horizon / 4, 8, sortRowsMax = 100L)
    val acc = new Incremental.State(Incremental.emptyLike(ZSetFrame.fromDelta(
      z(rows(Seq(base), 1L)).df.select(col("k"), col("ts"), col("v"),
        lit(1L).as("cnt"), lit(1L).as("vsum"), col(ZSetFrame.W)))))
    val steps = Seq(
      rows(Seq(base, base + 300L, base + 900L), 1L),
      rows(Seq(base + 1200L, base + 1600L), 1L),
      rows(Seq(base + 300L), -1L))
    steps.foreach { rs =>
      val d = z(rs)
      val span = rs.map(_._2)
      acc.update(st.step(d, span.min, span.max,
        touchedKeys = None, checkpointDelta = true))
    }
    st.close()
    // batch mirror: per surviving row, count/sum over [ts - horizon, ts]
    val live = Seq(base, base + 900L, base + 1200L, base + 1600L)
    val expected = live.map { t =>
      val in = live.filter(u => u >= t - horizon && u <= t)
      (7L, t, 1L, in.size.toLong, in.size.toLong)
    }
    assertSameRows(acc.acc.consolidate.df,
      ZSetFrame.fromTable(
        expected.toDF("k", "ts", "v", "cnt", "vsum")).df)
  }

  test("incremental rolling aggregate ≡ batch OVER window under random out-of-order deltas") {
    // FIXTURES.md §5 pattern: random (partition, ts, value) deltas with
    // bounded out-of-orderness; invariant = accumulated incremental output
    // equals brute-force window recompute (the *_slow oracle).
    import org.apache.spark.sql.expressions.Window
    for (seed <- 1 to 2) {
      val rnd = new scala.util.Random(seed + 400)
      val all = Seq.tabulate(60) { i =>
        (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(1000).toLong, rnd.nextInt(50).toLong)
      } // (id, pk, ts, v)
      // three deltas, randomly interleaved in time (not ts-ordered)
      val shuffled = rnd.shuffle(all)
      val chunks = shuffled.grouped(20).toSeq
      def z(rows: Seq[(Long, Long, Long, Long)]) =
        ZSetFrame.fromTable(rows.toDF("id", "pk", "ts", "v"))
      def aggFn(zf: ZSetFrame): ZSetFrame = {
        val w = Window.partitionBy("pk").orderBy(col("ts")).rangeBetween(-100L, 0L)
        ZSetFrame.fromTable(zf.toDF
          .withColumn("s", sum("v").over(w)).withColumn("c", count(lit(1)).over(w))
          .select("id", "pk", "s", "c"))
      }
      val in = new Incremental.State(Incremental.emptyLike(z(chunks.head.take(1))))
      val out = new Incremental.State(Incremental.emptyLike(aggFn(z(chunks.head.take(1)))))
      chunks.foreach { c =>
        val old = in.acc
        in.update(z(c))
        out.update(Incremental.generalAggDelta(z(c), old, in.acc, Seq("pk"))(aggFn))
      }
      assertSameRows(out.acc.consolidate.df, aggFn(in.acc).df)
    }
  }

  test("touched-range aggStep (restrictTo) ≡ unrestricted aggStep ≡ batch OVER") {
    // The radix-tree-economics gate (VERDICT r7 #3): restricting the
    // recompute to (touched keys) × (delta ts span ± horizon) must emit
    // the EXACT same delta as recomputing the whole touched bucket — rows
    // whose frames the restriction truncates compute identically on both
    // sides and cancel. State spans ts 0..999 while each delta sits in a
    // narrow band mid-range, so the lower-cut cancellation is exercised
    // (rows in [lo, lo+horizon) have frames reaching below the cut), and
    // retractions of in-band seed rows run through the restricted path.
    import org.apache.spark.sql.expressions.Window
    import graft.incremental.KeyedState
    val horizon = 100L
    def aggFn(zf: ZSetFrame): ZSetFrame = {
      val w = Window.partitionBy("k").orderBy(col("ts")).rangeBetween(-horizon, 0L)
      ZSetFrame.fromTable(zf.toDF
        .withColumn("s", sum("v").over(w)).withColumn("c", count(lit(1)).over(w))
        .select("id", "k", "s", "c"))
    }
    val rnd = new scala.util.Random(7400)
    val seedRows = Seq.tabulate(300) { i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong,
        rnd.nextInt(50).toLong)
    } // (id, k, ts, v)
    def z(rows: Seq[(Long, Long, Long, Long, Long)]) =
      ZSetFrame.fromDelta(rows.toDF("id", "k", "ts", "v", ZSetFrame.W))
    val seed = z(seedRows.map { case (i, k, t, v) => (i, k, t, v, 1L) })
    val stR = new KeyedState(Seq("k"), 8, Incremental.emptyLike(seed))
    val stU = new KeyedState(Seq("k"), 8, Incremental.emptyLike(seed))
    // spine-APPEND state: deltas land as segments, consolidation happens on
    // the restricted read; compactEvery=2 forces mid-run spine collapses so
    // both the chained and the freshly-compacted representations are hit
    val stA = new KeyedState(Seq("k"), 8, Incremental.emptyLike(seed),
      compactEvery = 2)
    val accIn = new Incremental.State(Incremental.emptyLike(seed))
    val accOut = new Incremental.State(Incremental.emptyLike(aggFn(seed)))
    def step(d: ZSetFrame, restrict: Option[org.apache.spark.sql.Column]): Unit = {
      val dR = stR.aggStep(d, restrictTo = restrict)(aggFn)
      val dU = stU.aggStep(d)(aggFn)
      val dA = stA.aggStep(d, restrictTo = restrict, append = true)(aggFn)
      assertSameRows(dR.consolidate.df, dU.consolidate.df)
      assertSameRows(dA.consolidate.df, dU.consolidate.df)
      accIn.update(d); accOut.update(dR)
    }
    step(seed, None)
    var nextId = 300L
    for (s <- 0 until 3) {
      val band0 = 300L + s * 120L // narrow mid-range time band per step
      val ks = Seq((s * 2L) % 5L, (s * 2L + 1) % 5L)
      val inserts = Seq.tabulate(6) { j =>
        val r = (nextId + j, ks(j % 2), band0 + rnd.nextInt(50).toLong,
          rnd.nextInt(50).toLong, 1L)
        r
      }
      nextId += 6
      // retract seed rows of the touched keys inside the band (in-band
      // retraction through the restricted path)
      val retracts = seedRows.collect {
        case (i, k, t, v) if ks.contains(k) && t >= band0 && t < band0 + 50 =>
          (i, k, t, v, -1L)
      }.take(3)
      val rows = inserts ++ retracts
      val lo = rows.map(_._3).min - horizon
      val hi = rows.map(_._3).max + horizon
      step(z(rows), Some(col("k").isin(ks: _*) && col("ts").between(lo, hi)))
    }
    assertSameRows(accOut.acc.consolidate.df, aggFn(accIn.acc.consolidate).df)
  }

  test("RollingLinearState: partials-assembled steps ≡ batch OVER window") {
    // The radix-assembly gate (VERDICT r9 #5): the time-chunked spine +
    // per-(key, chunk) partials stepper must emit deltas whose running sum
    // equals the brute-force window recompute — across mixed inserts and
    // in-band retractions, with chunkLen BELOW the horizon (frames span
    // full chunks + two edges) and ABOVE it (edge scans only), and with
    // co-chunk key collisions (5 keys × 16 buckets).
    import org.apache.spark.sql.expressions.Window
    import graft.incremental.RollingLinearState
    val horizon = 100L
    val rnd = new scala.util.Random(8400)
    val seedRows = Seq.tabulate(300) { i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong,
        rnd.nextInt(50).toLong)
    } // (id, k, ts, v)
    def z(rows: Seq[(Long, Long, Long, Long, Long)]) =
      ZSetFrame.fromDelta(rows.toDF("id", "k", "ts", "v", ZSetFrame.W))
    def oracle(in: ZSetFrame): org.apache.spark.sql.DataFrame = {
      val w = Window.partitionBy("k").orderBy(col("ts"))
        .rangeBetween(-horizon, 0L)
      in.consolidate.toDF
        .withColumn("cnt", count(lit(1)).over(w))
        .withColumn("vsum", sum("v").over(w))
        .select("id", "k", "ts", "v", "cnt", "vsum")
    }
    // Every strategy must produce the same deltas (the RecursiveSpec
    // both-strategies discipline): ForceSort and ForceRadix are the two
    // exact plans, Auto must pick between them per step — run with a
    // sortRowsMax of 0 rows (every post-seed step sees a non-empty state
    // estimate → radix) and of Long.MaxValue (always sort) plus the default,
    // and additionally assert the auto selector actually flips regimes
    // under a mid-range bound.
    import RollingLinearState.{Auto, ForceRadix, ForceSort, Strategy}
    val strategies: Seq[(Strategy, Long)] = Seq(
      (Auto, RollingLinearState.DefaultSortRowsMax),
      (ForceSort, RollingLinearState.DefaultSortRowsMax),
      (ForceRadix, RollingLinearState.DefaultSortRowsMax),
      (Auto, 0L)) // auto forced into the radix regime by the bound
    for (chunkLen <- Seq(32L, 256L); (strategy, bound) <- strategies) {
      val seed = z(seedRows.map { case (i, k, t, v) => (i, k, t, v, 1L) })
      val st = new RollingLinearState(Incremental.emptyLike(seed),
        "k", "ts", "v", horizon, chunkLen, 16, sortRowsMax = bound)
      val accIn = new Incremental.State(Incremental.emptyLike(seed))
      val accOut = new Incremental.State(ZSetFrame.fromDelta(
        Seq.empty[(Long, Long, Long, Long, Long, Long, Long)]
          .toDF("id", "k", "ts", "v", "cnt", "vsum", ZSetFrame.W)))
      def step(d: ZSetFrame, lo: Long, hi: Long,
               ks: Option[Seq[Long]]): Unit = {
        accIn.update(d)
        accOut.update(st.step(d, lo, hi, ks, strategy = strategy))
      }
      step(seed, 0L, 999L, None) // dense seed batch (the None contract)
      assertSameRows(
        accOut.acc.consolidate.df.select("id", "k", "ts", "v", "cnt", "vsum",
          ZSetFrame.W),
        ZSetFrame.fromTable(oracle(accIn.acc)).df)
      if (strategy == Auto && bound == 0L)
        // empty-state seed estimates 0 sort rows ≤ any bound… except 0 with
        // cells unseen — the seed itself picks sort, later steps radix
        assert(st.lastChoseSort.isDefined)
      var nextId = 300L
      for (s <- 0 until 3) {
        val band0 = 300L + s * 120L
        val ks = Seq((s * 2L) % 5L, (s * 2L + 1) % 5L)
        val inserts = Seq.tabulate(6) { j =>
          (nextId + j, ks(j % 2), band0 + rnd.nextInt(50).toLong,
            rnd.nextInt(50).toLong, 1L)
        }
        nextId += 6
        val retracts = seedRows.collect {
          case (i, k, t, v) if ks.contains(k) && t >= band0 && t < band0 + 50 =>
            (i, k, t, v, -1L)
        }.take(3)
        val rows = inserts ++ retracts
        step(z(rows), rows.map(_._3).min, rows.map(_._3).max, Some(ks))
        // watermark GC mid-sequence (q87's runtime path): chunks wholly
        // below 400−horizon drop from spine+partials; every later step has
        // lo ≥ 420 ≥ wm, so emitted deltas must stay ≡ the full oracle
        if (s == 0 && strategy == Auto) st.gcBefore(400L)
        if (strategy == Auto && bound == 0L)
          // with the zero bound every non-empty-state step must go radix
          assert(st.lastChoseSort.contains(false),
            s"auto step under bound=0 chose sort (state non-empty)")
        if (strategy == Auto && bound == RollingLinearState.DefaultSortRowsMax)
          // tiny sparse steps under the default bound must go sort
          assert(st.lastChoseSort.contains(true),
            s"auto sparse step under default bound chose radix")
      }
      assertSameRows(
        accOut.acc.consolidate.df.select("id", "k", "ts", "v", "cnt", "vsum",
          ZSetFrame.W),
        ZSetFrame.fromTable(oracle(accIn.acc)).df)
      st.close()
    }
    // an ingest-primed seed leaves the state a step-primed seed leaves: the
    // next step emits the same delta and Auto picks the same plan
    val ks = Seq(0L, 1L)
    val next = Seq.tabulate(6)(j => (900L + j, ks(j % 2), 300L + j * 7L, j.toLong, 1L)) ++
      seedRows.collect { case (i, k, t, v) if ks.contains(k) && t >= 300 && t < 350 =>
        (i, k, t, v, -1L) }.take(3)
    for (chunkLen <- Seq(32L, 256L)) {
      val seed = z(seedRows.map { case (i, k, t, v) => (i, k, t, v, 1L) })
      val (sts, outs) = Seq(false, true).map { ingest =>
        val st = new RollingLinearState(Incremental.emptyLike(seed),
          "k", "ts", "v", horizon, chunkLen, 16)
        if (ingest) st.ingest(seed, 0L, 999L, None) else st.step(seed, 0L, 999L, None)
        (st, st.step(z(next), next.map(_._3).min, next.map(_._3).max, Some(ks)))
      }.unzip
      assert(sts(0).lastChoseSort == sts(1).lastChoseSort)
      assertSameRows(outs(0).consolidate.df, outs(1).consolidate.df)
      sts.foreach(_.close())
    }
  }

  test("incremental holistic agg (percentile) ≡ batch under random retractions") {
    // percentiles are not folds — the reference cannot maintain them at
    // all; the touched-bucket recompute must, for any delta sequence
    import graft.incremental.KeyedState
    val rnd = new scala.util.Random(8100)
    val all = Seq.tabulate(120) { i =>
      (i.toLong, rnd.nextInt(3).toLong, rnd.nextInt(1000) / 10.0)
    } // (id, k, v)
    def z(rows: Seq[(Long, Long, Double, Long)]) =
      ZSetFrame.fromDelta(rows.toDF("id", "k", "v", ZSetFrame.W))
    def aggFn(zf: ZSetFrame): ZSetFrame =
      ZSetFrame.fromTable(zf.toDF.groupBy("k")
        .agg(expr("percentile(v, 0.5)").as("p50"),
          expr("percentile(v, 0.9)").as("p90"),
          count(lit(1)).as("n")))
    val seed = z(all.map { case (i, k, v) => (i, k, v, 1L) })
    val st = new KeyedState(Seq("k"), 4, Incremental.emptyLike(seed))
    val accOut = new Incremental.State(Incremental.emptyLike(aggFn(seed)))
    accOut.update(st.aggStep(seed)(aggFn))
    var live = all
    for (_ <- 0 until 3) {
      val (dead, keep) = live.partition(_ => rnd.nextInt(4) == 0)
      live = keep
      if (dead.nonEmpty)
        accOut.update(st.aggStep(
          z(dead.map { case (i, k, v) => (i, k, v, -1L) }))(aggFn))
    }
    val batch = aggFn(z(live.map { case (i, k, v) => (i, k, v, 1L) }))
    assertSameRows(accOut.acc.consolidate.df, batch.df)
  }

  test("incremental general agg (max) ≡ batch max under retraction") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 300)
      // positive-weight inserts then targeted retractions of prior rows
      val base = randomDelta(rnd, 15)
      val pos = ZSetFrame.fromDelta(base.df.withColumn(ZSetFrame.W, lit(1L)))
      val retract = ZSetFrame.fromDelta(
        pos.df.where(pmod(col("v"), lit(3L)) === 0).withColumn(ZSetFrame.W, lit(-1L)))
      val deltas = Seq(pos, retract)
      def aggFn(z: ZSetFrame): ZSetFrame =
        z.aggregate(Seq(col("k")), expandWeights = false, max(col("v")).as("mx"))
      val in = new Incremental.State(Incremental.emptyLike(deltas.head))
      val out = new Incremental.State(ZSetFrame.fromDelta(
        deltas.head.df.where(lit(false)).select(col("k"), col("v").as("mx"), col(ZSetFrame.W))))
      deltas.foreach { d =>
        val old = in.acc
        in.update(d)
        out.update(Incremental.generalAggDelta(d, old, in.acc, Seq("k"))(aggFn))
      }
      assertSameRows(out.acc.consolidate.df, aggFn(in.acc).df)
    }
  }

  test("TfIdfState: mixed insert/retract steps ≡ batch top-term; screening prunes and couples") {
    import graft.incremental.TfIdfState
    val rnd = new scala.util.Random(412)
    val vocab = Vector.tabulate(14)(i => s"w$i")
    // doc i → tf map over a small vocab (small so df transitions are dense
    // enough to exercise floor crossings on docs OUTSIDE the delta)
    def docTf(i: Int): Map[String, Long] = {
      val r = new scala.util.Random(900 + i)
      Seq.fill(3 + r.nextInt(5))(vocab(r.nextInt(vocab.size)))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    }
    // v2 content for UPDATED docs (same doc_id, different text): a
    // same-step retract(v1)+insert(v2) is the CDC update shape — df moves
    // both directions from one doc, postings cancel in-spine
    def docTf2(i: Int): Map[String, Long] = {
      val r = new scala.util.Random(9900 + i)
      Seq.fill(3 + r.nextInt(5))(vocab(r.nextInt(vocab.size)))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    }
    val updated = Set(4, 10)
    def tfOf(i: Int): Map[String, Long] =
      if (updated(i)) docTf2(i) else docTf(i)
    def mk(ids: Seq[Int], w: Long, tf: Int => Map[String, Long])
      : Seq[(Long, String, Long, Long)] =
      ids.flatMap(i => tf(i).toSeq.map { case (t, c) => (i.toLong, t, c, w) })
    def postings(ids: Seq[Int], w: Long): Seq[(Long, String, Long, Long)] =
      mk(ids, w, docTf)
    // step plan: inserts widen the corpus, later steps retract earlier docs
    // (one step mixes both polarities in a single delta)
    val steps = Seq(
      postings(0 until 8, 1L),
      postings(8 until 16, 1L),
      postings(Seq(3, 7, 12), -1L),
      postings(16 until 22, 1L) ++ postings(Seq(1, 15), -1L),
      // UPDATE step: docs 4 and 10 re-shipped retract-old + insert-new in
      // ONE delta
      mk(Seq(4, 10), -1L, docTf) ++ mk(Seq(4, 10), 1L, docTf2),
      // small tail delta against the now-wide corpus: relative df movement
      // is tiny, so on the coarse grid hot terms' floors sit still — the
      // step that must PRUNE
      postings(Seq(22, 23), 1L))
    import spark.implicits._
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
    // C=10000 is the t12 production grid (every df move crosses floors at
    // toy corpus sizes — correctness through the recompute-heavy regime);
    // C=6 is a coarse grid where hot terms' floors sit still, forcing the
    // pruning regime the scaladoc's induction is FOR.
    var coupledOnce = false
    for (c <- Seq(10000L, 6L)) {
      val st = new TfIdfState(empty, nBuckets = 8, C = c)
      var live = Set.empty[Int]
      var prunedOnce = false
      val outs = steps.map { rows =>
        val deltaDocs = rows.map(_._1).toSet
        val ins = rows.filter(_._4 > 0).map(_._1.toInt).toSet
        val rets = rows.filter(_._4 < 0).map(_._1.toInt).toSet
        // a doc in BOTH polarities (the update shape) stays live
        live = live ++ ins -- (rets -- ins)
        val out = st.step(ZSetFrame.fromDelta(
          rows.toDF("doc_id", "term", "tf", ZSetFrame.W)))
        val affected = st.lastAffected.collect().map(_.getLong(0)).toSet
        // pruning = some surviving doc was NOT recomputed; coupling = some
        // non-delta doc WAS (its floor crossed under the df transition)
        if (affected.size < live.size) prunedOnce = true
        if ((affected -- deltaDocs).nonEmpty) coupledOnce = true
        out
      }
      st.close()
      // batch model over the surviving corpus (updated docs at v2)
      val expected = ScreenedModels.tfidfTop1(
        live.map(i => i.toLong -> tfOf(i)).toMap, c)
      assertSameRows(ZSetFrame.sumAll(outs).consolidate.df,
        ZSetFrame.fromTable(
          expected.toDF("doc_id", "term", "tf", "score_q")).df)
      if (c < 10000L)
        assert(prunedOnce, s"C=$c: screening never pruned — affected == corpus on every step")
    }
    assert(coupledOnce, "screening never pulled in a non-delta doc — the idf-coupling path is untested")
  }

  test("Bm25State: mixed insert/retract steps ≡ batch top-k; N/T/df screening prunes and couples") {
    import graft.incremental.Bm25State
    val qterms = Seq("spark", "query", "merge", "window")
    val filler = Vector.tabulate(10)(i => s"f$i")
    // doc i → (dl, full tf map): a mix of query terms and filler; some docs
    // match no query term at all (they must still move N and T)
    def docTf(i: Int): Map[String, Long] = {
      val r = new scala.util.Random(700 + i)
      val pool = if (i % 5 == 4) filler else qterms ++ filler
      Seq.fill(4 + r.nextInt(6))(pool(r.nextInt(pool.size)))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    }
    // v2 content for UPDATED docs (same doc_id, different text): distinct
    // seed, same pool rule — a same-step retract(v1)+insert(v2) exercises
    // ΔN=0 with ΔT≠0, Δdf of both signs, and in-spine cancellation
    def docTf2(i: Int): Map[String, Long] = {
      val r = new scala.util.Random(7700 + i)
      val pool = qterms ++ filler
      Seq.fill(4 + r.nextInt(6))(pool(r.nextInt(pool.size)))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    }
    val updated = Set(5, 11)
    def tfOf(i: Int): Map[String, Long] =
      if (updated(i)) docTf2(i) else docTf(i)
    def mkPostings(ids: Seq[Int], w: Long, tf: Int => Map[String, Long])
      : Seq[(Long, String, Long, Long, Long)] =
      ids.flatMap { i =>
        val m = tf(i); val dl = m.values.sum
        m.toSeq.map { case (t, c) => (i.toLong, t, c, dl, w) }
      }
    def postings(ids: Seq[Int], w: Long) = mkPostings(ids, w, docTf)
    val steps = Seq(
      postings(0 until 10, 1L),
      postings(10 until 20, 1L),
      postings(Seq(2, 8, 13), -1L),
      postings(20 until 26, 1L) ++ postings(Seq(4, 17), -1L),
      // UPDATE step: docs 5 and 11 re-shipped as retract-old + insert-new
      // in ONE delta (the CDC update shape)
      mkPostings(Seq(5, 11), -1L, docTf) ++ mkPostings(Seq(5, 11), 1L, docTf2),
      // small tail delta against the now-wide corpus: relative N/T/df
      // movement is tiny, so on a coarse grid floors sit still — the step
      // that must PRUNE
      postings(Seq(26), 1L))
    import spark.implicits._
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long, Long)].toDF("doc_id", "term", "tf", "dl"))
    // grid=1e6 is the production/oracle grid (at toy corpus sizes every
    // constant move crosses floors — correctness through the
    // recompute-heavy regime); grid=8 is coarse enough that the final
    // small step's drift stays inside a floor cell for most postings,
    // forcing the pruning regime the scaladoc's induction exists for.
    var coupledOnce = false
    for (grid <- Seq(1e6, 8.0)) {
      val st = new Bm25State(empty, qterms, nBuckets = 8, topK = 5,
        grid = grid)
      var live = Set.empty[Int]
      var prunedOnce = false
      val outs = steps.map { rows =>
        val deltaDocs = rows.map(_._1).toSet
        val ins = rows.filter(_._5 > 0).map(_._1.toInt).toSet
        val rets = rows.filter(_._5 < 0).map(_._1.toInt).toSet
        // a doc in BOTH polarities (the update shape) stays live
        live = live ++ ins -- (rets -- ins)
        val out = st.step(ZSetFrame.fromDelta(
          rows.toDF("doc_id", "term", "tf", "dl", ZSetFrame.W)))
        val affected = st.lastAffected.collect().map(_.getLong(0)).toSet
        val matching = live.filter(i => tfOf(i).keys.exists(qterms.contains))
        if (affected.size < matching.size) prunedOnce = true
        if ((affected -- deltaDocs).nonEmpty) coupledOnce = true
        out
      }
      st.close()
      // brute-force batch model over the surviving corpus (updated docs at
      // their CURRENT version) — the SAME IEEE sequence as Bm25.sq
      val expected = ScreenedModels.bm25TopK(
          live.map(i => i.toLong -> tfOf(i)).toMap, Seq("q" -> qterms), 5, grid)
        .map { case (_, d, s, r) => (d, s, r) }
      assertSameRows(ZSetFrame.sumAll(outs).consolidate.df,
        ZSetFrame.fromTable(
          expected.toDF("doc_id", "score_q", "rnk")).df)
      if (grid < 1e6)
        assert(prunedOnce,
          s"grid=$grid: screening never pruned — affected == match set on every step")
    }
    assert(coupledOnce,
      "screening never pulled in a non-delta doc — the N/T/df coupling path is untested")
  }

  test("Bm25 step contract: inconsistent dl per (doc_id, w) fails loudly") {
    // ADVICE r13: a caller shipping two different dl values for one doc in
    // one delta would silently corrupt the N/T scalar induction — the
    // invariant rider on the step's single scalar action must fail HARD
    // instead (and cost no extra job: it rides the same aggregation)
    import graft.incremental.Bm25State
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long, Long)].toDF("doc_id", "term", "tf", "dl"))
    val st = new Bm25State(empty, Seq("spark"), nBuckets = 4)
    try {
      val bad = Seq(
        (1L, "spark", 1L, 5L, 1L),
        (1L, "other", 1L, 7L, 1L)) // doc 1 ships dl=5 AND dl=7 at w=+1
      val e = intercept[IllegalArgumentException] {
        st.step(ZSetFrame.fromDelta(
          bad.toDF("doc_id", "term", "tf", "dl", ZSetFrame.W)))
      }
      assert(e.getMessage.contains("contract"))
    } finally st.close()
    // a RETRACTION re-shipping a doc's old rows alongside an insert of new
    // rows (the CDC update shape) is two DIFFERENT (doc_id, w) keys — it
    // must NOT trip the check (fresh state: a violating step is fatal by
    // contract, the thrown-at state is not reusable)
    val st2 = new Bm25State(empty, Seq("spark"), nBuckets = 4)
    try {
      st2.step(ZSetFrame.fromDelta(Seq(
          (1L, "spark", 1L, 5L, 1L), (2L, "spark", 1L, 3L, 1L))
        .toDF("doc_id", "term", "tf", "dl", ZSetFrame.W)))
      st2.step(ZSetFrame.fromDelta(Seq(
          (1L, "spark", 2L, 9L, 1L), (1L, "spark", 1L, 5L, -1L))
        .toDF("doc_id", "term", "tf", "dl", ZSetFrame.W)))
    } finally st2.close()
  }

  test("PMI screen shape: pair-trace semi-join vs broadcast crossed list, ZERO shuffles") {
    // mirror of PmiState's step-4 screen: the pair trace view,
    // consolidated, semi-joined to the broadcast crossed-pair list. Like
    // the Bm25 screen it must plan as scan-in-place + BroadcastHashJoin —
    // a ShuffleExchange would re-partition the pair index per step. (The
    // crossing DECISION itself is driver-side and costs no plan at all —
    // the degenerate-coupling property; this gates the one cluster-side
    // fragment that remains on crossing steps.)
    import graft.incremental.KeyedState
    val rows = (1L to 300L).map(i =>
      (i, s"u${i % 7}", s"u${i % 7 + 1}", 1L))
    val d0 = ZSetFrame.fromDelta(rows.toDF("doc_id", "ta", "tb", ZSetFrame.W))
    val st = new KeyedState(Seq("doc_id"), 8, Incremental.emptyLike(d0))
    st.merge(d0)
    val crossed = Seq(("u1", "u2"), ("u3", "u4")).toDF("ta", "tb")
    val screen = st.view(0 until 8).consolidate.df
      .join(broadcast(crossed), Seq("ta", "tb"))
      .select("doc_id")
    screen.count() // materialize through AQE so the final plan is real
    val plan = screen.queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toSeq
    assert(shuffles.isEmpty,
      s"PMI screen must be shuffle-free (broadcast-only), got:\n$plan")
    st.close()
  }

  test("PmiState: incremental PMI association ≡ batch per-doc pair-PMI sum") {
    import graft.incremental.PmiState
    // target vocabulary of 4 terms (6 pairs) + filler; docs are TERM SETS
    // (presence, not tf). Every 5th doc is filler-only — it moves N but
    // holds no target pair, exercising the N-only constant drift.
    val uterms = PmiTestDocs.uterms
    def docTerms(i: Int): Seq[String] = PmiTestDocs.docTerms(i)
    def rows(ids: Seq[Int], w: Long): Seq[(Long, String, Long)] =
      ids.flatMap(i => docTerms(i).map(t => (i.toLong, t, w)))
    // step 4 is the CDC UPDATE shape: doc 2's full old set at −1 AND doc
    // 30's set inserted under doc 2's id at +1 in ONE delta — the
    // per-(doc, w) pair derivation must keep the polarities apart
    def upd(i: Int, j: Int): Seq[(Long, String, Long)] =
      docTerms(i).map(t => (i.toLong, t, -1L)) ++
        docTerms(j).map(t => (i.toLong, t, 1L))
    val steps = Seq(
      rows(0 until 12, 1L),
      rows(12 until 22, 1L),
      rows(Seq(3, 7, 15), -1L),
      upd(2, 30) ++ rows(Seq(22, 23), 1L),
      rows(Seq(24), 1L)) // small tail — the pruning step on coarse grid
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String)].toDF("doc_id", "term"))
    for (grid <- Seq(1e6, 4.0)) {
      val st = new PmiState(empty, uterms, nBuckets = 8, grid = grid)
      var live = Set.empty[Int]
      var reDoc2 = false
      var prunedOnce = false
      val outs = steps.zipWithIndex.map { case (rws, si) =>
        if (si == 3) { live = live + 22 + 23; reDoc2 = true } // doc 2 stays live, content swapped
        else live = live ++ rws.filter(_._3 > 0).map(_._1.toInt) --
          rws.filter(_._3 < 0).map(_._1.toInt)
        val out = st.step(ZSetFrame.fromDelta(
          rws.toDF("doc_id", "term", ZSetFrame.W)))
        val withPair = live.count(i =>
          effTerms(i, reDoc2).count(uterms.contains) >= 2)
        if (st.lastAffected.count() < withPair) prunedOnce = true
        out
      }
      st.close()
      // brute-force batch model over the surviving corpus (doc 2 carries
      // doc 30's term set after the update step) — the SAME IEEE sequence
      // as PmiState.pq
      val expected = ScreenedModels.pmiScores(
        live.map(i => i.toLong -> effTerms(i, reDoc2)).toMap, uterms, grid)
      assertSameRows(ZSetFrame.sumAll(outs).consolidate.df,
        ZSetFrame.fromTable(
          expected.toDF("doc_id", "n_pairs", "score_q")).df)
      if (grid < 1e6)
        assert(prunedOnce,
          s"grid=$grid: screening never pruned across the pair index")
    }
  }

  /** ONE generator for the PmiState law test's synthetic docs — shared by
    * the replay and the brute-force oracle so the two can never silently
    * diverge (code-review r15). */
  private object PmiTestDocs {
    val uterms: Seq[String] = Seq("spark", "query", "merge", "window")
    private val filler = Vector.tabulate(8)(i => s"f$i")
    def docTerms(i: Int): Seq[String] = {
      val r = new scala.util.Random(1500 + i)
      val pool = if (i % 5 == 4) filler else uterms ++ filler
      Seq.fill(3 + r.nextInt(5))(pool(r.nextInt(pool.size))).distinct
    }
  }

  /** doc 2's effective term set after the CDC-update step replaced it with
    * doc 30's (see the PmiState law test). */
  private def effTerms(i: Int, reDoc2: Boolean): Seq[String] =
    if (reDoc2 && i == 2) PmiTestDocs.docTerms(30) else PmiTestDocs.docTerms(i)

  test("PmiState: a CDC update that drops below 2 target terms retracts the score row") {
    // the replacement-delta edge the law test reaches only by luck: a doc
    // whose update removes its last target PAIR must have its stored score
    // row retracted (new side yields no row for it), while surviving docs
    // rescore under the post-update constants
    import graft.incremental.PmiState
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String)].toDF("doc_id", "term"))
    val st = new PmiState(empty, Seq("a", "b"), nBuckets = 4)
    try {
      val acc = new Incremental.State(Incremental.emptyLike(ZSetFrame.fromDelta(
        Seq.empty[(Long, Long, Long, Long)]
          .toDF("doc_id", "n_pairs", "score_q", ZSetFrame.W))))
      acc.update(st.step(ZSetFrame.fromDelta(Seq(
          (1L, "a", 1L), (1L, "b", 1L), (1L, "x", 1L),
          (2L, "a", 1L), (2L, "b", 1L))
        .toDF("doc_id", "term", ZSetFrame.W))))
      // update doc 1: full old set at −1, new PAIR-FREE set at +1, one delta
      acc.update(st.step(ZSetFrame.fromDelta(Seq(
          (1L, "a", -1L), (1L, "b", -1L), (1L, "x", -1L),
          (1L, "a", 1L), (1L, "y", 1L))
        .toDF("doc_id", "term", ZSetFrame.W))))
      // surviving state: N=2, c_a=2, c_b=1, c_ab=1 → doc 2 alone, with
      // score floor((2·1)/(2·1)·1e4) = 10000
      assertSameRows(acc.acc.consolidate.df,
        ZSetFrame.fromTable(Seq((2L, 1L, 10000L))
          .toDF("doc_id", "n_pairs", "score_q")).df)
    } finally st.close()
  }

  test("PMI step contract: a weight beyond ±1 fails loudly") {
    // the rider on the step's single stat action: the state's constants
    // are presence-based doc frequencies and the pair derivation assumes
    // unit multiplicities — a |w|>1 row must fail hard, not corrupt
    import graft.incremental.PmiState
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String)].toDF("doc_id", "term"))
    val st = new PmiState(empty, Seq("spark", "query"), nBuckets = 4)
    try {
      val e = intercept[IllegalArgumentException] {
        st.step(ZSetFrame.fromDelta(Seq((1L, "spark", 2L), (1L, "query", 2L))
          .toDF("doc_id", "term", ZSetFrame.W)))
      }
      assert(e.getMessage.contains("contract"))
    } finally st.close()
  }

  /** ONE generator for the CosineState law test's synthetic docs — shared
    * by the replay and the brute-force oracle (the PmiTestDocs discipline).
    * Docs are (term, tf) posting sets; every 5th doc is filler-only (moves
    * N but holds no U term — the N-only constant drift path). */
  private object CosineTestDocs {
    val cents: Seq[(String, Seq[(String, Long)])] = Seq(
      "ca" -> Seq("spark" -> 3L, "query" -> 2L, "window" -> 1L),
      "cb" -> Seq("merge" -> 3L, "window" -> 2L, "query" -> 1L))
    val uterms: Seq[String] = cents.flatMap(_._2.map(_._1)).distinct
    private val filler = Vector.tabulate(6)(i => s"f$i")
    def docPostings(i: Int): Seq[(String, Long)] = {
      val r = new scala.util.Random(1600 + i)
      val pool = if (i % 5 == 4) filler else uterms ++ filler
      Seq.fill(3 + r.nextInt(5))(pool(r.nextInt(pool.size)))
        .groupBy(identity).toSeq.sortBy(_._1)
        .map { case (t, xs) => (t, xs.size.toLong) }
    }
  }

  private def cosEffPostings(i: Int, reDoc2: Boolean): Seq[(String, Long)] =
    if (reDoc2 && i == 2) CosineTestDocs.docPostings(30)
    else CosineTestDocs.docPostings(i)

  test("CosineState: incremental cosine assignment ≡ batch per-doc argmax") {
    import graft.incremental.CosineState
    val cents = CosineTestDocs.cents
    val uterms = CosineTestDocs.uterms
    def rows(ids: Seq[Int], w: Long): Seq[(Long, String, Long, Long)] =
      ids.flatMap(i => CosineTestDocs.docPostings(i)
        .map { case (t, tf) => (i.toLong, t, tf, w) })
    // step 4 is the CDC UPDATE shape: doc 2's full old posting set at −1
    // AND doc 30's set inserted under doc 2's id at +1 in ONE delta
    def upd(i: Int, j: Int): Seq[(Long, String, Long, Long)] =
      CosineTestDocs.docPostings(i).map { case (t, tf) => (i.toLong, t, tf, -1L) } ++
        CosineTestDocs.docPostings(j).map { case (t, tf) => (i.toLong, t, tf, 1L) }
    val steps = Seq(
      rows(0 until 12, 1L),
      rows(12 until 22, 1L),
      rows(Seq(3, 7, 15), -1L),
      upd(2, 30) ++ rows(Seq(22, 23), 1L),
      rows(Seq(24), 1L)) // small tail — the pruning step on the coarse grid
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
    var coupledOnce = false
    // fine grid (64): toy-scale relative drift crosses floors — the
    // screen+rescore path; coarse grid (2, cap 4): hot ratios saturate at
    // the cap and quiet steps must PRUNE
    for ((idfG, idfC) <- Seq((64L, 64L), (2L, 4L))) {
      val st = new CosineState(empty, cents, nBuckets = 8,
        idfGrid = idfG, idfCap = idfC)
      var live = Set.empty[Int]
      var reDoc2 = false
      var prunedOnce = false
      val outs = steps.zipWithIndex.map { case (rws, si) =>
        if (si == 3) { live = live + 22 + 23; reDoc2 = true }
        else live = live ++ rws.filter(_._4 > 0).map(_._1.toInt) --
          rws.filter(_._4 < 0).map(_._1.toInt)
        val out = st.step(ZSetFrame.fromDelta(
          rws.toDF("doc_id", "term", "tf", ZSetFrame.W)))
        val withU = live.count(i =>
          cosEffPostings(i, reDoc2).exists(p => uterms.contains(p._1)))
        val aff = st.lastAffected.count()
        if (aff < withU) prunedOnce = true
        val deltaDocs = rws.map(_._1).distinct.size
        if (aff > deltaDocs) coupledOnce = true
        out
      }
      st.close()
      // brute-force batch model over the surviving corpus — the SAME
      // integer iq and IEEE cosine sequence as CosineState
      val expected = ScreenedModels.cosineAssign(
        live.map(i => i.toLong -> cosEffPostings(i, reDoc2)).toMap,
        cents, idfG, idfC)
      assertSameRows(ZSetFrame.sumAll(outs).consolidate.df,
        ZSetFrame.fromTable(expected.toDF("doc_id", "cid", "cos_q")).df)
      if (idfG < 64L)
        assert(prunedOnce,
          s"idfGrid=$idfG: screening never pruned — affected == U-doc set " +
            "on every step")
    }
    assert(coupledOnce,
      "screening never pulled in a non-delta doc — the idf coupling path is untested")
  }

  test("CosineState: a CDC update that drops the last U term retracts the assignment") {
    import graft.incremental.CosineState
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
    val cents = Seq("ca" -> Seq("a" -> 2L, "b" -> 1L))
    val st = new CosineState(empty, cents, nBuckets = 4)
    try {
      val acc = new Incremental.State(Incremental.emptyLike(ZSetFrame.fromDelta(
        Seq.empty[(Long, String, Long, Long)]
          .toDF("doc_id", "cid", "cos_q", ZSetFrame.W))))
      acc.update(st.step(ZSetFrame.fromDelta(Seq(
          (1L, "a", 2L, 1L), (1L, "x", 1L, 1L),
          (2L, "a", 1L, 1L), (2L, "b", 1L, 1L))
        .toDF("doc_id", "term", "tf", ZSetFrame.W))))
      // update doc 1: full old set at −1, new U-FREE set at +1, one delta
      acc.update(st.step(ZSetFrame.fromDelta(Seq(
          (1L, "a", 2L, -1L), (1L, "x", 1L, -1L),
          (1L, "y", 3L, 1L))
        .toDF("doc_id", "term", "tf", ZSetFrame.W))))
      // surviving: N=2, df(a)=1, df(b)=1 → iq = min(64·2/1, 64·64) = 128;
      // doc 2: dvq(a)=128, dvq(b)=128, nd2=32768; dot = 128·2+128·1 = 384,
      // nc2 = 5 → cos_q = floor(384/(sqrt(32768)·sqrt(5))·1e6)
      val cq = math.floor(384.0
        / (math.sqrt(32768.0) * math.sqrt(5.0)) * 1e6).toLong
      assertSameRows(acc.acc.consolidate.df,
        ZSetFrame.fromTable(Seq((2L, "ca", cq))
          .toDF("doc_id", "cid", "cos_q")).df)
    } finally st.close()
  }

  test("Cosine step contract: a weight beyond ±1 fails loudly") {
    import graft.incremental.CosineState
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
    val st = new CosineState(empty, Seq("ca" -> Seq("a" -> 1L)), nBuckets = 4)
    try {
      val e = intercept[IllegalArgumentException] {
        st.step(ZSetFrame.fromDelta(Seq((1L, "a", 1L, 2L))
          .toDF("doc_id", "term", "tf", ZSetFrame.W)))
      }
      assert(e.getMessage.contains("contract"))
    } finally st.close()
  }

  test("Cosine step contract: a weight-0-only delta is a no-op, not a violation (ADVICE r16)") {
    import graft.incremental.CosineState
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
    val st = new CosineState(empty, Seq("ca" -> Seq("a" -> 1L)), nBuckets = 4)
    try {
      st.step(ZSetFrame.fromDelta(Seq((1L, "a", 1L, 1L))
        .toDF("doc_id", "term", "tf", ZSetFrame.W)))
      // a raw delta may legitimately carry harmless zero-copies rows (the
      // ZSetFrame w=0 policy); max(abs(w)) is then 0, which must NOT trip
      // the beyond-±1 check — and the step must change nothing
      val out = st.step(ZSetFrame.fromDelta(Seq((9L, "a", 1L, 0L))
        .toDF("doc_id", "term", "tf", ZSetFrame.W)))
      assert(out.consolidate.df.count() === 0,
        "a weight-0-only delta must emit no assignment change")
    } finally st.close()
  }

  test("CosineState: crossing steps screen only the term-routed bucket span (VERDICT r16 #6)") {
    import graft.incremental.CosineState
    val nB = 16
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long)].toDF("doc_id", "term", "tf"))
    // idfCap = 1: iq saturates at idfGrid the moment df > 0, so the FIRST
    // step (MinValue → 64) crosses and every later N-only drift is quiet —
    // a controlled one-crossing fixture
    val st = new CosineState(empty, Seq("ca" -> Seq("a" -> 1L)),
      nBuckets = nB, idfGrid = 64L, idfCap = 1L)
    try {
      st.step(ZSetFrame.fromDelta(Seq(
          (1L, "a", 1L, 1L), (2L, "a", 2L, 1L), (3L, "x", 1L, 1L))
        .toDF("doc_id", "term", "tf", ZSetFrame.W)))
      // the crossing step's screen must scan exactly the crossed term's
      // OWN bucket in the term-keyed trace (r18 — formerly the cumulative
      // doc-bucket span), not all nB buckets
      val expected = Seq("a").toDF("term")
        .select(pmod(hash(col("term")), lit(nB)).as("b"))
        .collect().map(_.getInt(0)).toSet
      assert(st.lastScreenBuckets.nonEmpty &&
        st.lastScreenBuckets.toSet == expected,
        s"screen span ${st.lastScreenBuckets} != term-a bucket $expected")
      assert(st.lastScreenBuckets.size < nB,
        "span pruning is vacuous - the fixture's span covers every bucket")
      // N-only drift under the saturated cap: iq unchanged → a QUIET step,
      // zero buckets screened
      st.step(ZSetFrame.fromDelta(Seq((4L, "y", 1L, 1L))
        .toDF("doc_id", "term", "tf", ZSetFrame.W)))
      assert(st.lastScreenBuckets.isEmpty,
        "a quiet step must schedule zero cluster-side screening")
    } finally st.close()
  }

  test("MultiBm25State: concurrent query sets over one shared index ≡ per-query batch top-k") {
    import graft.incremental.MultiBm25State
    // three standing queries; qc SHARES a term with each of qa/qb — a
    // posting whose floor crosses must fan out to every query containing
    // its term through the (query_id, term) dimension, and df/N/T are
    // maintained once for the union
    val qsets = Seq(
      "qa" -> Seq("spark", "query"),
      "qb" -> Seq("merge", "window"),
      "qc" -> Seq("spark", "merge"))
    val uterms = qsets.flatMap(_._2).distinct
    val filler = Vector.tabulate(10)(i => s"f$i")
    def docTf(i: Int): Map[String, Long] = {
      val r = new scala.util.Random(900 + i)
      val pool = if (i % 5 == 4) filler else uterms ++ filler
      Seq.fill(4 + r.nextInt(6))(pool(r.nextInt(pool.size)))
        .groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    }
    def postings(ids: Seq[Int], w: Long): Seq[(Long, String, Long, Long, Long)] =
      ids.flatMap { i =>
        val m = docTf(i); val dl = m.values.sum
        m.toSeq.map { case (t, c) => (i.toLong, t, c, dl, w) }
      }
    val steps = Seq(
      postings(0 until 12, 1L),
      postings(12 until 22, 1L),
      postings(Seq(3, 7, 15), -1L),
      postings(22 until 27, 1L) ++ postings(Seq(1, 19), -1L),
      postings(Seq(27), 1L)) // small tail — the pruning step on coarse grid
    val empty = ZSetFrame.fromTable(
      Seq.empty[(Long, String, Long, Long)].toDF("doc_id", "term", "tf", "dl"))
    for (grid <- Seq(1e6, 8.0)) {
      val st = new MultiBm25State(empty, qsets, nBuckets = 8, topK = 4,
        grid = grid)
      var live = Set.empty[Int]
      var prunedOnce = false
      val outs = steps.map { rows =>
        val ins = rows.filter(_._5 > 0).map(_._1.toInt).toSet
        val rets = rows.filter(_._5 < 0).map(_._1.toInt).toSet
        live = live ++ ins -- (rets -- ins)
        val out = st.step(ZSetFrame.fromDelta(
          rows.toDF("doc_id", "term", "tf", "dl", ZSetFrame.W)))
        val matching = live.filter(i => docTf(i).keys.exists(uterms.contains))
        if (st.lastAffected.count() < matching.size) prunedOnce = true
        out
      }
      st.close()
      // brute-force per-query batch model — the SAME IEEE sequence as
      // Bm25.sq, with df/N/T computed ONCE over the union match set
      val expected = ScreenedModels.bm25TopK(
        live.map(i => i.toLong -> docTf(i)).toMap, qsets, 4, grid)
      assertSameRows(ZSetFrame.sumAll(outs).consolidate.df,
        ZSetFrame.fromTable(
          expected.toDF("query_id", "doc_id", "score_q", "rnk")).df)
      if (grid < 1e6)
        assert(prunedOnce,
          s"grid=$grid: screening never pruned across the shared index")
    }
  }

  test("Bm25State screen shape: match-set scan + broadcast constants, ZERO shuffles") {
    // mirror of the step's screening composition: a doc-keyed posting
    // trace view, consolidated, joined to the broadcast |Q|-row old/new df
    // table, filtered on the floor-crossing predicate. The whole screen
    // must plan as scan-in-place + BroadcastHashJoin — any
    // ShuffleExchange would mean the per-step screen re-partitions the
    // match set, breaking the "one no-shuffle scan" cost claim.
    import graft.incremental.KeyedState
    import graft.functions.Bm25
    val rows = (1L to 300L).map(i =>
      (i, s"w${i % 7}", 1L + i % 3, 10L + i % 5, 1L))
    val d0 = ZSetFrame.fromDelta(
      rows.toDF("doc_id", "term", "tf", "dl", ZSetFrame.W))
    val st = new KeyedState(Seq("doc_id"), 8, Incremental.emptyLike(d0))
    st.merge(d0)
    val dfTab = Seq(("w1", 3L, 4L), ("w2", 5L, 5L))
      .toDF("term", "df_old", "df_new")
    val screen = st.view(0 until 8).consolidate.df
      .join(broadcast(dfTab), Seq("term"))
      .where(Bm25.sq(col("tf"), col("dl"), col("df_old"), lit(100L), lit(1000L))
        =!= Bm25.sq(col("tf"), col("dl"), col("df_new"), lit(101L), lit(1010L)))
      .select("doc_id")
    screen.count() // materialize through AQE so the final plan is real
    val plan = screen.queryExecution.executedPlan.toString
    val shuffles = plan.linesIterator
      .filter(l => l.contains("Exchange") && !l.contains("BroadcastExchange"))
      .toSeq
    assert(shuffles.isEmpty,
      s"screen must be shuffle-free (broadcast-only), got:\n$plan")
    st.close()
  }
}
