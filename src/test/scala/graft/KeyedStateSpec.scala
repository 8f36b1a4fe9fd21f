package graft

import org.apache.spark.sql.functions._
import graft.core.ZSetFrame
import graft.incremental.{Incremental, KeyedState, Pinned}

/** Key-partitioned trace: correctness of the bucket layout and the
  * incremental-agg law over it. */
class KeyedStateSpec extends SparkSpec {
  import spark.implicits._

  private def zf(rows: Seq[(Long, Long, Long)], v: String = "v"): ZSetFrame =
    ZSetFrame.fromDelta(rows.toDF("k", v, ZSetFrame.W))
  /** A two-column (k, v) Z-set's consolidated rows. */
  private def rowsOf(z: ZSetFrame): Map[(Long, Long), Long] =
    z.consolidate.df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap

  test("bucket ids line up with repartition partition ids") {
    // the layout invariant KeyedState relies on: repartition(n, keys) puts a
    // row in physical partition pmod(hash(keys), n) — HashPartitioning's
    // partitionIdExpression is exactly Pmod(Murmur3Hash(keys), n), the same
    // murmur3(seed 42) the SQL hash() function computes.
    val n = 8
    val df = (1L to 500L).toDF("k").withColumn("v", col("k") * 2)
    val bucketed = df.repartition(n, col("k")).localCheckpoint(true)
    assert(bucketed.rdd.getNumPartitions == n)
    val got = bucketed.rdd.mapPartitionsWithIndex { (pid, it) =>
      it.map(r => (r.getLong(0), pid))
    }.collect().toMap
    val want = df.select(col("k"), pmod(hash(col("k")), lit(n)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == want)
  }

  test("bucketOfLongs == SQL hash() bucket, single and composite Long keys") {
    val n = 32
    val vals = Seq(0L, 1L, -1L, 97L, -5L, 123456789L, Long.MaxValue,
      Long.MinValue, 42L, 2654435761L)
    val want1 = vals.toDF("k")
      .select(col("k"), pmod(hash(col("k")), lit(n)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    vals.foreach { v =>
      assert(KeyedState.bucketOfLongs(Seq(v), n) == want1(v),
        s"single-key bucket mismatch for $v")
    }
    val pairs = for (a <- vals.take(5); b <- vals.takeRight(5)) yield (a, b)
    val want2 = pairs.toDF("a", "b")
      .select(col("a"), col("b"),
        pmod(hash(col("a"), col("b")), lit(n)).as("bk"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    pairs.foreach { case (a, b) =>
      assert(KeyedState.bucketOfLongs(Seq(a, b), n) == want2((a, b)),
        s"composite-key bucket mismatch for ($a,$b)")
    }
  }

  test("bucketOfString == SQL hash() bucket (r18 — the term-keyed screen route)") {
    val n = 16
    val vals = Seq("", "a", "spark", "merge", "window", "query",
      "ünïcødé-ターム", "f123", "a longer term with spaces", "\u0000nul")
    val want = vals.toDF("t")
      .select(col("t"), pmod(hash(col("t")), lit(n)).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    vals.foreach { v =>
      assert(KeyedState.bucketOfString(v, n) == want(v),
        s"string bucket mismatch for '$v'")
    }
    assert(KeyedState.bucketsOfStringKeys(vals, n) ==
      vals.map(want).distinct.sorted)
  }

  test("KeyedState snapshot ≡ naive State acc over random delta sequences") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 500)
      def randomDelta(n: Int): ZSetFrame = {
        val rows = Seq.fill(n) {
          val w = { val x = rnd.nextInt(4) - 2; if (x >= 0) x + 1 else x }
          (rnd.nextInt(20).toLong, rnd.nextInt(8).toLong, w.toLong)
        }
        ZSetFrame.fromDelta(rows.toDF("k", "v", ZSetFrame.W))
      }
      val deltas = Seq.fill(4)(randomDelta(15))
      val naive = new Incremental.State(Incremental.emptyLike(deltas.head))
      val keyed = new KeyedState(Seq("k"), 8, Incremental.emptyLike(deltas.head))
      deltas.foreach { d => naive.update(d); keyed.merge(d) }
      assertSameRows(keyed.snapshot.consolidate.df, naive.acc.consolidate.df)
    }
  }

  test("joinDeltaKeyed ≡ batch join over random two-sided delta sequences") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 800)
      def randomDelta(n: Int, vName: String): ZSetFrame = {
        val rows = Seq.fill(n) {
          val w = { val x = rnd.nextInt(4) - 2; if (x >= 0) x + 1 else x }
          (rnd.nextInt(6).toLong, rnd.nextInt(8).toLong, w.toLong)
        }
        ZSetFrame.fromDelta(rows.toDF("k", vName, ZSetFrame.W))
      }
      val das = Seq.fill(3)(randomDelta(10, "v"))
      val dbs = Seq.fill(3)(randomDelta(10, "v2"))
      val aSt = new KeyedState(Seq("k"), 8, Incremental.emptyLike(das.head))
      val bSt = new KeyedState(Seq("k"), 8, Incremental.emptyLike(dbs.head))
      val out = new Incremental.State(
        Incremental.emptyLike(das.head.join(dbs.head, Seq("k"))))
      das.zip(dbs).foreach { case (dA, dB) =>
        out.update(Incremental.joinDeltaKeyed(aSt, dA, bSt, dB, Seq("k")))
      }
      assertSameRows(out.acc.consolidate.df,
        aSt.snapshot.join(bSt.snapshot, Seq("k")).consolidate.df)
    }
    // the shapes the co-partitioned join must also get right: spans that
    // differ between the two sides, an empty ΔB (a bulk step on A alone),
    // a two-column key (q73's (v, w)) and null keys, on the driver route
    // and on the shuffle route (deltas pinned first)
    val n = 8
    val rnd = new scala.util.Random(821)
    def rows(nRows: Int, nullKeys: Boolean): Seq[(Option[Long], Long, Long, Long)] = Seq.fill(nRows) {
      val k = if (nullKeys && rnd.nextInt(4) == 0) None else Some(rnd.nextInt(9).toLong)
      (k, rnd.nextInt(3).toLong, rnd.nextInt(8).toLong, (rnd.nextInt(3) + 1L) * (if (rnd.nextBoolean()) 1 else -1))
    }
    def frame(rs: Seq[(Option[Long], Long, Long, Long)], k2: String, v: String, pin: Boolean): ZSetFrame = {
      val z = ZSetFrame.fromDelta(rs.toDF("k", k2, v, ZSetFrame.W))
      if (pin) z.localCheckpoint(eager = true) else z
    }
    def bucketsOf(rs: Seq[(Option[Long], Long, Long, Long)], keys: Seq[String]): Seq[Int] =
      rs.toDF("k", "k2", "v", ZSetFrame.W).select(pmod(hash(keys.map(col): _*), lit(n)))
        .distinct().collect().map(_.getInt(0)).toSeq
    case class Case(name: String, keys: Seq[String], nullKeys: Boolean = false,
                    emptyB: Boolean = false, spans: Boolean = false)
    Seq(Case("unequal knownTouchedA/knownTouchedB", Seq("k"), spans = true),
        Case("an empty ΔB", Seq("k"), emptyB = true, spans = true),
        Case("a two-column key", Seq("k", "k2")),
        Case("null keys", Seq("k"), nullKeys = true),
        Case("null keys in a two-column key", Seq("k", "k2"), nullKeys = true)).foreach { c =>
      Seq(false, true).foreach { pin =>
        val label = s"${c.name} on the ${if (pin) "shuffle" else "driver"} route"
        val steps = Seq.fill(3)((rows(12, c.nullKeys), if (c.emptyB) Nil else rows(8, c.nullKeys)))
        // B's second column is a key column only when A's is
        val bK2 = if (c.keys.contains("k2")) "k2" else "k3"
        val (das, dbs) = (steps.map(s => frame(s._1, "k2", "v", pin)), steps.map(s => frame(s._2, bK2, "v2", pin)))
        val aSt = new KeyedState(c.keys, n, Incremental.emptyLike(das.head))
        val bSt = new KeyedState(c.keys, n, Incremental.emptyLike(dbs.head))
        val outs = steps.zip(das.zip(dbs)).map { case ((ra, rb), (dA, dB)) =>
          // A's span: every bucket; B's: exactly its own (none for an empty ΔB)
          val (ka, kb) = if (c.spans) (Some(0 until n: Seq[Int]), Some(bucketsOf(rb, c.keys))) else (None, None)
          Incremental.joinDeltaKeyed(aSt, dA, bSt, dB, c.keys, knownTouchedA = ka, knownTouchedB = kb)
        }
        val (aAll, bAll) = (ZSetFrame.sumAll(das).consolidate, ZSetFrame.sumAll(dbs).consolidate)
        withClue(label) {
          assertSameRows(ZSetFrame.sumAll(outs).consolidate.df, aAll.join(bAll, c.keys).consolidate.df)
          assertSameRows(aSt.snapshot.consolidate.df, aAll.df)
          assertSameRows(bSt.snapshot.consolidate.df, bAll.df)
        }
        (outs ++ (if (pin) das ++ dbs else Nil)).foreach(z => Pinned.release(z.df))
        aSt.close(); bSt.close()
      }
    }
  }

  test("bucket views plan consolidate∘agg with ZERO exchanges (declared clustering)") {
    // the r10 exchange-elision contract: a view's declared
    // BucketClusteredPartitioning satisfies every ClusteredDistribution over
    // the state keys or a superset, so the per-step consolidate (groupBy all
    // data cols) + keyed aggregate chain has NO Exchange and NO extra AQE
    // stage barriers — Catalyst is told the trace is already sharded by key.
    val d0 = ZSetFrame.fromDelta(
      (1L to 200L).map(k => (k, k % 7, 1L)).toDF("k", "v", ZSetFrame.W))
    val st = new KeyedState(Seq("k"), 16, Incremental.emptyLike(d0))
    st.merge(d0)
    val view = st.view(Seq(0, 3, 5, 9))
    val plan = view.consolidate.df
      .groupBy("k").agg(max("v").as("mx")).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"bucket-view consolidate+agg must be exchange-free, got:\n$plan")
    // and the values are right: equals the same agg over a shuffled copy
    val expect = st.snapshot.consolidate.df
      .where(pmod(hash(col("k")), lit(16)).isin(0, 3, 5, 9))
      .groupBy("k").agg(max("v").as("mx"))
    assertSameRows(view.consolidate.df.groupBy("k").agg(max("v").as("mx")), expect)
    st.close()
  }

  test("touched-pruned segments: sparse merges at high bucket count read back exactly") {
    // per-step segments materialize ONLY their touched buckets, packed
    // into (partition, slot)s. At 64 buckets and 1-3 keys per delta every
    // post-seed segment is pruned and the slot index is non-trivial —
    // snapshot, bucket-pruned view() reads, and aggStep deltas must all
    // translate correctly, in replace AND append (spine) mode.
    for (append <- Seq(false, true)) {
      val rnd = new scala.util.Random(if (append) 1300 else 1200)
      def randomDelta(): ZSetFrame = {
        val rows = Seq.fill(1 + rnd.nextInt(3)) {
          val w = { val x = rnd.nextInt(4) - 2; if (x >= 0) x + 1 else x }
          (rnd.nextInt(1000).toLong, rnd.nextInt(8).toLong, w.toLong)
        }
        ZSetFrame.fromDelta(rows.toDF("k", "v", ZSetFrame.W))
      }
      val deltas = Seq.fill(6)(randomDelta())
      val naive = new Incremental.State(Incremental.emptyLike(deltas.head))
      val keyed = new KeyedState(Seq("k"), 64, Incremental.emptyLike(deltas.head))
      deltas.foreach { d => naive.update(d); keyed.merge(d, append = append) }
      assertSameRows(keyed.snapshot.consolidate.df, naive.acc.consolidate.df)
      // a partition-pruned read of one touched bucket returns exactly the
      // accumulated rows hashing there (exercises the index translation)
      val someKey = deltas.head.df.select("k").head().getLong(0)
      val b = KeyedState.bucketOfLongs(Seq(someKey), 64)
      val want = naive.acc.consolidate.df
        .where(pmod(hash(col("k")), lit(64)) === b)
      assertSameRows(keyed.view(Seq(b)).consolidate.df, want)
      keyed.close()
    }
  }

  test("empty delta is a no-op step (touches no buckets, emits nothing)") {
    val d0 = ZSetFrame.fromDelta(Seq((1L, 2L, 1L)).toDF("k", "v", ZSetFrame.W))
    val st = new KeyedState(Seq("k"), 8, Incremental.emptyLike(d0))
    def aggFn(z: ZSetFrame): ZSetFrame =
      z.aggregate(Seq(col("k")), expandWeights = false, max(col("v")).as("mx"))
    st.merge(d0)
    val empty = ZSetFrame.fromDelta(d0.df.where(lit(false)))
    assert(st.aggStep(empty)(aggFn).consolidate.df.isEmpty)
    assertSameRows(st.snapshot.consolidate.df, d0.consolidate.df)
  }

  test("KeyedState with a multi-column key partitions and aggregates correctly") {
    val rnd = new scala.util.Random(900)
    def delta(n: Int): ZSetFrame = ZSetFrame.fromDelta(
      Seq.fill(n)((rnd.nextInt(4).toLong, rnd.nextInt(3).toLong,
        rnd.nextInt(50).toLong, 1L))
        .toDF("k1", "k2", "v", ZSetFrame.W).distinct())
    def aggFn(z: ZSetFrame): ZSetFrame =
      z.aggregate(Seq(col("k1"), col("k2")), expandWeights = false,
        max(col("v")).as("mx"))
    val st = new KeyedState(Seq("k1", "k2"), 8, Incremental.emptyLike(delta(1)))
    val out = new Incremental.State(Incremental.emptyLike(aggFn(delta(1))))
    (1 to 3).foreach { _ => out.update(st.aggStep(delta(12))(aggFn)) }
    assertSameRows(out.acc.consolidate.df, aggFn(st.snapshot.consolidate).df)
  }

  test("incremental distinct through the keyed trace (aggStep ∘ distinctZ)") {
    val rnd = new scala.util.Random(901)
    def delta(): ZSetFrame = ZSetFrame.fromDelta(
      Seq.fill(15) {
        val w = { val x = rnd.nextInt(4) - 2; if (x >= 0) x + 1 else x }
        (rnd.nextInt(10).toLong, rnd.nextInt(4).toLong, w.toLong)
      }.toDF("k", "v", ZSetFrame.W))
    val st = new KeyedState(Seq("k"), 8, Incremental.emptyLike(delta()))
    val out = new Incremental.State(Incremental.emptyLike(delta()))
    (1 to 4).foreach { _ => out.update(st.aggStep(delta())(_.distinctZ)) }
    assertSameRows(out.acc.consolidate.df, st.snapshot.distinctZ.df)
  }

  test("segment reclamation bounds pinned storage across many merges") {
    // VERDICT r3 "what's wrong #2": pinned storage must track LIVE STATE,
    // not step count. 60 steps over a constant-size key space: the number
    // of persisted RDDs in the block manager must plateau (refcount
    // retirement + periodic compaction), not grow linearly with steps.
    // Besides driver-resident merges, each step runs an aggStep and a
    // joinDeltaKeyed over deltas the pin rule cannot prove stable (RDD
    // frames): the step pins each such delta, and its state must release
    // that pin too — on its deferred schedule, and all of it on close().
    val sc = spark.sparkContext
    // ids, not a count: the context cleaner may unpersist earlier tests'
    // unreferenced RDDs while this one runs
    val before = sc.getPersistentRDDs.keySet
    val rnd = new scala.util.Random(902)
    def rows(): Seq[(Long, Long, Long)] = Seq.fill(10) {
      val w = { val x = rnd.nextInt(4) - 2; if (x >= 0) x + 1 else x }
      (rnd.nextInt(16).toLong, rnd.nextInt(5).toLong, w.toLong)
    }
    def delta(): ZSetFrame = zf(rows())
    def unstable(v: String = "v"): ZSetFrame =
      ZSetFrame.fromDelta(sc.parallelize(rows(), 2).toDF("k", v, ZSetFrame.W))
    val empty = Incremental.emptyLike(delta())
    val emptyDim = Incremental.emptyLike(zf(Nil, "attr"))
    val st = new KeyedState(Seq("k"), 8, empty, compactEvery = 16)
    val agg = new KeyedState(Seq("k"), 8, empty, compactEvery = 16)
    val jA = new KeyedState(Seq("k"), 8, empty, compactEvery = 16)
    val jB = new KeyedState(Seq("k"), 8, emptyDim, compactEvery = 16)
    val counts = (1 to 60).map { _ =>
      st.merge(delta())
      val d = unstable()
      assert(!Pinned.isStable(d.df))
      Pinned.release(agg.aggStep(d)(
        _.aggregate(Seq(col("k")), expandWeights = false, max(col("v")).as("mx"))).df)
      Pinned.release(Incremental.joinDeltaKeyed(jA, unstable(), jB, unstable("attr"), Seq("k")).df)
      sc.getPersistentRDDs.size
    }
    // without reclamation this grows by ≥1 per step (60+); with it, the
    // persisted-RDD population must be flat: late-phase max within a few
    // segments of the early-phase max (slack covers deferred retirement)
    val early = counts.slice(10, 30).max
    val late = counts.takeRight(20).max
    assert(late <= early + 3,
      s"pinned RDD count grew with step count: early=$early late=$late counts=$counts")
    // and the snapshot over the reclaimed layout is still the right state
    assert(st.snapshot.consolidate.df.count() >= 0)
    Seq(st, agg, jA, jB).foreach(_.close())
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"closing the states left ${left.size} RDDs pinned")
  }

  test("KeyedState aggStep ≡ batch agg under retraction (max + count)") {
    for (seed <- 1 to 3) {
      val rnd = new scala.util.Random(seed + 600)
      def delta(n: Int, w: Long => Long): ZSetFrame = {
        val rows = Seq.fill(n)((rnd.nextInt(12).toLong, rnd.nextInt(100).toLong))
        ZSetFrame.fromDelta(rows.toDF("k", "v")
          .withColumn(ZSetFrame.W, lit(1L)).distinct())
      }
      // inserts, then a retraction of a slice of what was inserted
      val d0 = delta(25, identity)
      val d1 = delta(25, identity)
      val retract = ZSetFrame.fromDelta((d0 + d1).consolidate.df
        .where(pmod(col("v"), lit(3L)) === 0 && col(ZSetFrame.W) > 0)
        .withColumn(ZSetFrame.W, -col(ZSetFrame.W)))
      def aggFn(z: ZSetFrame): ZSetFrame =
        z.aggregate(Seq(col("k")), expandWeights = false,
          max(col("v")).as("mx"), count(lit(1)).as("n"))
      val in = new KeyedState(Seq("k"), 8, Incremental.emptyLike(d0))
      val out = new Incremental.State(ZSetFrame.fromDelta(
        d0.df.where(lit(false))
          .select(col("k"), col("v").as("mx"), lit(0L).as("n"), col(ZSetFrame.W))))
      Seq(d0, d1, retract).foreach { d => out.update(in.aggStep(d)(aggFn)) }
      assertSameRows(out.acc.consolidate.df, aggFn(in.snapshot.consolidate).df)
    }
  }

  test("BucketedUpsertStateLong ≡ naive fold across steps (incl. growth + dup keys)") {
    import graft.incremental.BucketedUpsertStateLong
    import org.apache.spark.ShuffleDependency
    val stL = new BucketedUpsertStateLong(spark.sparkContext, 4, math.max)
    val naive = scala.collection.mutable.Map[Long, Long]()
    val rnd = new scala.util.Random(11)
    // > 2× Pinned.TruncateEvery steps so the lineage-truncation path (every 8th
    // generation localCheckpoints) runs — and semantics survive it
    for (step <- 1 to 18) {
      // enough keys per step to force LongLongMap growth through several
      // doublings, and a hot key so duplicate-in-delta emission is exercised
      val delta = Seq.fill(3000)((rnd.nextInt(5000).toLong,
        rnd.nextLong(1L << 40))) ++ Seq((42L, step.toLong), (42L, step + 7L))
      val emitted = stL.step(spark.sparkContext.parallelize(delta, 3)).collect()
      delta.foreach { case (k, v) =>
        naive(k) = naive.get(k).map(math.max(_, v)).getOrElse(v)
      }
      assert(emitted.map(_._1).distinct.length == emitted.length,
        "dup delta keys must emit one row")
      assert(emitted.toMap.keySet == delta.map(_._1).toSet)
      emitted.foreach { case (k, v) => assert(v == naive(k), s"key $k") }
      // partition-preservation: the state keeps its partitioner, and the
      // merge's lineage has NO shuffle dependency on the state side — only
      // the delta's partitionBy shuffles (the O(|Δ|)-network contract)
      assert(stL.snapshot.partitioner.exists(_.numPartitions == 4))
      val mergedDeps = stL.snapshot.dependencies.head.rdd.dependencies
      assert(mergedDeps.forall(!_.isInstanceOf[ShuffleDependency[_, _, _]]),
        "the bucket merge must be narrow on both sides (the delta's " +
          "shuffle happens inside its partitionBy, upstream of the zip)")
    }
    assert(stL.snapshot.collect().toMap == naive.toMap)
    assert(stL.size == naive.size.toLong)
    // keys are physically where the partitioner says (bucket-local merge is
    // only correct if delta and state agree on placement)
    val part = stL.snapshot.partitioner.get
    stL.snapshot.mapPartitionsWithIndex { (pid, it) =>
      it.map { case (k, _) => (k, pid) }
    }.collect().foreach { case (k, pid) => assert(part.getPartition(k) == pid) }
    stL.close()
  }

  test("LongLongMap: put/combine/growth semantics") {
    // (copyWith was removed in r16: it was the pre-r11
    // copy-the-whole-bucket-per-step design's vehicle, dead since the
    // spine-overlay layout — code-review r16)
    import graft.incremental.LongLongMap
    val m = new LongLongMap(4)
    (0L until 1000L).foreach(k => m.put(k, k * 2, math.max))
    (0L until 1000L).foreach(k => m.put(k, k, math.max)) // no-op (smaller)
    assert(m.size == 1000)
    (0L until 1000L).foreach(k => assert(m.getOrElse(k, -1L) == k * 2))
    assert(m.getOrElse(5000L, -1L) == -1L)
    // negative keys (hash mixing must handle the full long range)
    m.put(-77L, 3L, math.max)
    assert(m.getOrElse(-77L, -1L) == 3L)
    assert(m.iterator.size == m.size)
  }

  test("unpersistTree never walks THROUGH a released node into deeper pins") {
    // code-review r16: unpersist drops the storage level synchronously, so
    // when a plan reaches the same persisted generation by TWO paths the
    // second path saw level NONE and recursed into the node's lineage —
    // unpersisting blocks a live owner still serves. The deeper pin below
    // must survive the dual-path release.
    import graft.incremental.Pinned
    import org.apache.spark.storage.StorageLevel
    val sc = spark.sparkContext
    val deep = sc.parallelize(1 to 10, 2).persist(StorageLevel.MEMORY_ONLY)
    deep.count()
    val mid = deep.map(identity).persist(StorageLevel.MEMORY_ONLY)
    mid.count()
    val twoPaths = mid.map(identity).union(mid.map(_ + 1))
    try {
      Pinned.unpersistTree(twoPaths)
      assert(mid.getStorageLevel == StorageLevel.NONE,
        "the owned first-persisted node must be released")
      assert(deep.getStorageLevel != StorageLevel.NONE,
        "the deeper pin belongs to someone else and must survive")
    } finally deep.unpersist(false)
  }

  test("repeated compact() without merges releases superseded segments (idle-GC tick)") {
    // code-review r15: install retires superseded segments at the CURRENT
    // generation and the RetireQueue frees only on advance(), which ran
    // solely in the merge prologue - so an idle stream compacting on a
    // periodic cadence (RollingLinearState.gcBefore) accumulated one
    // pinned full-state copy per tick, never released. compact() now
    // advances the clock itself.
    import spark.implicits._
    val d0 = ZSetFrame.fromDelta(
      (0L until 64L).map(k => (k, k * 10, 1L)).toDF("k", "v", ZSetFrame.W))
    val st = new KeyedState(Seq("k"), 4, graft.incremental.Incremental.emptyLike(d0))
    st.merge(d0)
    // settle: two compacts may legitimately hold the previous generation
    st.compact(); st.compact()
    val settled = spark.sparkContext.getPersistentRDDs.size
    (0 until 6).foreach(_ => st.compact())
    val after = spark.sparkContext.getPersistentRDDs.size
    assert(after <= settled,
      s"pinned RDD count grew across idle compacts: $settled -> $after")
    // state content survives the churn
    assert(st.view(0 until 4).consolidate.df.count() === 64)
    st.close()
  }

  test("layout law: view(S) ≡ the naive fold restricted to S, across a generated op sequence") {
    // every way a step can rewrite the packed layout — replace and append
    // merges, aggStep with and without restrictTo (and in append mode), a
    // caller compact (also straight after an append), an empty delta, a
    // join step, and a bulk step touching every bucket — must leave each
    // bucket readable on its own: view(S) equals the naive Z-set fold
    // filtered to pmod(hash(k), n) ∈ S, for S = ∅, a singleton, a random
    // subset and all buckets. Every op runs twice, on twin states: once
    // with the delta as a `Seq.toDF` frame (the driver route) and once with
    // it pinned first (the shuffle route). Both twins must match the fold,
    // aggStep's emitted deltas the batch max-per-key difference, and
    // joinDeltaKeyed's the batch join difference.
    val n = 16
    val rnd = new scala.util.Random(1700)
    val naive = scala.collection.mutable.Map.empty[(Long, Long), Long]
    val naiveDim = scala.collection.mutable.Map.empty[(Long, Long), Long]
    def fold(into: scala.collection.mutable.Map[(Long, Long), Long], rows: Seq[(Long, Long, Long)]): Unit =
      rows.foreach { case (k, v, w) =>
        val nw = into.getOrElse((k, v), 0L) + w
        if (nw == 0) into.remove((k, v)) else into((k, v)) = nw
      }
    val pins = scala.collection.mutable.Buffer.empty[ZSetFrame]
    /** The delta as each route's twin receives it: driver-resident, then pinned. */
    def routes(rows: Seq[(Long, Long, Long)], v: String = "v"): Seq[ZSetFrame] = {
      val pinned = zf(rows, v).localCheckpoint(eager = true)
      pins += pinned
      Seq(zf(rows, v), pinned)
    }
    // inserts with weights 1-2, two exact-duplicate rows, retractions of
    // live rows, and a fresh row whose weights net to zero
    def delta(inserts: Int, keySpace: Int): Seq[(Long, Long, Long)] = {
      val ins = Seq.fill(inserts)(
        (rnd.nextInt(keySpace).toLong, rnd.nextInt(50).toLong, 1L + rnd.nextInt(2)))
      val ret = rnd.shuffle(naive.keys.toSeq.sorted).take(2).map { case (k, v) => (k, v, -1L) }
      val netZero = (rnd.nextInt(keySpace).toLong, 1000L + rnd.nextInt(50))
      ins ++ ins.take(2) ++ ret ++ Seq((netZero._1, netZero._2, 1L), (netZero._1, netZero._2, -1L))
    }
    def maxAgg(z: ZSetFrame): ZSetFrame =
      z.aggregate(Seq(col("k")), expandWeights = false, max(col("v")).as("mx"))
    def maxOf(m: collection.Map[(Long, Long), Long]): Map[(Long, Long), Long] =
      m.keys.groupBy(_._1).map { case (k, kvs) => (k, kvs.map(_._2).max) -> 1L }
    def joinOf(a: collection.Map[(Long, Long), Long],
               b: collection.Map[(Long, Long), Long]): Map[(Long, Long, Long), Long] = {
      val bByK = b.toSeq.groupBy(_._1._1)
      a.toSeq.flatMap { case ((k, v), wa) =>
        bByK.getOrElse(k, Nil).map { case ((_, at), wb) => (k, v, at) -> wa * wb }
      }.groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 != 0)
    }
    def diff[K](before: Map[K, Long], after: Map[K, Long]): Map[K, Long] =
      (before.keySet ++ after.keySet).toSeq
        .map(r => r -> (after.getOrElse(r, 0L) - before.getOrElse(r, 0L))).filter(_._2 != 0).toMap
    val sts = Seq.fill(2)(new KeyedState(Seq("k"), n, Incremental.emptyLike(zf(Seq((0L, 0L, 1L))))))
    val dims = Seq.fill(2)(new KeyedState(Seq("k"), n,
      Incremental.emptyLike(zf(Seq((0L, 0L, 1L)), "attr"))))
    val routeName = Seq("driver route", "shuffle route")
    def checkViews(label: String): Unit =
      Seq(Seq.empty[Int], Seq(rnd.nextInt(n)), (0 until n).filter(_ => rnd.nextBoolean()),
          0 until n).foreach { s =>
        val want = naive.filter { case ((k, _), _) => s.contains(KeyedState.bucketOfLongs(Seq(k), n)) }
        sts.zip(routeName).foreach { case (st, r) =>
          assert(rowsOf(st.view(s)) == want, s"after $label on the $r: view(${s.mkString(",")}) differs")
        }
      }
    def aggOp(rows: Seq[(Long, Long, Long)], restrict: Boolean, append: Boolean): Unit = {
      val before = maxOf(naive)
      val keys = rows.map(_._1).distinct
      val outs = sts.zip(routes(rows)).map { case (st, d) =>
        rowsOf(st.aggStep(d, append = append,
          restrictTo = if (restrict) Some(col("k").isin(keys: _*)) else None)(maxAgg))
      }
      fold(naive, rows)
      val want = diff(before, maxOf(naive))
      outs.zip(routeName).foreach { case (out, r) =>
        assert(out == want, s"aggStep(restrict=$restrict, append=$append) on the $r emitted a wrong delta")
      }
    }
    def joinOp(rowsA: Seq[(Long, Long, Long)], rowsB: Seq[(Long, Long, Long)]): Unit = {
      val before = joinOf(naive, naiveDim)
      val (as, bs) = (routes(rowsA), routes(rowsB, "attr"))
      val outs = sts.indices.map { i =>
        val out = Incremental.joinDeltaKeyed(sts(i), as(i), dims(i), bs(i), Seq("k"))
        out.consolidate.df.collect().map(r =>
          (r.getAs[Long]("k"), r.getAs[Long]("v"), r.getAs[Long]("attr")) -> r.getAs[Long](ZSetFrame.W)).toMap
      }
      fold(naive, rowsA); fold(naiveDim, rowsB)
      val want = diff(before, joinOf(naive, naiveDim))
      outs.zip(routeName).foreach { case (out, r) =>
        assert(out == want, s"joinDeltaKeyed on the $r emitted a wrong delta")
      }
      val dimWant = naiveDim.toMap
      dims.zip(routeName).foreach { case (d, r) =>
        assert(rowsOf(d.snapshot) == dimWant, s"joinDeltaKeyed on the $r left a wrong B trace")
      }
    }
    def dimDelta(): Seq[(Long, Long, Long)] = {
      val ins = Seq.fill(6)((rnd.nextInt(200).toLong, rnd.nextInt(5).toLong, 1L + rnd.nextInt(2)))
      ins ++ rnd.shuffle(naiveDim.keys.toSeq.sorted).take(2).map { case (k, at) => (k, at, -1L) }
    }
    def mergeOp(rows: Seq[(Long, Long, Long)], append: Boolean): Unit = {
      sts.zip(routes(rows)).foreach { case (st, d) => st.merge(d, append = append) }
      fold(naive, rows)
    }
    val ops = rnd.shuffle(Seq("replace", "append", "agg", "aggRestrict", "aggAppend", "compact",
      "empty", "join") ++ Seq("replace", "append", "agg", "aggRestrict", "aggAppend", "join")) ++
      Seq("append", "compact", "bulk")
    ops.foreach { op =>
      op match {
        case "replace" => mergeOp(delta(5, 200), append = false)
        case "append" => mergeOp(delta(5, 200), append = true)
        case "agg" => aggOp(delta(5, 200), restrict = false, append = false)
        case "aggRestrict" => aggOp(delta(5, 200), restrict = true, append = false)
        case "aggAppend" => aggOp(delta(5, 200), restrict = true, append = true)
        case "compact" => sts.foreach(_.compact())
        case "empty" =>
          aggOp(Nil, restrict = false, append = false)
          mergeOp(Nil, append = true)
        case "join" => joinOp(delta(5, 200), dimDelta())
        case "bulk" =>
          val d = delta(300, 200)
          assert(KeyedState.bucketsOfLongKeys(d.map(_._1), n).size == n, "bulk step must touch every bucket")
          mergeOp(d, append = false)
      }
      checkViews(op)
    }
    // after the bulk replace every bucket has one segment, packed into
    // G = min(n, cores) partitions: reading one bucket pulls whole chunk
    // elements from its partition (counted by the cached-block reader),
    // never the rows of the buckets packed beside it
    val st = sts.head
    val g = math.min(n, spark.sparkContext.defaultParallelism)
    val b = (0 until n).maxBy(b => naive.keys.count(kv => KeyedState.bucketOfLongs(Seq(kv._1), n) == b))
    val (rows, shape) = StepShape.measure(spark)(st.view(Seq(b)).df.queryExecution.toRdd.count())
    val coPacked = naive.keys.count(kv => KeyedState.bucketOfLongs(Seq(kv._1), n) != b)
    assert(rows == naive.keys.count(kv => KeyedState.bucketOfLongs(Seq(kv._1), n) == b))
    assert(shape.tasks == 1, s"one bucket must read as one task, got $shape")
    assert(shape.cachedRecordsRead <= (n + g - 1) / g,
      s"reading bucket $b pulled ${shape.cachedRecordsRead} cached elements: more than its " +
        s"partition's chunk count (the $coPacked co-packed rows must not be iterated)")
    (sts ++ dims).foreach(_.close())
    pins.foreach(p => Pinned.release(p.df))
  }

  test("a driver-resident delta's under-inclusive knownTouched fails loudly and changes nothing") {
    // the driver route sees every row's bucket, the shuffle route reads
    // them off its routing shuffle's map output: both always refuse a span
    // that misses one — with DurableKeyedState's error, before anything is
    // installed. Each step runs on a driver-resident delta and on its
    // pinned (shuffle-route) twin.
    val n = 8
    val st = new KeyedState(Seq("k"), n, Incremental.emptyLike(zf(Seq((0L, 0L, 1L)))))
    val dim = new KeyedState(Seq("k"), n, Incremental.emptyLike(zf(Seq((0L, 0L, 1L)), "attr")))
    st.merge(zf((0L until 32L).map(k => (k, k, 1L))))
    dim.merge(zf((0L until 32L).map(k => (k, k % 3, 1L)), "attr"))
    val before = (rowsOf(st.snapshot), rowsOf(dim.snapshot))
    val d = zf(Seq((3L, 99L, 1L), (4L, 7L, 2L)))
    val dDim = zf(Seq((3L, 1L, 1L)), "attr")
    val missed = KeyedState.bucketOfLongs(Seq(3L), n)
    val wrong = Some((0 until n).filterNot(_ == missed))
    def refused(step: String)(f: => Any): Unit = {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains("knownTouched") && e.getMessage.contains(s"$missed"),
        s"$step: ${e.getMessage}")
      assert((rowsOf(st.snapshot), rowsOf(dim.snapshot)) == before, s"$step changed the state")
    }
    val pinned = Seq(d, dDim).map(_.localCheckpoint(eager = true))
    for ((route, (dA, dB)) <- Seq("driver" -> (d, dDim), "shuffle" -> (pinned(0), pinned(1)))) {
      refused(s"$route merge")(st.merge(dA, knownTouched = wrong))
      refused(s"$route merge append")(st.merge(dA, knownTouched = wrong, append = true))
      refused(s"$route aggStep")(st.aggStep(dA, knownTouched = wrong)(
        _.aggregate(Seq(col("k")), expandWeights = false, max(col("v")).as("mx"))))
      refused(s"$route aggStep append")(st.aggStep(dA, knownTouched = wrong, append = true)(
        _.aggregate(Seq(col("k")), expandWeights = false, max(col("v")).as("mx"))))
      refused(s"$route joinDeltaKeyed A")(Incremental.joinDeltaKeyed(st, dA, dim, dB, Seq("k"),
        knownTouchedA = wrong))
      refused(s"$route joinDeltaKeyed B")(Incremental.joinDeltaKeyed(st, dA, dim, dB, Seq("k"),
        knownTouchedB = wrong))
    }
    // a superset span is fine, on both routes
    st.merge(d, knownTouched = Some(0 until n))
    st.merge(pinned(0), knownTouched = Some(0 until n))
    assert(rowsOf(st.snapshot) == before._1 ++ Map((3L, 99L) -> 2L, (4L, 7L) -> 4L))
    st.close(); dim.close(); pinned.foreach(p => Pinned.release(p.df))
  }

  test("the shuffle route's span is exact at every map-status encoding and costs no job") {
    // a shuffle-routed delta's span is read off its routing shuffle: a
    // bucket is in it exactly when a map task wrote rows there. Past 200
    // reduce partitions Spark changes shuffle writer and past 2000 it
    // compresses map statuses; with AQE off the step submits the map stage
    // itself. At each, a knownTouched one bucket short fails, and a merge
    // still runs the routing map stage and the consolidation only.
    val aqe = "spark.sql.adaptive.enabled"
    val was = spark.conf.get(aqe)
    val keys = Seq(1L, 2L, 3L, 50L, 700L, 12345L)
    val rows = keys.map(k => (k, k, 1L))
    try for ((n, adaptive) <- Seq((8, true), (300, true), (2500, true), (8, false), (300, false))) {
      spark.conf.set(aqe, adaptive)
      val buckets = KeyedState.bucketsOfLongKeys(keys, n)
      val st = new KeyedState(Seq("k"), n, Incremental.emptyLike(zf(rows)))
      val d = zf(rows).localCheckpoint(eager = true)
      val e = intercept[IllegalArgumentException](st.merge(d, knownTouched = Some(buckets.tail)))
      assert(e.getMessage.contains("knownTouched") && e.getMessage.contains(s"(${buckets.head})"),
        s"n=$n AQE=$adaptive: ${e.getMessage}")
      val (_, shape) = StepShape.measure(spark)(st.merge(d, knownTouched = Some(buckets)))
      assert(shape.jobs == 2, s"n=$n AQE=$adaptive: a shuffle-route merge ran $shape")
      assert(rowsOf(st.snapshot) == rows.map { case (k, v, w) => (k, v) -> w }.toMap)
      st.close(); Pinned.release(d.df)
    } finally spark.conf.set(aqe, was)
  }

  test("driver-side touchedBuckets and probe run no job and match the SQL hash() bucket") {
    val n = 32
    val longs = Seq(0L, 1L, -1L, 97L, 123456789L, Long.MaxValue, Long.MinValue, 97L)
    val strings = Seq("", "a", "spark", "ünïcødé-ターム", "a longer term", "spark")
    def check(st: KeyedState, d: ZSetFrame, key: String): Unit = {
      val want = d.df.select(pmod(hash(col(key)), lit(n))).distinct().collect().map(_.getInt(0)).toSeq.sorted
      val (got, shape) = StepShape.measure(spark)(st.touchedBuckets(d))
      assert(got == want)
      assert(shape.jobs == 0, s"driver-side touchedBuckets ran $shape")
      val (_, probeShape) = StepShape.measure(spark)(st.probe(d))
      assert(probeShape.jobs == 0, s"driver-side probe ran $probeShape")
      // a cluster-resident delta takes the job route to the same buckets
      val pinned = d.localCheckpoint(eager = true)
      assert(st.touchedBuckets(pinned) == want)
      Pinned.release(pinned.df)
    }
    val ls = new KeyedState(Seq("k"), n, Incremental.emptyLike(zf(Seq((0L, 0L, 1L)))))
    check(ls, zf(longs.map(k => (k, 1L, 1L))), "k")
    val ts = new KeyedState(Seq("t"), n,
      Incremental.emptyLike(ZSetFrame.fromDelta(Seq(("x", 1L)).toDF("t", ZSetFrame.W))))
    check(ts, ZSetFrame.fromDelta(strings.map(t => (t, 1L)).toDF("t", ZSetFrame.W)), "t")
    ls.close(); ts.close()
  }

  test("joinDeltaKeyed: a rand() delta lands the same rows in the traces as in its emitted delta") {
    // the determinism guard: a delta computing rand(), a nondeterministic
    // UDF or the current time also folds to a LocalRelation, but a fold per
    // optimized plan would hand each consumer new rows — such a delta is
    // pinned once and shared
    val noise = udf(() => scala.util.Random.nextInt(1000).toLong).asNondeterministic()
    val attrs = Seq(noise(), unix_micros(current_timestamp()), noise())
    val aSt = new KeyedState(Seq("k"), 8, Incremental.emptyLike(zf(Seq((0L, 0L, 1L)))))
    val bSt = new KeyedState(Seq("k"), 8, Incremental.emptyLike(zf(Seq((0L, 0L, 1L)), "attr")))
    val out = new Incremental.State(Incremental.emptyLike(
      zf(Seq((0L, 0L, 1L))).join(zf(Seq((0L, 0L, 1L)), "attr"), Seq("k"))))
    attrs.foreach { attr =>
      val keys = (1L to 20L).toDF("k")
      val dA = ZSetFrame.fromDelta(keys.select(col("k"),
        (rand() * 1000).cast("long").as("v"), lit(1L).as(ZSetFrame.W)))
      val dB = ZSetFrame.fromDelta(keys.select(col("k"), attr.as("attr"), lit(1L).as(ZSetFrame.W)))
      out.update(Incremental.joinDeltaKeyed(aSt, dA, bSt, dB, Seq("k")))
    }
    assertSameRows(out.acc.consolidate.df, aSt.snapshot.join(bSt.snapshot, Seq("k")).consolidate.df)
    aSt.close(); bSt.close()
  }

  test("the pin rule: a delta is stable exactly when its plan is fixed data under a deterministic, clock-free plan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pin-rule").toString
    spark.range(6).select(col("id").as("k"), (col("id") % 3).as("v"))
      .write.mode("overwrite").parquet(dir)
    val scan = spark.read.parquet(dir)
    val local = Seq((1L, 2L), (3L, 4L)).toDF("k", "v")
    val range = spark.range(4).select(col("id").as("k"), (col("id") * 2).as("v"))
    val eager = scan.localCheckpoint(true)
    val lazyPin = scan.localCheckpoint(false)
    val st = new KeyedState(Seq("k"), 4, ZSetFrame.fromTable(local))
    val noise = udf(() => scala.util.Random.nextInt(10).toLong).asNondeterministic()
    try {
      val stable = Seq(
        "Seq.toDF" -> local, "range" -> range, "eager localCheckpoint" -> eager,
        "lazy localCheckpoint" -> lazyPin,
        "select" -> eager.select((col("k") + 1).as("k"), col("v")),
        "where" -> lazyPin.where(col("v") > 0), "join" -> local.join(eager, "k"),
        "union" -> range.union(lazyPin).union(local))
      val unstable = Seq(
        "parquet scan" -> scan, "KeyedState view" -> st.snapshot.df,
        "rand()" -> local.select(col("k"), (rand() * 10).cast("long").as("v")),
        "nondeterministic UDF" -> range.select(col("k"), noise().as("v")),
        "current_timestamp()" -> local.select(col("k"), unix_micros(current_timestamp()).as("v")),
        "pinned ⋈ scan" -> eager.join(scan, "k"))
      stable.foreach { case (n, df) => assert(Pinned.isStable(df), s"$n must be stable") }
      unstable.foreach { case (n, df) => assert(!Pinned.isStable(df), s"$n must not be stable") }
    } finally {
      st.close(); Pinned.release(eager); Pinned.release(lazyPin)
    }
  }

  test("a failed joinDeltaKeyed step throws its cause unwrapped and leaves no pin behind") {
    // with requireAllClusterKeysForDistribution a merge's in-place
    // consolidation needs an exchange, which its soundness gate refuses, so
    // the merge tasks fail while the co-partitioned output job (a join on
    // exactly the bucket key) succeeds: the step must throw a merge's own
    // exception, and release the output it already pinned (the states'
    // segments are unchanged — neither merge installed anything). The
    // deltas are driver-resident: the shuffle route would refuse the conf
    // while routing, before the output job starts.
    val n = 8
    val aSt = new KeyedState(Seq("k"), n, zf((0L until 16L).map(k => (k, k, 1L))))
    val bSt = new KeyedState(Seq("k"), n, zf((0L until 16L).map(k => (k, k % 3, 1L)), "attr"))
    val dA = zf((0L until 16L).map(k => (k, k + 100, 1L)))
    val dB = zf((0L until 16L).map(k => (k, 7L, 1L)), "attr")
    val sc = spark.sparkContext
    val conf = "spark.sql.requireAllClusterKeysForDistribution"
    val before = sc.getPersistentRDDs.keySet
    spark.conf.set(conf, "true")
    try {
      val (e, shape) = StepShape.measure(spark)(intercept[IllegalArgumentException](
        Incremental.joinDeltaKeyed(aSt, dA, bSt, dB, Seq("k"),
          knownTouchedA = Some(0 until n), knownTouchedB = Some(0 until n))))
      assert(e.getMessage.contains("materializeAligned planned an Exchange"), e.getMessage)
      assert(shape.jobs == 1, s"the output job alone should have run: $shape")
      assert(sc.getPersistentRDDs.keySet -- before == Set.empty,
        "the failed step left pinned RDDs behind")
    } finally {
      spark.conf.unset(conf)
      aSt.close(); bSt.close()
    }
  }

  test("a packed partition's skipped chunks are never iterated") {
    // BucketUnionRDD picks chunks by slot: the rows of a chunk it does not
    // select are never touched — here any touch of them throws
    import org.apache.spark.sql.catalyst.InternalRow
    import graft.plans.BucketUnionRDD
    val packed = spark.sparkContext.parallelize(Seq(0), 1).mapPartitions { _ =>
      def rows(vs: Long*): Array[InternalRow] = vs.map(v => new PoisonableRow(v, false): InternalRow).toArray
      def poison: Array[InternalRow] = Array(new PoisonableRow(0L, true))
      Iterator(poison, rows(1L, 2L), poison, rows(3L), poison)
    }.localCheckpoint()
    packed.count()
    val view = new BucketUnionRDD(Seq(packed), Array(Array(Array((0, Array(1, 3))))))
    assert(view.map(_.getLong(0)).collect().sorted.toSeq == Seq(1L, 2L, 3L))
    Pinned.unpersistTree(packed)
  }

  test("EpochSlices.read keeps the multiplicity of exact-duplicate source rows") {
    // the slicer's replace merge weight-merges an exact-duplicate source row
    // into one row of weight 2; the epoch read must expand it back
    val src = Seq((1L, "a", 1L), (1L, "a", 1L), (2L, "b", 1L), (3L, "c", 2L), (4L, "d", 1L))
      .toDF("doc_id", "term", "tf")
    val es = new graft.queries.CdcReplay.EpochSlices(src,
      graft.queries.CdcReplay.Epochs(2, 0 until 2, 3))
    try {
      assertSameRows(es.insert(1), src.where(pmod(col("doc_id"), lit(2L)) === 1L))
      assertSameRows(es.retract, src.where(pmod(col("doc_id"), lit(10L)) === 3L))
    } finally es.close()
  }
}

/** A test row whose field reads throw when `poisoned`. */
final class PoisonableRow(v: Long, poisoned: Boolean)
    extends org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](v)) {
  override protected def genericGet(ordinal: Int): Any =
    if (poisoned) throw new IllegalStateException("a skipped chunk's row was read")
    else super.genericGet(ordinal)
}
