package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ZSetFrame
import graft.incremental.{Incremental, KeyedState, Pinned}

/** keyed_cdc — a closed loop with one CDC writer that waits for each step.
  * Each step applies one mixed delta to two views over bucketed traces:
  * max(v) per key (`KeyedState.aggStep`) and fact ⋈ dim
  * (`Incremental.joinDeltaKeyed`). The delta is sized so that about half
  * the buckets are touched: that is where the O(Δ + touched buckets) step
  * contract shows. A short bulk phase then merges ~10% of the trace per
  * step, so a small-delta optimisation that hurts bulk ingest shows too. */
final class KeyedCdc(spark: SparkSession, a: Main.Args, tracer: Tracer, r: Report)
    extends Workload {
  import KeyedCdc._
  import spark.implicits._

  private val rnd = new scala.util.Random(a.seed)
  /** The fact multiset as the writer knows it: packed (k, v) → weight, plus
    * an index of live pairs for drawing retractions. */
  private val live = new LiveSet
  private val dim = mutable.LongMap.empty[Long]

  private val seedRows: Array[Long] = Array.fill(TraceRows) {
    val p = pack(rnd.nextInt(Keys), rnd.nextInt(Values))
    live.add(p, 1L); p
  }
  (0 until Keys).foreach(k => dim(k.toLong) = rnd.nextInt(Attrs).toLong)
  private val seedDim = dim.toSeq

  /** Every delta applied, in order, for the independent check. */
  private val factLog = mutable.ArrayBuffer.empty[(Long, Long, Long)]
  private val dimLog = mutable.ArrayBuffer.empty[(Long, Long, Long)]

  private def nextDelta(): Delta = {
    val f = mutable.ArrayBuffer.empty[(Long, Long, Long)]
    def fresh(): Long = pack(rnd.nextInt(Keys), rnd.nextInt(Values))
    (0 until Inserts).foreach { i =>
      if (i < 2) { val p = live.draw(rnd); f += ((key(p), value(p), 1L)) } // weight bump of a live row
      else if (i < 4) { val p = fresh(); f += ((key(p), value(p), 1L)); f += ((key(p), value(p), 1L)) } // exact duplicate rows
      else if (i < 8) { val p = fresh(); f += ((key(p), value(p), 2L)) } // weight > 1
      else { val p = fresh(); f += ((key(p), value(p), 1L)) }
    }
    // retractions of live rows, distinct and drawn before this delta's inserts land
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < Retracts) picked += live.draw(rnd)
    picked.foreach(p => f += ((key(p), value(p), -1L)))
    f.foreach { case (k, v, w) => live.add(pack(k.toInt, v), w) }
    val d = (0 until DimUpserts).flatMap { _ =>
      val k = rnd.nextInt(Keys).toLong
      val old = dim(k)
      val nu = (old + 1 + rnd.nextInt(Attrs - 1)) % Attrs
      dim(k) = nu
      Seq((k, old, -1L), (k, nu, 1L))
    }
    factLog ++= f; dimLog ++= d
    Delta(f.toSeq, d)
  }

  private def bulkDelta(): Delta = {
    val f = Array.fill(BulkRows) {
      val p = pack(rnd.nextInt(Keys), rnd.nextInt(Values)); live.add(p, 1L)
      (key(p), value(p), 1L)
    }.toSeq
    factLog ++= f
    Delta(f, Nil)
  }

  private def factDf(rows: Seq[(Long, Long, Long)]): ZSetFrame =
    ZSetFrame.fromDelta(rows.toDF("k", "v", ZSetFrame.W))
  private def dimDf(rows: Seq[(Long, Long, Long)]): ZSetFrame =
    ZSetFrame.fromDelta(rows.toDF("k", "attr", ZSetFrame.W))

  private final class States {
    private val seedFact = ZSetFrame.fromTable(spark.sparkContext
      .parallelize(seedRows.toIndexedSeq, Main.Cores).map(p => (key(p), value(p))).toDF("k", "v"))
    val agg = new KeyedState(Seq("k"), Buckets, seedFact)
    val fact = new KeyedState(Seq("k"), Buckets, seedFact)
    val dims = new KeyedState(Seq("k"), Buckets, ZSetFrame.fromTable(
      spark.sparkContext.parallelize(seedDim, Main.Cores).toDF("k", "attr")))
    def close(): Unit = { agg.close(); fact.close(); dims.close() }
  }

  private def maxAgg(z: ZSetFrame): ZSetFrame =
    z.aggregate(Seq(col("k")), expandWeights = false, max("v").as("mx"))

  /** Adds one step's emitted deltas of both views to the integrated
    * outputs (one job, consolidated on the driver); returns the physical
    * rows emitted. */
  private def collect(aggD: ZSetFrame, joinD: ZSetFrame): Long = {
    val rows = aggD.df.select(lit(0).as("view"), $"k", $"mx".as("a"),
        lit(null).cast("long").as("b"), col(ZSetFrame.W))
      .unionByName(joinD.df.select(lit(1).as("view"), $"k", $"v".as("a"), $"attr".as("b"),
        col(ZSetFrame.W)))
      .collect()
    rows.foreach { row =>
      val (into, key) =
        if (row.getInt(0) == 0) (aggOut, Seq[Any](row.getLong(1), row.getLong(2)))
        else (joinOut, Seq[Any](row.getLong(1), row.getLong(2), row.getLong(3)))
      val w = into.getOrElse(key, 0L) + row.getLong(4)
      if (w == 0L) into.remove(key) else into(key) = w
    }
    rows.length
  }
  private val aggOut = mutable.HashMap.empty[Seq[Any], Long]
  private val joinOut = mutable.HashMap.empty[Seq[Any], Long]

  /** Measured step walls in run order, and whether each was traced. */
  private val measured = mutable.ArrayBuffer.empty[(Double, Boolean)]
  private val stepSpans = mutable.ArrayBuffer.empty[String]
  private def tracedWalls = measured.collect { case (w, true) => w }.toSeq
  private def untracedWalls = measured.collect { case (w, false) => w }.toSeq

  def run(): Unit = {
    val deltas = mutable.Queue.empty[Delta]
    val early = (0 until Warmup + MinSteps).map { _ => val d = nextDelta(); deltas += d; d }
    r.layer("incremental.touched_bucket_frac", "ratio", Stats.mean(early.map(d =>
      KeyedState.bucketsOfLongKeys(d.keys, Buckets).size.toDouble / Buckets).drop(Warmup)))

    var st: States = null
    (0 until Setups).foreach { _ =>
      if (st != null) st.close()
      val (s, secs) = Stats.time(tracer.span("setup")(new States))
      st = s; r.setups += secs
    }
    r.phase("setup done")
    r.layer("plans.view_agg_exchanges", "count", {
      val plan = st.agg.view(0 until Buckets).df.groupBy("k").agg(max("v"))
        .queryExecution.executedPlan.toString
      plan.linesIterator.count(_.contains("Exchange")).toDouble
    })

    val emitted = mutable.ArrayBuffer.empty[Double]

    def applyStep(d: Delta, name: String): (Double, String, Double) = {
      val touched = KeyedState.bucketsOfLongKeys(d.keys, Buckets)
      val fact = factDf(d.fact)
      val dimD = dimDf(d.dim)
      var stepId = ""
      val t0 = System.nanoTime()
      val (aggD, joinD) = tracer.span(name) {
        stepId = tracer.currentSpan
        val ag = tracer.span("KeyedState.aggStep") {
          st.agg.aggStep(fact, knownTouched = Some(touched))(maxAgg)
        }
        val jn = tracer.span("Incremental.joinDeltaKeyed") {
          Incremental.joinDeltaKeyed(st.fact, fact, st.dims, dimD, Seq("k"),
            knownTouchedA = Some(touched), knownTouchedB = Some(touched))
        }
        (ag, jn)
      }
      val wall = (System.nanoTime() - t0) / 1e9
      val n = tracer.span("bench.collect") {
        val n = collect(aggD, joinD)
        Pinned.release(aggD.df); Pinned.release(joinD.df)
        n
      }
      (wall, stepId, n.toDouble)
    }

    // Warmup untimed steps, then steps until `seconds` have passed and at
    // least MinSteps measured steps are done. A traced run attaches the
    // tracer on every other measured step and detaches it in between
    // (outside the timed calls), so the two interleaved samples give
    // trace.overhead_frac without a warm-up bias.
    val storageMb = mutable.ArrayBuffer.empty[Double]
    def step(i: Int): (Double, String) = {
      val d = if (deltas.nonEmpty) deltas.dequeue() else nextDelta()
      val (wall, id, n) = applyStep(d, "step")
      r.attempted += 1
      if (i >= Warmup && i < Warmup + MinSteps) emitted += n
      // storage after each of the same first steps on every run; the mean
      // smooths out which superseded segments happen to be still pinned
      if (i < Warmup + MinSteps) {
        val sc = spark.sparkContext
        storageMb += sc.getRDDStorageInfo.map(x => x.memSize + x.diskSize).sum / 1048576.0
        r.layer("incremental.persisted_rdds_end", "count", sc.getPersistentRDDs.size)
      }
      (wall, id)
    }
    if (a.trace) tracer.detach()
    (0 until Warmup).foreach(step)
    val t0 = System.nanoTime()
    var m = 0
    while ((System.nanoTime() - t0) / 1e9 < a.seconds || m < MinSteps) {
      if (a.trace) { if (m % 2 == 0) tracer.attach() else tracer.detach() }
      val on = tracer.enabled
      val (wall, id) = step(Warmup + m)
      measured += ((wall, on))
      if (on) stepSpans += id
      m += 1
    }
    r.e2e("state_mb", "MB", Stats.mean(storageMb.toSeq))
    r.phase("steps done")

    if (a.trace) tracer.attach()
    // the first bulk step warms the large-delta code paths and is not timed
    // into the result
    val bulk = (0 to BulkSteps).map { _ =>
      r.attempted += 1
      applyStep(bulkDelta(), "bulk_step")._1
    }.tail
    r.phase("bulk done")
    val all = measured.map(_._1).toSeq
    r.e2e("latency_p50_s", "s", Stats.median(untracedWalls))
    r.e2e("bulk_rows_per_s", "rows/s", BulkRows / Stats.median(bulk))
    r.layer("incremental.emitted_rows_per_step", "rows", Stats.mean(emitted.toSeq))
    r.layer("incremental.step_drift", "ratio", Stats.drift(all))
    r.info("steps", all.size)
    r.info("step_s", all)
    r.info("bulk_step_s", bulk)
    tracer.span("bench.check")(check(aggOut.toMap, joinOut.toMap))
    st.close()
  }

  def traced(idx: Tracer.Index, spans: Seq[Span]): Unit = {
    val steps = stepSpans.toSeq.flatMap(idx.byId.get)
    val stepIds = steps.map(_.id).toSet
    val calls = spans.filter(s => stepIds.contains(s.parent))
    val bulkSpans = spans.filter(_.name == "bulk_step").sortBy(_.start).drop(1)
    Layers.reportSpark(r, idx, steps, bulkSpans, spark.sparkContext.defaultParallelism)
    val (agg, aggSelf) = Layers.callTimes(idx, calls, "KeyedState.aggStep")
    val (join, joinSelf) = Layers.callTimes(idx, calls, "Incremental.joinDeltaKeyed")
    r.layer("incremental.agg_step_s", "s", agg)
    r.layer("incremental.agg_step_self_s", "s", aggSelf)
    r.layer("incremental.join_step_s", "s", join)
    r.layer("incremental.join_step_self_s", "s", joinSelf)
    r.layer("incremental.bulk_step_s", "s", Stats.median(bulkSpans.map(_.dur / 1e9)))
    r.layer("trace.overhead_frac", "ratio",
      Stats.median(tracedWalls) / Stats.median(untracedWalls) - 1)
  }

  /** Σ emitted Δ = V(final) − V(seed), for both views, by plain Spark SQL
    * over the generated inputs (seed tables plus every delta applied). */
  private def check(gotAgg: Map[Seq[Any], Long], gotJoin: Map[Seq[Any], Long]): Unit = {
    val seedF = spark.sparkContext.parallelize(seedRows.toIndexedSeq, Main.Cores)
      .map(p => (key(p), value(p), 1L)).toDF("k", "v", "w")
    val seedD = seedDim.map { case (k, at) => (k, at, 1L) }.toDF("k", "attr", "w")
    val finalF = seedF.union(factLog.toSeq.toDF("k", "v", "w"))
      .groupBy("k", "v").agg(sum("w").as("w")).where($"w" =!= 0)
    val finalD = seedD.union(dimLog.toSeq.toDF("k", "attr", "w"))
      .groupBy("k", "attr").agg(sum("w").as("w")).where($"w" =!= 0)
    def vMax(f: DataFrame) = f.where($"w" > 0).groupBy("k").agg(max("v").as("mx"))
      .withColumn("w", lit(1L))
    def vJoin(f: DataFrame, d: DataFrame) = f.join(d.withColumnRenamed("w", "wd"), "k")
      .select($"k", $"v", $"attr", ($"w" * $"wd").as("w"))
    def diff(fin: DataFrame, seed: DataFrame, cols: Seq[String]): Map[Seq[Any], Long] =
      fin.union(seed.withColumn("w", -$"w")).groupBy(cols.map(col): _*)
        .agg(sum("w").as("w")).where($"w" =!= 0).collect()
        .map(row => cols.indices.map(row.get) -> row.getLong(cols.size)).toMap
    val expAgg = diff(vMax(finalF), vMax(seedF), Seq("k", "mx"))
    val expJoin = diff(vJoin(finalF, finalD), vJoin(seedF, seedD), Seq("k", "v", "attr"))
    r.check("keyed_cdc.max_view", gotAgg == expAgg,
      s"got ${gotAgg.size} rows, expected ${expAgg.size}")
    r.check("keyed_cdc.join_view", gotJoin == expJoin,
      s"got ${gotJoin.size} rows, expected ${expJoin.size}")
  }
}

object KeyedCdc {
  val TraceRows = 60000
  val Keys = 6000
  val Values = 1000000
  val Attrs = 1000
  val Buckets = 64
  val Inserts = 32
  val Retracts = 16
  val DimUpserts = 2
  val BulkRows = TraceRows / 10
  val BulkSteps = 4
  val Setups = 3
  /** Untimed steps first: a fresh JVM's step walls fall for ~20 steps while
    * the JIT compiles the planner and generated code (~1.35 s at step 6,
    * ~1.1 s at step 20 on 4 cores), so without them the median would
    * depend on how many steps fit into the run. */
  val Warmup = 12
  /** Measured steps every run makes even when `seconds` runs out first, so
    * the seed-determined counts (touched buckets, emitted rows) and the
    * state size cover the same steps on every run. */
  val MinSteps = 3

  /** One step's input: fact and dimension rows (key, value, weight). */
  final case class Delta(fact: Seq[(Long, Long, Long)], dim: Seq[(Long, Long, Long)]) {
    def keys: Seq[Long] = (fact.map(_._1) ++ dim.map(_._1)).distinct
  }

  // (k, v) packed into one Long: k < 2^24, v < 2^32
  def pack(k: Int, v: Long): Long = (k.toLong << 32) | v
  def key(p: Long): Long = p >>> 32
  def value(p: Long): Long = p & 0xffffffffL

  /** Multiset of packed rows with O(1) uniform draws over distinct live rows. */
  final class LiveSet {
    private val weight = mutable.LongMap.empty[Long]
    private val slot = mutable.LongMap.empty[Int]
    private val rows = mutable.ArrayBuffer.empty[Long]
    def add(p: Long, w: Long): Unit = {
      val nw = weight.getOrElse(p, 0L) + w
      require(nw >= 0, "retraction of a row that is not live")
      if (nw == 0) {
        weight.remove(p)
        val i = slot.remove(p).get
        val last = rows.remove(rows.size - 1)
        if (last != p) { rows(i) = last; slot(last) = i }
      } else {
        if (!weight.contains(p)) { slot(p) = rows.size; rows += p }
        weight(p) = nw
      }
    }
    def draw(rnd: scala.util.Random): Long = rows(rnd.nextInt(rows.size))
  }
}
