package graft

import org.apache.spark.sql.functions._

import graft.core.ZSetFrame
import graft.incremental.{Incremental, KeyedState, Pinned}

/** Task shape of a keyed step over the packed bucket layout: a step over k
  * touched buckets reads each bucket view in G = min(k, cores) tasks, one
  * contiguous group of buckets per task, instead of one task per bucket.
  * 64 buckets, 36 of them touched; tasks and jobs are counted with a tagged
  * listener (StepShape) and pinned as upper bounds, and the RDDs a step
  * leaves pinned are counted exactly. Each delta-routing step runs on both
  * routes into the layout: a `Seq.toDF` delta takes the driver route (no
  * shuffle, no delta pin), the same delta pinned first takes the shuffle
  * route ("cluster" cases), and a parquet scan of it takes the shuffle
  * route and is pinned by the step ("scan" cases). */
class KeyedTaskShapeSpec extends SparkSpec {
  import spark.implicits._

  private val N = 64
  private val Touched = 36

  /** Per-step ceilings (jobs, tasks), measured on local[4] (G = 4) with the
    * packed layout. Before it, the same steps ran one task per touched
    * bucket in every view-reading stage. The driver-route steps ran
    * (4, 20) and (9, 44) on the shuffle route. Before the one step path,
    * "aggStep cluster" and "aggStep scan" pinned their mini-segment in a
    * job of its own (4, 20), and "joinDeltaKeyed scan" pinned each delta
    * eagerly in a job of its own (7, 32). Every step runs its
    * output job (aggStep, joinDeltaKeyed) beside its merges and nothing
    * else; the shuffle route adds one routing map job per delta, whose
    * map output every reader of the delta shares, and fills a scan
    * delta's pin in that same job. */
  private val bounds: Map[String, (Int, Int)] = Map(
    "aggStep" -> (2, 12),
    "aggStep cluster" -> (3, 16),
    "aggStep append" -> (2, 12),
    "aggStep scan" -> (3, 16),
    "merge" -> (2, 8),
    "merge append" -> (2, 8),
    "merge driver" -> (1, 4),
    "joinDeltaKeyed" -> (3, 16),
    "joinDeltaKeyed cluster" -> (5, 24),
    "joinDeltaKeyed scan" -> (5, 24))

  /** The RDDs a step leaves pinned: one per delta the pin rule cannot prove
    * stable (a parquet scan; a `Seq.toDF` delta and an already pinned one
    * are stable), plus its emitted output and each segment it installs. A
    * routed mini-segment that is not installed is never pinned. */
  private val pins: Map[String, Int] = Map(
    "aggStep" -> 2, "aggStep cluster" -> 2, "aggStep append" -> 2, "aggStep scan" -> 3,
    "merge" -> 1, "merge append" -> 1, "merge driver" -> 1,
    "joinDeltaKeyed" -> 3, "joinDeltaKeyed cluster" -> 3, "joinDeltaKeyed scan" -> 5)

  test("a keyed step reads each view in ≤ G tasks; per-step jobs and tasks stay bounded") {
    val rnd = new scala.util.Random(2100)
    // one key for each of the first `Touched` buckets the key sequence hits
    val keys = Iterator.from(0).map(_.toLong)
      .map(k => k -> KeyedState.bucketOfLongs(Seq(k), N))
      .scanLeft(Map.empty[Int, Long]) { case (m, (k, b)) => if (m.contains(b)) m else m + (b -> k) }
      .dropWhile(_.size < Touched).next().values.toSeq.sorted
    val touched = KeyedState.bucketsOfLongKeys(keys, N)
    assert(touched.size == Touched)
    val g = math.min(Touched, spark.sparkContext.defaultParallelism)

    def fact(rows: Seq[(Long, Long)]): ZSetFrame = ZSetFrame.fromTable(rows.toDF("k", "v"))
    val seed = fact(Seq.fill(6000)((rnd.nextInt(3000).toLong, rnd.nextInt(1000).toLong)))
    val seedDim = ZSetFrame.fromTable((0L until 3000L).map(k => (k, k % 7)).toDF("k", "attr"))
    def dFact(): ZSetFrame = ZSetFrame.fromDelta(
      keys.flatMap(k => Seq((k, rnd.nextInt(1000).toLong, 1L), (k, rnd.nextInt(1000).toLong, 2L)))
        .toDF("k", "v", ZSetFrame.W))
    val dDim = ZSetFrame.fromDelta(
      keys.flatMap(k => Seq((k, k % 7, -1L), (k, k % 7 + 1, 1L))).toDF("k", "attr", ZSetFrame.W))
    def maxAgg(z: ZSetFrame): ZSetFrame =
      z.aggregate(Seq(col("k")), expandWeights = false, max("v").as("mx"))

    val known = Some(touched)
    // the scan cases' deltas: a parquet scan is not stable, so the step pins it
    val dirs = Seq(dFact().df, dDim.df).map { df =>
      val dir = java.nio.file.Files.createTempDirectory("graft-shape-scan").toString
      df.write.mode("overwrite").parquet(dir)
      dir
    }
    def scan(dir: String): ZSetFrame = ZSetFrame.fromDelta(spark.read.parquet(dir))

    /** One run of the steps on fresh states. */
    def run(): Seq[(String, Shape)] = {
      val states = Seq.fill(10)(new KeyedState(Seq("k"), N, seed)) ++
        Seq.fill(3)(new KeyedState(Seq("k"), N, seedDim))
      val Seq(agg, aggC, aggA, aggS, replaced, appended, merged, facts, factsC, factsS,
        dims, dimsC, dimsS) = states
      // merge deltas are pinned outside the measured step, so they are
      // stable and the step pins nothing; the cluster cases' deltas are
      // pinned outside it too, and joinDeltaKeyed does not re-pin them
      val pinned = Seq.fill(4)(dFact().localCheckpoint(eager = true)) :+ dDim.localCheckpoint(eager = true)
      val Seq(d1, d2, dAgg, dJoin, dDimC) = pinned
      val Seq(sAgg, sJoin, sDim) = Seq(dirs(0), dirs(0), dirs(1)).map(scan)
      val outputs = scala.collection.mutable.Buffer.empty[ZSetFrame]
      def step(name: String)(f: => Any): (String, Shape) = {
        val (out, shape) = StepShape.measure(spark)(f)
        out match { case z: ZSetFrame => outputs += z; case _ => }
        name -> shape
      }
      try Seq(
        step("aggStep")(agg.aggStep(dFact(), knownTouched = known)(maxAgg)),
        step("aggStep cluster")(aggC.aggStep(dAgg, knownTouched = known)(maxAgg)),
        step("aggStep append")(aggA.aggStep(dFact(), knownTouched = known, append = true)(maxAgg)),
        step("aggStep scan")(aggS.aggStep(sAgg, knownTouched = known)(maxAgg)),
        step("merge")(replaced.merge(d1, knownTouched = known)),
        step("merge append")(appended.merge(d2, knownTouched = known, append = true)),
        step("merge driver")(merged.merge(dFact(), knownTouched = known)),
        step("joinDeltaKeyed")(Incremental.joinDeltaKeyed(facts, dFact(), dims, dDim, Seq("k"),
          knownTouchedA = known, knownTouchedB = known)),
        step("joinDeltaKeyed cluster")(Incremental.joinDeltaKeyed(factsC, dJoin, dimsC, dDimC,
          Seq("k"), knownTouchedA = known, knownTouchedB = known)),
        step("joinDeltaKeyed scan")(Incremental.joinDeltaKeyed(factsS, sJoin, dimsS, sDim,
          Seq("k"), knownTouchedA = known, knownTouchedB = known)))
      finally {
        states.foreach(_.close())
        (pinned ++ outputs).foreach(d => Pinned.release(d.df))
      }
    }
    val runs = Seq(run(), run())
    runs.flatten.foreach { case (name, s) =>
      s.stages.filter(_.viewParts.nonEmpty).foreach { st =>
        assert(st.viewParts.forall(_ <= g), s"$name read a view in more than G = $g tasks: $st")
        assert(st.tasks <= g * st.viewParts.size,
          s"$name ran a view-reading stage of ${st.tasks} tasks over ${st.viewParts.size} views")
      }
      assert(s.pins == pins(name), s"$name left ${s.pins} RDDs pinned, want ${pins(name)}")
      // both deltas join inside the traces' bucket layout: nothing is broadcast
      if (name.startsWith("joinDeltaKeyed"))
        assert(s.broadcastJobs == 0, s"$name ran ${s.broadcastJobs} broadcast jobs")
    }
    // AQE re-plans while stages run, so a job count can differ by one
    // between runs of the same step: each step is charged its smaller count
    runs.transpose.foreach { byRun =>
      val name = byRun.head._1
      val (jobs, tasks) = (byRun.map(_._2.jobs).min, byRun.map(_._2.tasks).min)
      info(s"$name: $jobs jobs, $tasks tasks; view-reading stages " + byRun.head._2.stages
        .filter(_.viewParts.nonEmpty).map(st => s"${st.tasks}/${st.viewParts.size}")
        .mkString("[", ", ", "]") + " (tasks/views)")
      val (maxJobs, maxTasks) = bounds(name)
      assert(jobs <= maxJobs, s"$name ran $jobs jobs, bound $maxJobs")
      assert(tasks <= maxTasks, s"$name ran $tasks tasks, bound $maxTasks")
    }
  }
}
