package graft

import org.apache.spark.sql.functions._

import graft.core.ZSetFrame
import graft.incremental.{Incremental, KeyedState, Pinned}

/** Task shape of a keyed step over the packed bucket layout: a step over k
  * touched buckets reads each bucket view in G = min(k, cores) tasks, one
  * contiguous group of buckets per task, instead of one task per bucket.
  * 64 buckets, 36 of them touched; tasks and jobs are counted with a tagged
  * listener (StepShape) and pinned as upper bounds. Each delta-routing step
  * runs on both routes into the layout: a `Seq.toDF` delta takes the driver
  * route (no shuffle, no delta pin), the same delta pinned first takes the
  * shuffle route ("cluster" cases). */
class KeyedTaskShapeSpec extends SparkSpec {
  import spark.implicits._

  private val N = 64
  private val Touched = 36

  /** Per-step ceilings (jobs, tasks), measured on local[4] (G = 4) with the
    * packed layout. Before it, the same steps ran one task per touched
    * bucket in every view-reading stage. The driver-route steps ran
    * (4, 20) and (9, 44) on the shuffle route. The co-partitioned join
    * runs its output job and its two merges and nothing else; the shuffle
    * route adds one routing map job per delta, whose mini-segment both the
    * output and the merge read. */
  private val bounds: Map[String, (Int, Int)] = Map(
    "aggStep" -> (2, 12),
    "aggStep cluster" -> (4, 20),
    "merge" -> (2, 8),
    "merge append" -> (2, 8),
    "joinDeltaKeyed" -> (3, 16),
    "joinDeltaKeyed cluster" -> (5, 24))

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

    /** One run of the six steps on fresh states. */
    def run(): Seq[(String, Shape)] = {
      val agg = new KeyedState(Seq("k"), N, seed)
      val aggC = new KeyedState(Seq("k"), N, seed)
      val replaced = new KeyedState(Seq("k"), N, seed)
      val appended = new KeyedState(Seq("k"), N, seed)
      val facts = new KeyedState(Seq("k"), N, seed)
      val dims = new KeyedState(Seq("k"), N, seedDim)
      val factsC = new KeyedState(Seq("k"), N, seed)
      val dimsC = new KeyedState(Seq("k"), N, seedDim)
      // merge deltas are pinned outside the measured step, so they are
      // stable and the step pins nothing; the cluster cases' deltas are
      // pinned outside it too, and joinDeltaKeyed does not re-pin them
      val pins = Seq.fill(4)(dFact().localCheckpoint(eager = true)) :+ dDim.localCheckpoint(eager = true)
      val Seq(d1, d2, dAgg, dJoin, dDimC) = pins
      try Seq(
        "aggStep" -> StepShape.measure(spark)(
          agg.aggStep(dFact(), knownTouched = known)(maxAgg))._2,
        "aggStep cluster" -> StepShape.measure(spark)(
          aggC.aggStep(dAgg, knownTouched = known)(maxAgg))._2,
        "merge" -> StepShape.measure(spark)(
          replaced.merge(d1, knownTouched = known))._2,
        "merge append" -> StepShape.measure(spark)(
          appended.merge(d2, knownTouched = known, append = true))._2,
        "joinDeltaKeyed" -> StepShape.measure(spark)(
          Incremental.joinDeltaKeyed(facts, dFact(), dims, dDim, Seq("k"),
            knownTouchedA = known, knownTouchedB = known))._2,
        "joinDeltaKeyed cluster" -> StepShape.measure(spark)(
          Incremental.joinDeltaKeyed(factsC, dJoin, dimsC, dDimC, Seq("k"),
            knownTouchedA = known, knownTouchedB = known))._2)
      finally {
        Seq(agg, aggC, replaced, appended, facts, dims, factsC, dimsC).foreach(_.close())
        pins.foreach(d => Pinned.release(d.df))
      }
    }
    val runs = Seq(run(), run())
    runs.flatten.foreach { case (name, s) =>
      s.stages.filter(_.viewParts.nonEmpty).foreach { st =>
        assert(st.viewParts.forall(_ <= g), s"$name read a view in more than G = $g tasks: $st")
        assert(st.tasks <= g * st.viewParts.size,
          s"$name ran a view-reading stage of ${st.tasks} tasks over ${st.viewParts.size} views")
      }
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
