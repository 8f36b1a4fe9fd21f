package graft.incremental

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkSpec, StepShape}
import graft.core.ZSetFrame

/** The co-partitioned delta join: a step's delta, routed into its trace's
  * bucket layout, joins another trace's view over the same groups with no
  * exchange (BucketClusteredPartitioning's layout compatibility), and
  * every other pairing still plans an exchange and joins correctly. */
class CoPartitionedJoinSpec extends SparkSpec {
  import spark.implicits._

  private val W = ZSetFrame.W
  private def facts(rows: Seq[(Long, Long, Long)]): ZSetFrame = ZSetFrame.fromDelta(rows.toDF("k", "v", W))
  private def dims(rows: Seq[(Long, Long, Long)]): ZSetFrame = ZSetFrame.fromDelta(rows.toDF("k", "attr", W))
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  /** A delta routed into `st`'s layout over the buckets its keys hit. */
  private def aligned(st: KeyedState, d: ZSetFrame): KeyedState.Aligned = st.align(st.route(d), None)
  private def joined(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
    ZSetFrame.fromDelta(l.hint("shuffle_hash")).join(ZSetFrame.fromDelta(r), on).consolidate.df

  /** The executed plans of the Dataset actions `f` runs. */
  private def actionPlans[A](f: => A): (A, Seq[String]) = {
    val plans = new ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.listenerManager.register(l)
    try {
      val a = f
      ListenerBusAccess.drain(spark.sparkContext)
      (a, plans.asScala.toSeq)
    } finally spark.listenerManager.unregister(l)
  }

  private val seedFacts = facts((0L until 400L).map(i => (i % 100, i, 1L)))
  private val seedDims = dims((0L until 100L).map(k => (k, k % 7, 1L)))

  test("joinDeltaKeyed plans its output with no Exchange and no broadcast when the layouts match") {
    val (a, b) = (new KeyedState(Seq("k"), 32, seedFacts), new KeyedState(Seq("k"), 32, seedDims))
    try {
      val dA = facts(Seq((3L, 900L, 1L), (17L, 901L, 2L), (40L, 3L, -1L), (41L, 902L, 1L)))
      val dB = dims(Seq((17L, 17L % 7, -1L), (17L, 6L, 1L), (55L, 9L, 1L)))
      val want = joined(seedFacts.df, dB.df, Seq("k")).unionByName(
        joined(dA.df, (seedDims + dB).df, Seq("k"))).groupBy("k", "v", "attr").sum(W)
      val ((out, shape), plans) = actionPlans(StepShape.measure(spark)(
        Incremental.joinDeltaKeyed(a, dA, b, dB, Seq("k"))))
      assert(plans.size == 1, s"one action (the output) expected, got ${plans.size}")
      assert(!plans.head.contains("Exchange"), s"the co-partitioned join planned an exchange:\n${plans.head}")
      assert(shape.broadcastJobs == 0 && shape.jobs == 3, s"$shape")
      assertSameRows(out.consolidate.df, want.where(col(s"sum($W)") =!= 0))
      Pinned.release(out.df)
    } finally { a.close(); b.close() }
  }

  test("a delta view joined with a trace view of its own groups plans no Exchange") {
    val (a, b) = (new KeyedState(Seq("k"), 32, seedFacts), new KeyedState(Seq("k"), 32, seedDims))
    try {
      val al = aligned(a, facts((0L until 30L).map(k => (k, k + 1000, 1L))))
      val df = joined(a.deltaView(al), b.viewOf(al.groups), Seq("k"))
      assert(!plan(df).contains("Exchange"), plan(df))
      assertSameRows(df, joined((0L until 30L).map(k => (k, k + 1000, 1L)).toDF("k", "v", W),
        seedDims.df, Seq("k")))
    } finally { a.close(); b.close() }
  }

  test("mismatched layouts and non-key joins still plan an exchange and join correctly") {
    val a = new KeyedState(Seq("k"), 32, seedFacts)
    val b = new KeyedState(Seq("k"), 32, seedDims)
    val b16 = new KeyedState(Seq("k"), 16, seedDims)
    val bInt = new KeyedState(Seq("k"), 32, ZSetFrame.fromDelta(
      seedDims.df.select(col("k").cast("int").as("k"), col("attr"), col(W))))
    val bByV = new KeyedState(Seq("k2"), 32, ZSetFrame.fromDelta(
      (0L until 100L).map(k => (k, k % 7, 1L)).toDF("k2", "v", W)))
    try {
      val rows = (0L until 30L).map(k => (k, k % 7, 1L))
      val al = aligned(a, facts(rows))
      val delta = a.deltaView(al)
      val deltaRows = rows.toDF("k", "v", W)
      val others = (0 until 32).filterNot(al.groups.flatten.toSet).take(3)
      val cases = Seq(
        // the same buckets packed into other groups
        "other groups" -> (b.viewOf(BucketLayoutOf.regrouped(al.groups, others)), Seq("k"), seedDims.df),
        "other bucket count" -> (b16.view(0 until 16).df, Seq("k"), seedDims.df),
        "other key type" -> (bInt.view(0 until 32).df, Seq("k"), bInt.snapshot.df),
        // joined on a column that is not the bucket key
        "non-key column" -> (bByV.view(0 until 32).df, Seq("v"), bByV.snapshot.df))
      cases.foreach { case (name, (other, on, otherRows)) =>
        val df = joined(delta, other, on)
        assert(plan(df).contains("Exchange"), s"$name: no exchange planned\n${plan(df)}")
        assertSameRows(df, joined(deltaRows, otherRows, on))
      }
    } finally Seq(a, b, b16, bInt, bByV).foreach(_.close())
  }

  test("a delta column of another type than the state's fails loudly, as do join traces of different key types") {
    val st = new KeyedState(Seq("k"), 16, seedFacts)
    val dimsInt = new KeyedState(Seq("k"), 16, ZSetFrame.fromDelta(
      seedDims.df.select(col("k").cast("int").as("k"), col("attr"), col(W))))
    try {
      val intKey = ZSetFrame.fromDelta(Seq((5, 7L, 1L)).toDF("k", "v", W))
      val pinnedIntKey = intKey.localCheckpoint(eager = true)
      Seq[(String, () => Any)](
        "merge" -> (() => st.merge(intKey)),
        "aggStep" -> (() => st.aggStep(intKey)(identity)),
        "merge of a pinned delta" -> (() => st.merge(pinnedIntKey))
      ).foreach { case (name, f) =>
        val e = intercept[IllegalArgumentException](f())
        assert(e.getMessage.contains("`k` is BIGINT but the delta's is INT"), s"$name: ${e.getMessage}")
      }
      Pinned.release(pinnedIntKey.df)
      val intV = ZSetFrame.fromDelta(Seq((5L, 7, 1L)).toDF("k", "v", W))
      val e = intercept[IllegalArgumentException](st.merge(intV))
      assert(e.getMessage.contains("`v`"), e.getMessage)
      val je = intercept[IllegalArgumentException](Incremental.joinDeltaKeyed(
        st, facts(Seq((5L, 7L, 1L))), dimsInt, dims(Nil), Seq("k")))
      assert(je.getMessage.contains("key types") && je.getMessage.contains("k BIGINT") &&
        je.getMessage.contains("k INT"), je.getMessage)
      assertSameRows(st.snapshot.consolidate.df, seedFacts.consolidate.df)
    } finally { st.close(); dimsInt.close() }
  }

  test("joinDeltaKeyed refuses the same trace on both sides") {
    val st = new KeyedState(Seq("k"), 16, seedFacts)
    try {
      val d = facts(Seq((5L, 7L, 1L)))
      val e = intercept[IllegalArgumentException](Incremental.joinDeltaKeyed(st, d, st, d, Seq("k")))
      assert(e.getMessage.contains("two traces"), e.getMessage)
      assertSameRows(st.snapshot.consolidate.df, seedFacts.consolidate.df)
    } finally st.close()
  }

  private def col(c: String) = org.apache.spark.sql.functions.col(c)

  private object BucketLayoutOf {
    /** `groups`' buckets plus `more`, packed into one fewer group — a
      * different layout over an overlapping span. */
    def regrouped(groups: IndexedSeq[IndexedSeq[Int]], more: Seq[Int]): IndexedSeq[IndexedSeq[Int]] =
      graft.plans.BucketPacking.groups((groups.flatten ++ more).distinct.sorted.toIndexedSeq,
        math.max(groups.size - 1, 1))
  }
}
