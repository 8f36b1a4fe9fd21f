package graft.incremental

import org.apache.spark.sql.DataFrame

import graft.{SparkSpec, StepShape}
import graft.core.ZSetFrame

/** The co-partitioned delta join: each delta, routed into its trace's
  * bucket layout, joins the other trace bucket by bucket in a kernel over
  * the slot reader — no query planned, nothing exchanged or broadcast — and
  * equals a plain Spark join whatever the packing, bucket count or key
  * type. */
class CoPartitionedJoinSpec extends SparkSpec {
  import spark.implicits._

  private val W = ZSetFrame.W
  private def facts(rows: Seq[(Long, Long, Long)]): ZSetFrame = ZSetFrame.fromDelta(rows.toDF("k", "v", W))
  private def dims(rows: Seq[(Long, Long, Long)]): ZSetFrame = ZSetFrame.fromDelta(rows.toDF("k", "attr", W))
  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString
  private def joined(l: DataFrame, r: DataFrame, on: Seq[String]): DataFrame =
    ZSetFrame.fromDelta(l).join(ZSetFrame.fromDelta(r), on).consolidate.df

  /** A plain Spark join's change over one step: (A + ΔA) ⋈ (B + ΔB) − A ⋈ B. */
  private def stepJoin(a: ZSetFrame, dA: ZSetFrame, b: ZSetFrame, dB: ZSetFrame): DataFrame =
    ((a + dA).join(b + dB, Seq("k")) - a.join(b, Seq("k"))).consolidate.df

  private val seedFacts = facts((0L until 400L).map(i => (i % 100, i, 1L)))
  private val seedDims = dims((0L until 100L).map(k => (k, k % 7, 1L)))

  test("joinDeltaKeyed plans no query for its output and runs no broadcast") {
    val (a, b) = (new KeyedState(Seq("k"), 32, seedFacts), new KeyedState(Seq("k"), 32, seedDims))
    try {
      val dA = facts(Seq((3L, 900L, 1L), (17L, 901L, 2L), (40L, 3L, -1L), (41L, 902L, 1L)))
      val dB = dims(Seq((17L, 17L % 7, -1L), (17L, 6L, 1L), (55L, 9L, 1L)))
      val (out, shape) = StepShape.measure(spark)(Incremental.joinDeltaKeyed(a, dA, b, dB, Seq("k")))
      assert(shape.queries == 0, s"the step planned ${shape.queries} queries")
      assert(shape.broadcastJobs == 0 && shape.jobs == 3, s"$shape")
      assertSameRows(out.consolidate.df, stepJoin(seedFacts, dA, seedDims, dB))
      Pinned.release(out.df)
    } finally { a.close(); b.close() }
  }

  test("joinDeltaKeyed equals a plain join over other groups, bucket counts, key types") {
    val dARows = (0L until 30L).map(k => (k, k + 1000, 1L))
    // ΔB's span is not ΔA's, so the two terms run in different packings
    val dBRows = Seq((3L, 1L, -1L), (3L, 4L, 1L), (70L, 2L, 1L), (71L, 5L, 2L), (99L, 0L, 1L))
    def asInt(z: ZSetFrame): ZSetFrame = ZSetFrame.fromDelta(z.df.withColumn("k", col("k").cast("int")))
    val cases = Seq[(String, Int, ZSetFrame => ZSetFrame)](
      ("other groups", 32, identity), ("other bucket count", 16, identity), ("other key type", 32, asInt))
    cases.foreach { case (name, n, cast) =>
      val (a0, b0, dA, dB) = (cast(seedFacts), cast(seedDims), cast(facts(dARows)), cast(dims(dBRows)))
      val (a, b) = (new KeyedState(Seq("k"), n, a0), new KeyedState(Seq("k"), n, b0))
      try {
        val out = Incremental.joinDeltaKeyed(a, dA, b, dB, Seq("k"))
        withClue(name)(assertSameRows(out.consolidate.df, stepJoin(a0, dA, b0, dB)))
        Pinned.release(out.df)
      } finally { a.close(); b.close() }
    }
  }

  test("a join of trace views on a non-key column plans an exchange and joins correctly") {
    val a = new KeyedState(Seq("k"), 32, seedFacts)
    val bByV = new KeyedState(Seq("k2"), 32, ZSetFrame.fromDelta(
      (0L until 100L).map(k => (k, k % 7, 1L)).toDF("k2", "v", W)))
    try {
      val df = joined(a.view(0 until 32).df, bByV.view(0 until 32).df, Seq("v"))
      assert(plan(df).contains("Exchange"), s"no exchange planned\n${plan(df)}")
      assertSameRows(df, joined(seedFacts.df, bByV.snapshot.df, Seq("v")))
    } finally { a.close(); bByV.close() }
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
}
