package graft.core

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Weighted multiset (Z-set) over a DataFrame — the core data abstraction of
  * this engine, re-expressing the reference's Z-set algebra
  * (reference: crates/dbsp/src/algebra/zset/mod.rs:101-124) Spark-first.
  *
  * A Z-set is a multiset of records with an integer weight; weight =
  * multiplicity, negative weight = retraction. Batch tables are Z-sets with
  * all weights == +1; deltas carry mixed signs. The weight lives in a
  * reserved column `__weight: LongType`; every relational operator below
  * preserves the ring laws, so the SAME operator code serves batch and
  * incremental evaluation (the incremental runner feeds deltas through it).
  *
  * Scale notes: all operators are pure DataFrame algebra — Catalyst plans
  * them (pushdown, pruning, AQE, whole-stage codegen) and partitioning is
  * dictated by the shuffle keys of consolidate/join/aggregate, exactly the
  * sharding the reference does manually (operator/communication/shard.rs).
  */
final class ZSetFrame private (val df: DataFrame) extends Serializable {
  import ZSetFrame.W

  def spark: SparkSession = df.sparkSession

  /** A driver-resident delta's rows as `KeyedState.route` filed them, by
    * the state layout they were filed for: every state of that layout a
    * step feeds this frame reuses them instead of re-running the route.
    * Only immutable driver-route rows are kept, and they live as long as
    * this frame. */
  @transient private[graft] lazy val routeMemo =
    new java.util.concurrent.ConcurrentHashMap[AnyRef, AnyRef]()
  def dataCols: Array[String] = df.columns.filter(_ != W)
  private def dataColumns: Seq[Column] = dataCols.toSeq.map(col)
  def weight: Column = col(W)

  // ---------------------------------------------------------------- ring ops
  /** Weight-wise union (UNION ALL). reference: operator/plus.rs:55 */
  def +(other: ZSetFrame): ZSetFrame =
    new ZSetFrame(df.unionByName(other.df))

  /** Negate all weights. reference: operator/neg.rs:17 */
  def unary_- : ZSetFrame = new ZSetFrame(df.withColumn(W, -col(W)))

  /** a + (−b) — EXCEPT ALL after consolidation. reference: operator/plus.rs:78 */
  def -(other: ZSetFrame): ZSetFrame = this + (-other)

  /** Multiply every weight by an integer expression over the data columns
    * ("weigh" — fold a value into the weight; reference: aggregate/mod.rs:287-309). */
  def weigh(k: Column): ZSetFrame =
    new ZSetFrame(df.withColumn(W, ZSetFrame.weightTimes(spark, col(W), k.cast("long"))))

  // ---------------------------------------------------------- consolidation
  /** Merge duplicate records, summing weights; drop zero-weight rows.
    * reference: operator/consolidate.rs:33. One shuffle on all data columns. */
  def consolidate: ZSetFrame = {
    val g = df.groupBy(dataColumns: _*).agg(sum(W).as(W))
    new ZSetFrame(g.where(col(W) =!= 0L))
  }

  /** Multiset → set: weights > 0 become 1, rest dropped.
    * reference: operator/distinct.rs:64 — SQL DISTINCT under Z-set semantics. */
  def distinctZ: ZSetFrame = {
    val g = df.groupBy(dataColumns: _*).agg(sum(W).as(W))
    new ZSetFrame(g.where(col(W) > 0L).withColumn(W, lit(1L)))
  }

  /** True if the consolidated Z-set has no rows (fixed-point test;
    * reference: operator/condition.rs:22). */
  def isZero: Boolean = consolidate.df.isEmpty

  // -------------------------------------------------------- per-record ops
  /** Projection / 1→1 map; weight is carried through untouched.
    * reference: filter_map.rs:87 (`map`). */
  def select(cols: Column*): ZSetFrame =
    new ZSetFrame(df.select(cols :+ col(W): _*))

  def withColumn(name: String, c: Column): ZSetFrame =
    new ZSetFrame(df.withColumn(name, c))

  /** Filter on data columns only; never on weight. reference: filter_map.rs:81 */
  def where(cond: Column): ZSetFrame = new ZSetFrame(df.where(cond))

  /** 1→N flat map via a generator column (SQL UNNEST).
    * reference: filter_map.rs:124 (`flat_map`). */
  def explodeCol(c: Column, as: String): ZSetFrame =
    new ZSetFrame(df.withColumn(as, explode(c)))

  // ------------------------------------------------------------------ joins
  /** Incremental-ready inner equi-join: output weight = wa * wb.
    * reference: operator/join.rs:180. Catalyst picks broadcast vs
    * shuffle-hash vs sort-merge; callers broadcast() small sides. */
  def join(other: ZSetFrame, keys: Seq[String]): ZSetFrame = {
    val l = df.withColumnRenamed(W, "__wl")
    val r = other.df.withColumnRenamed(W, "__wr")
    val j = l.join(r, keys, "inner")
    new ZSetFrame(
      j.withColumn(W, ZSetFrame.weightTimes(spark, col("__wl"), col("__wr")))
        .drop("__wl", "__wr"))
  }

  /** Join with an arbitrary condition (theta / range join).
    * reference: operator/join_range.rs:39. */
  def joinOn(other: ZSetFrame, cond: Column, joinType: String = "inner"): ZSetFrame = {
    val l = df.withColumnRenamed(W, "__wl")
    val r = other.df.withColumnRenamed(W, "__wr")
    val j = l.join(r, cond, joinType)
    val wl = coalesce(col("__wl"), lit(1L))
    val wr = coalesce(col("__wr"), lit(1L))
    new ZSetFrame(
      j.withColumn(W, ZSetFrame.weightTimes(spark, wl, wr)).drop("__wl", "__wr"))
  }

  /** Semi-join against the distinct key set of `other`.
    * reference: operator/semijoin.rs:38. */
  def semiJoin(other: ZSetFrame, keys: Seq[String]): ZSetFrame =
    new ZSetFrame(df.join(other.distinctZ.df.select(keys.map(col): _*).distinct(),
      keys, "left_semi"))

  /** Anti-join: A − (A ⋉ distinct B). reference: operator/join.rs:298-320. */
  def antiJoin(other: ZSetFrame, keys: Seq[String]): ZSetFrame =
    new ZSetFrame(df.join(other.distinctZ.df.select(keys.map(col): _*).distinct(),
      keys, "left_anti"))

  // ------------------------------------------------------------- aggregates
  /** Linear aggregate — O(Δ) for SUM/COUNT families: every aggregate is
    * sum(f(row) * weight). reference: aggregate/mod.rs:253 (aggregate_linear).
    * `aggs` maps output name → per-row expression (use lit(1) for COUNT(*)).
    * Spark's partial aggregation gives map-side combine for free. */
  def aggregateLinear(keys: Seq[Column], aggs: (String, Column)*): ZSetFrame = {
    val exprs = aggs.map { case (name, e) => sum(e * col(W)).as(name) }
    val g = df.groupBy(keys: _*).agg(exprs.head, exprs.tail: _*)
    new ZSetFrame(g.withColumn(W, lit(1L)))
  }

  /** Weight → repetition array, TOTAL over all weights (code-review r15):
    * bare sequence(1, w) auto-reverses its step when w < 1, so a w=0 row
    * exploded into TWO phantom copies and w=−1 into THREE — fabricated
    * rows with no error. A weight-0 row means ZERO copies and is
    * REACHABLE legitimately (linearAggDelta emits them when a folded
    * value is 0; raw deltas may carry them) — it contributes nothing,
    * silently. A NEGATIVE weight is different: it violates the declared
    * positive-multiset contract and now FAILS LOUDLY (ADVICE r15: the
    * r15 fix silently dropped such rows, letting an upstream retraction
    * bug yield plausibly-wrong min/max/avg results with no signal — the
    * same fail-loud discipline as the PMI/Bm25 step-contract riders).
    * Callers with legitimately-cancelling ± pairs consolidate first. */
  private def repWeights: Column =
    when(col(W) > 0L, sequence(lit(1L), col(W)))
      .when(col(W) === 0L, array().cast("array<bigint>"))
      .otherwise(raise_error(concat(
        lit("graft: negative weight "), col(W).cast("string"),
        lit(" reached a multiset expansion - positive-multiset contract " +
          "violated (an upstream retraction bug; consolidate first)")))
        .cast("array<bigint>"))

  /** General (non-linear) aggregate — min/max/avg/argmax etc. Requires
    * set-or-positive-multiset input; rows are logically repeated `weight`
    * times (w = 0 rows contribute nothing; w < 0 raises — consolidate
    * first; see repWeights).
    * reference: aggregate/mod.rs:204. For weight==1 inputs this is a
    * plain groupBy (Catalyst partial agg applies); general weights expand
    * via sequence() first. */
  def aggregate(keys: Seq[Column], expandWeights: Boolean, aggs: Column*): ZSetFrame = {
    val base =
      if (expandWeights)
        df.withColumn("__rep", explode(repWeights)).drop("__rep")
          .withColumn(W, lit(1L))
      else df
    val g = base.drop(W).groupBy(keys: _*).agg(aggs.head, aggs.tail: _*)
    new ZSetFrame(g.withColumn(W, lit(1L)))
  }

  // ------------------------------------------------------------------ misc
  /** Forget weights (caller asserts they are all +1, e.g. after distinctZ). */
  def toDF: DataFrame = df.drop(W)

  /** Expand weights into row multiplicity (w = 0 rows contribute nothing;
    * w < 0 raises — consolidate first; see repWeights). */
  def toMultisetDF: DataFrame =
    df.withColumn("__rep", explode(repWeights))
      .drop("__rep", W)

  def cache(): ZSetFrame = { df.cache(); this }
  def localCheckpoint(): ZSetFrame = new ZSetFrame(df.localCheckpoint(false))
  /** Eager variant: materializes now. Step outputs that must outlive a
    * KeyedState's view-validity window use this. */
  def localCheckpoint(eager: Boolean): ZSetFrame =
    new ZSetFrame(df.localCheckpoint(eager))
}

object ZSetFrame {
  /** Reserved weight column. */
  val W = "__weight"

  /** Conf flag: overflow-checked weight multiplication (reference:
    * crates/dbsp/src/algebra/checked_int.rs — weights are checked integers
    * so a pathological product raises instead of wrapping). Spark's default
    * ANSI mode already raises on Long-multiply overflow; this flag restores
    * checked semantics (with a weight-specific error) for deployments that
    * run with `spark.sql.ansi.enabled=false`, where the raw multiply wraps
    * silently. Off by default: the check widens through DECIMAL(38,0). */
  val CheckedWeightsConf = "spark.graft.checkedWeights"

  /** Weight product: raw Long multiply, or overflow-checked when
    * `spark.graft.checkedWeights=true` (widen to decimal, raise_error if
    * the product leaves the Long range). */
  private[graft] def weightTimes(spark: SparkSession, a: Column, b: Column): Column =
    if (!spark.conf.getOption(CheckedWeightsConf).contains("true")) a * b
    else {
      import org.apache.spark.sql.types.DecimalType
      val p = a.cast(DecimalType(38, 0)) * b.cast(DecimalType(38, 0))
      when(p > lit(Long.MaxValue) || p < lit(Long.MinValue),
        raise_error(concat(lit("graft: weight multiply overflow: "),
          a.cast("string"), lit(" * "), b.cast("string"))))
        .otherwise(p.cast("long"))
    }

  /** Lift a plain table to a Z-set with all weights +1. */
  def fromTable(df: DataFrame): ZSetFrame = {
    require(!df.columns.contains(W), s"input already has a $W column")
    new ZSetFrame(df.withColumn(W, lit(1L)))
  }

  /** Wrap a DataFrame that already carries a `__weight` column (a delta). */
  def fromDelta(df: DataFrame): ZSetFrame = {
    require(df.columns.contains(W), s"delta must carry a $W column")
    // a weight that is already a long is taken as it is: no identity cast
    // layered on every step's views and routed deltas
    if (df.schema(W).dataType == org.apache.spark.sql.types.LongType) new ZSetFrame(df)
    else new ZSetFrame(df.withColumn(W, col(W).cast("long")))
  }

  /** N-ary plus. reference: operator/sum.rs:25 */
  def sumAll(zs: Seq[ZSetFrame]): ZSetFrame = zs.reduce(_ + _)
}
