package org.apache.spark.sql.graft

import org.apache.spark.{MapOutputTrackerMaster, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSeq, BindReferences, Expression}
import org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
import org.apache.spark.sql.catalyst.plans.physical.Partitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{Dataset, SparkSession => ClassicSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** The `private[sql]` / `private[spark]` bridge graft needs. Mainly: build
  * a DataFrame over an already-partitioned internal-row RDD WITHOUT
  * discarding what we know about its physical layout. `spark.createDataFrame(rdd)` pins the plan to
  * `UnknownPartitioning`, so Catalyst re-shuffles state that is already
  * key-clustered; `Dataset.checkpoint` preserves partitioning through
  * exactly this constructor (LogicalRDD's outputPartitioning) but offers no
  * public path for an RDD we assembled ourselves (a KeyedState bucket
  * view). Spark's own `LogicalRDD` + `Dataset.ofRows` carry the layout
  * through analysis and planning — including attribute rewriting on
  * `newInstance()` when a self-referencing plan is deduplicated — so this
  * shim only forwards to them; no behavior is reimplemented. */
object GraftSqlShim {

  /** DataFrame over `rdd` with the given schema, declaring `partitioning`
    * (built against the returned frame's output attributes via
    * `attrsFor`). */
  def internalDf(spark: SparkSession, rdd: RDD[InternalRow],
                 schema: StructType,
                 partitioning: Seq[Attribute] => Partitioning): DataFrame = {
    val attrs = DataTypeUtils.toAttributes(schema)
    val plan = LogicalRDD(attrs, rdd, partitioning(attrs), Nil, false, None)(
      spark.asInstanceOf[ClassicSession], None, None)
    Dataset.ofRows(spark.asInstanceOf[ClassicSession], plan)
  }

  /** Bytes per reduce partition written by the shuffle nearest `rdd`
    * (down its chain of first dependencies), or None when no shuffle feeds
    * it. The map stage must have run: under AQE the query stage that built
    * `rdd` already ran it, and the figures come off the driver's map output
    * tracker with no job; otherwise the map stage is submitted here, and
    * later jobs reading `rdd` skip it. A map status records an empty block
    * as 0 bytes and a non-empty one as at least 1. The tracker and
    * `submitMapStage` are `private[spark]`. */
  def shuffleBytes(rdd: RDD[_]): Option[Array[Long]] = {
    def nearest(r: RDD[_]): Option[ShuffleDependency[_, _, _]] = r.dependencies.headOption.flatMap {
      case s: ShuffleDependency[_, _, _] => Some(s)
      case d => nearest(d.rdd)
    }
    nearest(rdd).map { dep =>
      val sc = rdd.sparkContext
      val tracker = sc.env.mapOutputTracker.asInstanceOf[MapOutputTrackerMaster]
      val maps = dep.rdd.partitions.length
      if (maps == 0) new Array[Long](dep.partitioner.numPartitions)
      else if (tracker.containsShuffle(dep.shuffleId) &&
          tracker.getNumAvailableOutputs(dep.shuffleId) == maps)
        tracker.getStatistics(dep).bytesByPartitionId
      else sc.submitMapStage(dep).get().bytesByPartitionId
    }
  }

  /** `c` resolved against `input` and bound to its ordinals, evaluable
    * over a row of `input`'s layout. Only the analyzer runs: no Dataset is
    * built and nothing is planned. Functions resolve and ANSI arithmetic
    * takes its evaluation mode from the session's conf, as in a query. */
  def boundExpression(spark: SparkSession, c: Column, input: Seq[Attribute]): Expression = {
    val session = spark.asInstanceOf[ClassicSession]
    val plan = Project(Seq(Alias(session.expression(c), "_")()), LocalRelation(input))
    val analyzed = session.withActive(
      session.sessionState.analyzer.executeAndCheck(plan, new QueryPlanningTracker))
    BindReferences.bindReference(analyzed.asInstanceOf[Project].projectList.head
      .asInstanceOf[Alias].child, AttributeSeq.fromNormalOutput(input))
  }

  /** `e` with NaN and -0.0 normalized as Catalyst normalizes grouping and
    * join keys, so equal keys have equal bytes in an UnsafeRow. */
  def normalized(e: Expression): Expression = NormalizeFloatingNumbers.normalize(e)
}
