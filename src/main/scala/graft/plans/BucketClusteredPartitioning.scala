package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Expression, Unevaluable}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Physical partitioning of a KeyedState bucket view: every row of a given
  * key lives in exactly one partition — the one whose bucket GROUP holds
  * its bucket (a view of k sorted buckets runs as G = min(k, parallelism)
  * partitions, each a contiguous group of them; each key hashes to exactly
  * one bucket, so it is in exactly one group). Partition INDEX is not a
  * function Catalyst can reproduce (groups depend on which buckets the view
  * spans). That is precisely `ClusteredDistribution` — co-location without
  * an index formula — so this partitioning satisfies clustered requirements
  * (aggregations over the state keys or any superset, e.g. a Z-set
  * consolidate's full-column grouping) and NOTHING else. `numPartitions` is
  * G, not the bucket count.
  *
  * Declaring it on the trace's scan node is what lets Catalyst plan a
  * per-step `consolidate ∘ agg` with ZERO exchanges: the reference never
  * re-shards its trace to aggregate it (the spine is already sharded by key,
  * crates/dbsp/src/operator/communication/shard.rs; aggregation probes shards
  * in place, aggregate/mod.rs:204-244) — this class is the Catalyst-visible
  * statement of the same invariant. Without it, every step pays two
  * exchanges (consolidate + aggregate) to re-establish a clustering the
  * data already has, and with AQE each exchange is its own stage barrier —
  * the dominant term of the local-mode per-step floor, and pure wasted
  * network at cluster scale.
  *
  * Extends Expression (like HashPartitioning) so `LogicalRDD.newInstance`
  * rewrites the key attribute references when the analyzer deduplicates a
  * self-referencing plan (a step's old/new views share segments).
  *
  * JOIN conservatism: `createShuffleSpec` reports a spec that is compatible
  * with nothing and cannot impose itself on the other side — joins against
  * bucket views keep today's explicit shuffle/broadcast planning. Only
  * unary clustered requirements (aggregates) elide exchanges. */
case class BucketClusteredPartitioning(expressions: Seq[Expression],
                                       numPartitions: Int)
  extends Expression with Partitioning with Unevaluable {

  require(expressions.nonEmpty, "bucket clustering needs at least one key")

  override def children: Seq[Expression] = expressions
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BucketClusteredPartitioning =
    copy(expressions = newChildren)

  override def satisfies0(required: Distribution): Boolean = required match {
    case c @ ClusteredDistribution(requiredClustering, requireAllClusterKeys, _) =>
      c.requiredNumPartitions.forall(_ == numPartitions) && {
        if (requireAllClusterKeys) c.areAllClusterKeysMatched(expressions)
        else expressions.forall(k => requiredClustering.exists(_.semanticEquals(k)))
      }
    case _ => super.satisfies0(required)
  }

  override def createShuffleSpec(
      distribution: ClusteredDistribution): ShuffleSpec =
    BucketClusteredShuffleSpec(numPartitions)
}

/** Never claims compatibility and never creates a partitioning for the
  * other side: EnsureRequirements falls back to its default join shuffles,
  * so declaring bucket clustering can only REMOVE exchanges from unary
  * (aggregate) requirements, never change join plans. */
case class BucketClusteredShuffleSpec(numPartitions: Int) extends ShuffleSpec {
  override def isCompatibleWith(other: ShuffleSpec): Boolean = false
  override def canCreatePartitioning: Boolean = false
}
