package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{DirectShufflePartitionID, Expression, GetArrayItem, Literal, Murmur3Hash, Pmod, Unevaluable}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.types.{DataType, IntegerType}

/** The identity of a packed bucket layout: a row's bucket is
  * `pmod(murmur3(keys), nBuckets)` and partition g holds the buckets of
  * `groups(g)`. Two scans with equal layouts and equal key data types put
  * every key in the same partition index (the hash of a key depends on its
  * type: an int and a long of equal value hash apart). */
final case class BucketLayout(nBuckets: Int, groups: IndexedSeq[IndexedSeq[Int]]) {

  /** The partition a row with bucket-key values `keys` belongs to: the
    * group holding its bucket. A bucket outside every group (the layout
    * spans only some buckets) goes to partition b mod G — no row of this
    * layout has that key, so any fixed partition keeps joins exact. */
  def partitionOf(keys: Seq[Expression]): Expression = {
    val groupOf = Array.tabulate(nBuckets)(_ % math.max(groups.size, 1))
    groups.zipWithIndex.foreach { case (grp, g) => grp.foreach(groupOf(_) = g) }
    GetArrayItem(Literal(groupOf), Pmod(new Murmur3Hash(keys), Literal(nBuckets)))
  }

  override def toString: String = s"$nBuckets buckets in ${groups.size} groups"
}

/** Physical partitioning of a KeyedState bucket view: every row of a given
  * key lives in exactly one partition — the one whose bucket GROUP holds
  * its bucket (a view of k sorted buckets runs as G = min(k, parallelism)
  * partitions, each a contiguous group of them; each key hashes to exactly
  * one bucket, so it is in exactly one group). `numPartitions` is G, not
  * the bucket count. For a unary requirement this is precisely
  * `ClusteredDistribution` — co-location without an index formula — so
  * the partitioning satisfies clustered requirements over the state keys or
  * any superset (e.g. a Z-set consolidate's full-column grouping).
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
  * LAYOUT COMPATIBILITY (joins): two bucket scans are co-partitioned when
  * their `layout`s are equal, their key data types are equal and the join
  * keys sit at the same positions on both sides — the check HashShuffleSpec
  * makes, with the layout in place of the partition count. That is Spark's
  * storage-partitioned join applied to the trace (the reference joins a
  * delta against the trace shard both were routed to, operator/join.rs:180).
  * EnsureRequirements keeps a join side only when it is compatible with a
  * spec that can CREATE a partitioning for the other sides, so the scan of
  * a step's routed delta (`offersLayout`, `KeyedState.deltaView`) offers its
  * layout: every side compatible with it stays in place, and any other side
  * is routed into the layout by a partition-id pass-through shuffle
  * (`BucketLayout.partitionOf`). A trace view never offers its layout, so a
  * join of trace views with anything else plans as it always did: both
  * sides shuffled. */
case class BucketClusteredPartitioning(expressions: Seq[Expression],
                                       layout: BucketLayout,
                                       offersLayout: Boolean = false)
  extends Expression with Partitioning with Unevaluable {

  require(expressions.nonEmpty, "bucket clustering needs at least one key")

  override val numPartitions: Int = layout.groups.size
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
    BucketClusteredShuffleSpec(this, distribution)
}

/** A bucket scan's side of a join: compatible with another bucket scan of
  * the same layout, key types and join-key positions (see
  * BucketClusteredPartitioning). Only a layout-offering scan can create a
  * partitioning for a side that is not. */
case class BucketClusteredShuffleSpec(partitioning: BucketClusteredPartitioning,
                                      distribution: ClusteredDistribution) extends ShuffleSpec {

  /** For each bucket key, the positions of the join keys it equals — as
    * HashShuffleSpec.hashKeyPositions. */
  private lazy val keyPositions: Seq[mutable.BitSet] = {
    val byKey = mutable.Map.empty[Expression, mutable.BitSet]
    distribution.clustering.zipWithIndex.foreach { case (e, i) =>
      byKey.getOrElseUpdate(e.canonicalized, mutable.BitSet.empty) += i
    }
    partitioning.expressions.map(k => byKey.getOrElse(k.canonicalized, mutable.BitSet.empty))
  }

  override def numPartitions: Int = partitioning.numPartitions

  override def isCompatibleWith(other: ShuffleSpec): Boolean = other match {
    case o: BucketClusteredShuffleSpec =>
      partitioning.layout == o.partitioning.layout &&
        partitioning.expressions.map(_.dataType) == o.partitioning.expressions.map(_.dataType) &&
        distribution.clustering.length == o.distribution.clustering.length &&
        keyPositions.zip(o.keyPositions).forall { case (l, r) => l.intersect(r).nonEmpty }
    case ShuffleSpecCollection(specs) => specs.exists(isCompatibleWith)
    case _ => false
  }

  override def canCreatePartitioning: Boolean = partitioning.offersLayout

  override def createPartitioning(clustering: Seq[Expression]): Partitioning =
    ShufflePartitionIdPassThrough(
      DirectShufflePartitionID(partitioning.layout.partitionOf(keyPositions.map(p => clustering(p.head)))),
      numPartitions)
}
