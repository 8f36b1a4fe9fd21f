package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.types.StructType

/** Where one bucket's rows live in a packed KeyedState segment: element
  * `slot` of partition `part`. */
private[graft] final case class BucketSlot(part: Int, slot: Int)

/** The packed bucket layout shared by KeyedState segments and views. A
  * span of buckets runs as G = min(|span|, parallelism) partitions, each a
  * CONTIGUOUS group of the sorted bucket ids. In a pinned segment a
  * partition stores one element per bucket of its group — that bucket's
  * rows as an array — so a bucket stays addressable as (partition, slot)
  * and reading it never touches the rows of the buckets packed beside it.
  * The bucket stays the unit of routing and pruning; the group is the unit
  * of work, one task per core instead of one per bucket (the reference
  * shards its trace one shard per worker, communication/shard.rs). */
private[graft] object BucketPacking {

  /** Contiguous groups of `sorted` (ascending, distinct bucket ids):
    * min(|sorted|, parallelism) groups whose sizes differ by at most one. */
  def groups(sorted: IndexedSeq[Int], parallelism: Int): IndexedSeq[IndexedSeq[Int]] = {
    val g = math.min(sorted.size, math.max(parallelism, 1))
    (0 until g).map(i => sorted.slice(i * sorted.size / g, (i + 1) * sorted.size / g))
  }

  /** bucket → (partition, slot) of a segment packed by `groups`. */
  def slots(groups: IndexedSeq[IndexedSeq[Int]]): Map[Int, BucketSlot] =
    groups.zipWithIndex.flatMap { case (grp, p) =>
      grp.zipWithIndex.map { case (b, s) => b -> BucketSlot(p, s) }
    }.toMap

  /** Pack rows that carry their bucket id in column `schema.size` (one past
    * the data columns) and sit in the partition of their bucket's group:
    * partition g becomes one element per bucket of `groups(g)`, the bucket
    * column projected away. This is how an in-place consolidation of a
    * packed view — whose aggregate mixes a group's buckets — is split back
    * into addressable buckets. */
  def byRowBucket(rows: RDD[InternalRow], groups: IndexedSeq[IndexedSeq[Int]],
                  schema: StructType): RDD[Array[InternalRow]] = {
    val n = schema.size
    rows.mapPartitionsWithIndex { (g, it) =>
      val grp = groups(g)
      val slotOf = grp.zipWithIndex.toMap
      val strip = UnsafeProjection.create(schema.fields.toSeq.zipWithIndex.map {
        case (f, i) => BoundReference(i, f.dataType, f.nullable)
      })
      val bufs = Array.fill(grp.size)(ArrayBuffer.empty[InternalRow])
      it.foreach(r => bufs(slotOf(r.getInt(n))) += strip(r).copy())
      bufs.iterator.map(_.toArray)
    }
  }

  /** The rows of the chunks at ascending `slots` of one packed partition.
    * Skipped chunks are stepped over as whole elements — their rows are
    * never iterated — and the partition iterator is run to its end so a
    * cached block's read lock is released with it. */
  def slotRows(chunks: Iterator[Array[InternalRow]], slots: Array[Int]): Iterator[InternalRow] = {
    val picked = new Array[Array[InternalRow]](slots.length)
    var pos = 0
    slots.indices.foreach { k =>
      while (pos < slots(k)) { chunks.next(); pos += 1 }
      picked(k) = chunks.next(); pos += 1
    }
    while (chunks.hasNext) chunks.next()
    picked.iterator.flatMap(_.iterator)
  }
}

/** `parents`: the parent partitions of the group's buckets, in bucket order
  * (carried in the split, like UnionRDD's, so a task never re-derives its
  * parent's partitions). */
private[graft] class BucketPackPartition(override val index: Int,
                                         val parents: Array[Partition]) extends Partition

/** Packs a bucket-per-partition RDD (partition b holds bucket b — a
  * `repartition(nBuckets, keys)` shuffle read) into groups: output
  * partition g reads the parent partitions of `groups(g)` and yields one
  * element per bucket, that bucket's rows (copied — the shuffle reader
  * reuses its row buffers). The dependency is narrow, so a touched span of
  * k buckets runs k-bucket reduce work in G tasks, and buckets outside the
  * span are never read. */
private[graft] class BucketPackRDD(
    @transient private val parent: RDD[InternalRow],
    groups: IndexedSeq[IndexedSeq[Int]])
  extends RDD[Array[InternalRow]](parent.sparkContext, Seq(
    new NarrowDependency[InternalRow](parent) {
      override def getParents(partitionId: Int): Seq[Int] = groups(partitionId)
    })) {

  override def getPartitions: Array[Partition] =
    Array.tabulate(groups.size)(g =>
      new BucketPackPartition(g, groups(g).map(parent.partitions(_)).toArray))

  override def compute(split: Partition, ctx: TaskContext): Iterator[Array[InternalRow]] = {
    val p = firstParent[InternalRow]
    split.asInstanceOf[BucketPackPartition].parents.iterator.map(pp =>
      p.iterator(pp, ctx).map(_.copy()).toArray)
  }
}

private[graft] class BucketUnionPartition(
    override val index: Int,
    /** reads(i) = (partition, ascending slots) pairs to read from parent i */
    val reads: Array[Array[(Partition, Array[Int])]]) extends Partition

/** Multi-parent NARROW union of packed segments: output partition j is one
  * group of the view's sorted buckets and concatenates, from every parent
  * segment, the chunks of that group's buckets the segment carries
  * (segments not carrying a bucket contribute nothing for it). This is a
  * KeyedState spine read as ONE scan: all of a bucket's spine batches
  * stream through a single task, so the view keeps the segments' key
  * co-location — the property [[BucketClusteredPartitioning]] then declares
  * to Catalyst. (The stock alternatives lose it: `union` of per-segment
  * DataFrames erases partitioning, and `UnionRDD` appends partitions
  * instead of aligning them.) A task reads each parent partition once and
  * picks its buckets' chunks by slot, so reading a bucket costs that
  * bucket's rows, not its packed neighbours'. Dependencies are narrow, so
  * no shuffle and full locality; the reference analog is reading one
  * shard's spine batches sequentially (crates/dbsp/src/trace/spine_fueled.rs
  * — a shard's batches live together and merge locally, never across
  * shards). */
private[graft] class BucketUnionRDD(
    @transient private val parents: Seq[RDD[Array[InternalRow]]],
    reads: Array[Array[Array[(Int, Array[Int])]]])
  extends RDD[InternalRow](
    parents.head.sparkContext,
    parents.zipWithIndex.map { case (p, i) =>
      new NarrowDependency[Array[InternalRow]](p) {
        override def getParents(partitionId: Int): Seq[Int] =
          reads(partitionId)(i).map(_._1).toSeq
      }
    }) {

  setName("graft bucket view")

  override def getPartitions: Array[Partition] =
    Array.tabulate(reads.length)(j => new BucketUnionPartition(j,
      reads(j).zip(parents).map { case (rs, p) =>
        rs.map { case (pi, slots) => (p.partitions(pi), slots) }
      }))

  override def compute(split: Partition, ctx: TaskContext): Iterator[InternalRow] = {
    val bp = split.asInstanceOf[BucketUnionPartition]
    dependencies.iterator.zipWithIndex.flatMap { case (dep, i) =>
      val parent = dep.rdd.asInstanceOf[RDD[Array[InternalRow]]]
      bp.reads(i).iterator.flatMap { case (pp, slots) =>
        BucketPacking.slotRows(parent.iterator(pp, ctx), slots)
      }
    }
  }

  /** Memoized per-split host lists (ADVICE r15): segments are immutable
    * once installed — and this RDD is rebuilt per view, so the cache can
    * never go stale — while the scheduler may consult locations several
    * times per job; without the memo the enumeration cost grew with a
    * bucket's unconsolidated spine depth on every call. */
  @transient private lazy val locCache =
    new java.util.concurrent.ConcurrentHashMap[Int, Seq[String]]()

  override def getPreferredLocations(split: Partition): Seq[String] =
    locCache.computeIfAbsent(split.index, _ => {
      val bp = split.asInstanceOf[BucketUnionPartition]
      // hosts across ALL contributing parents' partitions, most-frequent
      // first (code-review r15): consulting only the FIRST parent with a
      // choice — and only its first partition — gave locality to one spine
      // segment and remote-fetched every other segment's pinned blocks on
      // every read of a multi-segment bucket (and returned Nil outright when
      // that one segment had no locations even if the others did).
      val hosts = dependencies.iterator.zipWithIndex.flatMap { case (dep, i) =>
        val parent = dep.rdd
        bp.reads(i).iterator.flatMap { case (pp, _) => parent.preferredLocations(pp) }
      }.toSeq
      hosts.groupBy(identity).toSeq.sortBy(-_._2.size).map(_._1)
    })
}
