package graft.plans

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.Chunk

/** Where one bucket's rows live in a packed KeyedState segment: element
  * `slot` of partition `part`. */
private[graft] final case class BucketSlot(part: Int, slot: Int)

/** The packed bucket layout shared by KeyedState segments and views. A
  * span of buckets runs as G = min(|span|, parallelism) partitions, each a
  * CONTIGUOUS group of the sorted bucket ids. In a pinned segment a
  * partition stores one element per bucket of its group — that bucket's
  * rows as a `Chunk` — so a bucket stays addressable as (partition, slot)
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

  /** The chunks at ascending `slots` of one packed partition. Skipped
    * chunks are stepped over as whole elements — their rows are never
    * iterated — and the partition iterator is run to its end so a cached
    * block's read lock is released with it. */
  def pick(chunks: Iterator[Chunk], slots: Array[Int]): Array[Chunk] = {
    val picked = new Array[Chunk](slots.length)
    var pos = 0
    slots.indices.foreach { k =>
      while (pos < slots(k)) { chunks.next(); pos += 1 }
      picked(k) = chunks.next(); pos += 1
    }
    while (chunks.hasNext) chunks.next()
    picked
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
  * element per bucket, that bucket's rows as a `Chunk` (copied — the
  * shuffle reader reuses its row buffers). The dependency is narrow, so a touched span of
  * k buckets runs k-bucket reduce work in G tasks, and buckets outside the
  * span are never read. */
private[graft] class BucketPackRDD(
    @transient private val parent: RDD[InternalRow],
    groups: IndexedSeq[IndexedSeq[Int]])
  extends RDD[Chunk](parent.sparkContext, Seq(
    new NarrowDependency[InternalRow](parent) {
      override def getParents(partitionId: Int): Seq[Int] = groups(partitionId)
    })) {

  override def getPartitions: Array[Partition] =
    Array.tabulate(groups.size)(g =>
      new BucketPackPartition(g, groups(g).map(parent.partitions(_)).toArray))

  override def compute(split: Partition, ctx: TaskContext): Iterator[Chunk] = {
    val p = firstParent[InternalRow]
    split.asInstanceOf[BucketPackPartition].parents.iterator.map(pp =>
      new Chunk(p.iterator(pp, ctx).map(_.copy()).toArray))
  }
}

/** One bucket of a task's group as the task reads it: `sets(s)` holds the
  * bucket's chunks from every segment of segment set `s` that carries it. */
private[graft] final class BucketRead(val bucket: Int, val sets: Array[Array[Chunk]]) {
  /** Every row of the bucket, all sets flattened. */
  def rows: Iterator[InternalRow] = sets.iterator.flatMap(_.iterator.flatMap(_.rows.iterator))
  def rowsOf(set: Int): Iterator[InternalRow] = sets(set).iterator.flatMap(_.rows.iterator)
}

private[graft] class BucketUnionPartition(
    override val index: Int,
    /** the group's buckets, ascending */
    val buckets: Array[Int],
    /** reads(i) = (partition, ascending slots, the bucket at each slot) to
      * read from parent i */
    val reads: Array[Array[(Partition, Array[Int], Array[Int])]]) extends Partition

/** THE slot reader: a multi-parent NARROW union of packed segments, the
  * parents grouped into SETS. Output partition j is one group of a sorted
  * bucket span and yields one `BucketRead` per bucket of the group — that
  * bucket's chunks from each set's segments (a segment not carrying a
  * bucket contributes nothing for it). A view is one set, its chunks
  * flattened into rows (`KeyedState.viewOf`); a kernel consumes the reads
  * bucket by bucket — the spine merge one set (old segments ⊎ the delta's
  * mini-segment), the delta join two (the delta, the other trace). This is
  * a KeyedState spine read as ONE scan: all of a bucket's spine batches
  * stream through a single task, so the read keeps the segments' key
  * co-location — the property [[BucketClusteredPartitioning]] declares to
  * Catalyst for a view. (The stock alternatives lose it: `union` of
  * per-segment DataFrames erases partitioning, and `UnionRDD` appends
  * partitions instead of aligning them.) A task reads each parent partition
  * once and picks its buckets' chunks by slot, so reading a bucket costs
  * that bucket's rows, not its packed neighbours'. Dependencies are narrow,
  * so no shuffle and full locality; the reference analog is reading one
  * shard's spine batches sequentially (crates/dbsp/src/trace/spine_fueled.rs
  * — a shard's batches live together and merge locally, never across
  * shards). */
private[graft] class BucketUnionRDD private (
    sc: org.apache.spark.SparkContext,
    @transient private val parents: Seq[RDD[Chunk]],
    setOf: Array[Int],
    nSets: Int,
    groups: IndexedSeq[IndexedSeq[Int]],
    reads: Array[Array[Array[(Int, Array[Int], Array[Int])]]])
  extends RDD[BucketRead](sc,
    parents.zipWithIndex.map { case (p, i) =>
      new NarrowDependency[Chunk](p) {
        override def getParents(partitionId: Int): Seq[Int] =
          reads(partitionId)(i).map(_._1).toSeq
      }
    }) {

  setName(BucketUnionRDD.Name)

  override def getPartitions: Array[Partition] =
    Array.tabulate(reads.length)(j => new BucketUnionPartition(j, groups(j).toArray,
      reads(j).zip(parents).map { case (rs, p) =>
        rs.map { case (pi, slots, buckets) => (p.partitions(pi), slots, buckets) }
      }))

  override def compute(split: Partition, ctx: TaskContext): Iterator[BucketRead] = {
    val bp = split.asInstanceOf[BucketUnionPartition]
    val got = Array.fill(bp.buckets.length, nSets)(ArrayBuffer.empty[Chunk])
    dependencies.iterator.zipWithIndex.foreach { case (dep, i) =>
      val parent = dep.rdd.asInstanceOf[RDD[Chunk]]
      bp.reads(i).foreach { case (pp, slots, buckets) =>
        val chunks = BucketPacking.pick(parent.iterator(pp, ctx), slots)
        chunks.indices.foreach { k =>
          got(java.util.Arrays.binarySearch(bp.buckets, buckets(k)))(setOf(i)) += chunks(k)
        }
      }
    }
    bp.buckets.indices.iterator.map(k => new BucketRead(bp.buckets(k), got(k).map(_.toArray)))
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
        bp.reads(i).iterator.flatMap { case (pp, _, _) => parent.preferredLocations(pp) }
      }.toSeq
      hosts.groupBy(identity).toSeq.sortBy(-_._2.size).map(_._1)
    })
}

private[graft] object BucketUnionRDD {
  /** The RDD name the task-shape specs find bucket reads by. */
  val Name = "graft bucket view"

  /** A segment as a set member: its packed chunks and where it holds a
    * bucket for this read (None: not read for that bucket). */
  type Member = (RDD[Chunk], Int => Option[BucketSlot])

  /** The reads of `groups` (the sorted span's packing, one task each) over
    * `sets` of segments. */
  def apply(sc: org.apache.spark.SparkContext, groups: IndexedSeq[IndexedSeq[Int]],
            sets: Seq[Seq[Member]]): BucketUnionRDD = {
    val members = sets.zipWithIndex.flatMap { case (set, s) => set.map(_ -> s) }
    val reads = groups.map { grp =>
      members.map { case ((_, at), _) =>
        grp.flatMap(b => at(b).map(_ -> b)).groupBy(_._1.part).toArray.sortBy(_._1).map {
          case (p, picks) =>
            val sorted = picks.sortBy(_._1.slot)
            (p, sorted.map(_._1.slot).toArray, sorted.map(_._2).toArray)
        }
      }.toArray
    }.toArray
    new BucketUnionRDD(sc, members.map(_._1._1), members.map(_._2).toArray, sets.size, groups, reads)
  }
}
