package graft.incremental

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** Minimal open-addressing long→long hash map — the per-bucket state store
  * of [[BucketedUpsertStateLong]]. Primitive arrays, linear probing,
  * power-of-two capacity: zero boxing on the merge hot path (a generic
  * java.util.HashMap[(Long,Long),(Long,Long)] allocates ~4 objects per
  * entry; at 10M keys per step that is pure GC churn — measured ~2.5 s/step
  * vs ~0.5 s here). Key `Long.MinValue` is reserved as the empty slot
  * sentinel. */
final class LongLongMap private (
    private var ks: Array[Long], private var vs: Array[Long],
    private var n: Int) extends Serializable {

  def this(expected: Int) = this(
    Array.fill(LongLongMap.capFor(expected))(Long.MinValue),
    new Array[Long](LongLongMap.capFor(expected)), 0)

  def size: Int = n

  private def mask: Int = ks.length - 1

  private def slot(k: Long): Int = {
    // splitmix64 finalizer — full-avalanche so linear probing stays O(1)
    var x = k * -7046029254386353131L
    x = (x ^ (x >>> 32)) * -4658895280553007687L
    var i = ((x ^ (x >>> 32)) & mask).toInt
    while (ks(i) != Long.MinValue && ks(i) != k) i = (i + 1) & mask
    i
  }

  /** Upsert: `v` if absent, else `combine(existing, v)`. */
  def put(k: Long, v: Long, combine: (Long, Long) => Long): Unit = {
    val i = slot(k)
    if (ks(i) == Long.MinValue) {
      ks(i) = k; vs(i) = v; n += 1
      if (n * 10L >= ks.length * 7L) grow()
    } else vs(i) = combine(vs(i), v)
  }

  def getOrElse(k: Long, dflt: Long): Long = {
    val i = slot(k)
    if (ks(i) == k) vs(i) else dflt
  }

  def has(k: Long): Boolean = ks(slot(k)) == k

  private def grow(): Unit = {
    val (oks, ovs) = (ks, vs)
    ks = Array.fill(oks.length * 2)(Long.MinValue)
    vs = new Array[Long](oks.length * 2)
    n = 0
    var i = 0
    while (i < oks.length) {
      if (oks(i) != Long.MinValue) { val j = slot(oks(i)); ks(j) = oks(i); vs(j) = ovs(i); n += 1 }
      i += 1
    }
  }

  def foreach(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < ks.length) { if (ks(i) != Long.MinValue) f(ks(i), vs(i)); i += 1 }
  }

  def iterator: Iterator[(Long, Long)] =
    ks.indices.iterator.filter(ks(_) != Long.MinValue).map(i => (ks(i), vs(i)))
}

object LongLongMap {
  private def capFor(expected: Int): Int =
    Integer.highestOneBit(math.max(16, expected * 10 / 7 - 1)) * 2
}

/** Partition-preserving per-key UPSERT state for high-rate incremental
  * maintenance of a commutative per-key merge (last-write, max, …) over
  * packed-long keys and values — the hot path of nexmark q18 (10M
  * (bidder,auction) keys at 6M events/step).
  *
  * This is the Spark analog of the reference's per-shard spine merge
  * (reference: crates/dbsp/src/trace/spine_fueled.rs:1-45 — a delta batch is
  * merged into the shard-local trace; the trace is never re-shuffled): the
  * state lives as a pinned RDD hash-partitioned by key into `nBuckets`
  * buckets, and a step SHUFFLES ONLY THE DELTA straight into the state's
  * partitioner, then merges it bucket-by-bucket with a narrow
  * `zipPartitions` (each task reads its own state partition locally from
  * block storage and the delta's matching shuffle output; no state bytes
  * ever cross the wire again after the bucket that wrote them). The naive
  * step (`state.union(delta).groupBy(keys)`) erases partitioning metadata
  * and re-shuffles the FULL state every step — O(|state|) network per step.
  * Each bucket's state lives as the single element of its partition,
  * merged locally with zero boxing (a generic hash map pays ~4 allocations
  * per key per step in map nodes and tuple boxes — at 10M keys the
  * difference between ~2.5 s and ~0.5 s steps).
  *
  * Differs from [[KeyedState]] on purpose: KeyedState is the general Z-set
  * trace (weighted rows, partition-pruned probes, O(touched-buckets) merges
  * for SPARSE deltas). This class is the dense-delta fast path — when a
  * uniform stream touches every bucket each step, KeyedState's
  * merge-via-repartition would still re-shuffle all touched state; the
  * zipPartitions merge here never shuffles state at any touch rate.
  *
  * Lifecycle: each step pins the merged state (`MEMORY_AND_DISK`) and
  * unpersists the previous generation after the merge materializes, so
  * pinned storage tracks ONE state copy plus the in-flight merge. Every
  * [[Pinned.TruncateEvery]] steps the generation is
  * `localCheckpoint`ed: each generation's lineage points at the previous
  * (unpersisted) one, so without truncation a lost block after N steps
  * recomputes the whole delta history (and deep lineage risks stack
  * overflow on long runs). localCheckpoint reuses the already-persisted
  * blocks — no extra IO — at the standard cost that an executor loss
  * forfeits recompute for those blocks (the durable path for that failure
  * mode is [[DurableKeyedState]]).
  *
  * SPINE-OVERLAY layout (r11 — the fueled spine made literal, reference:
  * crates/dbsp/src/trace/spine_fueled.rs:1-45): a bucket's state is a LIST
  * of [[LongLongMap]]s, newest first — small per-step OVERLAYS over a
  * compacted BASE. A step builds ONLY its overlay (the delta keys at their
  * merged current values — which doubles as the emitted output delta) and
  * prepends it; nothing else is copied, so a step's local work is
  * O(|Δ| · spine-depth probes), INDEPENDENT of bucket size. Every
  * [[Pinned.TruncateEvery]] steps the spine folds into one
  * fresh base (newest value per key wins — overlay values are
  * already-merged currents) — amortized O(bucket/TruncateEvery) per step,
  * the spine's deferred merge. The previous design copied the whole bucket
  * map every step ("memcpy-cheap"), which the 5M→50M XL step-bench decade
  * exposed as the dominant per-step term at large state (~2× growth);
  * reads pay ≤ TruncateEvery probes per key instead.
  *
  * Overlay maps are immutable after their creating step (compaction reads,
  * never mutates), so generations SHARE base/overlay objects in the
  * deserialized block store; a spilled-to-disk generation serializes its
  * whole spine, bounded by the compaction cadence. */
final class BucketedUpsertStateLong(
    sc: SparkContext, val nBuckets: Int, combine: (Long, Long) => Long)
    extends Serializable {

  private val partitioner = new HashPartitioner(nBuckets)
  private var stepsDone = 0
  /** Per partition: (spine — newest-first, oldest entry is the compacted
    * base; touched — last step's overlay = emitted output delta). */
  private var pinned: RDD[(List[LongLongMap], LongLongMap)] = null

  /** Merge `delta` into the state: one O(|Δ|) shuffle, per-bucket overlay
    * build (see class doc). Returns the emitted output delta — current
    * values of exactly the touched keys. Keys must not equal Long.MinValue
    * (the map's empty sentinel). LIFETIME: the returned RDD is a view over
    * this step's pinned generation — consume it before the next `step`,
    * which retires that generation. */
  def step(delta: RDD[(Long, Long)]): RDD[(Long, Long)] = {
    val d = if (delta.partitioner.contains(partitioner)) delta
            else delta.partitionBy(partitioner)
    val cmb = combine
    // compaction rides the same cadence as lineage truncation: the folded
    // generation is also the one whose block localCheckpoint pins
    val doCompact = (stepsDone + 1) % Pinned.TruncateEvery == 0
    val prevState: RDD[(List[LongLongMap], LongLongMap)] =
      if (pinned != null) pinned
      else sc.emptyRDD[(Long, Long)].partitionBy(partitioner)
        .mapPartitions(
          _ => Iterator((List.empty[LongLongMap], new LongLongMap(16))),
          preservesPartitioning = true)
    val merged = prevState.zipPartitions(d, preservesPartitioning = true) {
      (si, di) =>
        val spine = if (si.hasNext) si.next()._1 else Nil
        // overlay sized to the touched case only (code-review r16): a
        // sparse delta used to allocate a 2048-slot (32 KB) map for EVERY
        // bucket and prepend it even when empty — per-step memory and
        // spilled-spine bytes scaled with nBuckets, not |Δ|, and reads
        // probed through the empty layers. Untouched buckets now keep
        // their spine untouched and emit a 16-slot empty overlay.
        val touched = di.hasNext
        val overlay = new LongLongMap(if (touched) 1024 else 16)
        di.foreach { case (k, v) =>
          if (overlay.has(k)) overlay.put(k, v, cmb)
          else {
            // current value = newest spine entry holding k (overlay values
            // are merged currents, so the first hit is authoritative)
            var cur = 0L
            var found = false
            var s = spine
            while (!found && s.nonEmpty) {
              if (s.head.has(k)) { cur = s.head.getOrElse(k, 0L); found = true }
              s = s.tail
            }
            overlay.put(k, if (found) cmb(cur, v) else v, (_, b) => b)
          }
        }
        val grown = if (overlay.size > 0) overlay :: spine else spine
        val newSpine =
          if (doCompact && grown.lengthCompare(1) > 0) {
            val base = new LongLongMap(grown.iterator.map(_.size).sum)
            // oldest → newest so the newest value per key lands last
            grown.reverse.foreach(_.foreach((k, v) =>
              base.put(k, v, (_, b) => b)))
            List(base)
          } else grown
        Iterator((newSpine, overlay))
    }
    merged.persist(StorageLevel.MEMORY_AND_DISK)
    stepsDone += 1
    if (stepsDone % Pinned.TruncateEvery == 0)
      merged.localCheckpoint() // truncate lineage (see class doc)
    merged.count() // materialize before retiring the previous generation
    val prev = pinned
    pinned = merged
    if (prev != null) prev.unpersist(blocking = false)
    // overlay keys hash to their own partition by construction, so the
    // emitted delta IS partitioner-aligned — declare it (code-review r16:
    // a cascade feeding this delta into a same-width state re-shuffled
    // every step for nothing; snapshot already declares it)
    merged.mapPartitions(_.flatMap(_._2.iterator), preservesPartitioning = true)
  }

  /** Full current state (spine folded per bucket); partitioner preserved. */
  def snapshot: RDD[(Long, Long)] =
    if (pinned == null) sc.emptyRDD[(Long, Long)]
    else pinned.mapPartitions(_.flatMap { case (spine, _) =>
      spine match {
        case single :: Nil => single.iterator
        case many =>
          val base = new LongLongMap(many.iterator.map(_.size).sum)
          many.reverse.foreach(_.foreach((k, v) => base.put(k, v, (_, b) => b)))
          base.iterator
      }
    }, preservesPartitioning = true)

  /** Live key count (control-plane; one job over pinned blocks). */
  def size: Long = snapshot.count()

  def close(): Unit = {
    if (pinned != null) pinned.unpersist(blocking = false)
    pinned = null
  }
}
