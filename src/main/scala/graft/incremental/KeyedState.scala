package graft.incremental

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DataType

import graft.core.ZSetFrame
import graft.plans.{BucketClusteredPartitioning, BucketLayout, BucketPackRDD, BucketPacking, BucketSlot}

/** Key-partitioned incremental state — the "trace" of a stateful operator,
  * sharded by the operator key so one delta step costs O(|Δ| + |touched
  * buckets|) instead of O(|DB|). This is the Spark analog of the reference's
  * per-shard trace lookup during incremental aggregation (reference:
  * crates/dbsp/src/operator/aggregate/mod.rs:204-244 — only keys present in
  * the delta are probed in the integrated trace; the trace itself is sharded
  * by key hash, crates/dbsp/src/operator/communication/shard.rs).
  *
  * Representation: the state is a set of immutable "segments", each a
  * localCheckpoint'ed PACKED RDD. A row's logical bucket is
  * `pmod(murmur3hash(keys), nBuckets)` — the SQL `hash()` value, and the
  * partition `repartition(nBuckets, keys)` routes it to (asserted by
  * KeyedStateSpec "bucket ids line up"). The bucket is the unit of routing
  * and pruning, but not the unit of work: a segment over a span of k sorted
  * buckets has G = min(k, defaultParallelism) partitions, partition g holds
  * a contiguous group of the span, and stores ONE ELEMENT PER BUCKET of its
  * group — that bucket's rows as an array. Each bucket therefore points at
  * (segment, partition, slot); reading it pulls one element of one pinned
  * partition (BucketUnionRDD) — its packed neighbours' rows are never
  * iterated, nothing is recomputed or rescanned — and a step over k touched
  * buckets runs G tasks per job, not k (the reference shards its trace one
  * shard per worker, not per fine bucket).
  *
  * A step consumes a delta: the delta's keys name the touched buckets; only
  * the delta is routed into the bucket layout, and the touched buckets' old
  * content is consolidated with it in place into ONE new segment; the
  * touched buckets' pointers move to the new segment. Untouched buckets —
  * the overwhelming majority of a large state under a small delta — are
  * never read, shuffled, or rewritten.
  *
  * ONE STEP PATH. `merge`, `aggStep` and `Incremental.joinDeltaKeyed` all
  * run the same three stages on a delta:
  *  1. `route` — resolve the delta's route into the layout (below) and
  *     decide its pin: a delta the pin rule (`Pinned.isStable`) cannot
  *     prove stable is pinned LAZILY (the routing job fills it) and the
  *     pin is retired into this state's deferred-release queue;
  *  2. `align` — the SPAN (exactly the buckets the delta's rows land in;
  *     a caller's `knownTouched` is only checked against it), the span's
  *     packing and the delta's UNPINNED mini-segment;
  *  3. the step's reads over the aligned views, then `mergeAligned` — tick
  *     the clock and install the mini-segment (append) or the span
  *     consolidated with it in place (replace).
  * TWO ROUTES into the layout, both building the same mini-segment:
  *  - DRIVER route — the delta is driver-resident: its plan is
  *    deterministic and folds to a LocalRelation (a `Seq.toDF` delta, a
  *    CDC batch the caller built in memory). Spark's own optimizer
  *    evaluates the bucket id `pmod(hash(keys), n)` over its rows, which
  *    are filed under their (partition, slot) on the driver and handed to
  *    Spark as a G-partition parallelize, one element per bucket: no
  *    shuffle, no delta pin, and the span is read off the rows in hand.
  *    This is the reference's input handle, which hashes pushed deltas to
  *    their worker shards before the step starts (operator/input.rs,
  *    `handle.append`).
  *  - SHUFFLE route — every other delta (pinned CDC slices, query frames)
  *    and the seed: `repartition(nBuckets, keys)`, pruned to the span. The
  *    span is read off the routing shuffle's map output statistics (a
  *    bucket is in it exactly when some map task wrote rows to it), so
  *    neither route runs a bucket-discovery job, and every reader of the
  *    mini-segment shares the one routing map stage.
  *  The DETERMINISM GUARD (`Pinned.fixedRows`): a plan with a
  *  nondeterministic projection (rand(), uuid(), a nondeterministic UDF)
  *  or one reading the clock (current_timestamp(), which the optimizer
  *  fixes per optimization) also folds to a LocalRelation, but re-folds to
  *  new rows each time a plan over it is optimized; it takes the shuffle
  *  route, and the pin rule pins it, so every consumer sees the same rows.
  *
  * SEGMENT RECLAMATION (the trace's merge/GC, reference:
  * crates/dbsp/src/trace/spine_fueled.rs merge batches + drop superseded):
  * each segment carries a refcount of the buckets pointing at it. A merge
  * that moves the last bucket off a segment retires it; retired segments
  * are unpersisted TWO merges later, so pinned storage tracks live state,
  * not step count. Because a bucket move supersedes only that bucket's
  * slot (the rest of the old segment stays live and pinned whole), every
  * `compactEvery` merges all buckets are compacted into one fresh segment,
  * bounding stale-slot carry to the inter-compaction window.
  *
  * LIFECYCLE CONTRACT: DataFrames returned by `view`/`probe`/`merge` are
  * bucket-pruned views over pinned segments — valid until the SECOND
  * subsequent step (`merge`, `aggStep`, a join's merge, or `compact`) on
  * this state; a step's delta pin is released on the same schedule. Step
  * outputs that must outlive that window are eagerly materialized
  * (`aggStep` does this for its emitted delta; `Incremental.joinDeltaKeyed`
  * likewise, joining each delta's mini-segment against the other state's
  * view over the same bucket groups — co-partitioned, no exchange — while
  * both merges run beside its output job).
  *
  * On a real cluster the same layout is a bucketed/partitioned state table
  * with dynamic partition overwrite of touched buckets — that rendition is
  * `DurableKeyedState`; the in-memory segment structure here is the
  * local[n] hot path.
  */
final class KeyedState(val keys: Seq[String], val nBuckets: Int, init: ZSetFrame,
                       val compactEvery: Int = 64) {
  import KeyedState.{Aligned, Segment}
  private val spark = init.spark
  /** Canonical column order: data columns as declared by `init`, then weight. */
  private val colsInOrder: Seq[String] = init.dataCols.toSeq :+ ZSetFrame.W
  private val dataCols: Seq[String] = init.dataCols.toSeq
  private val schema = init.df.select(colsInOrder.map(col): _*).schema

  private def keyExprs: Seq[Column] = keys.map(col)

  /** The data types of the key columns: the bucket of a key depends on
    * them (murmur3 hashes an int and a long of equal value apart). */
  private[incremental] def keyTypes: Seq[DataType] = keys.map(k => schema(k).dataType)

  /** Logical bucket of a row — equals the physical partition id assigned by
    * `repartition(nBuckets, keys)` (HashPartitioning.partitionIdExpression). */
  def bucketId: Column = pmod(hash(keyExprs: _*), lit(nBuckets))

  /** bucket -> SEGMENT LIST, newest first. A bucket's logical content is
    * the Z-set SUM of its slot across its listed segments: a replacing
    * merge leaves one consolidated segment; an APPEND merge
    * (`append = true`) prepends the delta's segment without touching old
    * content — the reference's fueled-spine batch append
    * (crates/dbsp/src/trace/spine_fueled.rs:1-45: a delta becomes a new
    * batch in the shard's spine; merging is deferred and amortized).
    * Physical rows of an appended bucket may repeat across segments with
    * split weights — readers consolidate (aggStep does so after applying
    * `restrictTo`, so the consolidation pays O(restricted rows), never
    * O(bucket)). */
  private val bucketSegs = Array.fill(nBuckets)(List.empty[Segment])
  /** Deferred release of superseded segments' RDDs (and per-step delta
    * pins): the merge counter doubles as the periodic-compaction clock. */
  private val retireQ = new RetireQueue[RDD[_]](unpersistTree)
  private def gen: Long = retireQ.generation

  { // seed segment: the (usually empty) initial state, bucketed
    val groups = groupsOf(0 until nBuckets)
    val rows = routed(init, consolidate = true)
      .getOrElse(spark.sparkContext.parallelize(Seq.empty[InternalRow], nBuckets))
    install(pin(new Segment(new BucketPackRDD(rows, groups), BucketPacking.slots(groups))),
      0 until nBuckets)
  }

  /** REPLACE `bucketIds`' lists with `seg`, maintaining refcounts; segments
    * whose last bucket moved away are queued for deferred unpersist. */
  private def install(seg: Segment, bucketIds: Seq[Int]): Unit =
    bucketIds.foreach { b =>
      bucketSegs(b).foreach { old =>
        if (old ne seg) {
          old.refs -= 1
          if (old.refs == 0) retireQ.retire(old.rdd)
        }
      }
      if (!bucketSegs(b).contains(seg)) seg.refs += 1
      bucketSegs(b) = List(seg)
    }

  /** PREPEND `seg` to `bucketIds`' lists (spine append — old segments stay). */
  private def installAppend(seg: Segment, bucketIds: Seq[Int]): Unit =
    bucketIds.foreach { b =>
      seg.refs += 1
      bucketSegs(b) = seg :: bucketSegs(b)
    }

  /** The RDD handle we keep (`df.rdd`) is a row-conversion CHILD of the
    * internally persisted checkpoint RDD — unpersist the persisted ancestor,
    * wherever it sits in the (short) dependency chain. */
  private def unpersistTree(rdd: RDD[_]): Unit = Pinned.unpersistTree(rdd)

  /** Release ALL pinned storage — live segments, retired segments awaiting
    * reclaim — once the state is done. The state is unusable afterwards
    * (views handed out earlier become unreadable too; callers materialize
    * outputs they need first — aggStep already does). A state that is not
    * closed leaks its pinned trace for the session's lifetime. */
  def close(): Unit = {
    bucketSegs.flatten.distinct.foreach(seg => unpersistTree(seg.rdd))
    retireQ.close()
    (0 until nBuckets).foreach(b => bucketSegs(b) = Nil)
  }

  /** The packing of a sorted bucket span: one contiguous group per task,
    * G = min(|span|, defaultParallelism) — derived from the cluster, never
    * configured. A step computes its span's groups ONCE and hands them to
    * every view and segment it builds: an in-place consolidation needs its
    * view's partitions and its own packing to agree, and a cluster's
    * parallelism can change between two calls. */
  private def groupsOf(sorted: IndexedSeq[Int]): IndexedSeq[IndexedSeq[Int]] =
    BucketPacking.groups(sorted, spark.sparkContext.defaultParallelism)

  /** Pin a segment's packed partitions in memory (one job, G tasks). */
  private def pin(seg: Segment): Segment = {
    seg.rdd.localCheckpoint()
    seg.rdd.count()
    seg
  }

  /** The SHUFFLE route (see the class scaladoc for the two routes): `z`'s
    * rows in the bucket layout by key hash — one partition per bucket —
    * or None when AQE folded an all-empty build away. It serves the seed
    * and every delta that is not driver-resident — a cluster-resident
    * plan, or one the determinism guard turns away (the pin rule fixes its
    * rows first; the driver route files the same rows from the driver).
    * The shuffle writes nBuckets partitions, but only the span's are ever
    * READ: the reduce side is pruned to the span's buckets and packed into
    * G tasks (BucketPackRDD, built by the caller) — a step's
    * Δ route runs G reduce tasks, not nBuckets, nor |touched|. Without the
    * pruning every step would pay an nBuckets-task stage of overwhelmingly
    * EMPTY tasks — pure scheduling overhead that grows with bucket COUNT
    * (~0.1-0.2 ms/task in local mode, and at deployment-sized bucket counts
    * it dominates the step: the r10 radix_scaled track measured +0.46
    * s/step at 2560 buckets from exactly this). The reference never pays
    * this either: a shard writes only the shards a batch touches
    * (communication/shard.rs), not one output per possible shard. Under AQE
    * the shuffle's map stage runs here (its own job); the reduce side runs
    * with whichever job reads the result.
    *
    * `consolidate = true` weight-merges to physically-unique rows INSIDE
    * the bucket layout: repartition first, THEN groupBy — the repartition's
    * HashPartitioning(keys) satisfies the consolidate's full-column
    * clustering, so the groupBy adds NO second exchange. Same rows out
    * either way — grouping is on all data columns and zero-net rows drop
    * after the sum. */
  private def routed(z: ZSetFrame, consolidate: Boolean = false): Option[RDD[InternalRow]] = {
    // the consolidate below relies on HashPartitioning's SUBSET rule
    // (grouping by dataCols ⊇ keys is satisfied by the key repartition);
    // spark.sql.requireAllClusterKeysForDistribution=true disables that
    // rule and Catalyst would insert a hash(dataCols) re-shuffle AFTER the
    // bucket repartition — and when its width happens to equal nBuckets
    // the partition-count check below cannot catch it, so a MIS-BUCKETED
    // segment would install silently (code-review r15). The whole-plan
    // Exchange check materializeAligned uses is unavailable here (a
    // delta's own upstream plan may legitimately contain exchanges), so
    // fail fast on the conf instead — read per call, it can change
    // mid-session.
    require(!spark.conf.get(
        "spark.sql.requireAllClusterKeysForDistribution", "false").toBoolean,
      "graft: KeyedState requires spark.sql.requireAllClusterKeysFor" +
        "Distribution=false (the bucket layout relies on HashPartitioning's " +
        "subset rule; with it disabled a post-repartition re-shuffle can " +
        "silently mis-bucket segments)")
    val bucketed = z.df.select(colsInOrder.map(col): _*)
      .repartition(nBuckets, keyExprs: _*)
    val ds = if (consolidate) {
      bucketed.groupBy(dataCols.map(col): _*)
        .agg(sum(ZSetFrame.W).as(ZSetFrame.W))
        .where(col(ZSetFrame.W) =!= 0L)
        .select(colsInOrder.map(col): _*)
    } else bucketed
    // INTERNAL rows (what Dataset.checkpoint itself does): no Row
    // conversion on write or on any later view read
    val internal = ds.queryExecution.toRdd
    if (internal.getNumPartitions == nBuckets) Some(internal) else {
      // AQE's empty-relation propagation folds an ALL-EMPTY build (the seed
      // of a fresh state, or a delta with no rows) into a 0/1-partition
      // local relation, losing the bucket layout every reader indexes by:
      // the caller restores it. Any NON-empty layout loss is a hard error
      // (partition-count check is metadata-only; the take(1) job runs only
      // on this rare path).
      require(internal.take(1).isEmpty,
        s"graft: bucket layout lost (${internal.getNumPartitions} partitions," +
          s" expected $nBuckets) on non-empty data")
      None
    }
  }

  /** The buckets a shuffle-routed delta's rows land in: the routing
    * shuffle's non-empty reduce partitions, read off its map output
    * statistics (`GraftSqlShim.shuffleBytes` — no job under AQE, whose
    * `toRdd` in `routed` has run the map stage; otherwise that map stage
    * runs here and the readers skip it). A map status records an empty
    * block as exactly 0 bytes and a non-empty one as at least 1, so the
    * set is exact. */
  private def landed(rows: RDD[InternalRow]): Seq[Int] = {
    val bytes = org.apache.spark.sql.graft.GraftSqlShim.shuffleBytes(rows)
      .filter(_.length == nBuckets)
      .getOrElse(throw new IllegalStateException(
        "graft: a shuffle-routed delta has no bucket shuffle to read its span from"))
    bytes.indices.filter(bytes(_) > 0)
  }

  /** Consolidate an ALREADY bucket-aligned view (a `viewOf(groups, …)`
    * result) into a pinned segment packed by the same `groups` WITHOUT re-shuffling: the view's
    * declared clustering satisfies the consolidate's grouping, so the build
    * is scan + agg in place — the reference's shard-local spine merge
    * (spine_fueled.rs: batches of one shard merge within the shard; nothing
    * crosses shards). The aggregate keeps the view's partitions (one per
    * bucket group) but mixes a group's buckets, so each output row carries
    * its bucket id and the pack splits the group back into per-bucket
    * slots. */
  private def materializeAligned(view: DataFrame,
                                 groups: IndexedSeq[IndexedSeq[Int]]): Segment = {
    // empty-delta step: no touched buckets, nothing to consolidate. Without
    // this guard the empty view's consolidate plans a shuffle whose width is
    // spark.sql.shuffle.partitions when AQE is off (AQE-on folds it to an
    // EmptyRelation), and the layout-restore below would need a 0-slice
    // parallelize — which throws.
    if (groups.isEmpty)
      return new Segment(spark.sparkContext.emptyRDD[Array[InternalRow]], Map.empty)
    val ds = view.groupBy(dataCols.map(col): _*)
      .agg(sum(ZSetFrame.W).as(ZSetFrame.W))
      .where(col(ZSetFrame.W) =!= 0L)
      .select(colsInOrder.map(col) :+ bucketId.as("__b"): _*)
    // SOUNDNESS GATE (ADVICE r10): partition COUNT alone cannot prove the
    // aligned layout survived planning — an exchange whose width happens to
    // equal the group count (small touched spans vs shuffle.partitions, or
    // spark.sql.requireAllClusterKeysForDistribution=true defeating the
    // subset rule in BucketClusteredPartitioning.satisfies0) would silently
    // move rows away from their group's partition and the pack would file
    // them under the wrong slots. The declared clustering makes this plan
    // exchange-free by construction, so any Exchange in it is a broken
    // invariant — fail loudly instead of corrupting state. (String check on
    // the already-planned physical plan: no extra planning work.)
    val planStr = org.apache.spark.sql.graft.GraftSqlShim.executedPlanString(ds)
    require(!planStr.contains("Exchange"),
      "graft: materializeAligned planned an Exchange — the bucket-aligned " +
        "view lost its declared clustering; refusing to pin a mis-indexed " +
        s"segment. Plan:\n$planStr")
    val internal0 = ds.queryExecution.toRdd
    val internal = if (internal0.getNumPartitions == groups.size) internal0 else {
      // same AQE empty-relation fold as `routed`: an all-empty
      // consolidation loses the layout; restore an empty aligned RDD
      require(internal0.take(1).isEmpty,
        s"graft: aligned layout lost (${internal0.getNumPartitions} parts," +
          s" expected ${groups.size}) on non-empty data")
      spark.sparkContext.parallelize(Seq.empty[InternalRow], groups.size)
    }
    pin(new Segment(BucketPacking.byRowBucket(internal, groups, schema),
      BucketPacking.slots(groups)))
  }

  /** DataFrame over exactly the buckets of `groups` — slot reads of their
    * pinned segments; no job is launched and no other bucket is scanned.
    * The view has one partition per group; partition j concatenates, for
    * each bucket of group j, its slot in every segment of its spine.
    * Appended buckets may carry weight-split duplicate rows — consolidate
    * on read where physical uniqueness matters.
    *
    * ONE scan for the whole view (BucketUnionRDD, narrow). The resulting
    * frame DECLARES the key clustering the bucket layout guarantees
    * (BucketClusteredPartitioning via the LogicalRDD shim) — so a step's
    * consolidate ∘ agg over this view plans with ZERO exchanges: Catalyst is
    * told what the reference's sharded trace makes structural (shard.rs —
    * aggregation probes shards in place, never re-shards). Correctness is
    * untouched: the declared property (equal keys co-located) holds because
    * a key lives in exactly one bucket and a bucket in exactly one group,
    * and KeyedStateSpec's layout law and readback gates pin it.
    *
    * `extra`: an uninstalled segment (a step's routed Δ) read as if
    * appended to every bucket it covers — lets a step see old ∪ Δ as one
    * clustered scan and consolidate it in place. The segment may be packed
    * by other groups than the view's: each bucket's slot is read where the
    * segment holds it. */
  private[incremental] def viewOf(groups: IndexedSeq[IndexedSeq[Int]],
                                  extra: Option[Segment] = None): DataFrame = {
    val listed = groups.flatten.flatMap(bucketSegs(_)).distinct
    scan(groups, (listed ++ extra).distinct, (s, b) =>
      bucketSegs(b).contains(s) || extra.exists(x => (x eq s) && x.slots.contains(b)))
  }

  /** A step's aligned delta ALONE, as a scan in its span's layout that
    * OFFERS that layout to a join (BucketClusteredPartitioning): joined with
    * another state's `viewOf` the same groups on the key columns, Catalyst
    * plans the join with no exchange — each group's delta rows meet that
    * group's trace rows in one task. */
  private[incremental] def deltaView(a: Aligned): DataFrame =
    scan(a.groups, Seq(a.seg), (s, b) => s.slots.contains(b), offersLayout = true)

  /** ONE narrow scan over `segs` (BucketUnionRDD): partition j reads, for
    * each bucket of group j, its slot in every segment that `carries` it,
    * and the frame declares the layout's key clustering. */
  private def scan(groups: IndexedSeq[IndexedSeq[Int]], segs: Seq[Segment],
                   carries: (Segment, Int) => Boolean,
                   offersLayout: Boolean = false): DataFrame = {
    if (groups.isEmpty || segs.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    val reads = groups.map { grp =>
      segs.map { s =>
        grp.filter(carries(s, _)).map(s.slots).groupBy(_.part).toArray.sortBy(_._1)
          .map { case (p, ss) => (p, ss.map(_.slot).sorted.toArray) }
      }.toArray
    }.toArray
    val union = new graft.plans.BucketUnionRDD(segs.map(_.rdd), reads)
    org.apache.spark.sql.graft.GraftSqlShim.internalDf(spark, union, schema,
      attrs => BucketClusteredPartitioning(keys.map(k => attrs(schema.fieldIndex(k))),
        BucketLayout(nBuckets, groups), offersLayout))
  }

  /** The full state as a Z-set (final read-out; scans every bucket). */
  def snapshot: ZSetFrame = view(0 until nBuckets)

  /** Bucket ids a delta's keys hash into: one small job, or none for a
    * driver-resident delta (read off its folded LocalRelation). Shareable
    * across same-shaped states: any KeyedState with equal `keys` and
    * `nBuckets` assigns identical ids. */
  def touchedBuckets(delta: ZSetFrame): Seq[Int] = {
    val b = delta.df.select(pmod(hash(keys.map(delta.df(_)): _*), lit(nBuckets)).as("b"))
    KeyedState.driverRows(b) match {
      case Some((_, rows)) => rows.map(_.getInt(0)).distinct.sorted
      case None => b.distinct().collect().map(_.getInt(0)).toSeq.sorted
    }
  }

  /** STEP STAGE 1 — resolve a delta's route into this state's layout (see
    * the class scaladoc), once per delta per step; every consumer of the
    * step shares the result. The delta projected to the state's columns
    * plus its bucket id is optimized once: when it folds to a
    * LocalRelation, Spark's ConvertToLocalRelation has evaluated the very
    * expression `repartition(nBuckets, keys)` routes by, so the driver
    * route's bucket ids match the shuffle route's by construction.
    *
    * This is the ONE place a step decides its delta's pin. A driver-resident
    * delta is stable by construction; any other delta the pin rule
    * (`Pinned.isStable`: a file scan, a view, a rand() plan) cannot prove
    * stable is pinned LAZILY — no job of its own: the routing map stage in
    * `align` is the step's only read of it and fills the pin. The pin is
    * retired into this state's queue and freed two steps on, with the
    * segments the step supersedes. */
  private[incremental] def route(delta: ZSetFrame): KeyedState.DeltaRoute = {
    val frame = ZSetFrame.fromDelta(delta.df.select(colsInOrder.map(col): _*))
    // the segment rows are read with the STATE's schema and filed by a hash
    // of their own key values: a column of another type (an int key into a
    // long state hashes with hashInt, not hashLong) would be misfiled or
    // misread with no error
    frame.df.schema.fields.zip(schema.fields).foreach { case (got, want) =>
      require(DataTypeUtils.equalsIgnoreNullability(got.dataType, want.dataType),
        s"graft: KeyedState column `${want.name}` is ${want.dataType.sql} but the delta's is " +
          s"${got.dataType.sql} - cast the delta to the state's types")
    }
    val n = colsInOrder.size
    val withBucket = frame.df.select(colsInOrder.map(col) :+ bucketId.as("__b"): _*)
    KeyedState.driverRows(withBucket) match {
      case Some((output, data)) =>
        val strip = UnsafeProjection.create(output.take(n).zipWithIndex.map {
          case (a, i) => BoundReference(i, a.dataType, a.nullable)
        })
        new KeyedState.DeltaRoute(frame, Some(data.groupBy(_.getInt(n)).map { case (b, rs) =>
          b -> rs.map(r => strip(r).copy(): InternalRow).toArray
        }))
      case None =>
        new KeyedState.DeltaRoute(
          Pinned.stabilized(frame, eager = false)(p => retireQ.retire(p.df.rdd)), None)
    }
  }

  /** STEP STAGE 2 — route a `route`d delta into this state's layout for
    * one step, without changing the state: its SPAN, the span's packing
    * (`groupsOf`) and the delta's UNPINNED mini-segment packed by it.
    *
    * The span is exactly the buckets the delta's rows land in: the driver
    * route reads them off the rows in hand and ships each bucket's rows as
    * one element of a G-partition parallelize (the rows travel inside the
    * readers' tasks, as a LocalTableScanExec already ships them); the
    * shuffle route runs the routing shuffle's map stage here and reads
    * them off its map output statistics (`landed`). A step therefore
    * probes, consolidates and installs no bucket its delta does not hit,
    * and an empty delta has an empty span. Every reader of the
    * mini-segment — a join's output, aggStep's output, `mergeAligned` —
    * reads the same shuffle map output (or the same driver rows).
    *
    * knownTouched CONTRACT: a caller's `knownTouched` must be a SUPERSET of
    * the span — it is checked here, on both routes, at no cost, before
    * anything is installed, and an under-inclusive one fails as
    * DurableKeyedState.merge does: an IllegalArgumentException naming
    * `knownTouched` and the missed buckets. */
  private[incremental] def align(r: KeyedState.DeltaRoute,
                                 knownTouched: Option[Seq[Int]]): Aligned = {
    // the shuffle route's map stage runs here, and its span is read off it
    val shuffled = if (r.rows.isDefined) None else routed(r.frame)
    val span = r.rows.map(_.keys.toSeq).getOrElse(shuffled.fold(Seq.empty[Int])(landed))
    knownTouched.foreach { ts =>
      val missing = span.filterNot(ts.toSet)
      require(missing.isEmpty,
        s"graft: KeyedState knownTouched=${ts.distinct.sorted} does not cover delta " +
          s"bucket(s) ${missing.sorted} - the rows there would be dropped")
    }
    val groups = groupsOf(span.sorted.toIndexedSeq)
    val sc = spark.sparkContext
    val rdd = (r.rows, shuffled) match {
      case (Some(rows), _) if groups.nonEmpty =>
        sc.parallelize(groups.map(_.map(rows)), groups.size).flatMap(_.iterator)
      case (None, Some(rows)) => new BucketPackRDD(rows, groups)
      case _ => sc.emptyRDD[Array[InternalRow]]
    }
    new Aligned(groups, new Segment(rdd, BucketPacking.slots(groups)))
  }

  /** Bucket-pruned read of the given buckets (no job launched). */
  def view(bucketIds: Seq[Int]): ZSetFrame =
    ZSetFrame.fromDelta(viewOf(groupsOf(bucketIds.distinct.sorted.toIndexedSeq)))

  /** Rewrite ALL buckets into one fresh CONSOLIDATED segment (one
    * O(|state|) job, in place — no shuffle) and retire every old segment —
    * reclaims slots superseded by bucket moves that the per-segment
    * refcount cannot see, and collapses append-mode spine chains
    * (weight-split duplicates) back to physically-unique rows. Runs
    * automatically every `compactEvery` merges; amortized cost
    * O(|state|/compactEvery) per step — the fueled spine's deferred merge.
    *
    * `keep`: optional RETENTION predicate over the data columns — rows
    * failing it are DROPPED (not retracted) during the rewrite. This is
    * the lateness-GC primitive (the reference's trace bound,
    * trace_with_bound / crates/dbsp/src/operator/time_series/watermark.rs):
    * callers use it only for state whose below-watermark rows can no
    * longer influence any future output. */
  def compact(keep: Option[Column] = None): Unit = {
    // a CALLER-driven compact is a step for the retire clock (code-review
    // r15): install retires the superseded segments at the CURRENT
    // generation, and the queue only frees on advance() — which otherwise
    // runs only in mergeAligned. A caller compacting on a periodic cadence
    // with no intervening merges (RollingLinearState.gcBefore on an idle
    // stream) accumulated one pinned full-state copy per tick, never
    // released. Advancing here keeps the deferral contract: a view is
    // valid until the second subsequent merge-or-compact. mergeAligned's
    // automatic cadence compaction calls compactInternal DIRECTLY — its
    // merge already advanced the clock this step, and a second tick would
    // free the previous step's still-visible views one step early.
    retireQ.advance()
    compactInternal(keep)
  }

  private def compactInternal(keep: Option[Column]): Unit = {
    val groups = groupsOf(0 until nBuckets)
    val view = viewOf(groups)
    install(materializeAligned(keep.fold(view)(view.where), groups), 0 until nBuckets)
  }

  /** A merge's clock tick: free what was retired two merges ago and, every
    * `compactEvery` merges, compact — through compactInternal, NOT
    * compact(): this tick already advanced the clock for this step (see
    * compact()'s scaladoc). */
  private def advance(): Unit = {
    retireQ.advance()
    if (compactEvery > 0 && gen % compactEvery == 0) compactInternal(None)
  }

  /** Merge a delta into the state, touching only the buckets its rows land
    * in (`align`). Returns (old content of touched buckets, new content of
    * touched buckets) for delta-rule use — both are bucket-pruned views,
    * never full-state scans; valid until the second subsequent merge.
    *
    * `append = false` (default): the touched buckets' old content is
    * consolidated with the delta's mini-segment IN PLACE into ONE new
    * segment — rows stay physically unique, at O(|Δ|) routing and
    * O(touched-bucket rows) scan per step. Jobs: the consolidation, plus
    * the routing map stage on the shuffle route.
    * `append = true`: the delta's mini-segment is pinned as a NEW segment
    * prepended to its buckets' spine — O(|Δ|) per step regardless of
    * bucket size (the reference's fueled-spine append,
    * spine_fueled.rs:1-45); returned views may then carry weight-split
    * duplicate rows, so readers that need physical uniqueness consolidate
    * on read (aggStep consolidates AFTER `restrictTo`, paying
    * O(restricted), and periodic `compact` collapses the spine). Jobs: the
    * segment pin, plus the routing map stage on the shuffle route. */
  def merge(delta: ZSetFrame, knownTouched: Option[Seq[Int]] = None,
            append: Boolean = false): (ZSetFrame, ZSetFrame) = {
    val a = align(route(delta), knownTouched)
    val oldTouched = ZSetFrame.fromDelta(viewOf(a.groups))
    mergeAligned(a, append)
    (oldTouched, ZSetFrame.fromDelta(viewOf(a.groups)))
  }

  /** STEP STAGE 3 — merge an `align`ed delta: tick the clock (reclaim +
    * periodic compaction), then install — in replace mode the span
    * consolidated with the delta's mini-segment in place (one job; the
    * consolidation must precede the install, or count-style aggregates over
    * the trace would see duplicate rows), in append mode the mini-segment
    * itself, pinned (one job). An empty delta ticks the clock and installs
    * nothing. */
  private[incremental] def mergeAligned(a: Aligned, append: Boolean = false): Unit = {
    advance()
    if (!a.isEmpty) {
      val touched = a.groups.flatten
      if (append) installAppend(pin(a.seg), touched)
      else install(materializeAligned(viewOf(a.groups, extra = Some(a.seg)), a.groups), touched)
    }
  }

  /** Trace PROBE: the state rows living in the buckets touched by `other`'s
    * keys — the reference's indexed-trace lookup during an incremental join
    * (reference: operator/join.rs:180 — Δ is joined against the sharded
    * trace by key probe, never a full scan). Read-only, bucket-pruned:
    * cost is O(|other| + touched-bucket rows). The result may contain
    * co-bucketed extra keys; the subsequent equi-join discards them. */
  def probe(other: ZSetFrame): ZSetFrame = view(touchedBuckets(other))

  /** Any bucket currently holding a multi-segment spine (append-mode
    * residue not yet compacted)? Views over such buckets may carry
    * weight-split duplicate rows. */
  private def anySpine: Boolean = bucketSegs.exists(_.lengthCompare(1) > 0)

  /** One incremental GENERAL-aggregate step (min/max/top-n/argmax...):
    * merge the delta, then re-aggregate ONLY the touched buckets, emitting
    * -old/+new output rows (reference: aggregate/mod.rs:204-244). Per-step
    * cost is O(|Δ| + |state of touched buckets|): both aggregates below run
    * over bucket-pruned views, so untouched state is never
    * scanned; output rows of co-bucketed but untouched keys are identical
    * in both terms and cancel in the Z-set minus. The emitted delta is
    * EAGERLY materialized (it is O(touched output), not O(state)) so it
    * stays valid after superseded segments are reclaimed.
    *
    * `knownTouched`: any SUPERSET of the buckets the delta's keys hash
    * into, checked (see `align`; the delta's keys must hash with the
    * state's exact column types).
    *
    * `restrictTo` — TOUCHED-RANGE recompute for windowed aggregates (the
    * radix-tree economics of the reference's rolling aggregate, reference:
    * crates/dbsp/src/operator/time_series/radix_tree/mod.rs:1-60,
    * rolling_aggregate.rs:235): a predicate applied IDENTICALLY to the old
    * and new touched views before `agg`, narrowing the recompute from the
    * whole touched bucket to the touched keys' affected time range.
    * CONTRACT (what makes the emitted delta exact): the predicate must
    * include (a) every output row whose aggregate value the delta can
    * change — for a window with lookback H and delta event times in
    * [lo, hi], that is rows with ts ∈ [lo, hi + H] — and (b) every input
    * row those outputs' frames read (ts ≥ lo − H), and `agg` must be a
    * deterministic function of its input rows. Rows near the lower cut
    * whose frames are truncated by the restriction compute the same
    * (possibly wrong) value on BOTH sides — their outputs cancel in the
    * Z-set minus exactly like co-bucketed untouched keys; rows outside the
    * restriction are unaffected by construction. An under-inclusive
    * predicate silently corrupts the emitted delta (IncrementalSpec gates
    * the equivalence against the unrestricted path).
    *
    * `append` — run the merge in spine-append mode (see `merge`): the step
    * pays O(|Δ| + restricted rows) instead of O(touched-bucket rows). The
    * restricted views are consolidated before `agg` so weight-split spine
    * duplicates are invisible to it — identical aggregate semantics, with
    * the consolidation shuffle sized to the restriction, not the bucket
    * (the radix-tree economics VERDICT r8 #5 asks for: a rolling step's
    * cost follows the touched range, with the spine's deferred compaction
    * amortizing the physical merge).
    *
    * JOB SHAPE (VERDICT r9 #4 — the per-step driver-job floor is the
    * local-mode lever, and job COUNT per step is what sets it): the new
    * touched content is ≡ (oldTouched + Δ) consolidated, so the output job
    * reads the old view and the old view with the mini-segment as its extra
    * spine batch, through its own consolidate — it never needs the new
    * SEGMENT. In replace mode the output job and `mergeAligned` therefore
    * run CONCURRENTLY as step tasks (`StepTasks`; both read only pinned
    * blocks and the routed delta), and a step's wall clock is
    * max(merge, output): 2 jobs, plus the routing map stage on the shuffle
    * route, which both readers share. In append mode the mini-segment is
    * pinned and installed first, and the output reads the pinned blocks. */
  def aggStep(delta: ZSetFrame, knownTouched: Option[Seq[Int]] = None,
              restrictTo: Option[Column] = None,
              append: Boolean = false)
             (agg: ZSetFrame => ZSetFrame): ZSetFrame = {
    // duplicate-visibility is a property of the STATE, not of this call's
    // merge mode: a replace-mode step after earlier append merges still
    // reads spine duplicates in its old view (ADVICE r9 #1) — key the
    // consolidation on actual spine depth (the old view is over the
    // pre-merge segment lists)
    val preSpined = anySpine
    // Δ BUCKET ALIGNMENT, once: with the delta in the state's own layout,
    // the new side is a single bucket-clustered scan (old spine ⊎ Δ
    // mini-segment via viewOf's `extra`), so BOTH aggregate chains below
    // and the replace consolidation plan with zero exchanges. This is the
    // reference's step economics made literal: a batch is routed to its
    // shards once, and every downstream read/merge happens shard-local
    // (communication/shard.rs; spine_fueled.rs merges within a shard).
    val a = align(route(delta), knownTouched)
    val oldTouched = ZSetFrame.fromDelta(viewOf(a.groups))
    val newView = ZSetFrame.fromDelta(viewOf(a.groups, extra = Some(a.seg)))
    val (o, n) = restrictTo match {
      case Some(p) => (oldTouched.where(p), newView.where(p))
      case None => (oldTouched, newView)
    }
    // the Δ side of the spine view is never physically consolidated, so the
    // NEW side always consolidates; the OLD side only when spine duplicates
    // can exist (consolidation is sized to the restriction, not the bucket)
    val oc = if (preSpined) o.consolidate else o
    def out = (agg(n.consolidate) - agg(oc)).localCheckpoint(eager = true)
    if (append) {
      // the mini-segment IS the merge: pin and install it up front; the
      // views captured above are unaffected (viewOf snapshots the spine
      // lists eagerly). A failed output job leaves the merge installed,
      // matching the replace path's failure contract.
      mergeAligned(a, append = true)
      out
    } else {
      // a failed output job still leaves the merge installed; a failed
      // merge leaves the state pre-merge (with the clock ticked) and
      // fails the step
      StepTasks.output("merge" -> (() => mergeAligned(a)))(out)
    }
  }
}

object KeyedState {
  /** A step's delta resolved against one state's layout (`KeyedState.route`):
    * `frame` is the delta in the state's column order (pinned when the pin
    * rule asked for it); `rows` holds a
    * DRIVER-RESIDENT delta's rows (UnsafeRows) by bucket — the driver
    * route — and is None for a cluster-resident delta, which takes the
    * shuffle route. */
  private[incremental] final class DeltaRoute(val frame: ZSetFrame,
                                              val rows: Option[Map[Int, Array[InternalRow]]])

  /** `rdd` holds, per partition, one element per bucket of its group;
    * rows in the INTERNAL UnsafeRow format, so views rebuild DataFrames
    * without any row conversion and `viewOf` re-declares the key clustering
    * the layout guarantees. `slots` maps every bucket the segment carries
    * to its (partition, slot); `refs` counts the buckets of the owning
    * state that point at it. */
  private[incremental] final class Segment(val rdd: RDD[Array[InternalRow]],
                                           val slots: Map[Int, BucketSlot]) {
    var refs: Int = 0
  }

  /** A step's delta routed into one state's layout (`KeyedState.align`):
    * the packing of its span and its mini-segment. `isEmpty` when the span
    * is empty (a delta with no rows) — a join term over it is dropped and
    * its merge only ticks the clock. */
  private[incremental] final class Aligned(val groups: IndexedSeq[IndexedSeq[Int]],
                                           val seg: Segment) {
    def isEmpty: Boolean = groups.isEmpty
  }

  /** `df`'s output and rows when its plan is driver-resident: every leaf is
    * a LocalRelation, the analyzed plan is deterministic and reads no
    * clock (the determinism guard, see the class scaladoc), and the
    * optimized plan is one LocalRelation — Spark has then already
    * evaluated `df`'s projections and filters on the driver, and its rows
    * are read here with no job. Otherwise None. The leaf check keeps a
    * cluster-resident plan from paying an extra optimizer pass. */
  private[incremental] def driverRows(df: DataFrame): Option[(Seq[Attribute], Seq[InternalRow])] = {
    val plan = df.queryExecution.analyzed
    if (!Pinned.fixedRows(plan) ||
        !plan.collectLeaves().forall(_.isInstanceOf[LocalRelation])) None
    else df.queryExecution.optimizedPlan match {
      case lr: LocalRelation => Some((lr.output, lr.data))
      case _ => None
    }
  }

  /** DRIVER-SIDE bucket id for a row of Long key values — exactly what
    * `repartition(n, keys)` computes for LongType key columns: murmur3
    * chained across columns from seed 42 (Spark's Murmur3Hash), then
    * positive mod. A caller that knows its delta's keys (a CDC source
    * always does — they define the delta) maps them through this to
    * address buckets on the driver: a `view` span, or a `knownTouched`
    * that a step checks against its delta's rows (the reference's shard
    * routing is likewise computed from the key: communication/shard.rs).
    * KeyedStateSpec pins this against the SQL `hash()` builtin. */
  def bucketOfLongs(keyVals: Seq[Long], nBuckets: Int): Int = {
    val h = keyVals.foldLeft(42) { (seed, v) =>
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, seed)
    }
    val m = h % nBuckets
    if (m < 0) m + nBuckets else m
  }

  /** `bucketOfLongs` over a set of single-Long keys → sorted distinct
    * bucket ids, ready to pass as `knownTouched`. */
  def bucketsOfLongKeys(keys: Iterable[Long], nBuckets: Int): Seq[Int] =
    keys.map(k => bucketOfLongs(Seq(k), nBuckets)).toSeq.distinct.sorted

  /** DRIVER-SIDE bucket id for a single STRING key — what
    * `repartition(n, col)` computes for a StringType column: murmur3 over
    * the UTF-8 bytes from seed 42 (Spark's Murmur3Hash on UTF8String),
    * positive mod. Lets a state whose dimension keys are term strings
    * route them to buckets without a discovery job (r18 — CosineState's
    * term-keyed screen trace). KeyedStateSpec pins this against the SQL
    * `hash()` builtin. */
  def bucketOfString(key: String, nBuckets: Int): Int = {
    val b = key.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
      b, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET, b.length, 42)
    val m = h % nBuckets
    if (m < 0) m + nBuckets else m
  }

  /** `bucketOfString` over a set of string keys → sorted distinct bucket
    * ids, ready to pass as `knownTouched` / a term-keyed view span. */
  def bucketsOfStringKeys(keys: Iterable[String], nBuckets: Int): Seq[Int] =
    keys.map(bucketOfString(_, nBuckets)).toSeq.distinct.sorted
}
