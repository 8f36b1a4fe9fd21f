package graft.incremental

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, StructField, StructType}

import graft.core.ZSetFrame

/** DISK-BACKED key-partitioned incremental state — the durable/recoverable
  * rendition of [[KeyedState]], mirroring the reference's persistent trace
  * (reference: crates/dbsp/src/trace/persistent/mod.rs:1-40 — the spine is
  * persisted to RocksDB and the circuit recovers from it after a restart).
  *
  * Layout: a parquet table at `path`, partitioned by the `__bucket` column
  * (= `pmod(hash(keys), nBuckets)`, the same bucket function KeyedState
  * uses). A merge step reads ONLY the touched buckets (partition pruning on
  * the `__bucket` filter reaches the file listing — untouched buckets' files
  * are never opened) and writes back ONLY those buckets via dynamic
  * partition overwrite. On a cluster this is exactly the bucketed state
  * table the in-memory KeyedState scaladoc promises: state survives a
  * driver restart, and `restore(spark, path)` re-attaches to it — schema,
  * keys, and bucket count are recorded in a `_graft_state.txt` sidecar (an
  * underscore-prefixed name, so the parquet file index ignores it).
  *
  * Per-step cost is O(|Δ| + |touched buckets|) in rows, like KeyedState,
  * plus the durability write; the in-memory variant remains the hot path
  * when recovery is not required.
  *
  * LIFECYCLE CONTRACT: views returned by `merge` read the state files
  * current at call time; a subsequent merge overwrites touched partitions,
  * so consume (or materialize) a step's views before the next step —
  * `aggStep` eagerly materializes everything it returns. */
final class DurableKeyedState private (
    val spark: SparkSession, val keys: Seq[String], val nBuckets: Int,
    val path: String, schema: StructType,
    initialLive: Set[Int]) {

  private val colsInOrder: Seq[String] = schema.fieldNames.toSeq
  private val readSchema = StructType(
    schema.fields :+ StructField("__bucket", IntegerType, nullable = true))

  /** COMMITTED live-bucket set (ADVICE r15): the meta file records which
    * partition dirs are part of the state, and every read filters to it —
    * so a crash between a merge's data write and its emptied-dir cleanup
    * cannot resurrect fully-retracted rows (the dir is stale garbage the
    * moment the meta excludes it; the delete that follows is hygiene, not
    * correctness). The meta write is the merge's bucket-set commit point:
    * it lands AFTER the data write and BEFORE the deletes. */
  private var liveBuckets: Set[Int] = initialLive

  private def keyExprs: Seq[Column] = keys.map(col)
  def bucketId: Column = pmod(hash(keyExprs: _*), lit(nBuckets))

  /** The state table with its partition column, restricted to the
    * COMMITTED live buckets. An explicit schema makes an empty directory
    * read as an empty relation instead of failing schema inference. */
  private def stateDf: DataFrame = spark.read.schema(readSchema).parquet(path)
    .where(col("__bucket").isin(liveBuckets.toSeq.map(Integer.valueOf): _*))

  /** Bucket ids a delta's keys hash into (one small job). */
  def touchedBuckets(delta: ZSetFrame): Seq[Int] =
    delta.df.select(pmod(hash(keys.map(delta.df(_)): _*), lit(nBuckets)).as("b"))
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  /** Partition-pruned read of the given buckets (file-skipping scan). */
  def view(bucketIds: Seq[Int]): ZSetFrame = ZSetFrame.fromDelta(
    stateDf.where(col("__bucket").isin(bucketIds.map(Integer.valueOf): _*))
      .drop("__bucket"))

  /** The full state as a Z-set (scans every bucket). */
  def snapshot: ZSetFrame = ZSetFrame.fromDelta(stateDf.drop("__bucket"))

  def probe(other: ZSetFrame): ZSetFrame = view(touchedBuckets(other))

  /** Merge a delta, reading and REWRITING only the buckets its keys hash
    * into: the new content of the touched buckets replaces exactly those
    * partitions (dynamic partition overwrite); all other buckets' files are
    * untouched. Returns (old, new) content of the touched buckets; `old` is
    * materialized (its files are about to be replaced), `new` reads the
    * freshly written files. */
  def merge(delta: ZSetFrame, knownTouched: Option[Seq[Int]] = None)
      : (ZSetFrame, ZSetFrame) = {
    val aligned = ZSetFrame.fromDelta(delta.df.select(colsInOrder.map(col): _*))
    val touched = knownTouched.getOrElse(touchedBuckets(aligned))
    val oldTouched = view(touched).localCheckpoint(eager = true)
    val merged = (oldTouched + aligned).consolidate
    // materialize before writing: Spark (correctly) refuses a write whose
    // plan still reads the files being overwritten
    val out = merged.df.withColumn("__bucket", bucketId).localCheckpoint(true)
    // bucket audit over the PINNED output (one ≤nBuckets-row action) —
    // two failure modes that are unacceptable here because the write is
    // irreversible:
    //  (a) a bucket present in `out` but NOT in `touched` means the
    //      caller's knownTouched missed a delta bucket: the dynamic
    //      overwrite would REPLACE that whole partition with just the
    //      delta's rows, silently destroying every other key stored there
    //      (the in-memory KeyedState refuses such a span too, before it
    //      installs anything) — fail loudly;
    //  (b) a touched bucket ABSENT from `out` was fully retracted:
    //      dynamic partition overwrite only replaces partitions present
    //      in the written data, so the stale files would survive and the
    //      retracted rows would RESURRECT on the next read — delete those
    //      partition directories explicitly after the write.
    val present = out.select("__bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    val rogue = present -- touched.toSet
    require(rogue.isEmpty,
      s"graft: DurableKeyedState.merge knownTouched=${touched.sorted} does " +
        s"not cover delta bucket(s) ${rogue.toSeq.sorted} - a dynamic " +
        "overwrite would destroy those partitions' unread content")
    out.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__bucket").parquet(path)
    // bucket-set COMMIT: the meta's live set excludes the emptied buckets
    // the moment it lands — a crash before the deletes below leaves stale
    // dirs that every reader ignores (resurrection impossible; ADVICE r15)
    val emptied = touched.toSet -- present
    liveBuckets = liveBuckets -- emptied ++ present
    DurableKeyedState.writeMeta(path, keys, nBuckets, schema, liveBuckets)
    if (emptied.nonEmpty) {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptied.foreach { b =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$path/__bucket=$b"), true)
      }
    }
    Pinned.unpersistTree(out.rdd)
    (oldTouched, view(touched))
  }

  /** One incremental general-aggregate step over the durable trace; the
    * emitted −old/+new delta is eagerly materialized. The in-memory pin of
    * the old view is released once the delta exists. */
  def aggStep(delta: ZSetFrame)(agg: ZSetFrame => ZSetFrame): ZSetFrame = {
    val (oldTouched, newTouched) = merge(delta)
    val d = (agg(newTouched) - agg(oldTouched)).localCheckpoint(eager = true)
    Pinned.unpersistTree(oldTouched.df.rdd)
    d
  }
}

object DurableKeyedState {
  private val MetaFile = "_graft_state.txt"

  /** Atomically replace a small sidecar file: write-to-temp + ATOMIC_MOVE
    * (code-review r16: a plain truncate-and-rewrite destroys the LAST
    * committed content the instant the write starts — a crash mid-write
    * would leave the supposedly durable state unrecoverable or, worse,
    * a cleanly-parsing prefix). */
  private[incremental] def atomicWrite(path: String, name: String,
      body: String): Unit = {
    val dir = Paths.get(path)
    val tmp = Files.createTempFile(dir, s".$name", ".tmp")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, dir.resolve(name),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  private[incremental] def writeMeta(path: String, keys: Seq[String],
      nBuckets: Int, schema: StructType, live: Set[Int]): Unit =
    atomicWrite(path, MetaFile,
      s"keys=${keys.mkString(",")}\nnBuckets=$nBuckets\n" +
        s"buckets=${live.toSeq.sorted.mkString(",")}\nschema=${schema.json}\n")

  /** Initialize (or reset) a durable state at `path` from `init` and attach. */
  def create(path: String, keys: Seq[String], nBuckets: Int,
             init: ZSetFrame): DurableKeyedState = {
    val spark = init.spark
    val colsInOrder = init.dataCols.toSeq :+ ZSetFrame.W
    val df = init.consolidate.df.select(colsInOrder.map(col): _*)
    val schema = df.schema
    val bucketed = df.withColumn("__bucket",
      pmod(hash(keys.map(col): _*), lit(nBuckets))).localCheckpoint(true)
    val live = bucketed.select("__bucket").distinct()
      .collect().map(_.getInt(0)).toSet
    val st = new DurableKeyedState(spark, keys, nBuckets, path, schema, live)
    // full (static) overwrite: a create resets the whole table...
    bucketed.write.mode("overwrite").partitionBy("__bucket").parquet(path)
    // ...so the sidecar (incl. the live-bucket commit) is written after it
    writeMeta(path, keys, nBuckets, schema, live)
    Pinned.unpersistTree(bucketed.rdd)
    st
  }

  /** Re-attach to a durable state written by `create` — the recovery path:
    * a fresh SparkSession (new driver) resumes exactly where the previous
    * one stopped. Partition dirs outside the meta's committed live-bucket
    * set are ignored (crash debris; see `liveBuckets`). */
  def restore(spark: SparkSession, path: String): DurableKeyedState = {
    val lines = Files.readAllLines(Paths.get(path, MetaFile))
    val kv = lines.toArray(Array.empty[String]).filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    val schema = DataType.fromJson(kv("schema")).asInstanceOf[StructType]
    val live = kv.get("buckets") match {
      case Some(b) => b.split(',').filter(_.nonEmpty).map(_.toInt).toSet
      // pre-r16 table without a committed set: every dir is live
      case None => (0 until kv("nBuckets").toInt).toSet
    }
    new DurableKeyedState(spark, kv("keys").split(',').toSeq.filter(_.nonEmpty),
      kv("nBuckets").toInt, path, schema, live)
  }

}
