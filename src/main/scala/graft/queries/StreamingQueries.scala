package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.OptionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.core.Tables
import graft.streaming.{KvDelta, StreamOps, UpsertCmd}

/** Structured Streaming runs surfaced through the batch oracle gate: each
  * query drives a REAL streaming query (file source → stateful ops → memory
  * sink) and its final output must equal the batch SQL oracle — the
  * streaming twin of the step-loop checks in Advanced. */
object StreamingQueries extends QueryModule {
  import Num._

  /** Nanos for 2024-06-01T00:00:00Z — far past the testdata's last event;
    * the flush sentinel's event time. */
  private val FlushNanos = 1717200000L * 1000000000L

  /** Delete `p` and everything under it, children first (the walk stream
    * is closed). A missing `p` is a no-op; any other failure throws. */
  private[queries] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(Files.deleteIfExists(_))
    finally walk.close()
  }

  /** Sweep a staged dir's garbage siblings (same tag/dir prefix+suffix):
    * superseded generations — staged dirs are keyed on the source file's
    * mtime, so a testdata regeneration strands every prior generation with
    * real parquet copies inside — and `_build_`/`_pq` crash debris of any
    * stamp. Debris is swept only past a 60 s age guard: an in-flight build
    * of a concurrent suite is seconds old, so only dirs a previous (crashed)
    * run could have left are old enough. */
  private def gcStaleStaged(staged: Path, pre: String, suf: String): Unit = {
    val cur = staged.getFileName.toString
    val cutoff = System.currentTimeMillis() - 60000L
    val sibs = Files.list(staged.getParent)
    try sibs.filter { p =>
      val n = p.getFileName.toString
      n != cur && n.startsWith(pre) && (
        (n.endsWith(suf) && !n.startsWith(cur)) || // a superseded generation
        ((n.contains("_build_") || n.endsWith("_pq")) && // crash debris
          (try Files.getLastModifiedTime(p).toMillis < cutoff
           catch { case _: java.io.IOException => false })))
    }.forEach(p => deleteTree(p))
    finally sibs.close()
  }

  /** THE publish protocol of the staged stream-source dirs (stageDir and
    * stageSlicedDir): the dir is `/tmp/graft_stream_<tag>_<stamp>_<dir>`,
    * where the stamp is the source file's mtime — a regenerated testdata
    * (new schema/values) must not be served an old generation. Readiness
    * is keyed on `marker`, the LAST artifact staged, not on the dir: a
    * crash mid-staging leaves no marker, so the half-staged dir self-heals
    * on the next call instead of being served incomplete. On that path the
    * stale generations and crash debris are swept, `fill` builds the
    * content in a private `_build_` dir, and a single atomic rename
    * publishes it. */
  private def publishStaged(dir: String, source: String, tag: String,
                            marker: String)(fill: Path => Unit): String = {
    val stamp = Files.getLastModifiedTime(Paths.get(source)).toMillis.toHexString
    val suffix = "_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val staged = Paths.get(s"/tmp/graft_stream_${tag}_$stamp$suffix")
    if (!Files.exists(staged.resolve(marker))) {
      gcStaleStaged(staged, s"graft_stream_${tag}_", suffix)
      val build = staged.resolveSibling(
        s"${staged.getFileName}_build_${java.util.UUID.randomUUID().toString.take(8)}")
      Files.createDirectories(build)
      fill(build)
      // NOTE: only the final move is atomic; the deleteTree→move pair is
      // not. Concurrent callers could delete a competitor's just-published
      // dir before re-publishing, and a reader listing mid-gap sees a
      // transient missing dir. The bench/verify drivers call this
      // SEQUENTIALLY (one query at a time), which is the assumption here;
      // a concurrent deployment would take a lock file around the publish.
      deleteTree(staged) // clear any half-staged leftover before publishing
      try Files.move(build, staged, StandardCopyOption.ATOMIC_MOVE)
      catch {
        case _: java.nio.file.FileSystemException =>
          // a concurrent caller published first; accept theirs if complete
          deleteTree(build)
          if (!Files.exists(staged.resolve(marker)))
            sys.error(s"staging race left $staged incomplete")
      }
    }
    staged.toString
  }

  /** Stage a directory for the file stream source (it requires a directory):
    * symlink the events parquet, then optionally write a single 'flush'
    * sentinel row with a far-future timestamp AFTER the symlink (the source
    * orders files by modification time, so the sentinel forms a later
    * micro-batch that pushes the watermark past every real window — append
    * mode then emits and GCs all real windows; queries filter the sentinel
    * out). Each query tags its own dir so sentinels never leak across
    * queries; the sentinel, when requested, is the readiness marker. */
  private[graft] def stageDir(s: SparkSession, dir: String, tag: String,
                                sentinel: Boolean): String =
    publishStaged(dir, s"$dir/events.parquet", tag,
        if (sentinel) "zz_flush.parquet" else "events.parquet") { build =>
      Files.createSymbolicLink(build.resolve("events.parquet"),
        Paths.get(s"$dir/events.parquet"))
      if (sentinel) {
        val raw = s.read.parquet(s"$dir/events.parquet")
        // the sentinel's ts literal must match however the driver generated
        // the column this round: int64 nanos (legacy), TIMESTAMP_NTZ (µs,
        // unadjusted — Spark 4 infers NTZ), or TIMESTAMP
        val tsLit = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType => lit(FlushNanos)
          case org.apache.spark.sql.types.TimestampNTZType =>
            lit(java.time.LocalDateTime.ofEpochSecond(
              FlushNanos / 1000000000L, (FlushNanos % 1000000000L).toInt,
              java.time.ZoneOffset.UTC))
          case _ => timestamp_micros(lit(FlushNanos / 1000L))
        }
        val one = raw.where(lit(false))
          .unionByName(s.range(1).select(
            lit(-1L).as("event_id"), tsLit.as("ts"),
            lit(-1L).as("user_id"), lit("flush").as("event_type"),
            lit(0.0).as("value"), lit("").as("props")))
        val tmp = build.resolveSibling(build.getFileName.toString + "_pq")
        one.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val listing = Files.list(tmp)
        val part = try listing.filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        finally listing.close()
        Files.move(part, build.resolve("zz_flush.parquet"),
          StandardCopyOption.REPLACE_EXISTING)
        deleteTree(tmp)
      }
    }

  /** Stage a table as K parquet files (batch i = rows with key % K == i)
    * for the file stream source — the arrival batches of the
    * continuous-ingest queries (q65 documents, q66 embeddings). Same
    * publish contract as stageDir. */
  private[graft] def stageSplitDir(s: SparkSession, dir: String,
                                   table: String, key: String, k: Int): String =
    stageSlicedDir(s, dir, table, s"$table$k", k,
      df => pmod(col(key), lit(k)).cast("int"))

  /** General form: `sliceOf` maps a row to its batch index in [0, k) —
    * key-mod splits (q65/q66 arrival batches) or TIME slices (q87's
    * in-order CDC replay, where ascending file mtimes make the file source
    * deliver batches in event-time order). `xform` reshapes the table
    * BEFORE slicing (default identity) — the screened family's CDC replay
    * uses it to append a retraction slice (rows again with weight −1),
    * which a pure row→slice map cannot express. The last slice's file is
    * the readiness marker. */
  private[graft] def stageSlicedDir(s: SparkSession, dir: String,
                                    table: String, tag: String, k: Int,
                                    sliceOf: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Column,
                                    xform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame = identity): String =
    publishStaged(dir, s"$dir/$table.parquet", tag, s"b${k - 1}.parquet") { build =>
      val docs = xform(s.read.parquet(s"$dir/$table.parquet"))
      // ONE partitioned write for all K slices (r18, guide §6.2 / VERDICT
      // r17 #1a — the former loop ran K sequential filter+coalesce(1) jobs,
      // each rescanning the source): repartition(k, __slice) lands every
      // slice's rows in exactly one task, so each `__slice=i` dir gets
      // exactly ONE part file — the same one-file-per-slice layout, built
      // by a single job. Rows per slice are identical (the write's
      // partition split IS sliceOf(docs)===i; a null slice value lands in
      // the HIVE default dir, which is dropped below exactly as
      // `null === i` dropped it before).
      val tmp = build.resolve("tmpslices")
      docs.withColumn("__slice", sliceOf(docs).cast("int"))
        .repartition(k, col("__slice"))
        .write.partitionBy("__slice").mode("overwrite").parquet(tmp.toString)
      // An all-empty slice produces NO dir under partitionBy (the old loop
      // wrote a 0-row file); restore the contract with one lazily-built
      // empty template so batch COUNT and the b${k-1} marker never depend
      // on slice occupancy.
      var emptyTemplate: Option[Path] = None
      def emptyPart(): Path = emptyTemplate.getOrElse {
        val te = build.resolve("tmpempty")
        docs.where(lit(false)).coalesce(1).write.mode("overwrite")
          .parquet(te.toString)
        val l = Files.list(te)
        val found = try l.filter(_.toString.endsWith(".parquet")).findFirst()
        finally l.close()
        val p = found.toScala match {
          case Some(f) => f
          case None => throw new IllegalStateException(
            s"graft: the empty-slice template write to $te left no " +
              "*.parquet part file to copy for empty slices")
        }
        emptyTemplate = Some(p); p
      }
      // Rename each slice's part file to b$i.parquet with EXPLICIT strictly
      // ascending mtimes in slice order: the file source orders batches by
      // mtime, and the old code's ordering rode the sequential writes'
      // natural clock — one write stamps everything within the same tick,
      // so the order must be set, not inherited.
      val t0 = System.currentTimeMillis()
      for (i <- 0 until k) {
        val pdir = tmp.resolve(s"__slice=$i")
        val target = build.resolve(s"b$i.parquet")
        val part: Option[Path] = if (Files.isDirectory(pdir)) {
          val l = Files.list(pdir)
          try l.filter(_.toString.endsWith(".parquet")).findFirst().toScala
          finally l.close()
        } else None
        part match {
          case Some(p) => Files.move(p, target,
            StandardCopyOption.REPLACE_EXISTING)
          case None => Files.copy(emptyPart(), target,
            StandardCopyOption.REPLACE_EXISTING)
        }
        Files.setLastModifiedTime(target,
          java.nio.file.attribute.FileTime.fromMillis(t0 + i * 1000L))
      }
      deleteTree(tmp)
      emptyTemplate.foreach(_ => deleteTree(build.resolve("tmpempty")))
    }

  /** THE exception-safe drive for the stateful foreachBatch queries
    * (q65/q66, q87 and the screened family's CDC replay) — one owner for
    * the lifecycle whose fixes kept landing per-copy while it was
    * hand-written at each site (VERDICT r14 #1): create a /tmp checkpoint
    * dir, run `src` through a checkpointed foreachBatch feeding each
    * NON-EMPTY micro-batch to `onBatch`, force `result` before teardown,
    * and delete the ck tree on every exit path.
    * Invariants owned here, once (code-review r13 + ADVICE r13):
    *   - the ck dir's deletion is a finally tied to its CREATION — it
    *     runs whether start() throws, a micro-batch fails, or q.stop()
    *     itself throws;
    *   - processAllAvailable is try/finally-paired with stop();
    *   - `result` is evaluated INSIDE the drive (callers localCheckpoint
    *     it there), so nothing downstream depends on the deleted ck dir.
    * The caller keeps the state's close() as ITS outermost finally — the
    * state types differ per query and their pinned traces must release on
    * every path, including a staging failure before this helper is ever
    * entered. */
  private[queries] def driveForeachBatch(src: DataFrame, ckTag: String)
                                        (onBatch: DataFrame => Unit)
                                        (result: => DataFrame): DataFrame = {
    val ck = Files.createTempDirectory(ckTag)
    try {
      val q = src.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          if (!batch.isEmpty) onBatch(batch)
        }
        .option("checkpointLocation", ck.toString)
        .start()
      try q.processAllAvailable()
      finally q.stop()
      result
    } finally deleteTree(ck)
  }

  /** Streaming read of the (staged) events table; converts the raw
    * nanos-long event time back to TimestampType. */
  private def eventStream(s: SparkSession, dir: String, tag: String,
                          sentinel: Boolean = false): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val staged = stageDir(s, dir, tag, sentinel)
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    var df = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    if (df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      df = df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    // TIMESTAMP_NTZ (µs, unadjusted) cannot carry a watermark; the session
    // timezone is pinned to UTC, so the cast is instant-preserving
    if (df.schema("ts").dataType == org.apache.spark.sql.types.TimestampNTZType)
      df = df.withColumn("ts", col("ts").cast("timestamp"))
    df
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // APPEND-mode streaming tumble aggregation == batch group-by: windows
    // are emitted exactly once when the watermark passes them (and their
    // state is GC'd) — no Complete-mode driver re-emission; the flush
    // sentinel closes the tail windows on this bounded replay
    // (reference: time_series/window.rs:75 + watermark.rs:33)
    "q33_stream_tumble" -> ((s, dir) => {
      val agg = eventStream(s, dir, "tumble", sentinel = true)
        .withWatermark("ts", "1 second")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(epochMs(col("window.start")).as("wstart"), col("event_type"),
          col("n"), col("sum_value"))
      StreamOps.runToMemory(s, agg, s"stream_tumble_${System.nanoTime()}",
        OutputMode.Append)
        .where(col("event_type") =!= "flush")
    }),

    // streaming DISTINCT (reference: operator/distinct.rs stream_distinct):
    // first occurrence per key emits immediately in append mode, state is
    // the distinct-key set — the same asymptotic state as the reference's
    // distinct trace. At scale the watermarked variant
    // (dropDuplicatesWithinWatermark) bounds state to the lateness horizon;
    // the unbounded form is the faithful analog of the reference operator,
    // whose trace also retains every distinct key.
    "q61_stream_distinct" -> ((s, dir) => {
      val ded = eventStream(s, dir, "sdistinct")
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type")
      StreamOps.runToMemory(s, ded,
        s"stream_distinct_${System.nanoTime()}", OutputMode.Append)
    }),

    // streaming DISTINCT with BOUNDED state (q72) — the watermark-TTL'd
    // variant of q61: dropDuplicatesWithinWatermark keys state on
    // (user_id, minute) and GC's an entry once the watermark passes its
    // event time — at unbounded stream history the dedup state is the
    // lateness horizon, not the full key universe (the
    // trace_with_bound/q58 economics applied to stream_distinct;
    // reference: operator/distinct.rs + trace bound). Duplicate
    // occurrences of a key are < 60 s apart by construction (same minute
    // bucket), far inside the 1 h delay, so the bounded dedup provably
    // equals the unbounded DISTINCT the oracle runs.
    "q72_stream_distinct_ttl" -> ((s, dir) => {
      val ded = eventStream(s, dir, "sdttl")
        .withColumn("minute", date_trunc("minute", col("ts")))
        .withWatermark("minute", "1 hour")
        .select(col("user_id"), col("minute"))
        .dropDuplicatesWithinWatermark("user_id", "minute")
      StreamOps.runToMemory(s, ded,
        s"stream_distinct_ttl_${System.nanoTime()}", OutputMode.Append)
        .select(col("user_id"), epochMs(col("minute")).as("minute_ms"))
    }),

    // streaming upsert (flatMapGroupsWithState −old/+new deltas) consolidated
    // to the final snapshot == batch last-write-wins oracle
    "q34_stream_upsert" -> ((s, dir) => {
      import s.implicits._
      val cmds = eventStream(s, dir, "upsert").select(
        col("user_id").as("key"), col("value"),
        (epochMs(col("ts")) * 100000L + pmod(col("event_id"), lit(100000L))).as("seq"),
        (col("event_type") === "error").as("delete")).as[UpsertCmd]
      val deltas = StreamOps.upsertDeltas(cmds)
      val out = StreamOps.runToMemory(s, deltas.toDF(),
        s"stream_upsert_${System.nanoTime()}", OutputMode.Append)
      // consolidate the delta stream into the live snapshot
      out.groupBy("key", "value").agg(sum("weight").as("w"))
        .where(col("w") > 0).select(col("key").as("user_id"), col("value"))
    }),

    // streaming upsert on the PRODUCTION state path (q75): the same
    // command stream as q34 driven through transformWithState (arbitrary
    // state v2) on the RocksDB state-store provider — the reference's
    // upsert over a persistent trace (operator/upsert.rs:37,
    // trace/persistent/) as first-class state-store features. TimeMode is
    // None here: the TTL'd variant runs ProcessingTime time-mode, whose
    // timer-driven empty micro-batches never let a drain-to-quiesce
    // harness settle (processAllAvailable waits forever) — TTL eviction
    // is certified by StreamingSpec's dedicated boundedness tests, and
    // tws ≡ fMGWS delta-for-delta by the tws spec. Consolidated snapshot
    // == q34's last-write-wins oracle.
    "q75_stream_upsert_tws" -> ((s, dir) => {
      import s.implicits._
      val prev = s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      try {
        val cmds = eventStream(s, dir, "upsert_tws").select(
          col("user_id").as("key"), col("value"),
          (epochMs(col("ts")) * 100000L + pmod(col("event_id"), lit(100000L))).as("seq"),
          (col("event_type") === "error").as("delete")).as[UpsertCmd]
        val deltas = StreamOps.upsertDeltasTws(cmds)
        val out = StreamOps.runToMemory(s, deltas.toDF(),
          s"stream_upsert_tws_${System.nanoTime()}", OutputMode.Append)
        out.groupBy("key", "value").agg(sum("weight").as("w"))
          .where(col("w") > 0).select(col("key").as("user_id"), col("value"))
      } finally prev match {
        case Some(v) =>
          s.conf.set("spark.sql.streaming.stateStore.providerClass", v)
        case None =>
          s.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }),

    // STREAM_FOLD under the oracle gate (q77; reference
    // operator/stream_fold.rs:21 — running fold with arbitrary
    // accumulator, emitted per step): per-user running sum via
    // flatMapGroupsWithState, driven by the file stream; the per-batch
    // emissions are consolidated by MAX (the folded quantity is ≥1 per
    // event, so the accumulator is strictly monotone and the max IS the
    // final fold), which must equal the batch SUM. Values are quantized
    // to integers (abs(floor(v·100))+1) so the running double sum is
    // exact and order-free — cross-engine comparable.
    "q77_stream_fold" -> ((s, dir) => {
      import s.implicits._
      val evs = eventStream(s, dir, "sfold")
        .select(col("user_id"),
          (abs(floor(col("value") * 100)) + 1.0).as("v"))
        .as[(Long, Double)]
      val folded = StreamOps.runningSum(evs)
      val out = StreamOps.runToMemory(s, folded.toDF("user_id", "acc"),
        s"stream_fold_${System.nanoTime()}", OutputMode.Append)
      out.groupBy("user_id").agg(max(col("acc")).cast("long").as("total"))
    }),

    // stream-stream LEFT OUTER join: matched rows emit immediately; an
    // unmatched click emits (with null buy columns) only once the watermark
    // proves no purchase can still arrive — which is why BOTH streams carry
    // the flush sentinel on bounded replay (reference: streaming outer_join
    // semantics over monotonic streams, operator/join.rs:87 + trace bound)
    "q57_stream_outer_join" -> ((s, dir) => {
      val clicks = eventStream(s, dir, "ssoj_l", sentinel = true)
        .where(col("event_type") === "click" || col("event_type") === "flush")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_id"), col("event_type").as("c_type"))
        .withWatermark("c_ts", "1 second")
      val buys = eventStream(s, dir, "ssoj_r", sentinel = true)
        .where(col("event_type") === "purchase" || col("event_type") === "flush")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("buy_id"))
        .withWatermark("p_ts", "1 second")
      val joined = clicks.join(buys,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
        "left_outer")
      StreamOps.runToMemory(s, joined, s"stream_ojoin_${System.nanoTime()}",
        OutputMode.Append)
        .where(col("c_type") =!= "flush")
        .select(col("user_id"), col("click_id"), col("buy_id"),
          epochMs(col("c_ts")).as("c_ms"), epochMs(col("p_ts")).as("p_ms"))
    }),

    // CHAINED stateful→stateful in ONE streaming query (SURVEY §7.3's
    // "hardest mismatch"; reference analog: q9's join+argmax runs as a
    // single incremental circuit, crates/nexmark/src/queries/q9.rs:129):
    // stream-stream interval join (stateful stage 1) feeding a watermarked
    // tumbling aggregation (stateful stage 2), both inside one append-mode
    // query — Spark's multi-stateful-operator support (the join's output
    // carries the left side's event-time column; late-record filtering
    // uses the previous batch's watermark, so join matches emitted in
    // batch N are not dropped by the downstream agg). The flush sentinel
    // on BOTH sources pushes the global watermark past every real window.
    // CAUTION — the sentinel must NOT be filtered anywhere inside the
    // streaming plan: a predicate like `c_type != 'flush'`, even placed
    // between the join and the agg, references only left-side columns, so
    // Catalyst pushes it through the join AND through the left
    // EventTimeWatermark node into the parquet scan — the left watermark
    // then never advances past the real data and the LAST window never
    // closes (observed as exactly one missing tail window at sf0.1). The
    // flush×flush self-match instead flows into its own far-future window,
    // which append mode never emits (the watermark never passes it); the
    // post-materialization wstart guard is belt-and-braces on a BATCH
    // plan, where pushdown cannot reach back into the finished stream.
    "q63_stream_join_agg" -> ((s, dir) => {
      val clicks = eventStream(s, dir, "sjagg_l", sentinel = true)
        .where(col("event_type") === "click" || col("event_type") === "flush")
        .select(col("user_id"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 second")
      val buys = eventStream(s, dir, "sjagg_r", sentinel = true)
        .where(col("event_type") === "purchase" || col("event_type") === "flush")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("value").as("p_value"))
        .withWatermark("p_ts", "1 second")
      val joined = clicks.join(buys,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      val agg = joined
        .groupBy(window(col("c_ts"), "1 hour"))
        .agg(count(lit(1)).as("n_pairs"), dsum(col("p_value")).as("sum_value"))
        .select(epochMs(col("window.start")).as("wstart"),
          col("n_pairs"), col("sum_value"))
      StreamOps.runToMemory(s, agg, s"stream_join_agg_${System.nanoTime()}",
        OutputMode.Append)
        .where(col("wstart") < lit(FlushNanos / 1000000L))
    }),

    // CHAINED stateful→stateful across TWO checkpointed streaming queries —
    // the foreachBatch-checkpoint chaining SURVEY §7.3 prescribes for
    // pipelines Spark cannot fuse into one query (e.g. update-mode stages):
    // stage 1 (watermarked hourly agg) writes its append stream to an
    // interchange dir via foreachBatch + checkpoint (exactly-once up to
    // batch replay; a replayed batch re-appends, which the FRESH
    // interchange dir per invocation makes moot); stage 2 re-derives event
    // time from the interchange rows and runs a SECOND watermarked agg
    // (6-hour re-window: max/sum of the hourly counts). Stage 1's own
    // flush window never closes (by design), so the chain plants its own
    // far-future sentinel row into the interchange before stage 2 replays
    // it — the same bounded-replay flush the single-stage queries use.
    "q64_chained_stateful" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      import scala.jdk.CollectionConverters._
      val base = Paths.get(s"/tmp/graft_chain_${java.util.UUID.randomUUID().toString.take(8)}")
      val stage1Out = base.resolve("stage1").toString
      val ck1 = base.resolve("ck1").toString
      val hourly = eventStream(s, dir, "tumble", sentinel = true)
        .withWatermark("ts", "1 second")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(epochMs(col("window.start")).as("wstart"),
          col("event_type"), col("n"))
      // WINDOW-START-KEYED multi-file interchange (VERDICT r7 #6 — the
      // one-file-per-batch coalesce(1) was a scale constraint): each batch
      // RANGE-partitions its closed windows by wstart, so every part file
      // covers a disjoint, contiguous window range AND the part-file index
      // (hence name) is the range order — partition 0 holds the smallest
      // wstart range. The files' mtimes are then set strictly monotone in
      // (batch id, part index), a pure metadata pass: the time-monotonicity
      // stage 2's watermark needs holds file-by-file — across batches
      // because append-mode closes strictly later windows, within a batch
      // by the range keying — with NO bound on files per batch.
      val t0Interchange = System.currentTimeMillis()
      // ONE cumulative seen-set across the drive (r18, VERDICT r17 #1b —
      // the per-batch before/after pair of Files.list passes halves to one
      // list per batch): the interchange dir is fresh per invocation and
      // only this drive writes it, so "files seen at the end of batch k"
      // IS "files before batch k+1". The stamping itself stays per-batch —
      // stage 2's watermark needs mtimes monotone in (batch, part index),
      // and only the writing batch knows its own files' range order.
      val seen = scala.collection.mutable.Set[String]()
      def freshParquet(): Seq[java.nio.file.Path] = {
        val l = Files.list(Paths.get(stage1Out))
        val fresh = try l.iterator().asScala
          .filter(p => p.getFileName.toString.endsWith(".parquet") &&
            !seen.contains(p.getFileName.toString)).toSeq
        finally l.close()
        seen ++= fresh.map(_.getFileName.toString)
        fresh
      }
      val q1 = hourly.writeStream
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          batch.repartitionByRange(2, col("wstart"))
            .write.mode("append").parquet(stage1Out)
          // part-NNNNN names sort in partition order = wstart-range order
          freshParquet().sortBy(_.getFileName.toString).zipWithIndex.foreach {
            case (p, i) =>
              Files.setLastModifiedTime(p,
                java.nio.file.attribute.FileTime.fromMillis(
                  t0Interchange + bid * 10000L + i * 10L))
          }
        }
        .option("checkpointLocation", ck1)
        .outputMode(OutputMode.Append)
        .start()
      q1.processAllAvailable(); q1.stop()
      // interchange sentinel: flush stage 2's tail windows on replay. Its
      // files' mtimes are forced past every batch file's forced stamp (the
      // natural clock could lag the bid-derived stamps above).
      locally {
        s.range(1).select((lit(FlushNanos / 1000000L)).as("wstart"),
            lit("flush").as("event_type"), lit(0L).as("n"))
          .coalesce(1).write.mode("append").parquet(stage1Out)
        freshParquet().foreach(p => Files.setLastModifiedTime(p,
          java.nio.file.attribute.FileTime.fromMillis(
            t0Interchange + 1000000000L)))
      }
      val schema2 = s.read.parquet(stage1Out).schema
      val rewin = s.readStream.schema(schema2)
        .option("maxFilesPerTrigger", "1").parquet(stage1Out)
        .withColumn("hts", timestamp_millis(col("wstart")))
        .withWatermark("hts", "1 second")
        .groupBy(window(col("hts"), "6 hours"), col("event_type"))
        .agg(max("n").as("max_hourly_n"), sum("n").as("sum_n"))
        .select(epochMs(col("window.start")).as("w6start"), col("event_type"),
          col("max_hourly_n"), col("sum_n"))
      val out = StreamOps.runToMemory(s, rewin,
        s"chained_stateful_${System.nanoTime()}", OutputMode.Append)
        .where(col("event_type") =!= "flush")
      // interchange + checkpoint are consumed (memory sink holds the rows)
      deleteTree(base)
      out
    }),

    // CONTINUOUS-INGEST CORPUS DEDUP as a REAL streaming query — d14's
    // incremental MinHash-LSH trace driven by the streaming engine instead
    // of the deterministic step loop: file-source stream of document
    // batches → checkpointed foreachBatch maintaining the accumulated
    // (doc_id, band, bh) bucket trace and shingle store across triggers.
    // Each arriving trigger ships only its Δ into the state's partitioners
    // and probes the pinned trace slices in place (the corpus-side state is
    // never re-shuffled and never re-cached — see LshDedupState's spine
    // layout), verifies only the new candidates against the accumulated
    // store, and pins its Δ slice — per-trigger floor O(Δ), the 100 TB
    // continuous-pipeline economics (step_bench dedup track: flat across
    // 10× corpus). Union over triggers ≡ batch d03 ≡ exact d02 (shared
    // oracle); every pair is discovered exactly once (at its second
    // doc's arrival), so arrival order never changes the result.
    "q65_stream_dedup" -> ((s, dir) => {
      import graft.queries.{Dedup => D}
      val staged = stageSplitDir(s, dir, "documents", "doc_id", 4)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      // the SAME stepper d14 drives from its deterministic loop, here
      // advanced once per streaming trigger; shared exception-safe drive
      // (r15 — this query predates driveForeachBatch and its hand-rolled
      // lifecycle lacked the stop/ck-delete guarantees on failure).
      // State lives in the stepper's checkpointed frames; the result is
      // consumed from them after the drive.
      val st = new D.LshDedupState
      driveForeachBatch(src, "graft_sdedup_ck") { batch =>
        st.advance(D.shingleStore(batch))
      } { st.result }
    }),

    // CONTINUOUS-INGEST ANN MAINTENANCE as a REAL streaming query — q65's
    // twin for the embedding axis: file-source stream of vector batches →
    // checkpointed foreachBatch driving d15's AnnState stepper (bilinear
    // delta join against the never-re-shuffled trace + associative argmax
    // merge). Final frame ≡ batch d06 bit-for-bit; shares d06's literal
    // DuckDB mirror.
    "q66_stream_ann" -> ((s, dir) => {
      import graft.queries.{Dedup => D}
      val v = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), col("embedding"))
      // bucket geometry sized to the full corpus, as d15/d06 (a production
      // index re-sizes periodically; equality to batch needs the geometry)
      val np = D.planesFor(D.cachedCount(v, s"$dir/embeddings"))
      val staged = stageSplitDir(s, dir, "embeddings", "vec_id", 4)
      val src = s.readStream.schema(v.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
        .select(col("vec_id"), col("embedding"))
      // shared exception-safe drive (r15 — see q65)
      val st = new D.AnnState(np, col("vec_id") < 100)
      driveForeachBatch(src, "graft_sann_ck") { batch =>
        st.advance(D.annBase(batch, np))
      } { st.result }
    }),

    // UPDATE-MODE CHAINED PIPELINE with RETRACTIONS BETWEEN STAGES (VERDICT
    // r7 #8 — the §7.3 case q63/q64's append-mode chains don't cover):
    // stage 1 maintains a per-user running event count and emits genuine
    // −old/+new Z-set deltas each trigger (flatMapGroupsWithState, the
    // reference's upsert-delta contract, operator/upsert.rs:37); the
    // weighted delta stream crosses a checkpointed foreachBatch parquet
    // interchange into stage 2, a SECOND stateful streaming query that
    // consumes the weights to maintain a histogram (users per count-bucket)
    // and emits its own −old/+new deltas. Because the interchange carries
    // Z-SET WEIGHTS, stage 2 is order-independent (addition commutes) — no
    // file-ordering constraint AT ALL, unlike q64's watermark interchange;
    // the final consolidation telescopes to one +1 row per bucket, equal to
    // the batch histogram (DuckDB oracle).
    "q67_update_chain" -> ((s, dir) => {
      import java.nio.file.{Files, Paths}
      import s.implicits._
      val base = Paths.get(
        s"/tmp/graft_uchain_${java.util.UUID.randomUUID().toString.take(8)}")
      val inter = base.resolve("deltas").toString
      val staged = stageSplitDir(s, dir, "events", "event_id", 4)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .select(col("user_id")).as[Long]
      // stage 1: running count per user, −old/+new per trigger
      val deltas1 = src.groupByKey(identity)
        .flatMapGroupsWithState[Long, (Long, Long, Long)](
          OutputMode.Append,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          (u: Long, batch: Iterator[Long],
           state: org.apache.spark.sql.streaming.GroupState[Long]) =>
            val old = state.getOption
            val n = old.getOrElse(0L) + batch.size
            state.update(n)
            old.map(o => (u, o, -1L)).iterator ++ Iterator((u, n, 1L))
        }.toDF("user_id", "n", "w")
      val q1 = deltas1.writeStream
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // coalesce(2) is FILE-COUNT control, not an ordering constraint
          // (contrast q64): the weighted interchange is order-independent,
          // this just keeps stage 2's per-file trigger count proportional
          // to stage-1 batches rather than to shuffle partitions
          if (!batch.isEmpty)
            batch.coalesce(2).write.mode("append").parquet(inter)
        }
        .option("checkpointLocation", base.resolve("ck1").toString)
        .outputMode(OutputMode.Append)
        .start()
      q1.processAllAvailable(); q1.stop()
      // stage 2: per-bucket user count from the weighted deltas (bucket =
      // n div 8), itself emitting −old/+new; consumes weights, so any file
      // order and any trigger partitioning of the delta log is correct
      val s2src = s.readStream
        .schema(s.read.parquet(inter).schema)
        .option("maxFilesPerTrigger", "1").parquet(inter)
        .select(expr("n div 8").as("bucket"), col("w"))
        .as[(Long, Long)]
      val deltas2 = s2src.groupByKey(_._1)
        .flatMapGroupsWithState[Long, (Long, Long, Long)](
          OutputMode.Append,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout) {
          (b: Long, batch: Iterator[(Long, Long)],
           state: org.apache.spark.sql.streaming.GroupState[Long]) =>
            val old = state.getOption
            val cur = old.getOrElse(0L) + batch.map(_._2).sum
            state.update(cur)
            if (old.contains(cur)) Iterator.empty
            else old.map(o => (b, o, -1L)).iterator ++ Iterator((b, cur, 1L))
        }.toDF("bucket", "n_users", "w")
      val out = StreamOps.runToMemory(s, deltas2,
        s"update_chain_${System.nanoTime()}", OutputMode.Append)
      // Z-set consolidation: intermediate counts telescope away, leaving
      // the final histogram rows with net weight +1
      val res = out.groupBy("bucket", "n_users").agg(sum("w").as("net"))
        .where(col("net") > 0 && col("n_users") > 0)
        .select("bucket", "n_users")
        .localCheckpoint(true)
      deleteTree(base)
      res
    }),

    // STREAMING SESSION WINDOWS — q52's native session_window run under
    // the real streaming engine: gap-based sessions are the one window
    // kind whose EXTENT is data-dependent (a late event can merge two open
    // sessions), so the streaming engine must maintain mergeable session
    // state per user and only emit a session once the watermark passes its
    // (data-dependent) close. Flush sentinel (user_id −1, far future)
    // closes every tail session; final append-mode output == batch
    // session_window (q52's oracle verbatim).
    "q68_stream_session" -> ((s, dir) => {
      val agg = eventStream(s, dir, "ssession", sentinel = true)
        .withWatermark("ts", "1 second")
        .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(epochMs(col("session_window.start")).as("session_start_ms"),
          col("user_id"), col("n_events"), col("sum_value"))
      StreamOps.runToMemory(s, agg, s"stream_session_${System.nanoTime()}",
        OutputMode.Append)
        .where(col("user_id") =!= -1L)
    }),

    // REAL stream-stream join (reference: operator/join.rs:87
    // monotonic_stream_join): two watermarked streams, event-time range
    // condition bounding state on both sides; inner matches emit in append
    // mode as both sides arrive
    "q45_stream_join" -> ((s, dir) => {
      val clicks = eventStream(s, dir, "ssj_l")
        .where(col("event_type") === "click")
        .select(col("user_id"), col("ts").as("c_ts"),
          col("event_id").as("click_id"))
        .withWatermark("c_ts", "1 hour")
      val buys = eventStream(s, dir, "ssj_r")
        .where(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
          col("event_id").as("buy_id"))
        .withWatermark("p_ts", "1 hour")
      val joined = clicks.join(buys,
        col("user_id") === col("p_user") &&
          col("p_ts") >= col("c_ts") &&
          col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"))
      StreamOps.runToMemory(s, joined, s"stream_join_${System.nanoTime()}",
        OutputMode.Append)
        .select(col("user_id"), col("click_id"), col("buy_id"),
          epochMs(col("c_ts")).as("c_ms"), epochMs(col("p_ts")).as("p_ms"))
    }),

    // STREAMING RADIX ROLLING with WATERMARK GC (q87, VERDICT r10 #8 —
    // the streaming rendition of q85's (key, chunk) spine; reference:
    // time_series/rolling_aggregate.rs:155-220 watermark-driven variant +
    // watermark.rs:33): the events table replays as FOUR time-slice files
    // (ascending mtimes → the file source delivers them in event-time
    // order — a CDC replay), and a checkpointed foreachBatch drives the
    // SAME RollingLinearState stepper q85 certifies. Each trigger derives
    // its batch's CDC span with one tiny aggregate (a file source ships no
    // metadata), steps the state (Auto strategy: trigger 0 lands on an
    // empty state → sort path; later triggers assemble against integrated
    // state → radix), then advances the WATERMARK to the batch's max event
    // time and GCs every chunk wholly below watermark − horizon from both
    // the spine and the partials (chunk-aligned, so edge scans and
    // partials stay consistent) — state tracks the retention horizon, not
    // the stream length. Accumulated output ≡ the batch window oracle
    // (shared with q85): time-ordered arrival means a frame never reads
    // forward, so every event's rolling value is final at its own trigger
    // and the GC'd history is unreachable by construction.
    "q87_stream_rolling_radix" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      import graft.core.ZSetFrame
      import graft.incremental.{Incremental, RollingLinearState}
      val (jan1, horizon) = (1704067200000L, 3600000L)
      val sliceMs = 8L * 24 * 3600 * 1000 // 4 ascending 8-day slices
      def normTs(df: DataFrame): DataFrame = df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case org.apache.spark.sql.types.TimestampNTZType =>
          df.withColumn("ts", col("ts").cast("timestamp"))
        case _ => df
      }
      def prep(df: DataFrame): DataFrame = normTs(df).select(
        col("event_id"), col("user_id"), epochMs(col("ts")).as("ts_ms"),
        (col("value").cast(DecimalType(18, 4)) * 10000).cast("long").as("sv"))
      val staged = stageSlicedDir(s, dir, "events", "eslices4", 4,
        df => {
          val tsMs = df.schema("ts").dataType match {
            case org.apache.spark.sql.types.LongType => expr("ts div 1000000")
            case _ => unix_millis(col("ts").cast("timestamp"))
          }
          greatest(lit(0), least(lit(3),
            floor((tsMs - jan1) / sliceMs))).cast("int")
        })
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      val src = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
      val template = prep(s.read.parquet(s"$dir/events.parquet"))
      val st = new RollingLinearState(
        Incremental.emptyLike(ZSetFrame.fromTable(template)),
        "user_id", "ts_ms", "sv", horizon, horizon / 4, 32, sortRowsMax = 100L)
      val acc = new Incremental.State(ZSetFrame.fromDelta(
        template.where(lit(false)).select(col("*"), lit(1L).as("cnt"),
          lit(1L).as("vsum"), lit(1L).as(ZSetFrame.W))))
      // shared exception-safe drive (driveForeachBatch, VERDICT r14 #1);
      // state close stays the caller's outermost finally
      try {
        driveForeachBatch(src, "graft_sroll_ck") { batch =>
          val ev = prep(batch).localCheckpoint(true)
          val span = ev.agg(min("ts_ms"), max("ts_ms")).head()
          val (lo, hi) = (span.getLong(0), span.getLong(1))
          acc.update(st.step(ZSetFrame.fromTable(ev), lo, hi,
            touchedKeys = None, checkpointDelta = false))
          st.gcBefore(hi) // watermark = max event time (slices ascend)
          graft.incremental.Pinned.release(ev)
        } {
          acc.acc.consolidate.toDF
            .select(col("event_id"), col("user_id"),
              col("cnt").as("n_1h"), col("vsum").as("sv_1h"))
            .localCheckpoint(true)
        }
      } finally st.close()
    }),

    // STREAMING INCREMENTAL TF-IDF (q88, VERDICT r12 #8 — the streaming
    // rendition of t12; reference: operator/upsert.rs:21-60 command-stream
    // maintenance): the SAME TfIdfState t12 certifies, stepped once per
    // trigger of the shared CDC stream (CdcReplay.stream); the retraction
    // epoch exercises the df-index downward maintenance and the screening's
    // retract-side floor crossings. Unlike t12, which threads driver-side
    // bucket spans, q88 derives them at runtime through the
    // partition-pruned PROBE path: the two certify both span-acquisition
    // modes.
    "q88_stream_inc_tfidf" -> ((s, dir) =>
      CdcReplay.stream(s, dir, CdcReplay.tf, Seq("doc_id", "term", "tf", "score_q"),
          "graft_stfidf_ck") { p =>
        CdcReplay.Stepper(new graft.incremental.TfIdfState(CdcReplay.empty(p), 32))
      }),

    // STREAMING INCREMENTAL BM25 (q89) — t13's Bm25State on the shared CDC
    // stream. Certifies the state's runtime path: constant maintenance
    // (N, T, per-term df) from micro-batch aggregations, the affected-span
    // Observation under the streaming scheduler, and downward df/N/T
    // maintenance on the retraction epoch.
    "q89_stream_inc_bm25" -> ((s, dir) =>
      CdcReplay.stream(s, dir, CdcReplay.tfDl, Seq("doc_id", "score_q", "rnk"),
          "graft_sbm25_ck") { p =>
        CdcReplay.Stepper(new graft.incremental.Bm25State(CdcReplay.empty(p),
          Postings.QueryTerms, 32))
      }),

    // STREAMING MULTI-QUERY INCREMENTAL BM25 (q90, VERDICT r14 #3) —
    // MultiBm25State (t14) on the shared CDC stream, completing the batch /
    // step-loop / streaming × single / multi-query matrix (t11+t14 /
    // t13+t14 / q89+q90): each micro-batch screens the union-restricted
    // index ONCE for all four standing query sets.
    "q90_stream_multi_bm25" -> ((s, dir) =>
      CdcReplay.stream(s, dir, CdcReplay.tfDl,
          Seq("query_id", "doc_id", "score_q", "rnk"), "graft_smbm25_ck") { p =>
        CdcReplay.Stepper(new graft.incremental.MultiBm25State(
          CdcReplay.empty(p), Postings.MultiQuerySets, 32))
      }),

    // STREAMING INCREMENTAL PMI (q91) — t15's PmiState on the shared CDC
    // stream: each micro-batch advances the driver-held constants
    // (N, c_a, c_ab) and decides floor crossings on the driver; the
    // retraction epoch exercises the downward constant maintenance.
    "q91_stream_inc_pmi" -> ((s, dir) =>
      CdcReplay.stream(s, dir, CdcReplay.terms, Seq("doc_id", "n_pairs", "score_q"),
          "graft_spmi_ck") { p =>
        CdcReplay.Stepper(new graft.incremental.PmiState(CdcReplay.empty(p),
          Postings.PmiTerms, 32))
      }),

    // STREAMING INCREMENTAL COSINE ASSIGNMENT (q93, VERDICT r16 #1) —
    // t16's CosineState on the shared CDC stream, completing the streaming
    // row of the screened-family matrix (t12→q88, t13→q89, t14→q90,
    // t15→q91, t16→q93): quantized-idf floor crossings are decided on the
    // driver, so quiet micro-batches schedule zero cluster-side screening.
    "q93_stream_inc_cosine" -> ((s, dir) =>
      CdcReplay.stream(s, dir, CdcReplay.tf, Seq("doc_id", "cid", "cos_q"),
          "graft_scos_ck") { p =>
        CdcReplay.Stepper(new graft.incremental.CosineState(CdcReplay.empty(p),
          Postings.CosineCentroids, 32))
      })
  )

  override def oracle: Map[String, String] = Map(
    // t12's oracle VERBATIM — the same shared-generator call (VERDICT r13
    // #3): batch top-term over the surviving corpus (doc_id%10<>3) with
    // the N-free quantized score floor(tf*10000/df)
    "q88_stream_inc_tfidf" -> Postings.tfidfTop1OracleSql("doc_id % 10 <> 3"),
    // t13's oracle VERBATIM — the same shared-generator call: t11's batch
    // BM25-surrogate top-10 over the surviving corpus, identical IEEE
    // sequence via the shared Bm25.sq expression, sq quantized before the
    // per-doc sum
    "q89_stream_inc_bm25" -> Postings.bm25Top10OracleSql("doc_id % 10 <> 3"),
    // t14's oracle VERBATIM — the same shared-generator call: the
    // per-query batch top-10 over the surviving corpus with df/N/T shared
    // across the four standing query sets
    "q90_stream_multi_bm25" -> Postings.multiBm25OracleSql(
      "doc_id % 10 <> 3", Postings.MultiQuerySets),
    // t15's oracle VERBATIM (shared generator): batch per-doc PMI
    // association sum over the surviving corpus
    "q91_stream_inc_pmi" -> Postings.pmiOracleSql("doc_id % 10 <> 3"),
    // t16's oracle VERBATIM (shared generator): batch per-doc best-centroid
    // cosine over the surviving corpus — iq and the cosine IEEE sequence
    // are CosineState's token-for-token
    "q93_stream_inc_cosine" -> Postings.cosineTop1OracleSql("doc_id % 10 <> 3"),
    "q33_stream_tumble" ->
      s"""SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS wstart, event_type,
            count(*) AS n, ${oSum("value")} AS sum_value
          FROM events GROUP BY 1, 2""",
    "q61_stream_distinct" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q72_stream_distinct_ttl" ->
      """SELECT DISTINCT user_id,
           epoch_ms(ts) - epoch_ms(ts) % 60000 AS minute_ms FROM events""",
    "q34_stream_upsert" ->
      """SELECT user_id, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
           AND event_type <> 'error'""",
    // q75 = q34's semantics on the transformWithState/RocksDB path —
    // same last-write-wins mirror
    "q75_stream_upsert_tws" ->
      """SELECT user_id, value FROM events
         QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) = 1
           AND event_type <> 'error'""",
    // q77: the final running fold per key == the batch sum of the folded
    // quantity (integer-quantized so the double accumulation is exact)
    "q77_stream_fold" ->
      """SELECT user_id,
           CAST(SUM(ABS(FLOOR(value * 100)) + 1) AS BIGINT) AS total
         FROM events GROUP BY 1""",
    "q57_stream_outer_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS buy_id,
            epoch_ms(c.ts) AS c_ms, epoch_ms(p.ts) AS p_ms
         FROM events c LEFT JOIN events p
           ON c.user_id = p.user_id
          AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         WHERE c.event_type = 'click'""",
    "q45_stream_join" ->
      """SELECT c.user_id, c.event_id AS click_id, p.event_id AS buy_id,
            epoch_ms(c.ts) AS c_ms, epoch_ms(p.ts) AS p_ms
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'""",
    "q63_stream_join_agg" ->
      s"""SELECT epoch_ms(c.ts) - epoch_ms(c.ts) % 3600000 AS wstart,
            count(*) AS n_pairs, ${oSum("p.value")} AS sum_value
         FROM events c JOIN events p
           ON c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
         WHERE c.event_type = 'click' AND p.event_type = 'purchase'
         GROUP BY 1""",
    "q65_stream_dedup" -> TextAnalysis.oracle("d02_jaccard_pairs"),
    "q66_stream_ann" -> Dedup.oracle("d06_ann_lsh"),
    // q87 = q85's integer-exact rolling window maintained by the streaming
    // runner with watermark GC — same batch mirror
    "q87_stream_rolling_radix" -> Advanced.oracle("q85_inc_rolling_radix"),
    "q64_chained_stateful" ->
      """WITH hourly AS (
           SELECT epoch_ms(ts) - epoch_ms(ts) % 3600000 AS wstart, event_type,
                  count(*) AS n
           FROM events GROUP BY 1, 2)
         SELECT wstart - wstart % 21600000 AS w6start, event_type,
                max(n) AS max_hourly_n, CAST(sum(n) AS BIGINT) AS sum_n
         FROM hourly GROUP BY 1, 2""",
    "q67_update_chain" ->
      """WITH c AS (SELECT user_id, count(*) AS n FROM events GROUP BY 1)
         SELECT n // 8 AS bucket, count(*) AS n_users FROM c GROUP BY 1""",
    // the streaming session run must equal the batch session_window exactly
    "q68_stream_session" -> Analytics.oracle("q52_session_window")
  )
}
