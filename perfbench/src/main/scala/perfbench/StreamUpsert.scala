package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.streaming.{KvDelta, StreamOps, UpsertCmd}

/** stream_upsert — an open loop over Structured Streaming: a generator
  * thread appends `UpsertCmd` batches to a MemoryStream every tick at a
  * fixed rate, whether or not the query keeps up, and stamps each command
  * with the time it was due. `StreamOps.upsertDeltas` turns them into
  * −old/+new deltas that a foreachBatch sink owned by the benchmark
  * integrates. Latency is sink time − due time, so queueing counts; it is
  * measured after a warm-up of the same loop. A drain phase then enqueues a
  * fixed backlog at once, six times, and times how long each takes to
  * clear. No KeyedState work: this is the state store and the
  * per-trigger commit path. */
final class StreamUpsert(spark: SparkSession, a: Main.Args, tracer: Tracer, r: Report)
    extends Workload {
  import StreamUpsert._
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  // every command's value is its own seq, so a +1 delta row names the
  // command that produced it; due(seq) is when that command was due
  private val due = new Array[Long](Keys + Rate * (WarmupS + a.seconds.toInt + 2) + Drains * DrainCmds)
  private val seqGen = new AtomicLong(0)
  private val lastCmd = mutable.LongMap.empty[UpsertCmd]
  private val rnd = new scala.util.Random(a.seed)

  private def cmd(key: Long, delete: Boolean, dueNs: Long): UpsertCmd = {
    val s = seqGen.getAndIncrement()
    due(s.toInt) = dueNs
    val c = UpsertCmd(key, s.toDouble, s, delete)
    lastCmd(key) = c
    c
  }
  private def randomCmds(n: Int, dueNs: Long): Seq[UpsertCmd] =
    Seq.fill(n)(cmd(rnd.nextInt(Keys).toLong, rnd.nextDouble() < DeleteFrac, dueNs))

  /** foreachBatch target: collects each trigger's delta rows with the time
    * they reached the sink. Integrating them and timing the +1 rows happen
    * after the run, so the benchmark's own bookkeeping does not delay the
    * next trigger. */
  private final class Sink {
    val batches = mutable.ArrayBuffer.empty[(Long, Array[KvDelta], Boolean)]
    val sinkS = mutable.ArrayBuffer.empty[Double]
    @volatile var measuring = false
    def apply(ds: Dataset[KvDelta], batchId: Long): Unit = {
      val t0 = System.nanoTime()
      val rows = tracer.span("bench.sink", s"trigger-$batchId/addBatch")(ds.collect())
      val t1 = System.nanoTime()
      batches += ((t1, rows, measuring))
      sinkS += (System.nanoTime() - t0) / 1e9
    }
    def integrated: Map[(Long, Double), Long] = {
      val m = mutable.HashMap.empty[(Long, Double), Long]
      for ((_, rows, _) <- batches; d <- rows) {
        val k = (d.key, d.value)
        val w = m.getOrElse(k, 0L) + d.weight
        if (w == 0L) m.remove(k) else m(k) = w
      }
      m.toMap
    }
    /** (due ns, seconds from due to sink) of every +1 row of the open loop */
    def latency: Seq[(Long, Double)] =
      for ((t1, rows, on) <- batches.toSeq if on; d <- rows.toSeq if d.weight > 0)
        yield { val dn = due(d.value.toInt); (dn, (t1 - dn) / 1e9) }
  }

  private var window: (Long, Long, Long) = _ // measured start, half, end (ns)

  def run(): Unit = {
    var q: StreamingQuery = null
    var in: MemoryStream[UpsertCmd] = null
    var sink: Sink = null
    val preload = (0 until Keys).map(k => (k.toLong, false))
    (0 until Setups).foreach { i =>
      if (q != null) q.stop()
      seqGen.set(0); lastCmd.clear()
      val (_, secs) = Stats.time(tracer.span("setup") {
        in = MemoryStream[UpsertCmd]
        val s = new Sink
        sink = s
        q = tracer.outsideSpans(StreamOps.upsertDeltas(in.toDS()).writeStream
          .option("checkpointLocation", a.dir.resolve(s"ckpt-$i").toString)
          .foreachBatch((ds: Dataset[KvDelta], id: Long) => s(ds, id))
          .start())
        val now = System.nanoTime()
        in.addData(preload.map { case (k, d) => cmd(k, d, now) })
        q.processAllAvailable()
      })
      r.setups += secs
    }
    r.phase("setup done")
    try measure(q, in, sink) finally q.stop()
  }

  private def measure(q: StreamingQuery, in: MemoryStream[UpsertCmd], sink: Sink): Unit = {
    val setupBatches = q.lastProgress.batchId
    val perTick = Rate * TickMs / 1000
    val warm = WarmupS * 1000 / TickMs
    val ticks = warm + (a.seconds * 1000 / TickMs).toInt
    var lagMax = 0.0
    val start = System.nanoTime() + 50000000L
    def at(t: Int) = start + t * TickMs * 1000000L
    window = (at(warm), at(warm + (ticks - warm) / 2), at(ticks))
    sink.measuring = true
    val gen = new Thread(() => {
      (0 until ticks).foreach { t =>
        val dueNs = at(t)
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lagMax = math.max(lagMax, (System.nanoTime() - dueNs) / 1e9)
        in.addData(randomCmds(perTick, dueNs))
      }
    }, "perfbench-generator")
    gen.start()
    if (a.trace) {
      Thread.sleep(math.max(0L, (window._2 - System.nanoTime()) / 1000000L))
      tracer.detach()
    }
    gen.join()
    // backlog left when the generator stops: commands enqueued but not yet
    // read by a finished trigger
    val processed = q.recentProgress.filter(_.batchId > setupBatches).map(_.numInputRows).sum
    val backlog = ticks.toLong * perTick - processed
    q.processAllAvailable()
    sink.measuring = false
    val lastState = q.lastProgress.stateOperators.head
    r.e2e("state_mb", "MB", lastState.memoryUsedBytes / 1048576.0)

    r.phase("open loop done")
    if (a.trace) tracer.attach()
    // each backlog is one addData, so one trigger reads all of it; the
    // commands are generated before the clock starts
    val drains = (0 until Drains).map { _ =>
      val cmds = randomCmds(DrainCmds, System.nanoTime())
      Stats.time(tracer.span("drain") {
        in.addData(cmds)
        q.processAllAvailable()
      })._2
    }
    r.phase("drain done")
    r.attempted += q.recentProgress.count(_.batchId > setupBatches)

    val latency = sink.latency
    val untraced = latency.filter(_._1 >= (if (a.trace) window._2 else window._1)).map(_._2)
    val traced = latency.filter(l => l._1 >= window._1 && l._1 < window._2).map(_._2)
    r.e2e("latency_p50_s", "s", Stats.median(untraced.toSeq))
    // all drained rows over all drain time: single drains take either ~0.7 s
    // or ~0.9 s, so a median would jump between the two from run to run
    r.e2e("bulk_rows_per_s", "rows/s", Drains * DrainCmds / drains.sum)
    r.info("event_p90_s", Stats.quantile(untraced.toSeq, 0.9))
    r.info("events", untraced.size)
    r.info("drain_s", drains)
    r.layer("gen.lag_max_s", "s", lagMax)
    r.layer("streaming.backlog_rows_end", "rows", backlog.toDouble)
    r.layer("streaming.state_rows_end", "rows", lastState.numRowsTotal.toDouble)
    r.layer("streaming.state_mem_mb", "MB", lastState.memoryUsedBytes / 1048576.0)
    r.layer("bench.sink_s", "s", Stats.median(sink.sinkS.toSeq))
    if (a.trace) r.layer("trace.overhead_frac", "ratio",
      Stats.median(traced.toSeq) / Stats.median(untraced.toSeq) - 1)
    tracer.span("bench.check")(check(sink))
  }

  /** The integrated delta stream must equal the last-write-wins table of
    * every generated command. */
  private def check(sink: Sink): Unit = {
    val expected = lastCmd.valuesIterator.filterNot(_.delete)
      .map(c => (c.key, c.value) -> 1L).toMap
    val got = sink.integrated
    r.check("stream_upsert.last_write_wins", got == expected,
      s"got ${got.size} live rows, expected ${expected.size}")
  }

  def traced(idx: Tracer.Index, spans: Seq[Span]): Unit = {
    val (from, to) = (tracer.toEpoch(window._1), tracer.toEpoch(window._2))
    val triggers = spans.filter(s => s.name == "streaming.trigger" && s.start >= from && s.start < to)
    def phase(name: String) = {
      val xs = triggers.flatMap(t => idx.byId.get(s"${t.id}/$name")).map(_.dur / 1e9)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val drain = spans.filter(_.name == "streaming.trigger").filter(t =>
      spans.exists(d => d.name == "drain" && t.start >= d.start && t.start < d.end))
    Layers.reportSpark(r, idx, triggers, drain, spark.sparkContext.defaultParallelism)
    r.layer("streaming.triggers", "count", triggers.size)
    r.layer("streaming.trigger_s_p50", "s", Stats.median(triggers.map(_.dur / 1e9)))
    r.layer("streaming.add_batch_s_p50", "s", phase("addBatch"))
    r.layer("streaming.wal_commit_s_p50", "s", phase("walCommit"))
    r.layer("streaming.commit_offsets_s_p50", "s", phase("commitOffsets"))
    r.layer("streaming.rows_per_trigger_p50", "rows",
      Stats.median(triggers.map(_.attrs.getOrElse("rows", 0.0))))
  }
}

object StreamUpsert {
  val Keys = 100000
  val Rate = 10000 // commands per second
  val TickMs = 100
  /** Untimed open-loop seconds before the measured window. Event latency
    * keeps falling for ~20 s of small triggers while the JIT compiles their
    * code paths (2 s medians of one run: 0.58 s at 4–6 s, 0.47 s at 6–8 s,
    * ~0.41 s at 8–14 s, ~0.33 s at 22–28 s); the window starts where the
    * slope has flattened. */
  val WarmupS = 10
  val DeleteFrac = 0.1
  val DrainCmds = 100000
  val Drains = 6
  val Setups = 3
}
