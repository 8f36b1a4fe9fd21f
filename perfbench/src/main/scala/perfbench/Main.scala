package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. Usage (run.py supplies these):
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <run dir>
  * Writes `<run dir>/result.json`; run.py prints the final result line. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, dir: Path)

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)))
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = math.min(Runtime.getRuntime.availableProcessors(), Cores)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.dir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.dir.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.dir.resolve("ckpt").toString)
      // stream_upsert counts its triggers from recentProgress
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionUp = System.currentTimeMillis()
    val r = new Report(a, cores)
    r.info("jvm_to_session_s", (sessionUp - jvmStart) / 1000.0)
    val tracer = new Tracer(spark)
    try {
      val steal0 = Host.cpuTicks()
      val w: Workload = a.workload match {
        case "keyed_cdc" => new KeyedCdc(spark, a, tracer, r)
        case "stream_upsert" => new StreamUpsert(spark, a, tracer, r)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      if (a.trace) tracer.attach()
      tracer.span("workload")(w.run())
      r.phase("workload done")
      tracer.detach()
      r.layer("host.steal_frac", "ratio", Host.stealFrac(steal0, Host.cpuTicks()))
      r.layer("host.nproc", "count", Runtime.getRuntime.availableProcessors())
      // setup_s: JVM start → session up, plus the median of the workload's
      // repeated state seedings (each up to its first admissible step)
      r.e2e("setup_s", "s", (sessionUp - jvmStart) / 1000.0 + Stats.median(r.setups.toSeq))
      r.info("setups_s", r.setups.toSeq)
      r.conf(spark)
      if (a.trace) {
        val spans = tracer.all
        val idx = new Tracer.Index(spans)
        w.traced(idx, spans)
        Metrics.fillPerLayer(r, a.workload)
        Layers.printSelfTimes(idx, spans)
        tracer.writeJsonl(a.dir.resolve("spans.jsonl"))
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        r.error = Some(e.toString)
    } finally {
      // blocking sweep BEFORE stop: whatever is still registered here was
      // not released by close()/Pinned.release and counts as a leak
      r.layer("incremental.leaked_rdds", "count",
        graft.incremental.Pinned.sweepSession(spark.sparkContext))
      Host.awaitBlocksReleased(spark)
      spark.stop()
      r.phase("session stopped")
    }
    r.write(a.dir.resolve("result.json"))
    if (r.error.nonEmpty) sys.exit(1)
  }

  /** Spark task slots. The workloads are sized for a 4-vCPU host whose
    * run.py pins the JVM to three of them: two slots run tasks, the third
    * vCPU keeps Spark's driver threads, the JIT, the GC and the open-loop
    * generator from queueing behind tasks. With all four given to Spark,
    * 3% hypervisor steal already stretched barrier-bound steps and event
    * latency by 25–30%. */
  val Cores = 2
}

/** The per-layer metrics of a traced run, with the workloads that exercise
  * each layer. A workload that does not exercise a layer reports 0 for it
  * (no trigger ran, no call was made); one that does must report it. */
object Metrics {
  private val K = "keyed_cdc"; private val S = "stream_upsert"
  private val All = Set(K, S)
  val PerLayer: Seq[(String, String, Set[String])] = Seq(
    ("spark.jobs_per_op", "count", All),
    ("spark.stages_per_op", "count", All),
    ("spark.tasks_per_op", "count", All),
    ("spark.shuffle_bytes_per_op", "bytes", All),
    ("spark.task_time_frac", "ratio", All),
    ("spark.bulk_task_time_frac", "ratio", All),
    ("incremental.agg_step_s", "s", Set(K)),
    ("incremental.agg_step_self_s", "s", Set(K)),
    ("incremental.join_step_s", "s", Set(K)),
    ("incremental.join_step_self_s", "s", Set(K)),
    ("incremental.bulk_step_s", "s", Set(K)),
    ("incremental.touched_bucket_frac", "ratio", Set(K)),
    ("incremental.emitted_rows_per_step", "rows", Set(K)),
    ("incremental.step_drift", "ratio", Set(K)),
    ("incremental.persisted_rdds_end", "count", Set(K)),
    ("incremental.leaked_rdds", "count", All),
    ("plans.view_agg_exchanges", "count", Set(K)),
    ("streaming.triggers", "count", Set(S)),
    ("streaming.trigger_s_p50", "s", Set(S)),
    ("streaming.add_batch_s_p50", "s", Set(S)),
    ("streaming.wal_commit_s_p50", "s", Set(S)),
    ("streaming.commit_offsets_s_p50", "s", Set(S)),
    ("streaming.rows_per_trigger_p50", "rows", Set(S)),
    ("streaming.backlog_rows_end", "rows", Set(S)),
    ("streaming.state_rows_end", "rows", Set(S)),
    ("streaming.state_mem_mb", "MB", Set(S)),
    ("bench.sink_s", "s", Set(S)),
    ("gen.lag_max_s", "s", Set(S)),
    ("host.steal_frac", "ratio", All),
    ("host.nproc", "count", All),
    ("trace.overhead_frac", "ratio", All))

  /** incremental.leaked_rdds is measured after teardown, so it is exempt
    * from the presence check here. */
  def fillPerLayer(r: Report, workload: String): Unit =
    PerLayer.foreach { case (name, unit, applies) =>
      if (!r.perLayer.contains(name)) {
        require(!applies(workload) || name == "incremental.leaked_rdds",
          s"$workload did not report $name")
        r.layer(name, unit, 0.0)
      }
    }
}

/** One benchmark workload: `run` does the measured work and reports the
  * end-to-end metrics; `traced` derives per-layer metrics from the spans of
  * a traced run. */
trait Workload {
  def run(): Unit
  def traced(idx: Tracer.Index, spans: Seq[Span]): Unit
}

/** Everything one run reports: metrics, counts, validity context. */
final class Report(a: Main.Args, cores: Int) {
  val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  val infos = mutable.LinkedHashMap.empty[String, Any]
  val setups = mutable.ArrayBuffer.empty[Double]
  var attempted = 0L
  var failed = 0L
  var correct = true
  var error: Option[String] = None

  def e2e(name: String, unit: String, v: Double): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, unit: String, v: Double): Unit = perLayer(name) = (v, unit)
  def info(name: String, v: Any): Unit = infos(name) = v
  private val t0 = System.nanoTime()
  /** Progress line on stderr: where a run's wall time goes. */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2fs $name")

  /** Count one checked operation; a mismatch fails the run. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      correct = false
      System.err.println(s"[perfbench] check $name FAILED $detail")
    }
    println(s"[perfbench] check $name ${if (ok) "ok" else "MISMATCH"}")
  }

  def conf(spark: SparkSession): Unit =
    info("spark_conf", spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.shuffle") || k.startsWith("spark.sql.adaptive") ||
        k == "spark.master" || k == "spark.serializer" || k == "spark.driver.memory"
    })

  def write(path: Path): Unit = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map {
      case (k, (v, u)) => s""""$k":{"value":${Json.num(v)},"unit":"$u"}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"workload":"${a.workload}","seed":${a.seed},"seconds":${a.seconds},""" +
        s""""trace":${if (a.trace) 1 else 0},"cores":$cores,"correct":$correct,""" +
        s""""attempted":$attempted,"failed":$failed,""" +
        s""""error":${error.map(Json.str).getOrElse("null")},""" +
        s""""end_to_end":${metrics(endToEnd)},"per_layer":${metrics(perLayer)},""" +
        s""""info":${Json.any(infos.toMap)}}"""
    Files.writeString(path, json)
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  def any(v: Any): String = v match {
    case d: Double => num(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: Map[_, _] => m.map { case (k, x) => s"${str(k.toString)}:${any(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(any).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }
  /** Mean of the last quarter ÷ mean of the first quarter. */
  def drift(xs: Seq[Double]): Double = {
    val q = math.max(1, xs.size / 4)
    mean(xs.takeRight(q)) / mean(xs.take(q))
  }
}

object Host {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Paths.get("/proc/stat")
    if (!Files.isReadable(f)) (0L, 0L) else {
      val line = Files.readAllLines(f).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      (if (line.length > 7) line(7) else 0L, line.sum)
    }
  }
  /** Non-blocking unpersists (the engine's `Pinned.unpersistTree`) finish
    * on Spark's own threads; stopping the context under them makes them
    * fail with RejectedExecutionException. Wait until storage memory stops
    * shrinking, for at most three seconds. */
  def awaitBlocksReleased(spark: org.apache.spark.sql.SparkSession): Unit = {
    def used = spark.sparkContext.getExecutorMemoryStatus.values.map { case (m, free) => m - free }.sum
    val deadline = System.nanoTime() + 3000000000L
    var last = Long.MaxValue
    var now = used
    while (now < last && System.nanoTime() < deadline) {
      Thread.sleep(100); last = now; now = used
    }
  }
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 == a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)
}
