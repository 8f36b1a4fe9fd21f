package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced interval. Times are epoch nanoseconds; `parent` is the id of
  * the span that caused this one ("" for a root). */
final case class Span(id: String, parent: String, name: String,
                      start: Long, end: Long, attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

/** In-memory span recorder. Benchmark-side spans wrap calls into the
  * engine's public API; Spark job/stage/task spans come from a SparkListener
  * and trigger spans from a StreamingQueryListener. Nothing is recorded
  * until `attach`, so untraced runs pay only a disabled-flag check. */
final class Tracer(spark: SparkSession) {
  import Tracer._
  private val sc: SparkContext = spark.sparkContext
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new AtomicLong(0)
  @volatile private var on = false
  // epoch-ns clock with nanoTime resolution (listener times are epoch ms)
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  def now(): Long = toEpoch(System.nanoTime())
  /** A System.nanoTime() reading on the span clock. */
  def toEpoch(nano: Long): Long = epoch0 + (nano - nano0)

  def enabled: Boolean = on

  /** Run `body` inside a span; Spark jobs it submits (also from threads it
    * creates, which inherit local properties) are parented to the span. */
  def span[T](name: String, parent: String = "")(body: => T): T =
    if (!on) body else {
      val id = s"b${seq.incrementAndGet()}"
      val prev = sc.getLocalProperty(SpanProp)
      val p = if (parent.nonEmpty) parent else Option(prev).getOrElse("")
      sc.setLocalProperty(SpanProp, id)
      val t0 = now()
      try body finally {
        spans.add(Span(id, p, name, t0, now()))
        sc.setLocalProperty(SpanProp, prev)
      }
    }

  /** Run `body` with no span on this thread, so that threads it creates
    * (a streaming query's) do not inherit one. */
  def outsideSpans[T](body: => T): T = {
    val prev = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, null)
    try body finally sc.setLocalProperty(SpanProp, prev)
  }

  def currentSpan: String = Option(sc.getLocalProperty(SpanProp)).getOrElse("")

  private val jobsOpen = new AtomicLong(0)
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stageStart = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val parent = props.flatMap(p => Option(p.getProperty(SpanProp)))
        .orElse(props.flatMap(p => Option(p.getProperty(BatchProp)))
          .map(b => s"trigger-$b/addBatch"))
        .getOrElse("")
      jobsOpen.incrementAndGet()
      jobStart.put(e.jobId, (e.time * 1000000L, parent))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobStart.remove(e.jobId)).foreach { case (t0, parent) =>
        spans.add(Span(s"job-${e.jobId}", parent, "spark.job", t0,
          math.max(t0, e.time * 1000000L)))
      }
      jobsOpen.decrementAndGet()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageStart.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()), now())
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val t0 = si.submissionTime.map(_ * 1000000L)
        .orElse(Option(stageStart.remove((si.stageId, si.attemptNumber()))))
        .getOrElse(now())
      val t1 = si.completionTime.map(_ * 1000000L).getOrElse(now())
      val job = Option(stageJob.get(si.stageId)).map(j => s"job-$j").getOrElse("")
      spans.add(Span(s"stage-${si.stageId}.${si.attemptNumber()}", job, "spark.stage",
        t0, math.max(t0, t1), Map("tasks" -> si.numTasks.toDouble)))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val ti = e.taskInfo
      val m = Option(e.taskMetrics)
      spans.add(Span(s"task-${ti.taskId}", s"stage-${e.stageId}.${e.stageAttemptId}",
        "spark.task", ti.launchTime * 1000000L,
        math.max(ti.launchTime, ti.finishTime) * 1000000L,
        Map("run_ms" -> m.map(_.executorRunTime.toDouble).getOrElse(0.0),
          "shuffle_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten.toDouble).getOrElse(0.0))))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L
      val total = d.getOrElse("triggerExecution", 0L) * 1000000L
      val id = s"trigger-${p.batchId}"
      val state = p.stateOperators.headOption
      spans.add(Span(id, "", "streaming.trigger", t0, t0 + total, Map(
        "rows" -> p.numInputRows.toDouble,
        "state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
        "state_mem_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0))))
      // durationMs gives phase lengths, not start times: lay the phases out
      // in MicroBatchExecution's order from the trigger start
      var t = t0
      TriggerPhases.foreach { ph =>
        d.get(ph).foreach { ms =>
          spans.add(Span(s"$id/$ph", id, s"streaming.$ph", t, t + ms * 1000000L))
          t += ms * 1000000L
        }
      }
    }
  }

  def attach(): Unit = if (!on) {
    sc.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    on = true
  }

  /** Stop recording after Spark's asynchronous listener bus has delivered
    * the end of every job started so far. */
  def detach(): Unit = {
    if (!on) return
    val deadline = System.nanoTime() + 2000000000L
    while (jobsOpen.get() > 0 && System.nanoTime() < deadline) Thread.sleep(20)
    Thread.sleep(200) // trailing stage/task/progress events
    on = false
    sc.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.write(s"""{"id":"${s.id}","parent":"${s.parent}","name":"${s.name}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"attrs":{$attrs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  /** Local property MicroBatchExecution sets on every job of a micro-batch. */
  val BatchProp = "streaming.sql.batchId"
  val TriggerPhases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** Index of a span set: children by parent, for descendant queries and
    * self times. */
  final class Index(spans: Seq[Span]) {
    val byId: Map[String, Span] = spans.map(s => s.id -> s).toMap
    val children: Map[String, Seq[Span]] = spans.groupBy(_.parent)

    def descendants(id: String): Seq[Span] = {
      val out = mutable.ArrayBuffer.empty[Span]
      var frontier = children.getOrElse(id, Nil)
      while (frontier.nonEmpty) {
        out ++= frontier
        frontier = frontier.flatMap(c => children.getOrElse(c.id, Nil))
      }
      out.toSeq
    }

    /** Duration minus the part of it that child spans cover. */
    def selfTime(s: Span): Long = s.dur - covered(s, children.getOrElse(s.id, Nil))

    private def covered(s: Span, kids: Seq[Span]): Long = {
      val iv = kids.map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var total = 0L; var curA = Long.MinValue; var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) total += curB - curA
      total
    }
  }
}
