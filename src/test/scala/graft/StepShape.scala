package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** The Spark work a block of code ran: jobs, tasks, the stages that ran
  * (skipped ones excluded) and the elements its tasks pulled from cached
  * blocks. `views` of a stage are the KeyedState bucket views it reads; a
  * view's `viewParts` is its partition (task) count. `broadcastJobs` of
  * `jobs` built a broadcast relation: Spark tags each such job with
  * `broadcast exchange (runId …)` in `spark.job.tags`. `pins` counts the
  * RDDs the code newly persisted and left persisted (a pinned delta,
  * output or segment), from the context's persistent-RDD registry, which
  * costs no job. */
final case class Shape(jobs: Int, tasks: Int, stages: Seq[StageShape], cachedRecordsRead: Long,
                       broadcastJobs: Int, pins: Int)
final case class StageShape(tasks: Int, viewParts: Seq[Int])

/** Counts the jobs, tasks and stages a step starts, attributed by a
  * thread-local tag that Spark copies into every job the step starts —
  * including the ones its concurrent merge threads and broadcast builds
  * run. The listener bus is drained before and after, so the counts are
  * complete. */
object StepShape {
  private val TagKey = "graft.stepshape"
  private val ViewName = "graft bucket view"
  private val JobTagsKey = "spark.job.tags"
  private val BroadcastTag = "broadcast exchange (runId"

  private final class Counts {
    val jobs = new AtomicInteger
    val broadcastJobs = new AtomicInteger
    val tasks = new AtomicInteger
    val records = new AtomicLong
    val stages = new ConcurrentHashMap[Int, StageShape]()
  }
  private val byTag = new ConcurrentHashMap[String, Counts]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val tagSeq = new AtomicInteger
  @volatile private var registered = false

  private def tagOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(TagKey)))

  private def counts(tag: String): Counts = byTag.computeIfAbsent(tag, _ => new Counts)

  private def register(spark: SparkSession): Unit = synchronized {
    if (!registered) {
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit =
          tagOf(js.properties).foreach { t =>
            val c = counts(t)
            c.jobs.incrementAndGet()
            if (Option(js.properties.getProperty(JobTagsKey)).exists(_.contains(BroadcastTag)))
              c.broadcastJobs.incrementAndGet()
          }
        override def onStageSubmitted(ss: SparkListenerStageSubmitted): Unit =
          tagOf(ss.properties).foreach { t =>
            val si = ss.stageInfo
            stageTag.put(si.stageId, t)
            counts(t).stages.put(si.stageId, StageShape(si.numTasks,
              si.rddInfos.filter(_.name == ViewName).map(_.numPartitions)))
          }
        override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
          Option(stageTag.get(te.stageId)).foreach { t =>
            val c = counts(t)
            c.tasks.incrementAndGet()
            Option(te.taskMetrics).foreach(m => c.records.addAndGet(m.inputMetrics.recordsRead))
          }
      })
      registered = true
    }
  }

  /** Run `f` and return its result with the work it ran. */
  def measure[A](spark: SparkSession)(f: => A): (A, Shape) = {
    register(spark)
    val sc = spark.sparkContext
    val tag = s"shape-${tagSeq.incrementAndGet()}"
    ListenerBusAccess.drain(sc)
    val persisted = sc.getPersistentRDDs.keySet
    sc.setLocalProperty(TagKey, tag)
    val a = try f finally sc.setLocalProperty(TagKey, null)
    val pins = (sc.getPersistentRDDs.keySet -- persisted).size
    ListenerBusAccess.drain(sc)
    val c = Option(byTag.remove(tag)).getOrElse(new Counts)
    (a, Shape(c.jobs.get, c.tasks.get,
      c.stages.asScala.toSeq.sortBy(_._1).map(_._2), c.records.get, c.broadcastJobs.get, pins))
  }
}
