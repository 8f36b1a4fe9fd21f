package graft

import java.util.concurrent.atomic.AtomicBoolean

import graft.core.ZSetFrame
import graft.incremental.StepTasks

/** The step-task primitive every concurrent step runs through: side tasks
  * run under the step's Spark local properties, every task is awaited, and
  * failures surface unwrapped in task order. */
class StepTasksSpec extends SparkSpec {
  import spark.implicits._

  private def oneJob(): Unit = spark.sparkContext.parallelize(1 to 10, 2).count()

  test("a side task's Spark job is attributed to the step that started it") {
    // the listener attributes jobs by a local property that only a thread
    // created inside the step inherits: a pooled thread would run its job
    // untagged and every job-count ceiling would silently under-count. The
    // primitive runs once before the step, so any thread it kept would
    // predate the step's tag
    StepTasks.run("before" -> (() => ()), "before-side" -> (() => ()))
    val (_, shape) = StepShape.measure(spark)(
      StepTasks.run("main" -> (() => oneJob()), "side" -> (() => oneJob())))
    assert(shape.jobs == 2, s"$shape")
  }

  test("the first failure in task order is thrown unwrapped, the others suppressed") {
    val first = new IllegalStateException("first")
    val second = new IllegalArgumentException("second")
    val ran = new AtomicBoolean(false)
    val e = intercept[IllegalStateException](StepTasks.run(
      "main" -> (() => ran.set(true)), "a" -> (() => throw first), "b" -> (() => throw second)))
    assert(ran.get)
    assert(e eq first)
    assert(e.getSuppressed.toSeq == Seq(second))
  }

  test("a slow failing side task is awaited before the step throws") {
    val finished = new AtomicBoolean(false)
    val main = new IllegalStateException("main")
    val e = intercept[IllegalStateException](StepTasks.run(
      "main" -> (() => throw main),
      "slow" -> (() => { Thread.sleep(400); finished.set(true); throw new RuntimeException("slow") })))
    assert(finished.get, "the step threw while a side task was still running")
    assert(e eq main)
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("slow"))
  }

  test("a failed side task releases the step's pinned output") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val e = intercept[IllegalStateException](StepTasks.output(
      "side" -> (() => throw new IllegalStateException("side"))) {
      ZSetFrame.fromTable(Seq(1L, 2L).toDF("k")).localCheckpoint(eager = true)
    })
    assert(e.getMessage == "side")
    assert(sc.getPersistentRDDs.keySet == before, "the failed step left its output pinned")
  }
}
