package graft.incremental

import java.util.concurrent.{ExecutionException, FutureTask}

import graft.core.ZSetFrame

/** The one way a step runs independent tasks concurrently — each task one
  * driver-synchronous Spark action (an output job, a segment build, a trace
  * merge) over inputs that are already stable, so the step pays
  * max(tasks) instead of Σ(tasks) of the per-action barrier floor.
  *
  * The first task runs on the caller's thread; every other task runs on a
  * FRESH daemon thread. Fresh, never pooled: Spark's job-local properties
  * (job groups, scheduler pools, span tags a listener attributes jobs by)
  * are inherited only when a thread is created, so a pool thread would run
  * its jobs outside the step's tags. Every task is awaited before `run`
  * returns or throws — a caller's `finally close()` must never race a
  * merge still running — and the first failure in task order is thrown as
  * it was raised, with every other failure added as suppressed. */
private[graft] object StepTasks {

  def run(tasks: (String, () => Unit)*): Unit = {
    val side = tasks.drop(1).map { case (name, f) =>
      val t = new FutureTask[Unit](() => f())
      val th = new Thread(t, s"graft-step-$name")
      th.setDaemon(true)
      th.start()
      t
    }
    var err: Throwable = null
    def fail(e: Throwable): Unit = if (err == null) err = e else err.addSuppressed(e)
    tasks.headOption.foreach { case (_, f) => try f() catch { case e: Throwable => fail(e) } }
    side.foreach { t =>
      try t.get()
      catch {
        case e: ExecutionException => fail(if (e.getCause != null) e.getCause else e)
        case e: Throwable => fail(e)
      }
    }
    if (err != null) throw err
  }

  /** A step's eagerly pinned OUTPUT job on the caller's thread, with
    * `side` running alongside it. When any task fails, the output's pin
    * (if it was made) is released before the failure is thrown, so a
    * failed step leaves no pinned output behind. */
  def output(side: (String, () => Unit)*)(out: => ZSetFrame): ZSetFrame = {
    var o: ZSetFrame = null
    try run(("output", () => o = out) +: side: _*)
    catch { case e: Throwable => if (o != null) Pinned.release(o.df); throw e }
    o
  }
}
