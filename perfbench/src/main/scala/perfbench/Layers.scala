package perfbench

/** Span arithmetic that turns a trace into per-layer metrics. */
object Layers {
  /** Spark work under a set of operation spans (steps or triggers). */
  final case class SparkPerOp(jobs: Double, stages: Double, tasks: Double,
                              shuffleBytes: Double, taskTimeFrac: Double)

  def sparkPerOp(idx: Tracer.Index, ops: Seq[Span], cores: Int): SparkPerOp = {
    if (ops.isEmpty) return SparkPerOp(0, 0, 0, 0, 0)
    val under = ops.map(o => idx.descendants(o.id))
    def count(name: String) = Stats.mean(under.map(_.count(_.name == name).toDouble))
    val tasks = under.map(_.filter(_.name == "spark.task"))
    val runS = tasks.map(_.map(_.attrs.getOrElse("run_ms", 0.0)).sum / 1000.0).sum
    val wall = ops.map(_.dur / 1e9).sum
    SparkPerOp(count("spark.job"), count("spark.stage"), count("spark.task"),
      Stats.mean(tasks.map(_.map(_.attrs.getOrElse("shuffle_bytes", 0.0)).sum)),
      runS / (wall * cores))
  }

  def reportSpark(r: Report, idx: Tracer.Index, ops: Seq[Span], bulk: Seq[Span],
                  cores: Int): Unit = {
    val s = sparkPerOp(idx, ops, cores)
    r.layer("spark.jobs_per_op", "count", s.jobs)
    r.layer("spark.stages_per_op", "count", s.stages)
    r.layer("spark.tasks_per_op", "count", s.tasks)
    r.layer("spark.shuffle_bytes_per_op", "bytes", s.shuffleBytes)
    r.layer("spark.task_time_frac", "ratio", s.taskTimeFrac)
    r.layer("spark.bulk_task_time_frac", "ratio", sparkPerOp(idx, bulk, cores).taskTimeFrac)
  }

  /** p50 of the duration and of the self time of the spans called `name`. */
  def callTimes(idx: Tracer.Index, spans: Seq[Span], name: String): (Double, Double) = {
    val xs = spans.filter(_.name == name)
    if (xs.isEmpty) (0.0, 0.0)
    else (Stats.median(xs.map(_.dur / 1e9)), Stats.median(xs.map(s => idx.selfTime(s) / 1e9)))
  }

  /** Print one line per span name: count, total and self seconds. */
  def printSelfTimes(idx: Tracer.Index, spans: Seq[Span]): Unit = {
    println("[perfbench] span self times: name count total_s self_s")
    spans.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (name, xs) =>
      val total = xs.map(_.dur).sum / 1e9
      val self = xs.map(idx.selfTime).sum / 1e9
      println(f"[perfbench]   $name%-32s ${xs.size}%7d $total%10.4f $self%10.4f")
    }
  }

}
