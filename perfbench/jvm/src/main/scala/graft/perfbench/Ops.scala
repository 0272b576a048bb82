package graft.perfbench

/** Times the workload's requests. In a traced run each request is an `op`
  * span whose phases (`construct`, `plan`, `execute`, ...) are child spans
  * with their own job group, so every Spark job is attributed to the phase
  * that launched it. In an untraced run only the request wall is taken. */
final class Ops(val tracer: Option[Tracer]) {
  private val opSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]

  /** Run one request; returns its result and wall seconds. */
  def op[T](name: String)(body: Long => T): (T, Double) = {
    val id = tracer.map(_.newId()).getOrElse(0L)
    val t0 = System.nanoTime()
    val r = body(id)
    val t1 = System.nanoTime()
    tracer.foreach { t =>
      t.record(Span(id, 0L, id, name, t0, t1))
      opSpans += ((id, name))
    }
    (r, (t1 - t0) / 1e9)
  }

  def phase[T](op: Long, name: String)(body: => T): T = tracer match {
    case Some(t) => t.phase(op, op, name)(body)
    case None => body
  }

  def opIds(name: String): Set[Long] =
    opSpans.collect { case (id, n) if n == name => id }.toSet

  def allOpIds: Set[Long] = opSpans.map(_._1).toSet

  /** Mean seconds of phase `phase` over the given ops (0 when none). */
  def phaseMean(ops: Set[Long], phase: String): Double = tracer match {
    case Some(t) if ops.nonEmpty =>
      val d = t.ownSpans.filter(s => s.name == phase && ops(s.op) && s.parent == s.op)
        .map(s => (s.endNs - s.startNs) / 1e9)
      d.sum / ops.size
    case _ => 0.0
  }

  /** Jobs launched by the given ops, optionally only from one phase. */
  def jobsOf(ops: Set[Long], phase: Option[String] = None): Seq[JobTally] =
    tracer match {
      case Some(t) =>
        t.jobTallies.filter { j =>
          val g = t.groupOf(j)
          Tracer.parseGroup(g).exists { case (op, _) => ops(op) } &&
            phase.forall(_ == Tracer.phaseOf(g))
        }
      case None => Nil
    }

  /** `scheduler.*` and `executor.*` per request over `ops`. */
  def schedulerAndExecutor(ops: Set[Long]): Seq[(String, Double, String)] = {
    val js = jobsOf(ops)
    val n = math.max(1, ops.size).toDouble
    def per(f: JobTally => Double) = js.map(f).sum / n
    Seq(
      ("scheduler.jobs", js.size / n, "count/op"),
      ("scheduler.stages", per(_.stages), "count/op"),
      ("scheduler.tasks", per(_.tasks.toDouble), "count/op"),
      ("scheduler.job_wall_s", per(j => math.max(0L, j.endMs - j.startMs) / 1e3), "s/op"),
      ("scheduler.task_wait_s", per(_.taskWaitMs / 1e3), "s/op"),
      ("executor.cpu_s", per(_.cpuNs / 1e9), "s/op"),
      ("executor.run_s", per(_.runMs / 1e3), "s/op"),
      ("executor.gc_s", per(_.gcMs / 1e3), "s/op"),
      ("executor.shuffle_write_mb", per(_.shuffleWriteBytes / 1e6), "MB/op"),
      ("executor.spill_mb", per(_.spillBytes / 1e6), "MB/op"),
      ("executor.peak_exec_mb",
        js.map(_.peakExecBytes).foldLeft(0L)(math.max) / 1e6, "MB"),
      ("executor.input_mb", per(_.inputBytes / 1e6), "MB/op"))
  }
}
