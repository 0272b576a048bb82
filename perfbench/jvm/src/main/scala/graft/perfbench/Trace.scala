package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One recorded interval. `parent` is the span that caused it (0 = none);
  * all spans of one request share the request's `op` id. */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, String] = Map.empty)

/** Work one Spark job did, summed over its tasks. */
final class JobTally(val jobId: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  /** Σ over tasks of (task launch − its stage's submission). */
  var taskWaitMs = 0L
}

/** In-memory span recorder plus a `SparkListener` that tallies every job
  * by the job group that was set on the `SparkContext` when it started.
  * Spans are kept in memory and written once, when the run ends.
  *
  * The benchmark sets group `op-<id>-<phase>` around each phase it times
  * (see [[Tracer.phase]]); a streaming query runs its jobs under its own
  * run id, so [[Tracer.adoptGroup]] maps that id onto the phase that
  * started the query. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new ConcurrentHashMap[Int, JobTally]()
  private val stageJob = new ConcurrentHashMap[Int, JobTally]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()
  private val adopted = new ConcurrentHashMap[String, String]()
  // wall-clock origin so the benchmark's spans (nanoTime) and job spans (epoch ms)
  // share one time axis
  private val originNs = System.nanoTime()
  private val originMs = System.currentTimeMillis()

  sc.addSparkListener(this)

  def newId(): Long = nextId.getAndIncrement()

  def record(s: Span): Unit = synchronized { spans += s }

  /** The benchmark's own spans (no job spans). */
  def ownSpans: Seq[Span] = synchronized(spans.toVector)

  /** Time `body` as span `name` of request `op`, with every Spark job it
    * launches tagged by this span's job group. */
  def phase[T](op: Long, parent: Long, name: String)(body: => T): T = {
    val id = newId()
    val group = Tracer.group(op, id, name)
    sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      sc.clearJobGroup()
      record(Span(id, parent, op, name, t0, t1))
    }
  }

  /** Attribute jobs run under a foreign group (a streaming query's run id)
    * to the phase span currently open on this thread. */
  def adoptGroup(foreign: String): Unit =
    Option(sc.getLocalProperty(Tracer.JobGroupKey))
      .foreach(adopted.put(foreign, _))

  /** Block until every event posted so far has reached the listener. */
  def drain(): Unit =
    try {
      val lb = sc.getClass.getMethod("listenerBus").invoke(sc)
      lb.getClass.getMethod("waitUntilEmpty").invoke(lb)
    } catch { case _: Throwable => Thread.sleep(200) }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val raw = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.JobGroupKey)))
      .getOrElse("")
    val t = new JobTally(e.jobId, raw, e.time)
    jobs.put(e.jobId, t)
    e.stageIds.foreach(s => stageJob.put(s, t))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val info = e.stageInfo
    stageSubmitMs.put(info.stageId,
      info.submissionTime.getOrElse(System.currentTimeMillis()))
    Option(stageJob.get(info.stageId)).foreach(t => t.synchronized(t.stages += 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = stageJob.get(e.stageId)
    if (t == null) return
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      val sub = stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime)
      t.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakExecBytes = math.max(t.peakExecBytes, m.peakExecutionMemory)
        t.inputBytes += m.inputMetrics.bytesRead
        t.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Every finished job with the group it belongs to (foreign groups
    * resolved to the phase that adopted them). Call after [[drain]]. */
  def jobTallies: Seq[JobTally] =
    jobs.values().asScala.toSeq.sortBy(_.jobId)

  def groupOf(t: JobTally): String = adopted.getOrDefault(t.group, t.group)

  /** All spans: the benchmark's own, plus one `job` span per Spark job,
    * parented to the phase span whose group it ran under. */
  def allSpans: Seq[Span] = {
    val own = ownSpans
    val jobSpans = jobTallies.filter(_.endMs >= 0).flatMap { t =>
      Tracer.parseGroup(groupOf(t)).map { case (op, parent) =>
        Span(newId(), parent, op, "job",
          originNs + (t.startMs - originMs) * 1000000L,
          originNs + (t.endMs - originMs) * 1000000L,
          Map("job_id" -> t.jobId.toString, "tasks" -> t.tasks.toString,
            "stages" -> t.stages.toString))
      }
    }
    own ++ jobSpans
  }

  def writeJsonl(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try allSpans.foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        .mkString("{", ",", "}")
      out.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"start_s":${(s.startNs - originNs) / 1e9},""" +
        s""""end_s":${(s.endNs - originNs) / 1e9},"attrs":$attrs}""")
    } finally out.close()
  }
}

object Tracer {
  /** The local property `SparkContext.setJobGroup` sets. */
  val JobGroupKey = "spark.jobGroup.id"

  def group(op: Long, span: Long, name: String): String = s"op-$op-$span-$name"

  /** (op id, span id) of a group set by [[Tracer.phase]]. */
  def parseGroup(g: String): Option[(Long, Long)] = g.split('-') match {
    case Array("op", op, span, _*) =>
      for (o <- op.toLongOption; s <- span.toLongOption) yield (o, s)
    case _ => None
  }

  /** Phase name of a group set by [[Tracer.phase]]. */
  def phaseOf(g: String): String = g.split("-", 4) match {
    case Array("op", _, _, name) => name
    case _ => ""
  }
}
