package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.{CompositeData, TabularData}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else x.toString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(v: Seq[Double]): Double = quantile(v, 0.5)

  /** Linear-interpolated quantile (numpy's default). */
  def quantile(v: Seq[Double], p: Double): Double = {
    require(v.nonEmpty, "quantile of no samples")
    val s = v.sorted
    val h = (s.size - 1) * p
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
}

/** Peak live heap: the highest heap occupancy right after a full
  * collection, read at fixed points outside every timed request (after
  * each setup, after the warmup, after each measured cycle or pass, at the
  * end), so the figure reads the live set at the same points on every run,
  * independent of when the JVM happens to collect. */
object HeapWatch extends NotificationListener {
  private val lastBytes = new AtomicLong
  private val fullGcs = new AtomicLong
  private val readings = scala.collection.mutable.ArrayBuffer.empty[Long]
  // collectors report non-heap pools (metaspace, code cache) too
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getName).toSet

  private lazy val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }

  def start(): Unit = { heapPools; emitters.foreach(_.addNotificationListener(this, null, null)) }

  override def handleNotification(n: Notification, hb: AnyRef): Unit =
    if (n.getType == "com.sun.management.gc.notification") {
      val info = n.getUserData.asInstanceOf[CompositeData]
      if (info.get("gcAction") == "end of major GC") {
        val after = info.get("gcInfo").asInstanceOf[CompositeData]
          .get("memoryUsageAfterGc").asInstanceOf[TabularData]
        lastBytes.set(after.values().asScala.collect {
          case row: CompositeData if heapPools(row.get("key").asInstanceOf[String]) =>
            row.get("value").asInstanceOf[CompositeData].get("used")
              .asInstanceOf[Long]
        }.sum)
        fullGcs.incrementAndGet()
      }
    }

  /** Force a full collection and wait (up to 2 s) until its notification,
    * which the JVM delivers on another thread, has been seen. */
  private def fullGc(): Unit = {
    val before = fullGcs.get
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (fullGcs.get == before && System.nanoTime() < deadline) Thread.sleep(5)
  }

  /** Read the live heap. Spark frees the blocks of broadcasts and shuffles
    * that a collection found unreachable on its cleaner thread, so a
    * second collection after a pause reads the heap without them. */
  def checkpoint(): Unit = {
    fullGc()
    Thread.sleep(100)
    fullGc()
    readings += lastBytes.get
  }

  def peakMb: Double = readings.maxOption.getOrElse(0L) / 1e6

  /** Every reading, in order, in MB. */
  def readingsMb: Seq[Double] = readings.map(_ / 1e6).toSeq

  def close(): Unit = emitters.foreach { e =>
    try e.removeNotificationListener(this) catch { case _: Throwable => () }
  }
}

/** What every workload hands back to [[Main]]. */
final case class Outcome(
    attempted: Long,
    failures: Seq[String],
    /** request latencies, seconds */
    latencies: Seq[Double],
    perLayer: Seq[(String, Double, String)],
    notes: Seq[(String, String)] = Nil)

object Session {
  /** A fresh bench-shaped session: same plans as `graft.Bench`. */
  def open(cpus: Int): SparkSession = {
    val spark = graft.Bench.benchSession(cpus.toString)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def close(spark: SparkSession): Unit = {
    graft.queries.clearSessionCache(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def wall[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
