package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Workload parameters, passed by `perfbench/run.py` as `key=value`. */
final class Params(kv: Map[String, String]) {
  def str(k: String): String =
    kv.getOrElse(k, throw new IllegalArgumentException(s"missing parameter $k"))
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
  def double(k: String): Double = str(k).toDouble
  val data: String = str("data")
  val work: String = str("work")
  val seed: Long = long("seed")
  val cpus: Int = int("cpus")
}

/** One benchmark run inside one JVM: open the session, set the workload
  * up `setup_reps` times (the last one is kept), measure it for `seconds`,
  * and write the result (and, traced, the spans) as JSON.
  *
  * Usage: Main <workload> <result.json> key=value...
  * Keys: data, work, seed, cpus, seconds, trace (0|1), trace_out,
  * setup_reps, plus the workload's own sizes. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, resultPath, rest @ _*) = args
    val p = new Params(rest.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap)
    val traced = p.int("trace") == 1
    HeapWatch.start()

    // the session is opened once; each repetition then builds the
    // workload's state from the generated inputs, and the last one is kept
    def measure[S](setup: (SparkSession, Int) => S, run: (S, Ops, Double) => Outcome)
        : (Outcome, Double, Seq[Double], String) = {
      val (spark, sessionS) = Session.wall(Session.open(p.cpus))
      val reps = (0 until p.int("setup_reps")).map { rep =>
        val r = Session.wall(setup(spark, rep))
        HeapWatch.checkpoint()
        r
      }
      val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
      val out = run(reps.last._1, new Ops(tracer), p.double("seconds"))
      HeapWatch.checkpoint()
      tracer.foreach { t => t.drain(); t.writeJsonl(p.str("trace_out")) }
      val version = spark.version
      Session.close(spark)
      (out, sessionS, reps.map(_._2), version)
    }

    val (out, sessionS, setupTimes, sparkVersion) = workload match {
      case "ingest_serve" => val w = new IngestServe(p); measure(w.setup, w.run)
      case "query_suite" => val w = new QuerySuite(p); measure(w.setup, w.run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    HeapWatch.close()

    def metric(v: Double, unit: String) = Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    val lat = out.latencies
    val e2e = Seq(
      "setup_jvm_s" -> metric(sessionS + Stats.median(setupTimes), "s"),
      "peak_heap_mb" -> metric(HeapWatch.peakMb, "MB"),
      "throughput_per_s" -> metric(lat.size / math.max(1e-9, lat.sum), "1/s"),
      "op_p50_s" -> metric(if (lat.isEmpty) 0.0 else Stats.median(lat), "s"))
    val layers = out.perLayer.map { case (n, v, u) => n -> metric(v, u) }
    val json = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> out.attempted.toString,
      "failed" -> out.failures.size.toString,
      "failures" -> out.failures.take(20).map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> Json.obj(e2e),
      "per_layer" -> Json.obj(layers),
      "samples" -> lat.size.toString,
      "latencies_s" -> lat.map(Json.num).mkString("[", ",", "]"),
      "session_s" -> Json.num(sessionS),
      "heap_readings_mb" -> HeapWatch.readingsMb.map(Json.num).mkString("[", ",", "]"),
      "setup_rep_s" -> setupTimes.map(Json.num).mkString("[", ",", "]"),
      "notes" -> Json.obj(out.notes),
      "provenance" -> Json.obj(Seq(
        "cpus" -> p.cpus.toString,
        "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
          System.getProperty("java.version")),
        "spark" -> Json.str(sparkVersion),
        "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1e6)))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(resultPath), json + "\n")
  }
}
