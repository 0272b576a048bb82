package graft.perfbench

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Graft
import graft.operators.{AnnIvf, ServingCache}

/** Inputs, output checks and kernel counts of the ANN serving workload. */
object AnnIo {
  private def buffer(path: String): ByteBuffer =
    ByteBuffer.wrap(Files.readAllBytes(Paths.get(path))).order(ByteOrder.LITTLE_ENDIAN)

  def readVectors(path: String, dim: Int): Array[Array[Float]] = {
    val b = buffer(path).asFloatBuffer()
    Array.fill(b.remaining() / dim) { val v = new Array[Float](dim); b.get(v); v }
  }

  def readLongs(path: String): Array[Long] = {
    val b = buffer(path).asLongBuffer()
    val out = new Array[Long](b.remaining()); b.get(out); out
  }

  private val querySchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false),
      nullable = false)))

  /** The request: a small batch of query vectors, as a client sends it. */
  def queryFrame(spark: SparkSession, ids: Seq[Int],
      vecs: Array[Array[Float]]): DataFrame =
    spark.createDataFrame(
      ids.map(i => Row(i.toLong, vecs(i).toSeq)).asJava, querySchema)

  /** Checks one batch's rows (`query_id`, `vec_id`, `score`, `rank`): k
    * rows per query, scores non-increasing in rank. Returns the failure
    * (if any) and the batch's recall against `truth`. */
  def check(rows: Array[Row], ids: Seq[Int], k: Int,
      truth: Int => Array[Long]): (Option[String], Double) = {
    val byQuery = rows.groupBy(_.getAs[Long]("query_id").toInt)
    var hit = 0
    var bad: Option[String] = None
    ids.distinct.foreach { q =>
      val got = byQuery.getOrElse(q, Array.empty[Row])
        .sortBy(_.getAs[Int]("rank"))
      if (got.length != k && bad.isEmpty)
        bad = Some(s"query $q returned ${got.length} rows, expected $k")
      val scores = got.map(_.getAs[Double]("score"))
      if (scores.indices.drop(1).exists(i => scores(i) > scores(i - 1)) && bad.isEmpty)
        bad = Some(s"query $q scores increase with rank")
      val want = truth(q).toSet
      hit += got.count(r => want(r.getAs[Long]("vec_id")))
    }
    (bad, hit.toDouble / (ids.distinct.size * k))
  }

  def dirBytesAndFiles(dir: String): (Long, Long) = {
    val files = Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet"))
      .toVector
    (files.map(p => Files.size(p)).sum, files.size.toLong)
  }

  /** Rows per IVF partition of an index (benchmark bookkeeping for the
    * kernel operation counts; outside every timed section). */
  def partitionSizes(index: AnnIvf.Index): Map[Int, Long] =
    index.assigned.groupBy("partition_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** The kernel's work, summed over probed batches: (query, partition)
    * pairs, rows scored (probed partitions' rows plus one score per
    * centroid per query), and the probe's wall time. */
  final class ProbeTally {
    var queries = 0L
    var pairs = 0L
    var rowsScanned = 0L
    var results = 0L
    var seconds = 0.0
    var batches = 0
    def add(pairs: Array[Row], sizes: Map[Int, Long], nlist: Int,
        nQueries: Int, k: Int, secs: Double): Unit = {
      queries += nQueries
      this.pairs += pairs.length
      rowsScanned += pairs.map(r => sizes.getOrElse(r.getInt(1), 0L)).sum +
        nQueries.toLong * nlist
      results += nQueries.toLong * k
      seconds += secs
      batches += 1
    }
    def metrics(dim: Int, recall: Double): Seq[(String, Double, String)] = {
      val q = math.max(1L, queries).toDouble
      Seq(
        ("annivf.probe_s", if (batches == 0) 0.0 else seconds / batches, "s/batch"),
        ("annivf.partitions_probed_per_query", pairs / q, "count"),
        ("annivf.rows_scanned_per_result", rowsScanned / math.max(1L, results).toDouble, "ratio"),
        ("annivf.dot_products", rowsScanned / q, "count/query"),
        ("annivf.bytes_scanned_mb", rowsScanned * dim * 4.0 / 1e6 / q, "MB/query"),
        ("annivf.recall_at_10", recall, "ratio"))
    }
  }
}

/** Serving beside writes on one durable layout. The serving tier reads the
  * layout once (setup) and serves that snapshot through a `ServingCache`
  * smaller than nlist, one Zipf-drawn query per request. Each cycle, a
  * writer appends one seeded batch through `EventStreams.annIngest`
  * (frozen centroids, skip-existing: a fixed share of the batch is already
  * stored) and re-reads the grown layout with `AnnIvf.read`; then the tier
  * serves `searches_per_cycle` cached searches, and `pruned_per_cycle`
  * queries near the batch's fresh rows go uncached through
  * `AnnIvf.searchPruned` on the index that read returned. Every append,
  * read and search is one request of the closed loop. */
final class IngestServe(p: Params) {
  import AnnIo._
  private val dim = p.int("dim")
  private val k = p.int("k")
  private val nprobe = p.int("nprobe")
  private val batch = p.int("batch")
  private val nlist = p.int("nlist")
  private val perCycle = p.int("pruned_per_cycle")

  final class State(val spark: SparkSession, val layout: String,
      val centers: Array[Array[Float]], val index: AnnIvf.Index,
      val cache: ServingCache, val queries: Array[Array[Float]],
      val truth: Array[Long], val prunedQueries: Array[Array[Float]],
      val prunedTruth: Array[Long])

  def setup(spark: SparkSession, rep: Int): State = {
    val corpus = spark.read.parquet(s"${p.data}/corpus.parquet")
    val built = Graft.annBuild(corpus, "vec_id", "embedding", nlist, p.seed)
    val layout = s"${p.work}/layout-$rep"
    AnnIvf.write(built, layout)
    val centers = built.centroids.orderBy("partition_id").collect()
      .map(r => graft.operators.CentroidGemm.toFloatArray(r.getSeq[Float](1)))
    val index = AnnIvf.read(spark, layout)
    new State(spark, layout, centers, index,
      Graft.annServingCache(index, p.int("cache_partitions")),
      readVectors(s"${p.data}/queries.f32", dim),
      readLongs(s"${p.data}/truth_ids.i64"),
      readVectors(s"${p.data}/pruned_queries.f32", dim),
      readLongs(s"${p.data}/pruned_truth_ids.i64"))
  }

  private def batchDir(b: Int) = f"${p.data}/batch_$b%03d"

  def run(s: State, ops: Ops, seconds: Double): Outcome = {
    val spark = s.spark
    val nq = s.queries.length
    val fresh = p.int("batch_fresh")
    val offered = p.int("batch_rows")
    val batchSchema = spark.read.parquet(batchDir(0)).schema
    val vectors = s"${s.layout}/vectors"
    var next = 0
    def nextQueries(): Seq[Int] = {
      val ids = (0 until batch).map(i => (next + i) % nq)
      next = (next + batch) % nq
      ids
    }
    val lat = scala.collection.mutable.ArrayBuffer.empty[Double]
    val byKind = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    def fail(what: String): Unit = failures += what
    def timed[T](o: Ops, kind: String)(body: Long => T): T = {
      val (r, dt) = o.op(kind)(body)
      if (o eq ops) {
        lat += dt
        byKind(kind) = byKind.getOrElse(kind, Vector.empty) :+ dt
      }
      r
    }

    def append(b: Int, o: Ops): Unit = timed(o, "append") { op =>
      val q = o.phase(op, "construct") {
        graft.streaming.EventStreams.annIngest(
          spark.readStream.schema(batchSchema).parquet(batchDir(b)),
          s.centers, vectors, "vec_id")
      }
      o.phase(op, "execute") {
        // the stream's jobs run under its run id: count them here
        o.tracer.foreach(_.adoptGroup(q.runId.toString))
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
    }
    def read(o: Ops): AnnIvf.Index =
      timed(o, "read")(op => o.phase(op, "construct")(AnnIvf.read(spark, s.layout)))
    def searchWith(o: Ops, kind: String, vecs: Array[Array[Float]], ids: Seq[Int])(
        search: DataFrame => DataFrame): Array[Row] = timed(o, kind) { op =>
      val q = queryFrame(spark, ids, vecs)
      val df = o.phase(op, "construct") {
        search(q).select("query_id", "vec_id", "score", "rank")
      }
      o.phase(op, "plan")(df.queryExecution.executedPlan)
      o.phase(op, "execute")(df.collect())
    }
    def cached(ids: Seq[Int], o: Ops): Array[Row] =
      searchWith(o, "search", s.queries, ids)(
        s.cache.search(_, "query_id", "embedding", k, nprobe))
    def pruned(index: AnnIvf.Index, ids: Seq[Int], o: Ops): Array[Row] =
      searchWith(o, "pruned", s.prunedQueries, ids)(
        AnnIvf.searchPruned(index, _, "query_id", "embedding", k, nprobe))
    def prunedIds(b: Int): Seq[Int] = b * perCycle until (b + 1) * perCycle

    // untimed warmup: batch 0 is appended and then offered again (stored
    // ids must be skipped), and a few requests of each search kind
    // compile their paths
    val warm = new Ops(None)
    var stored = p.long("n") + fresh
    var attempted = 1L
    val (_, warmS) = Session.wall {
      append(0, warm)
      append(0, warm)
      val grown = read(warm)
      val now = grown.assigned.count()
      if (now != stored) fail(s"appending batch 0 twice stored $now rows, expected $stored")
      (0 until p.int("warmup_searches")).foreach(_ => cached(nextQueries(), warm))
      pruned(grown, prunedIds(0), warm)
    }
    HeapWatch.checkpoint()

    val snapshotSizes =
      if (ops.tracer.isDefined) partitionSizes(s.index) else Map.empty[Int, Long]
    val probe = new ProbeTally
    val c = s.cache
    val cache0 = Seq(c.hits, c.misses, c.evictions, c.bypasses).map(_.value)
    val filesBefore = dirBytesAndFiles(vectors)._2
    var appended = 1
    var keptRows = 0L
    var offeredRows = 0L
    var queries = 0L
    var recallSum = 0.0
    var recallN = 0
    def serve(kind: String, index: AnnIvf.Index, sizes: => Map[Int, Long],
        vecs: Array[Array[Float]], truth: Array[Long], ids: Seq[Int])(
        search: => Array[Row]): Unit = {
      attempted += 1
      val rows = search
      if (kind == "search") queries += ids.size
      val (bad, recall) = check(rows, ids, k, q => truth.slice(q * k, q * k + k))
      recallSum += recall; recallN += 1
      bad.foreach(b => fail(s"$kind: $b"))
      // traced runs also time the public probe on the same queries,
      // outside the request, for the kernel's operation counts
      ops.tracer.foreach { t =>
        val (pairs, dt) = Session.wall(t.phase(0L, 0L, "probe") {
          AnnIvf.probePartitions(index, queryFrame(spark, ids, vecs),
            "query_id", "embedding", nprobe).collect()
        })
        probe.add(pairs, sizes, nlist, ids.size, k, dt)
      }
    }
    // whole cycles only, so every run has the same request mix
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline && appended < p.int("batches")) {
      val b = appended
      try {
        attempted += 2
        append(b, ops)
        appended += 1
        val grown = read(ops)
        val now = grown.assigned.count()
        if (now != stored + fresh)
          fail(s"after batch $b: $now rows stored, expected ${stored + fresh}")
        keptRows += now - stored
        offeredRows += offered
        stored = now
        (0 until p.int("searches_per_cycle")).foreach { _ =>
          val ids = nextQueries()
          serve("search", s.index, snapshotSizes, s.queries, s.truth, ids)(cached(ids, ops))
        }
        lazy val grownSizes = partitionSizes(grown)
        serve("pruned", grown, grownSizes, s.prunedQueries, s.prunedTruth, prunedIds(b))(
          pruned(grown, prunedIds(b), ops))
      } catch { case e: Exception => fail(e.toString) }
      HeapWatch.checkpoint()
    }
    val recall = if (recallN == 0) 0.0 else recallSum / recallN
    if (recallN > 0 && recall < p.double("recall_floor"))
      fail(f"mean recall@$k $recall%.3f below floor ${p.double("recall_floor")}")

    val (bytes, files) = dirBytesAndFiles(vectors)
    val appends = ops.opIds("append")
    val searches = ops.opIds("search")
    val allSearches = searches ++ ops.opIds("pruned")
    val appendJobs = ops.jobsOf(appends)
    val nAppends = math.max(1, appends.size).toDouble
    val nSearch = math.max(1, searches.size).toDouble
    def p50(kind: String) = byKind.get(kind).map(Stats.median).getOrElse(0.0)
    def total(kind: String) = byKind.getOrElse(kind, Vector.empty).sum
    val Seq(hits, misses, evictions, bypasses) =
      Seq(c.hits, c.misses, c.evictions, c.bypasses).map(_.value).zip(cache0)
        .map { case (now, before) => now - before }
    Outcome(attempted, failures.toSeq, lat.toSeq,
      ops.schedulerAndExecutor(ops.allOpIds) ++
        Seq(("catalyst.plan_s", ops.phaseMean(allSearches, "plan"), "s/op")) ++
        probe.metrics(dim, recall) ++ Seq(
          ("ann.qps", queries / math.max(1e-9, total("search")), "1/s"),
          ("ann.batch_p50_s", p50("search"), "s"),
          ("servingcache.hit_rate", hits / math.max(1L, hits + misses).toDouble, "ratio"),
          ("servingcache.misses", misses / nSearch, "count/batch"),
          ("servingcache.evictions", evictions / nSearch, "count/batch"),
          ("servingcache.bypasses", bypasses / nSearch, "count/batch"),
          ("servingcache.search_construct_s", ops.phaseMean(searches, "construct"), "s/batch"),
          ("ingest.append_p50_s", p50("append"), "s"),
          ("ingest.search_p50_s", p50("pruned"), "s"),
          ("ingest.read_s", p50("read"), "s"),
          ("ingest.rows_per_s", keptRows / math.max(1e-9, total("append")), "1/s"),
          ("ingest.jobs_per_append", appendJobs.size / nAppends, "count"),
          ("ingest.files_per_append", (files - filesBefore) / nAppends, "count"),
          ("ingest.write_amplification",
            appendJobs.map(_.outputBytes).sum / math.max(1.0, keptRows * dim * 4.0), "ratio"),
          ("ingest.kept_ratio", keptRows / math.max(1L, offeredRows).toDouble, "ratio"),
          ("ingest.layout_files", files.toDouble, "count"),
          ("ingest.bytes_per_vector", bytes / math.max(1L, stored).toDouble, "B")),
      Seq("recall_at_10" -> Json.num(recall), "cycles" -> (appended - 1).toString,
        "warmup_s" -> Json.num(warmS)) ++
        byKind.toSeq.sortBy(_._1).map { case (k, v) => s"${k}_samples" -> v.size.toString })
  }
}
