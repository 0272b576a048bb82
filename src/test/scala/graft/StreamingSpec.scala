package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.queries.table
import graft.streaming.EventStreams

/** Structured Streaming specs: replay the events table as a file-source
  * stream and assert batch-equivalence of the windowed aggregates
  * (SURVEY.md §5/§7.2 — streaming has no DuckDB oracle, so the batch twin
  * is the ground truth).
  *
  * The replay files are written in random row order, so a short watermark
  * genuinely drops late rows — complete-mode tests assert exact
  * equivalence (no watermark, no drops); the append-mode test asserts the
  * contract that watermarking can only UNDER-count emitted windows, never
  * corrupt them. */
class StreamingSpec extends SparkSpec {

  private lazy val (batchEvents, streamEvents): (DataFrame, DataFrame) = {
    val batch = table(spark, sf0001, "events")
    val dir = Files.createTempDirectory("events-stream").toString
    batch.repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream
      .schema(batch.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    (batch, stream)
  }

  private def runToMemory(df: DataFrame, name: String, mode: String): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.table(name)
  }

  test("tumbling window aggregate (complete mode) equals the batch twin") {
    val streamed = runToMemory(
      EventStreams.tumblingCounts(streamEvents, "1 hour"),
      "tumbling_out", "complete")
    val batch = EventStreams.tumblingCounts(batchEvents, "1 hour")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch,
      Seq("window_start", "event_type", "n", "total_value")).count() === batch.count())
  }

  test("session window aggregate (complete mode) equals the batch twin") {
    val streamed = runToMemory(
      EventStreams.sessionStats(streamEvents, "30 minutes"),
      "session_out", "complete")
    val batch = EventStreams.sessionStats(batchEvents, "30 minutes")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch,
      Seq("session_start", "user_id", "n_events", "total_value")).count() === batch.count())
  }

  test("OHLC bars (complete mode) equal the batch twin incl. endpoints") {
    val streamed = runToMemory(
      EventStreams.ohlcBars(streamEvents, "1 hour"),
      "ohlc_out", "complete")
    val batch = EventStreams.ohlcBars(batchEvents, "1 hour")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch, Seq("bar_start", "event_type", "open_value",
      "close_value", "low_value", "high_value", "n")).count() === batch.count())
  }

  test("KMV distinct-users sample (complete mode) is bit-equal to batch") {
    val streamed = runToMemory(
      EventStreams.distinctUsersKmv(streamEvents, "6 hours"),
      "kmv_out", "complete")
    val batch = EventStreams.distinctUsersKmv(batchEvents, "6 hours")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch,
      Seq("window_start", "approx_users", "sample_sketch"))
      .count() === batch.count(), "sketch bytes and estimates must match")
    // few users per window → below K → estimates are EXACT distincts
    val exact = batchEvents.groupBy(window(col("ts"), "6 hours"))
      .agg(countDistinct("user_id").as("exact"))
      .select(col("window.start").as("window_start"), col("exact"))
    assert(batch.join(exact, Seq("window_start"))
      .filter(col("approx_users") =!= col("exact")).count() === 0)
  }

  test("HLL distinct-users sketch (complete mode) is bit-equal to batch") {
    val streamed = runToMemory(
      EventStreams.distinctUsersSketch(streamEvents, "6 hours"),
      "hll_out", "complete")
    val batch = EventStreams.distinctUsersSketch(batchEvents, "6 hours")
    assert(streamed.count() === batch.count())
    assert(streamed.join(batch, Seq("window_start", "approx_users"))
      .count() === batch.count())
    // estimates track the exact distinct counts on this data
    val exact = batchEvents.groupBy(window(col("ts"), "6 hours"))
      .agg(countDistinct("user_id").as("exact"))
      .select(col("window.start").as("window_start"), col("exact"))
    val joined = batch.join(exact, Seq("window_start"))
    assert(joined.filter(
      abs(col("approx_users") - col("exact")) > col("exact") * 0.2).count() === 0)
  }

  test("watermarked append output is a value-correct subset of batch") {
    val streamed = runToMemory(
      EventStreams.tumblingCounts(
        EventStreams.withWatermark(streamEvents, "10 minutes"), "1 hour"),
      "tumbling_wm_out", "append")
    val batch = EventStreams.tumblingCounts(batchEvents, "1 hour")
    assert(streamed.count() > 0)
    assert(streamed.count() <= batch.count())
    // late-row drops can only reduce a window's count, never inflate it
    val joined = streamed.alias("s")
      .join(batch.alias("b"), Seq("window_start", "event_type"))
    assert(joined.count() === streamed.count()) // no fabricated windows
    assert(joined.filter(col("s.n") > col("b.n")).count() === 0)
  }

  test("streaming dedup drops re-delivered event ids") {
    // horizon wider than the fixture's whole time span: the files split
    // round-robin, so each micro-batch carries near-max event times and
    // a short delay would LATE-DROP most of the later batches (the
    // standard watermark contract, not the replay-dedup this pins)
    val dup = streamEvents.union(streamEvents)
    val deduped = runToMemory(
      EventStreams.dedupWithinWatermark(dup, "60 days")
        .groupBy().count(),
      "dedup_out", "complete")
    val want = batchEvents.count()
    assert(deduped.orderBy(desc("count")).head().getLong(0) === want)
  }

  test("streaming dedup state is watermark-bounded: stale keys evict") {
    // the reason dedupWithinWatermark uses dropDuplicatesWithinWatermark:
    // plain dropDuplicates NEVER evicts when the event-time column is not
    // in the key set, so its state grows with every id ever seen. Feed
    // two far-apart batches in event-time order and assert the stream
    // completes with BOTH batches deduped (horizon covers in-batch
    // replays) while the first batch's keys are evictable — observable as
    // numRowsTotal in the last progress staying below the all-keys total.
    val dir = Files.createTempDirectory("dedup-evict").toString
    val early = batchEvents.filter(col("ts") < "2024-01-10")
    val late = batchEvents.filter(col("ts") >= "2024-01-25")
    early.union(early).coalesce(1).write.mode("append").parquet(dir)
    late.union(late).coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStreams.dedupWithinWatermark(stream, "1 hour")
      .groupBy().count()
      .writeStream.format("memory").queryName("dedup_evict_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    val want = early.count() + late.count()
    assert(spark.table("dedup_evict_out")
      .orderBy(desc("count")).head().getLong(0) === want)
    val lastState = q.recentProgress.flatMap(p =>
      Option(p.stateOperators).toSeq.flatten.map(_.numRowsTotal)).lastOption
    assert(lastState.exists(_ < want),
      s"state should have evicted the early keys, held $lastState of $want")
  }

  test("streaming near-dup matches equal batch minhashPairs across micro-batches") {
    // corpus = documents + exact copies (guaranteed pairs) replayed as 3
    // id-range files → 3 micro-batches, so matches must span band-bucket
    // state persisted across batches
    val base = table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = base.unionByName(
      base.select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val dir = Files.createTempDirectory("docs-stream").toString
    (0 until 3).foreach { r =>
      corpus.filter(pmod(col("doc_id"), lit(3)) === r)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    import spark.implicits._
    val streamed = runToMemory(
      EventStreams.nearDupMatches(stream, "doc_id", "text",
        shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5).toDF(),
      "neardup_out", "append")
    // match events are per-band and oriented by arrival — compare the
    // undirected distinct pair set (+ jaccard, HALF_UP-rounded on both
    // sides) against the batch pipeline on the same corpus
    val got = streamed.select(
        least(col("doc_id"), col("dup_of")).as("a"),
        greatest(col("doc_id"), col("dup_of")).as("b"),
        col("jaccard"))
      .distinct().as[(Long, Long, Double)].collect().toSet
    val want = graft.operators.Dedup.minhashPairs(corpus, "doc_id", "text",
        shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5)
      .as[(Long, Long, Double)].collect().toSet
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("streaming exact dedup: kept set equals batch dropExactDuplicates") {
    // documents + exact copies, replayed in id order across 3 micro-batches
    // (copies arrive in a LATER batch than originals, so the keeper must
    // come from persisted state, not the same batch)
    import spark.implicits._
    val base = table(spark, sf0001, "documents").select("doc_id", "text")
      .filter(col("doc_id") < 150)
    val corpus = base.unionByName(
      base.filter(col("doc_id") % 2 === 0)
        .select((col("doc_id") + 100000).as("doc_id"), col("text")))
    val dir = Files.createTempDirectory("exactdedup-stream").toString
    Seq(0L -> 50L, 50L -> 150L, 100000L -> 200000L).foreach { case (lo, hi) =>
      corpus.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream
      .schema(corpus.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val got = runToMemory(
      EventStreams.exactDedupStream(stream, "doc_id", "text").toDF(),
      "exactdedup_out", "append")
    // every doc gets exactly one verdict
    assert(got.count() === corpus.count())
    // kept set == batch min-id exact dedup (arrival order here IS id order)
    val kept = got.filter(!col("is_dup")).select("doc_id")
      .as[Long].collect().toSet
    val want = graft.operators.Dedup.dropExactDuplicates(corpus, "doc_id", "text")
      .select(col("doc_id").cast("long")).as[Long].collect().toSet
    assert(kept === want)
    // dup verdicts point at the canonical first arrival
    assert(got.filter(col("is_dup")).filter(col("kept_id") =!= col("doc_id") - 100000)
      .count() === 0)
  }

  test("streaming decontamination counts equal the batch operator per doc") {
    import spark.implicits._
    val docs = table(spark, sf0001, "documents").select("doc_id", "text")
    val isEval = col("doc_id") % 10 === 7
    val eval = docs.filter(isEval)
    val train = docs.filter(!isEval)
    val dir = Files.createTempDirectory("decontam-stream").toString
    (0 until 2).foreach { r =>
      train.filter(pmod(col("doc_id"), lit(2)) === r)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(train.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToMemory(
      EventStreams.decontamCountsStream(stream, eval, "doc_id", "text"),
      "decontam_out", "append")
      .filter(col("n_shared") > 0)
      .as[(Long, Long)].collect().toMap
    val want = graft.operators.Dedup
      .contaminationCounts(train, eval, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("micro-batch ANN serving equals batch search over the streamed queries") {
    import spark.implicits._
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val index = graft.operators.AnnIvf.build(emb, "vec_id", "embedding",
      nlist = 8, seed = 42L)
    val queries = emb.filter($"vec_id" < 6).select("vec_id", "embedding")
    val feed = Files.createTempDirectory("ann-serve-in").toString
    (0 until 2).foreach { r =>
      queries.filter(pmod($"vec_id", lit(2)) === r)
        .coalesce(1).write.mode("append").parquet(feed)
    }
    val stream = spark.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val served = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    val q = graft.streaming.EventStreams.annServe(stream, index,
        "vec_id", "embedding", k = 5, nprobe = 3) { (res, _) =>
      served ++= res.select($"query_id", $"vec_id", $"rank")
        .as[(Long, Long, Int)].collect()
    }
    q.awaitTermination(120000)
    val want = graft.operators.AnnIvf.search(index, queries,
        "vec_id", "embedding", k = 5, nprobe = 3)
      .select($"query_id", $"vec_id", $"rank")
      .as[(Long, Long, Int)].collect()
    assert(served.sortBy(r => (r._1, r._3)).toSeq ===
      want.sortBy(r => (r._1, r._3)).toSeq)
  }

  test("standing-query BM25 triage on a stream equals the batch scorer per doc") {
    import spark.implicits._
    val docs = table(spark, sf0001, "documents").select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") =!= 0)
    val idxDir = Files.createTempDirectory("bm25-stream-idx").toString
    graft.operators.Retrieval.writeIndex(corpus, "doc_id", "text", idxDir)
    val terms = docs.filter(col("doc_id") === 0)
      .select(explode(array_distinct(split(col("text"), " "))))
      .distinct().as[String].collect().toSeq
    val prof = graft.operators.Retrieval.loadProfile(spark, idxDir, terms)
    val feed = Files.createTempDirectory("bm25-stream-in").toString
    (0 until 2).foreach { r =>
      corpus.filter(pmod(col("doc_id"), lit(2)) === r)
        .coalesce(1).write.mode("append").parquet(feed)
    }
    val stream = spark.readStream.schema(corpus.schema)
      .option("maxFilesPerTrigger", 1).parquet(feed)
    val got = runToMemory(
      graft.operators.Retrieval.scoreWithProfile(prof, stream,
        "doc_id", "text").select("doc_id", "bm25"),
      "bm25_stream_out", "append")
      .as[(Long, Double)].collect().toMap
    val want = graft.operators.Retrieval
      .scoreWithProfile(prof, corpus, "doc_id", "text")
      .select("doc_id", "bm25")
      .as[(Long, Double)].collect().toMap
    assert(want.nonEmpty)
    assert(got === want)
  }

  test("a degenerate band bucket goes silent at the cap, mirroring the batch drop") {
    // 12 identical docs, cap 3: batch minhashPairs drops the over-cap
    // bucket entirely (zero pairs). Streaming cannot retract pairs already
    // emitted before the cap trips (Append mode is monotone), but from the
    // cap onward the band must go silent AND release its member state —
    // so emitted pairs are confined to the pre-cap prefix (first 3 ids).
    import spark.implicits._
    val docs = (0L until 12L).map(i =>
      (i, "the same boilerplate text repeated here again and again for everyone"))
    val dir = Files.createTempDirectory("degenerate-stream").toString
    // two micro-batches so the degenerate flag must survive in state
    docs.filter(_._1 < 6).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    docs.filter(_._1 >= 6).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(dir)
    val stream = spark.readStream
      .schema(docs.toDF("doc_id", "text").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
    val streamed = runToMemory(
      EventStreams.nearDupMatches(stream, "doc_id", "text",
        shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5,
        maxBucketSize = 3).toDF(),
      "degenerate_out", "append")
    val ids = streamed.select("doc_id").union(streamed.select("dup_of"))
      .as[Long].collect().toSet
    assert(ids.nonEmpty, "pre-cap prefix should emit pairs")
    assert(ids.forall(_ < 3L),
      s"band kept emitting after its cap: ids=$ids")
    // batch on the same corpus emits nothing at this cap
    assert(graft.operators.Dedup.minhashPairs(
      docs.toDF("doc_id", "text"), "doc_id", "text",
      shingleSize = 3, numBands = 8, rowsPerBand = 4, threshold = 0.5,
      maxBucketSize = 3).count() === 0L)
  }

  test("stream-stream interval join equals the batch join on emitted rows") {
    val errors = streamEvents.filter(col("event_type") === "error")
    val signups = streamEvents.filter(col("event_type") === "signup")
    val streamed = runToMemory(
      EventStreams.streamStreamSignupErrors(errors, signups, "40 days", 3600L),
      "ss_join_out", "append")
    val be = batchEvents.filter(col("event_type") === "error")
    val bs = batchEvents.filter(col("event_type") === "signup")
    val batch = EventStreams.streamStreamSignupErrors(be, bs, "40 days", 3600L)
    // the replay files are in random time order, so any watermark shorter
    // than the 30-day span would drop genuinely-late rows; a 40-day
    // watermark admits everything and the inner join emits every match
    assert(streamed.count() > 0)
    assert(streamed.join(batch,
      Seq("error_id", "user_id", "error_ts", "signup_ts")).count() === streamed.count())
    assert(streamed.count() === batch.count())
  }

  test("checkpoint recovery: restart continues exactly-once into a file sink") {
    val srcDir = Files.createTempDirectory("ckpt-src").toString
    val outDir = Files.createTempDirectory("ckpt-out").toString
    val ckptDir = Files.createTempDirectory("ckpt-state").toString
    val events = batchEvents.select("event_id", "user_id", "value")

    // phase 1: only the first half of the data exists
    events.filter(col("event_id") < 500).repartition(2)
      .write.mode("append").parquet(srcDir)
    def runOnce(): Unit = {
      val q = spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ckptDir)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce()
    val afterPhase1 = spark.read.parquet(outDir).count()
    assert(afterPhase1 === 500)

    // phase 2: more files arrive; a RESTARTED query (same checkpoint) must
    // process only the new files — no duplicates, no losses
    events.filter(col("event_id") >= 500).repartition(2)
      .write.mode("append").parquet(srcDir)
    runOnce()
    val out = spark.read.parquet(outDir)
    assert(out.count() === events.count())
    assert(out.select("event_id").distinct().count() === events.count())
  }

  test("stream-static enrichment join broadcasts the dimension") {
    val dim = batchEvents.select(col("event_type")).distinct()
      .withColumn("type_tag", upper(col("event_type")))
    val enriched = runToMemory(
      EventStreams.enrich(streamEvents, dim,
        streamEvents("event_type") === dim("event_type")).drop(dim("event_type")),
      "enrich_out", "append")
    assert(enriched.count() === batchEvents.count())
    assert(enriched.filter(col("type_tag").isNull).count() === 0)
  }

  test("streaming phash matches equal batch hamming64Pairs across micro-batches") {
    import spark.implicits._
    // dHash signatures of the PNG fixtures + perturbed copies, streamed
    // as 3 id-range files so matches must come from persisted band state
    val docs = table(spark, sf0001, "documents").select("doc_id")
      .filter(col("doc_id") < 150)
    val media = graft.operators.Multimodal.withPngPayload(docs, "doc_id")
      .unionByName(graft.operators.Multimodal.withPngPayloadPerturbed(
        docs.filter(col("doc_id") % 3 === 0), "doc_id", idOffset = 100000L))
    val sig = media.select(col("media_id"),
        graft.operators.Multimodal.dHashUdf(col("payload")).as("ph"))
      .localCheckpoint(true)
    val dir = Files.createTempDirectory("phash-stream").toString
    Seq(0L -> 50L, 50L -> 150L, 100000L -> 200000L).foreach { case (lo, hi) =>
      sig.filter(col("media_id") >= lo && col("media_id") < hi)
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(sig.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val streamed = runToMemory(
      EventStreams.phashMatches(stream, "media_id", "ph",
        maxHamming = 6, numBands = 8).toDF(),
      "phash_out", "append")
    val pairs = streamed.select(
        least(col("media_id"), col("dup_of")).as("a"),
        greatest(col("media_id"), col("dup_of")).as("b"),
        col("hamming"))
      .as[(Long, Long, Int)].collect()
    // exactly-once: only the lowest shared band emits, so no pair may
    // appear twice even though it lives in >= 2 band buckets
    assert(pairs.length === pairs.toSet.size,
      s"duplicate match emissions: ${pairs.length} rows, ${pairs.toSet.size} distinct")
    val want = graft.operators.Dedup.hamming64Pairs(sig, "media_id", "ph",
        maxHamming = 6, numBands = 8)
      .as[(Long, Long, Int)].collect().toSet
    assert(want.nonEmpty)
    assert(pairs.toSet === want)
  }

  test("streaming gap-fill (complete mode) equals the batch dense calendar") {
    val from = "2024-01-01 00:00:00"
    val to = "2024-01-30 23:00:00"
    @volatile var last: Option[Seq[org.apache.spark.sql.Row]] = None
    val q = EventStreams.gapFillStream(streamEvents, from, to) { (snap, _) =>
      last = Some(snap.orderBy("hour", "event_type").collect().toSeq)
    }
    q.awaitTermination(120000)
    val want = EventStreams.gapFillHourly(
        EventStreams.hourlyCounts(batchEvents), from, to)
      .orderBy("hour", "event_type").collect().toSeq
    assert(last.isDefined, "no snapshot reached the sink")
    assert(last.get.size === want.size)
    assert(last.get === want)
    // the fill is genuinely dense: every (hour, type) cell exists
    val nTypes = batchEvents.select("event_type").distinct().count()
    assert(want.size === 30 * 24 * nTypes)
  }

  test("streaming rolling z-scores equal the batch trailing-window twin") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, sf0001, "events")
      .select("event_id", "event_type", "ts", "value")
    val n = ev.count()
    // replay in global (ts, event_id) order across 3 micro-batches —
    // the operator's ordered-ingest contract
    val ordered = ev.withColumn("rn",
      row_number().over(Window.orderBy("ts", "event_id")))
    val dir = Files.createTempDirectory("anomaly-stream").toString
    Seq(0L, n / 3, 2 * n / 3, n).sliding(2).foreach { case Seq(lo, hi) =>
      ordered.filter(col("rn") > lo && col("rn") <= hi).drop("rn")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToMemory(
        EventStreams.anomalyStream(stream).toDF(), "anomaly_out", "append")
      .select("event_id", "z", "is_anomaly")
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap

    val w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    val wt = w.rowsBetween(-24, -1)
    val want = ev
      .withColumn("v100", round(col("value") * lit(100), 0).cast("long"))
      .withColumn("rn", row_number().over(w))
      .withColumn("s1", sum(col("v100")).over(wt))
      .withColumn("s2", sum(col("v100") * col("v100")).over(wt))
      .filter(col("rn") > 24)
      .withColumn("sd100",
        sqrt((lit(24.0) * col("s2") - col("s1") * col("s1")) / lit(576.0)))
      .withColumn("z", when(col("sd100") === 0.0, lit(0.0))
        .otherwise((col("v100") - col("s1") / lit(24.0)) / col("sd100")))
      .select(col("event_id").cast("long"), round(col("z"), 6).as("z"),
        (abs(col("z")) > 3.0).as("is_anomaly"))
      .as[(Long, Double, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(want.size > 500, s"warmup should leave plenty of scored rows, got ${want.size}")
    assert(got === want, "per-event z series must be bit-identical")
  }

  test("streaming transition bigrams equal the batch LEAD derivation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, sf0001, "events")
      .select("event_id", "event_type", "user_id", "ts")
    val n = ev.count()
    val ordered = ev.withColumn("rn",
      row_number().over(Window.orderBy("ts", "event_id")))
    val dir = Files.createTempDirectory("transitions-stream").toString
    Seq(0L, n / 3, 2 * n / 3, n).sliding(2).foreach { case Seq(lo, hi) =>
      ordered.filter(col("rn") > lo && col("rn") <= hi).drop("rn")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToMemory(
        EventStreams.transitionsStream(stream).toDF(),
        "transitions_out", "append")
      .groupBy("cur_type", "next_type").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap

    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val want = ev
      .select(col("event_type").as("cur_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .filter(col("next_type").isNotNull)
      .groupBy("cur_type", "next_type").count()
      .as[(String, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(want.nonEmpty)
    assert(got === want, "bigram counts must match the batch window")
  }

  test("streaming last-touch attribution equals the batch carry-forward window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, sf0001, "events")
      .select("event_id", "event_type", "user_id", "ts")
    val n = ev.count()
    val ordered = ev.withColumn("rn",
      row_number().over(Window.orderBy("ts", "event_id")))
    val dir = Files.createTempDirectory("attribution-stream").toString
    Seq(0L, n / 3, 2 * n / 3, n).sliding(2).foreach { case Seq(lo, hi) =>
      ordered.filter(col("rn") > lo && col("rn") <= hi).drop("rn")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToMemory(
        EventStreams.attributionStream(stream).toDF(),
        "attribution_out", "append")
      .select("event_id", "bucket")
      .as[(Long, String)].collect().toMap

    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val delta = unix_micros(col("ts")) - unix_micros(col("__click_ts"))
    val want = ev
      .withColumn("__click_ts",
        last(when(col("event_type") === "click", col("ts")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id").cast("long"),
        when(col("__click_ts").isNull, "organic")
          .when(delta <= 3600L * 1000000, "click_1h")
          .when(delta <= 86400L * 1000000, "click_24h")
          .otherwise("organic").as("bucket"))
      .as[(Long, String)].collect().toMap
    assert(want.nonEmpty && want.values.toSet.size > 1,
      "fixture should exercise several buckets")
    assert(got === want, "per-purchase buckets must match the batch window")
  }

  test("streaming time-weighted average converges to the batch q50 aggregate") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, sf0001, "events")
      .select("event_id", "event_type", "ts", "value")
    val n = ev.count()
    val ordered = ev.withColumn("rn",
      row_number().over(Window.orderBy("ts", "event_id")))
    val dir = Files.createTempDirectory("twa-stream").toString
    Seq(0L, n / 3, 2 * n / 3, n).sliding(2).foreach { case Seq(lo, hi) =>
      ordered.filter(col("rn") > lo && col("rn") <= hi).drop("rn")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    // last emission per type == the batch aggregate, bit for bit
    val got = runToMemory(EventStreams.twaStream(stream).toDF(),
        "twa_out", "append")
      .withColumn("__rn", row_number().over(
        Window.partitionBy("event_type").orderBy(desc("n_intervals"))))
      .filter(col("__rn") === 1)
      .select("event_type", "n_intervals", "total_us", "twa")
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq

    val want = graft.queries.EventQueries.queries("q50_twa")(spark, sf0001)
      .as[(String, Long, Long, Double)].collect().sortBy(_._1).toSeq
    assert(want.nonEmpty)
    assert(got === want, "streaming TWA must equal the batch aggregate")
  }

  test("streaming funnel stage sets equal the batch double-window derivation") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val ev = table(spark, sf0001, "events")
      .select("event_id", "event_type", "user_id", "ts")
    val n = ev.count()
    val ordered = ev.withColumn("rn",
      row_number().over(Window.orderBy("ts", "event_id")))
    val dir = Files.createTempDirectory("funnel-stream").toString
    Seq(0L, n / 3, 2 * n / 3, n).sliding(2).foreach { case Seq(lo, hi) =>
      ordered.filter(col("rn") > lo && col("rn") <= hi).drop("rn")
        .coalesce(1).write.mode("append").parquet(dir)
    }
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val got = runToMemory(EventStreams.funnelStream(stream).toDF(),
        "funnel_out", "append")
      .as[(Long, String)].collect()
    // exactly-once per (user, stage)
    assert(got.length === got.distinct.length)
    val gotByStage = got.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSet }

    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val e1 = ev.withColumn("first_view",
      min(when(col("event_type") === "view", col("ts"))).over(w))
    val qualClick = col("event_type") === "click" &&
      col("first_view") < col("ts")
    val e2 = e1.withColumn("first_qclick",
      min(when(qualClick, col("ts"))).over(w))
    val qualPurchase = col("event_type") === "purchase" &&
      col("first_qclick") < col("ts")
    def users(cond: org.apache.spark.sql.Column) =
      e2.filter(cond).select("user_id").distinct().as[Long].collect().toSet
    val want = Map(
      "view" -> users(col("event_type") === "view"),
      "click" -> users(qualClick),
      "purchase" -> users(qualPurchase))
    assert(want("purchase").nonEmpty &&
      want("click").size >= want("purchase").size)
    assert(gotByStage === want, "stage user sets must match the batch funnel")
  }

  test("checkpointed mview maintenance is incremental ACROSS sessions") {
    import graft.operators.Mview
    val statePath = Files.createTempDirectory("mview-state").toString
    val cp = Files.createTempDirectory("mview-cp").toString
    val srcDir = Files.createTempDirectory("mview-src").toString
    val keys = Seq("event_type")
    val firstHalf = batchEvents.filter(col("event_id") % 2 === 0)
    val secondHalf = batchEvents.filter(col("event_id") % 2 === 1)
    def src = spark.readStream.schema(batchEvents.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    // session 1: fold in the initial files
    firstHalf.coalesce(2).write.mode("append").parquet(srcDir)
    EventStreams.mviewMaintain(src, statePath, keys, "value", Some(cp))
      .awaitTermination(120000)
    def state: Seq[org.apache.spark.sql.Row] = Mview.result(
        EventStreams.mviewState(spark, statePath).get, keys)
      .orderBy("event_type").collect().toSeq
    assert(state === Mview.result(Mview.init(firstHalf, keys, "value"), keys)
      .orderBy("event_type").collect().toSeq)
    // session 2, SAME checkpoint, no new files: batch ids resume from the
    // checkpoint (not 0) and processed files are not re-read — state must
    // not move (the pre-checkpoint bug double-counted or silently froze)
    EventStreams.mviewMaintain(src, statePath, keys, "value", Some(cp))
      .awaitTermination(120000)
    assert(state === Mview.result(Mview.init(firstHalf, keys, "value"), keys)
      .orderBy("event_type").collect().toSeq)
    // session 3, SAME checkpoint, new files arrived: only the delta is
    // folded in, and the state now equals the from-scratch aggregate
    secondHalf.coalesce(2).write.mode("append").parquet(srcDir)
    EventStreams.mviewMaintain(src, statePath, keys, "value", Some(cp))
      .awaitTermination(120000)
    assert(state === Mview.result(Mview.init(batchEvents, keys, "value"), keys)
      .orderBy("event_type").collect().toSeq)
    // a LOST pointer over existing versions is damage, not freshness:
    // treating it as fresh would fold the next batch into nothing and
    // overwrite v0 — the maintained aggregate silently reset. Refuse.
    new java.io.File(statePath, "_LATEST").delete()
    val e = intercept[RuntimeException] {
      EventStreams.mviewState(spark, statePath)
    }
    assert(e.getMessage.contains("no _LATEST"), e.getMessage)
    // a pointer that is not the 3-line (seq, batch id, run key) format
    // is damage too: never read as a version number
    val pointer = new org.apache.hadoop.fs.Path(statePath, "_LATEST")
    val out = pointer.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(pointer, true)
    try out.write("0".getBytes("UTF-8")) finally out.close()
    val e2 = intercept[RuntimeException] {
      EventStreams.mviewState(spark, statePath)
    }
    assert(e2.getMessage.contains("damaged _LATEST pointer"), e2.getMessage)
  }

  test("mview damage detection: debris named exactly \"v\" does not make a fresh dir refuse") {
    // drop(1).forall(_.isDigit) is vacuously true on the empty string, so
    // a directory named bare "v" used to read as a state version and a
    // genuinely fresh dir refused to initialize
    val statePath = Files.createTempDirectory("mview-vdebris").toString
    new java.io.File(statePath, "v").mkdirs()
    assert(EventStreams.mviewState(spark, statePath).isEmpty,
      "bare-\"v\" debris was mistaken for a state version")
    // a REAL version dir without a pointer still refuses
    new java.io.File(statePath, "v0").mkdirs()
    val e = intercept[RuntimeException] {
      EventStreams.mviewState(spark, statePath)
    }
    assert(e.getMessage.contains("no _LATEST"), e.getMessage)
  }
}
