package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** BM25 contract + the durable inverted-index round-trip: the index path
  * scores bit-identically to the inline corpus path, and its serving scan
  * carries the static term pushdown that makes query IO ∝ postings of the
  * query's terms, not the corpus. */
class RetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet(s"$sf0001/documents.parquet")
    .filter($"doc_id" =!= 0)

  private lazy val qTerms = spark.read
    .parquet(s"$sf0001/documents.parquet")
    .filter($"doc_id" === 0)
    .select(explode(array_distinct(split($"text", " "))).as("term"))
    .distinct()

  private lazy val indexPath = {
    val p = java.nio.file.Files.createTempDirectory("retr-idx").toString
    Retrieval.writeIndex(docs, "doc_id", "text", p)
    p
  }

  test("bm25 ranks a doc sharing rare terms above one sharing common terms") {
    val tiny = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha common common common common"),
      (3L, "common common common common common"),
      (4L, "beta gamma delta"))
      .toDF("doc_id", "text")
    val q = Seq("beta", "gamma").toDF("term")
    val got = Retrieval.bm25(tiny, "doc_id", "text", q)
      .orderBy(desc("bm25")).select("doc_id").as[Long].collect()
    // docs 1 and 4 contain both query terms; 2 and 3 contain neither
    assert(got.toSet === Set(1L, 4L))
  }

  test("durable index path scores bit-identically to the inline path") {
    val inline = Retrieval.bm25(docs, "doc_id", "text", qTerms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    val terms = qTerms.as[String].collect().toSeq
    val served = Retrieval.searchIndex(spark, indexPath, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    assert(served.toSeq === inline.toSeq)
  }

  test("rename-atomicity probe: copy+delete object-store schemes warn, " +
      "rename-atomic schemes do not") {
    // every durable layout (BM25 _LATEST, mview _LATEST, WebDataset
    // publish) funnels through publishPointerAtomic, whose atomicity is
    // FILESYSTEM-conditional: object-store renames are copy+delete and
    // re-open the torn window. The probe is the central guard.
    import graft.operators.renameAtomicityWarning
    for (s <- Seq("s3a", "s3n", "s3", "wasb", "wasbs", "swift", "oss",
        "cosn", "gs", "S3A")) {
      val w = renameAtomicityWarning(s)
      assert(w.isDefined, s"scheme $s should warn")
      assert(w.get.contains("copy+delete"), w.get)
    }
    // gs names the hierarchical-namespace nuance the scheme can't prove
    assert(renameAtomicityWarning("gs").get.contains("hierarchical"))
    for (s <- Seq("hdfs", "file", "abfs", "abfss", "viewfs", null))
      assert(renameAtomicityWarning(s).isEmpty, s"scheme $s should not warn")
  }

  test("serving scan pushes the term set into the postings parquet scan") {
    val p = Retrieval.searchIndex(spark, indexPath, "doc_id",
        Seq("the", "a", "spark"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters: [In(term"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("unknown query terms return an empty result, not an error") {
    val got = Retrieval.searchIndex(spark, indexPath, "doc_id",
      Seq("zzzznotaterm"))
    assert(got.count() === 0)
  }

  test("frozen-profile scan-local scoring is bit-equal to the index join path") {
    val terms = qTerms.as[String].collect().toSeq
    val prof = Retrieval.loadProfile(spark, indexPath, terms)
    val udfPath = Retrieval.scoreWithProfile(prof, docs, "doc_id", "text")
      .filter($"matched_terms" > 0)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    val joinPath = Retrieval.searchIndex(spark, indexPath, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    assert(udfPath.toSeq === joinPath.toSeq)
  }

  test("profile stays O(|terms|): df map holds only the query terms") {
    val prof = Retrieval.loadProfile(spark, indexPath,
      Seq("the", "spark", "zzzznotaterm"))
    assert(prof.df.keySet.subsetOf(Set("the", "spark")))
    assert(prof.n > 0 && prof.avgdl > 0)
  }

  test("half build + incremental append serves bit-identically to a full build") {
    val terms = qTerms.as[String].collect().toSeq
    val half1 = docs.filter($"doc_id" % 2 === 1)
    val half2 = docs.filter($"doc_id" % 2 === 0)
    val p = java.nio.file.Files.createTempDirectory("retr-idx-incr").toString
    Retrieval.writeIndex(half1, "doc_id", "text", p)
    Retrieval.appendToIndex(half2, "doc_id", "text", p)
    val incr = Retrieval.searchIndex(spark, p, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    val full = Retrieval.searchIndex(spark, indexPath, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    assert(incr.toSeq === full.toSeq)
    // pushdown survives appended files
    val plan = Retrieval.searchIndex(spark, p, "doc_id", terms.take(3))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    assert(plan.contains("PushedFilters: [In(term"), plan.take(1500))
  }

  test("append crash at EVERY step leaves readers on the old generation; " +
      "retry completes idempotently") {
    val terms = qTerms.as[String].collect().toSeq
    val half1 = docs.filter($"doc_id" % 2 === 1)
    val half2 = docs.filter($"doc_id" % 2 === 0)
    val p = java.nio.file.Files.createTempDirectory("retr-idx-crash").toString
    Retrieval.writeIndex(half1, "doc_id", "text", p)
    val before = Retrieval.searchIndex(spark, p, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    // inject a crash after each of the five append steps (delta postings,
    // delta doclen, merged df, merged stats, manifest) — the _LATEST
    // publish is the only commit point, so every crash must leave the
    // half1 generation serving bit-identically, never torn, never refused
    (1 to 5).foreach { step =>
      try {
        Retrieval.crashAfterStep = step
        val e = intercept[RuntimeException] {
          Retrieval.appendToIndex(half2, "doc_id", "text", p)
        }
        assert(e.getMessage.contains("injected crash"), e.getMessage)
      } finally Retrieval.crashAfterStep = Int.MaxValue
      val after = Retrieval.searchIndex(spark, p, "doc_id", terms)
        .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
      assert(after.toSeq === before.toSeq,
        s"crash after step $step changed served results")
    }
    // retry over the orphan dirs completes and equals a full build
    Retrieval.appendToIndex(half2, "doc_id", "text", p)
    val incr = Retrieval.searchIndex(spark, p, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    val full = Retrieval.searchIndex(spark, indexPath, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    assert(incr.toSeq === full.toSeq)
  }

  test("pruneIndex removes superseded generations and orphan batches; " +
      "serving is unchanged") {
    val p = java.nio.file.Files.createTempDirectory("retr-idx-prune").toString
    val half1 = docs.filter($"doc_id" % 2 === 1)
    val half2 = docs.filter($"doc_id" % 2 === 0)
    Retrieval.writeIndex(half1, "doc_id", "text", p)   // gen 0 (superseded)
    Retrieval.writeIndex(half1, "doc_id", "text", p)   // gen 1 (rebuild)
    // a crashed append leaves orphan batch dirs no manifest references
    try {
      Retrieval.crashAfterStep = 3
      intercept[RuntimeException] {
        Retrieval.appendToIndex(half2, "doc_id", "text", p)
      }
    } finally Retrieval.crashAfterStep = Int.MaxValue
    Retrieval.appendToIndex(half2, "doc_id", "text", p) // gen 2 (live)
    val terms = qTerms.as[String].collect().toSeq
    val before = Retrieval.searchIndex(spark, p, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    // keepGenerations = 1: the aggressive everything-but-live prune
    val removed = Retrieval.pruneIndex(spark, p, keepGenerations = 1)
    // superseded gen-0/gen-1 dirs + gen-0's batch-0 postings/doclen (the
    // rebuild's batch-1 is referenced by the live manifest, the crashed
    // attempt's gen-2 dirs were overwritten by the retry)
    assert(removed >= 4, s"removed only $removed dirs")
    val dirs = new java.io.File(p).listFiles().map(_.getName).toSet
    assert(!dirs.contains("gen-0") && !dirs.contains("gen-1"), dirs)
    val after = Retrieval.searchIndex(spark, p, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    assert(after.toSeq === before.toSeq)
    // idempotent: a second prune removes nothing
    assert(Retrieval.pruneIndex(spark, p, keepGenerations = 1) === 0)
  }

  test("retention grace: a reader mid-scan on gen N survives " +
      "publish(N+1) + prune with the default keepGenerations = 2") {
    val p = java.nio.file.Files.createTempDirectory("retr-idx-grace").toString
    val half1 = docs.filter($"doc_id" % 2 === 1)
    val half2 = docs.filter($"doc_id" % 2 === 0)
    Retrieval.writeIndex(half1, "doc_id", "text", p)   // gen 0
    val terms = qTerms.as[String].collect().toSeq
    // the reader: a plan HOLDING gen-0's concrete paths, collected once
    // now and once after the publish+prune race it must survive
    val held = Retrieval.searchIndex(spark, p, "doc_id", terms)
      .select("doc_id", "bm25")
    val snapshot = held.as[(Long, Double)].collect().sortBy(_._1)
    Retrieval.appendToIndex(half2, "doc_id", "text", p) // gen 1 (live)
    assert(Retrieval.pruneIndex(spark, p) === 0,
      "with K=2 and two generations, nothing is prunable")
    val again = held.as[(Long, Double)].collect().sortBy(_._1)
    assert(again.toSeq === snapshot.toSeq,
      "the gen-0 reader's snapshot changed under publish+prune")
    // and a THIRD generation pushes gen 0 out of the retention window
    Retrieval.appendToIndex(docs.limit(1), "doc_id", "text", p) // gen 2
    assert(Retrieval.pruneIndex(spark, p) >= 1)
    val dirs = new java.io.File(p).listFiles().map(_.getName).toSet
    assert(!dirs.contains("gen-0") && dirs.contains("gen-1") &&
      dirs.contains("gen-2"), dirs)
  }

  test("age floor: a generation inside minAgeMs survives a K-eviction " +
      "that would otherwise remove it") {
    val p = java.nio.file.Files.createTempDirectory("retr-idx-age").toString
    val half1 = docs.filter($"doc_id" % 2 === 1)
    val half2 = docs.filter($"doc_id" % 2 === 0)
    Retrieval.writeIndex(half1, "doc_id", "text", p)            // gen 0
    Retrieval.appendToIndex(half2, "doc_id", "text", p)         // gen 1
    Retrieval.appendToIndex(docs.limit(1), "doc_id", "text", p) // gen 2
    // all three generations published seconds ago: with a 1-hour age
    // floor, even the aggressive K=1 prune must keep every one — the
    // slower-than-a-publish-cycle reader's protection
    assert(Retrieval.pruneIndex(spark, p, keepGenerations = 1,
      minAgeMs = 3600L * 1000) === 0)
    val dirs = new java.io.File(p).listFiles().map(_.getName).toSet
    assert(dirs.contains("gen-0") && dirs.contains("gen-1") &&
      dirs.contains("gen-2"), dirs)
    // age the superseded generations' manifests past the floor: the same
    // prune now evicts them (and the floor never protects the live gen)
    for (g <- Seq(0, 1))
      new java.io.File(s"$p/gen-$g", "MANIFEST")
        .setLastModified(System.currentTimeMillis() - 7200L * 1000)
    assert(Retrieval.pruneIndex(spark, p, keepGenerations = 1,
      minAgeMs = 3600L * 1000) >= 2)
    val after = new java.io.File(p).listFiles().map(_.getName).toSet
    assert(!after.contains("gen-0") && !after.contains("gen-1") &&
      after.contains("gen-2"), after)
  }

  test("a lost _LATEST pointer refuses instead of guessing a generation") {
    val p = java.nio.file.Files.createTempDirectory("retr-idx-nopointer").toString
    Retrieval.writeIndex(docs, "doc_id", "text", p)
    new java.io.File(p, "_LATEST").delete()
    // generation dirs without the pointer: the live generation is unknown,
    // and serving (or appending to, or pruning) a guessed one could
    // return stale scores — every entry point refuses loudly
    val terms = qTerms.as[String].collect().toSeq
    Seq[() => Any](
      () => Retrieval.searchIndex(spark, p, "doc_id", terms).collect(),
      () => Retrieval.loadProfile(spark, p, terms),
      () => Retrieval.appendToIndex(docs.limit(1), "doc_id", "text", p),
      () => Retrieval.pruneIndex(spark, p),
      () => Retrieval.livePostingsPaths(spark, p)).foreach { call =>
      val e = intercept[RuntimeException](call())
      assert(e.getMessage.contains("no _LATEST pointer"), e.getMessage)
    }
  }

  test("rebuild over a live index supersedes it atomically") {
    val p = java.nio.file.Files.createTempDirectory("retr-idx-rebuild").toString
    val half1 = docs.filter($"doc_id" % 2 === 1)
    Retrieval.writeIndex(half1, "doc_id", "text", p)
    Retrieval.writeIndex(docs, "doc_id", "text", p)
    val terms = qTerms.as[String].collect().toSeq
    val got = Retrieval.searchIndex(spark, p, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    val full = Retrieval.searchIndex(spark, indexPath, "doc_id", terms)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    assert(got.toSeq === full.toSeq,
      "rebuild must serve ONLY its own corpus, not union the old batches")
  }

  test("PRF: a synonym-only doc is reachable through feedback expansion") {
    // d1/d2 share 'alpha' with the query AND carry 'beta'; d3 uses ONLY
    // the synonym 'beta' — invisible to the base query, reachable after
    // feedback mines 'beta' from the top docs. 'noise' pads df.
    val corpus = Seq(
      (1L, "alpha beta beta noise"),
      (2L, "alpha beta noise noise"),
      (3L, "beta beta noise noise"),
      (4L, "noise noise noise noise"),
      (5L, "gamma noise noise noise")).toDF("doc_id", "text")
    val q = Seq("alpha").toDF("term")
    val base = Retrieval.bm25(corpus, "doc_id", "text", q)
      .select("doc_id").as[Long].collect().toSet
    assert(base === Set(1L, 2L), s"base retrieval wrong: $base")
    val prf = Retrieval.bm25Prf(corpus, "doc_id", "text", q,
        fbDocs = 2, fbTerms = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(prf.contains(3L), s"feedback term did not recall d3: $prf")
    assert(!prf.contains(5L), "unrelated doc leaked in")
  }

  test("indexed PRF serving is bit-identical to the inline two-pass PRF") {
    val inline = Retrieval.bm25Prf(docs, "doc_id", "text", qTerms,
        fbDocs = 10, fbTerms = 5)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    val terms = qTerms.as[String].collect().toSeq
    val served = Retrieval.bm25PrfIndexed(spark, indexPath, docs,
        "doc_id", "text", terms, fbDocs = 10, fbTerms = 5)
      .select("doc_id", "bm25").as[(Long, Double)].collect().sortBy(_._1)
    assert(served.toSeq === inline.toSeq)
  }

  test("PRF: expansion terms exclude the original query's terms") {
    // rescoring with (q ∪ expansion) must score the original terms once —
    // docs matching only original terms keep their base score exactly
    val corpus = Seq(
      (1L, "alpha beta"),
      (2L, "alpha gamma"),
      (3L, "delta beta")).toDF("doc_id", "text")
    val q = Seq("alpha").toDF("term")
    val baseScore = Retrieval.bm25(corpus, "doc_id", "text", q)
      .filter($"doc_id" === 2L).select("bm25").as[Double].head()
    // fbTerms=0: no expansion — PRF must degrade to plain BM25
    val same = Retrieval.bm25Prf(corpus, "doc_id", "text", q,
        fbDocs = 2, fbTerms = 0)
      .filter($"doc_id" === 2L).select("bm25").as[Double].head()
    assert(same === baseScore)
  }
}
