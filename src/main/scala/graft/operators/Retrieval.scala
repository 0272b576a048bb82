package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.TextOps

/** Lexical retrieval scoring — Okapi BM25 (Robertson et al., TREC-3) over
  * the whitespace token surface the rest of the text stack uses.
  *
  * The sparse counterpart of the engine's dense KNN serving path: TF-IDF
  * candidate generation already powers `hybrid_search`; BM25 adds the
  * document-length-normalized ranking production lexical search actually
  * runs (tf saturation via k1, length prior via b).
  *
  * Shape at scale: ONE corpus pass — one explode + one (id, term) hash
  * aggregation (tf), from which dl, df, and the corpus stats all derive
  * through runtime-reused exchanges — then an equi-join with the
  * (broadcast) query-term set, so the per-query cost after the corpus
  * stats exist is proportional to the postings of the query's terms, not
  * the corpus. Corpus-level stats (N, avgdl) enter as a 1-row broadcast
  * cross join, not a driver count.
  *
  * Portability: integer tf/df/dl and exact-integer-sum avgdl feed a
  * per-term score rounded to 6 dp, then DECIMAL(18,6)-summed per doc —
  * order-independent and bit-replayable in the DuckDB oracle.
  */
object Retrieval {

  /** BM25 score of every document in `docs` against `queryTerms`.
    *
    * @param docs       corpus: (idCol, textCol); exclude the query doc
    *                   upstream if self-matches are unwanted
    * @param queryTerms single-column DataFrame `term` (deduplicated bag of
    *                   query terms); must be broadcast-small
    * @return (idCol, bm25) for every doc sharing ≥1 term with the query
    */
  /** Per-(doc, term) BM25 contribution over columns `tf`, `df`, `__dl`,
    * `__n`, `__avgdl` — shared by the inline corpus path and the durable
    * index path so both score bit-identically. */
  private def bm25TermScore(k1: Double, b: Double): Column =
    round(
      log((col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("__dl") / col("__avgdl"))),
      6)

  private def sumTerms(idCol: String)(scored: DataFrame): DataFrame =
    scored
      .groupBy(idCol)
      .agg(sum(col("__ts").cast(DecimalType(18, 6))).cast("double").as("bm25"))

  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: DataFrame,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    // ONE corpus scan + tokenize + (id, term) shuffle — r17 plan surgery,
    // pinned by the scan-count sweep. dl, df, and stats all DERIVE from
    // tf (dl = Σ tf per doc; df = rows per term, since tf holds exactly
    // one row per (term, id) — the writeIndex trick applied to the
    // inline path), and every derivation shares tf's exchange subtree
    // CANONICALLY so runtime exchange reuse pays the corpus pass once.
    // Three plan-shaping details make the canonical equality hold:
    //  - the id/term null filters are EXPLICIT on t, because each join
    //    branch otherwise infers a different isnotnull subset and the
    //    branches stop being canonically equal (semantics: a null-id doc
    //    can never be returned — the dl join drops it — so excluding it
    //    from __n/__avgdl too is the consistent corpus-stats contract);
    //  - df is computed from the QUERY-FILTERED tf (per-term row counts
    //    are unchanged by filtering on the term itself, and only the
    //    query terms' df rows are ever joined);
    //  - the vacuous-but-unfoldable `tf >= 1` predicate keeps the count
    //    column referenced in the df branch — without it the optimizer
    //    rewrites that branch's tf to a keys-only distinct, whose
    //    exchange no longer matches and the corpus is scanned,
    //    tokenized, and shuffled a SECOND time.
    // The former shape re-derived dl and df from the raw token stream:
    // 3 corpus scans + 3 tokenizes + 3 corpus-sized shuffles.
    val t = docs.select(col(idCol), explode(toks).as("term"))
      .filter(col(idCol).isNotNull && col("term").isNotNull)
    val tf = t.groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy(idCol).agg(sum(col("tf")).as("__dl"))
    val stats = dl.agg(
      count(lit(1)).cast("double").as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val tfq =
      tf.join(broadcast(queryTerms.select(col("term")).distinct()), Seq("term"))
    val dfc = tfq.filter(col("tf") >= 1)
      .groupBy("term").agg(count(lit(1)).as("df"))
    sumTerms(idCol)(
      tfq
        .join(dfc, Seq("term"))
        .join(dl, Seq(idCol))
        .crossJoin(broadcast(stats))
        .withColumn("__ts", bm25TermScore(k1, b)))
  }

  /** RM3-lite pseudo-relevance feedback: score once, mine the top
    * `fbDocs` results for the `fbTerms` heaviest NEW terms (by summed
    * term frequency — the tf component of RM3 with uniform doc weights,
    * kept integer so the expansion choice is engine-exact), rescore with
    * the expanded query. Recall surgery for short queries: documents
    * using a synonym the query never typed now match through the
    * feedback terms.
    *
    * Every stage is deterministic: top docs by (bm25 desc, id), expansion
    * by (Σtf desc, term asc), both `TakeOrderedAndProject`-shaped — no
    * corpus-sized sort, no RNG. Cost is two scoring passes; a serving
    * deployment runs the same two passes against [[searchIndex]] so each
    * pass's IO is postings-proportional, not corpus-proportional. */
  def bm25Prf(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: DataFrame,
      fbDocs: Int = 10,
      fbTerms: Int = 5,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val q0 = queryTerms.select(col("term")).distinct()
    val top = bm25(docs, idCol, textCol, q0, k1, b)
      .orderBy(desc("bm25"), col(idCol)).limit(fbDocs)
      .select(col(idCol))
    val expansion = docs.join(broadcast(top), Seq(idCol))
      .select(explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("__tf"))
      .join(broadcast(q0), Seq("term"), "left_anti")
      .orderBy(desc("__tf"), asc("term")).limit(fbTerms)
      .select("term")
    bm25(docs, idCol, textCol, q0.unionByName(expansion), k1, b)
  }

  /** [[bm25Prf]] served from a [[writeIndex]] layout — the deployment
    * shape the inline docstring promises. Pass 1 and the rescore go
    * through [[searchIndex]] (postings-proportional IO, static
    * `In(term,...)` pushdown); expansion mining tokenizes ONLY the
    * `fbDocs` feedback documents, fetched from the doc store by id
    * (a point-lookup pushdown, `In(idCol, top ids)`), so no stage ever
    * re-reads the corpus. The two driver round-trips (top-doc ids,
    * expansion terms) are ≤ fbDocs and ≤ fbTerms rows — the same
    * serving-loop shape as `text_bm25_indexed`'s literal query terms.
    *
    * Bit-identical to [[bm25Prf]] on the same corpus: searchIndex scores
    * ≡ bm25 scores (shared term-score expression), and the expansion
    * choice (Σtf desc, term asc, integer tf) is replayed on the exact
    * token surface. RetrievalSpec pins the equality. */
  def bm25PrfIndexed(
      spark: SparkSession,
      path: String,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      fbDocs: Int = 10,
      fbTerms: Int = 5,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val q0 = queryTerms.distinct
    val topIds = searchIndex(spark, path, idCol, q0, k1, b)
      .orderBy(desc("bm25"), col(idCol)).limit(fbDocs)
      .select(col(idCol)).collect().map(_.get(0))
    val expansion = docs
      .filter(col(idCol).isin(topIds: _*))
      .select(explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(!col("term").isin(q0: _*))
      .groupBy("term").agg(count(lit(1)).as("__tf"))
      .orderBy(desc("__tf"), asc("term")).limit(fbTerms)
      .select("term").collect().map(_.getString(0)).toSeq
    searchIndex(spark, path, idCol, q0 ++ expansion, k1, b)
  }

  /** Durable inverted index — the lexical twin of `AnnIvf.write`'s vector
    * layout (S4 index-finalize generalized): corpus statistics are paid
    * ONCE at build, and every subsequent query's IO is proportional to its
    * terms' postings, not the corpus.
    *
    * Layout at `path` (generation-versioned — the `mviewMaintain`
    * `_LATEST` discipline, so every update is crash-atomic):
    *  - `_LATEST` — one line, the live generation number N; published by
    *    temp+rename, the single commit point for builds AND appends.
    *    Readers that load it see a complete, mutually consistent set of
    *    tables; a crash anywhere before the publish leaves the previous
    *    generation live (never a refusal, never torn scores);
    *  - `data/postings/batch-K/` (term, id, tf, __dl) — append-only
    *    batch dirs, each range-partitioned by (term, id) AND sorted by
    *    `term`, so a serving query's `term IN (...)` predicate reaches
    *    every batch's parquet scan (`PushedFilters: In(term,...)`) and
    *    row-group min/max stats skip all postings blocks of non-query
    *    terms — the file-format analogue of probing an inverted index;
    *    `__dl` rides each posting so the query path never opens the
    *    corpus-sized doclen table;
    *  - `data/doclen/batch-K/` (id, __dl) — same append-only batches;
    *  - `gen-N/df/` (term, df) — per-generation merged vocabulary;
    *  - `gen-N/stats/` one row (__n, __avgdl, __ndocs, __sumdl) — the
    *    exact long counters make incremental stats merge bit-identical
    *    to a full rebuild without re-scanning doclen;
    *  - `gen-N/MANIFEST` — the batch ids this generation serves.
    *    Batch dirs not in the live manifest (orphans of a crashed
    *    append, batches of a superseded rebuild) are invisible to
    *    readers; a janitor can prune them, like mview's old versions.
    */
  def writeIndex(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    val spark = docs.sparkSession
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a rebuild over a live layout becomes generation N+1 serving ONLY
    // its own fresh batch; the old generation's batches become orphans
    val next = latestGen(fs, path).map(_ + 1L).getOrElse(0L)
    val toks = TextOps.tokens(col(textCol))
    // null-id docs excluded like [[bm25]] (they can never be served, so
    // they must not skew __n/__avgdl — keeps the three scoring paths'
    // corpus stats bit-identical on any corpus, not just null-free ones)
    val t = docs.select(col(idCol), explode(toks).as("term"))
      .filter(col(idCol).isNotNull && col("term").isNotNull)
    // doclen is PERSISTED across the four write actions below: without
    // it, the doclen write and the stats agg each re-run the full corpus
    // tokenize + doc-grouping — at 100 TB that is two extra corpus
    // passes for a table of |docs| rows that fits executor storage
    val dl = t.groupBy(idCol).agg(count(lit(1)).as("__dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // __dl DENORMALIZED into the postings rows (one int per posting, paid
    // once at build): a query then never touches the corpus-sized doclen
    // table — without it, every serving query joined its few-term
    // postings against ALL |corpus| doclen rows, corpus-proportional IO
    // on the per-query path. Range partitioning by (term, id), not term
    // alone: equal range keys never split, so a stopword's billion
    // postings would otherwise land in ONE write task; the id tiebreak
    // lets sampling cut inside a heavy term while files stay
    // term-clustered for row-group min/max pushdown
    try {
      t.groupBy("term", idCol).agg(count(lit(1)).as("tf"))
        .join(dl, Seq(idCol))
        .repartitionByRange(col("term"), col(idCol))
        .sortWithinPartitions("term", idCol)
        .write.mode("overwrite").parquet(s"$path/data/postings/batch-$next")
      dl.write.mode("overwrite").parquet(s"$path/data/doclen/batch-$next")
      // df from the JUST-WRITTEN postings, not a third corpus tokenize:
      // postings hold exactly one row per (term, id), so rows-per-term IS
      // countDistinct(id) — and the read-back touches only the term
      // column of the term-sorted batch, columnar and tiny next to the
      // corpus
      spark.read.parquet(s"$path/data/postings/batch-$next")
        .groupBy("term").agg(count(lit(1)).as("df"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$path/gen-$next/df")
      dl.agg(statsCols.head, statsCols.tail: _*)
        .write.mode("overwrite").parquet(s"$path/gen-$next/stats")
    } finally dl.unpersist(blocking = false)
    writeManifest(fs, path, next, Seq(next))
    publishLatest(fs, path, next)
  }

  /** Stats row: the two doubles the score expression reads, plus the
    * exact long counters that let [[appendToIndex]] merge stats without
    * re-scanning the corpus-sized doclen data — integer addition is
    * exact, so incremental __avgdl is bit-identical to a rebuild's. */
  private def statsCols: Seq[Column] = Seq(
    count(lit(1)).cast("double").as("__n"),
    (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"),
    count(lit(1)).as("__ndocs"),
    coalesce(sum(col("__dl")), lit(0L)).as("__sumdl"))

  /** Serve a BM25 query from a [[writeIndex]] layout. `queryTerms` are
    * literal strings (the serving-call shape), so the postings and df
    * scans carry a static `In(term, ...)` pushdown — no corpus-wide
    * read, no corpus-side shuffle (doc length is denormalized into the
    * postings, so the only corpus-sized table in the plan is the
    * pushdown-pruned postings scan itself). Scores are bit-identical to
    * [[bm25]] on the same corpus (shared term-score expression; spec +
    * oracle). */
  def searchIndex(
      spark: SparkSession,
      path: String,
      idCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val terms = queryTerms.distinct
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = requireLatestGen(fs, path, "searchIndex")
    val postings = spark.read.parquet(
        readManifest(fs, path, gen).map(k => s"$path/data/postings/batch-$k"): _*)
      .filter(col("term").isin(terms: _*))
    val dfc = spark.read.parquet(s"$path/gen-$gen/df")
      .filter(col("term").isin(terms: _*))
    val stats = spark.read.parquet(s"$path/gen-$gen/stats")
      .select("__n", "__avgdl")
    // postings carry __dl denormalized, so the query path is
    // pushdown-pruned postings only. Only df (≤|terms| rows) and stats
    // (1 row) get broadcast hints — a stopword query term makes the
    // filtered postings corpus-sized, so forcing a broadcast there would
    // be the classic 100×-scale failure (AQE broadcasts it anyway
    // whenever the term set is genuinely selective)
    sumTerms(idCol)(
      postings.join(broadcast(dfc), Seq("term"))
        .crossJoin(broadcast(stats))
        .withColumn("__ts", bm25TermScore(k1, b)))
  }

  /** Incremental index maintenance — the lexical ST3 (add-after-build):
    * fold a batch of NEW documents into a [[writeIndex]] layout without
    * re-paying the corpus pass, CRASH-ATOMICALLY.
    *
    *  - postings/doclen: the new docs' rows become their OWN range-sorted
    *    `batch-(N+1)` dirs — existing files are never rewritten, and
    *    per-file row-group stats keep the `In(term,...)` pushdown
    *    effective on old and new batches alike;
    *  - df: merged (old ∪ delta, summed) into `gen-(N+1)/df`;
    *  - stats: merged from generation N's exact long counters + the
    *    delta's — O(1), never re-scans doclen, and integer addition makes
    *    the result bit-identical to a full rebuild's;
    *  - commit: `gen-(N+1)/MANIFEST` lists the old batches + the new one,
    *    then the `_LATEST` pointer swings to N+1 by temp+rename — the
    *    SINGLE atomic step. A crash at ANY earlier point leaves readers
    *    on generation N (consistent, never torn, never refused); the
    *    orphan `batch-(N+1)`/`gen-(N+1)` dirs are invisible because no
    *    live manifest references them, and a RETRY of the same append
    *    overwrites them and completes — idempotent because nothing
    *    published, so upstream `Ingest.newRecords` still classifies the
    *    batch as new.
    *
    * Single-maintainer discipline (like `AnnIvf.rebalance`): one appender
    * at a time; feed only genuinely-new ids (route through
    * `Ingest.newRecords`/`newRecordsBloom` upstream for idempotence).
    * A layout without a `_LATEST` pointer is refused. After the call,
    * [[searchIndex]]/[[loadProfile]] results are BIT-IDENTICAL to an
    * index built from scratch on the full corpus (RetrievalSpec). */
  def appendToIndex(
      newDocs: DataFrame,
      idCol: String,
      textCol: String,
      path: String): Unit = {
    val spark = newDocs.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(hconf)
    val gen = requireLatestGen(fs, path, "appendToIndex")
    val batches = readManifest(fs, path, gen)
    val next = gen + 1L
    val toks = TextOps.tokens(col(textCol))
    // null-id exclusion: same contract as writeIndex/bm25
    val t = newDocs.select(col(idCol), explode(toks).as("term"))
      .filter(col(idCol).isNotNull && col("term").isNotNull)
    // doclen rows only for docs with ≥1 token — the same convention as
    // writeIndex/bm25 (and the oracle), so half-build + append equals a
    // full build exactly; __dl rides the delta postings exactly as in
    // writeIndex, and heavy terms split by the id range tiebreak
    // persisted for the same reason as writeIndex's dl: the doclen write
    // and the stats delta would otherwise each re-tokenize the new docs
    val dlDelta = t.groupBy(idCol).agg(count(lit(1)).as("__dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val delta = try {
      t.groupBy("term", idCol).agg(count(lit(1)).as("tf"))
        .join(dlDelta, Seq(idCol))
        .repartitionByRange(col("term"), col(idCol))
        .sortWithinPartitions("term", idCol)
        .write.mode("overwrite").parquet(s"$path/data/postings/batch-$next")
      maybeCrash(1)
      dlDelta.write.mode("overwrite")
        .parquet(s"$path/data/doclen/batch-$next")
      maybeCrash(2)
      // delta df read back from the delta postings batch written in step
      // 1 (one row per (term, id) — see writeIndex), not a second
      // tokenize of the new docs
      spark.read.parquet(s"$path/gen-$gen/df")
        .unionByName(
          spark.read.parquet(s"$path/data/postings/batch-$next")
            .groupBy("term").agg(count(lit(1)).as("df")))
        .groupBy("term").agg(sum(col("df")).as("df"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(s"$path/gen-$next/df")
      maybeCrash(3)
      dlDelta.agg(statsCols.head, statsCols.tail: _*)
        .select("__ndocs", "__sumdl").head()
    } finally dlDelta.unpersist(blocking = false)
    // stats: exact long counters merge old + delta in O(1); the double
    // columns re-derive from the longs, bit-equal to a rebuild's
    val old = spark.read.parquet(s"$path/gen-$gen/stats")
      .select("__ndocs", "__sumdl").head()
    val (n, s) = (old.getLong(0) + delta.getLong(0),
      old.getLong(1) + delta.getLong(1))
    spark.range(1).select(
        lit(n.toDouble).as("__n"),
        (lit(s).cast("double") / lit(n)).as("__avgdl"),
        lit(n).as("__ndocs"), lit(s).as("__sumdl"))
      .write.mode("overwrite").parquet(s"$path/gen-$next/stats")
    maybeCrash(4)
    writeManifest(fs, path, next, batches :+ next)
    maybeCrash(5)
    publishLatest(fs, path, next)
  }

  /** Janitor for a generation-versioned index: delete superseded
    * generation dirs and every data batch dir no RETAINED generation's
    * manifest references (superseded rebuilds, orphans of crashed
    * appends) — the mview old-version pruning, applied here.
    *
    * Retention grace (the Delta-VACUUM pattern): the newest
    * `keepGenerations` published generations survive, so a reader that
    * loaded `_LATEST` = N and is still mid-scan when the maintainer
    * publishes N+1 and immediately prunes keeps its snapshot — with the
    * default `keepGenerations = 2`, a reader is only ever broken if it
    * lags a FULL publish-to-publish cycle behind (run the janitor less
    * often than your slowest reader, or raise K). `keepGenerations = 1`
    * restores the aggressive everything-but-live prune. Orphan gen dirs
    * ABOVE the live pointer (a crashed append's debris) are always
    * removed — they were never published, so no reader can hold them.
    * Run from the single maintainer, like [[appendToIndex]].
    *
    * `minAgeMs` is the AGE floor (Delta VACUUM's second knob): a
    * generation whose publish is younger than the floor survives
    * REGARDLESS of `keepGenerations` — the structural protection for a
    * reader slower than a full publish-to-publish cycle, which the
    * count-based knob documents but cannot cover (set it above the
    * slowest reader's scan time). Age is measured from the generation's
    * MANIFEST modification time — the last write before its publish.
    * The default 0 keeps r16's count-only behavior.
    *
    * Returns the number of directories removed. */
  def pruneIndex(
      spark: SparkSession,
      path: String,
      keepGenerations: Int = 2,
      minAgeMs: Long = 0L): Int = {
    require(keepGenerations >= 1,
      s"pruneIndex: keepGenerations must be >= 1 (got $keepGenerations)")
    require(minAgeMs >= 0L,
      s"pruneIndex: minAgeMs must be >= 0 (got $minAgeMs)")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = requireLatestGen(fs, path, "pruneIndex")
    val published = {
      val p = new org.apache.hadoop.fs.Path(path)
      fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("gen-"))
        .flatMap(_.stripPrefix("gen-").toLongOption)
        .filter(_ <= gen).sorted.reverse.toSeq
    }
    // age floor applies only to PUBLISHED generations: orphan gens above
    // the live pointer were never serveable, so no reader can hold them
    // at any age
    val now = System.currentTimeMillis()
    val youngEnough: Long => Boolean = g =>
      minAgeMs > 0L && {
        val m = new org.apache.hadoop.fs.Path(s"$path/gen-$g", "MANIFEST")
        // ONLY a missing manifest means "no age" (nothing was published,
        // no reader can hold it). Any OTHER IOException — object-store
        // timeout, 500 — must NOT silently strip the age floor and evict
        // a generation a slow reader may still hold: treat it as young
        // (the conservative direction; the next prune retries the probe).
        try now - fs.getFileStatus(m).getModificationTime < minAgeMs
        catch {
          case _: java.io.FileNotFoundException => false // no manifest, no age
          case _: java.io.IOException => true // transient probe error: keep
        }
      }
    val keptGens =
      (published.take(keepGenerations) ++ published.filter(youngEnough)).toSet
    val liveBatch = keptGens.flatMap(g => readManifest(fs, path, g))
    var removed = 0
    def pruneDir(parent: String, prefix: String, keep: String => Boolean): Unit = {
      val p = new org.apache.hadoop.fs.Path(parent)
      if (fs.exists(p)) fs.listStatus(p).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(prefix) && !keep(name.stripPrefix(prefix))) {
          fs.delete(st.getPath, true)
          removed += 1
        }
      }
    }
    pruneDir(path, "gen-",
      _.toLongOption.exists(keptGens.contains))
    val keepBatch = (s: String) => s.toLongOption.exists(liveBatch.contains)
    pruneDir(s"$path/data/postings", "batch-", keepBatch)
    pruneDir(s"$path/data/doclen", "batch-", keepBatch)
    removed
  }

  /** The postings batch dirs the LIVE generation serves — the exact
    * reader's view, for tooling (postings counts, size audits) that must
    * not see orphans of crashed appends or superseded rebuilds. */
  def livePostingsPaths(spark: SparkSession, path: String): Seq[String] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = requireLatestGen(fs, path, "livePostingsPaths")
    readManifest(fs, path, gen).map(k => s"$path/data/postings/batch-$k")
  }

  /** Crash-injection seam for the atomicity spec: appendToIndex raises
    * after step k when `crashAfterStep` ≤ k. Production value is
    * MaxValue (never fires); RetrievalSpec sets/restores it. */
  private[graft] var crashAfterStep: Int = Int.MaxValue
  private def maybeCrash(step: Int): Unit =
    if (step >= crashAfterStep)
      throw new RuntimeException(s"injected crash after append step $step")

  private def latestPointer(path: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(path, "_LATEST")

  /** Live generation number, if `path` has a `_LATEST` pointer. */
  private def latestGen(fs: org.apache.hadoop.fs.FileSystem,
      path: String): Option[Long] = {
    val p = latestPointer(path)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val raw = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
      finally in.close()
      Some(raw.toLong)
    }
  }

  /** Live generation number of an existing index. `_LATEST` is the only
    * commit point, so a layout without it — a first build still running
    * or crashed before its publish, or a lost pointer — is refused
    * rather than served from a guessed generation. */
  private def requireLatestGen(fs: org.apache.hadoop.fs.FileSystem,
      path: String, site: String): Long =
    latestGen(fs, path).getOrElse(sys.error(
      s"$site: index at $path has no _LATEST pointer — a first build is " +
        "still in progress (its publish is the last step), crashed, or " +
        "the pointer was lost. Refusing to guess a generation; restore " +
        "_LATEST (one line: the live generation number) or rebuild with " +
        "writeIndex."))

  /** Swing `_LATEST` to `gen` — write-temp-then-ATOMIC-OVERWRITE-rename.
    * Not `create(p, true)`: an in-place overwrite truncates the LIVE
    * pointer the moment create() opens it. And not delete-then-rename:
    * that leaves a window with NO pointer at all, in which a crash or a
    * concurrent reader sees a pointer-less layout and is refused.
    * `FileContext.rename(OVERWRITE)` replaces the pointer in one step. */
  private def publishLatest(fs: org.apache.hadoop.fs.FileSystem,
      path: String, gen: Long): Unit =
    publishPointerAtomic(fs, path, "_LATEST", s"._LATEST.tmp-$gen", s"$gen")

  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: String, gen: Long, batches: Seq[Long]): Unit = {
    val p = new org.apache.hadoop.fs.Path(s"$path/gen-$gen", "MANIFEST")
    val out = fs.create(p, true)
    try out.write(batches.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  private def readManifest(fs: org.apache.hadoop.fs.FileSystem,
      path: String, gen: Long): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(s"$path/gen-$gen", "MANIFEST")
    val in = fs.open(p)
    val raw = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
    finally in.close()
    raw.split("\n").map(_.trim.toLong).toSeq
  }

  /** A STANDING query frozen for scan-local scoring: the query terms with
    * their corpus document frequencies plus the corpus stats — everything
    * BM25 needs, in O(|terms|) driver memory. */
  final case class QueryProfile(
      df: Map[String, Long],
      n: Double,
      avgdl: Double,
      k1: Double,
      b: Double)

  /** Freeze a standing query from a [[writeIndex]] layout: reads only the
    * query terms' df rows (static pushdown) + the 1-row stats table. */
  def loadProfile(
      spark: SparkSession,
      path: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): QueryProfile = {
    val terms = queryTerms.distinct
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val gen = requireLatestGen(fs, path, "loadProfile")
    val dfc = spark.read.parquet(s"$path/gen-$gen/df")
      .filter(col("term").isin(terms: _*))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val st = spark.read.parquet(s"$path/gen-$gen/stats")
      .select("__n", "__avgdl").head()
    QueryProfile(dfc, st.getDouble(0), st.getDouble(1), k1, b)
  }

  /** Score documents against a frozen [[QueryProfile]] — one stateless
    * scan-local pass (tokens → tf of the profile's terms → the same
    * rounded-then-exact-summed BM25 as [[bm25]]/[[searchIndex]], so all
    * three paths are bit-identical on the same corpus — spec + oracle).
    *
    * Because it is a pure projection it applies unchanged to a STREAMING
    * DataFrame: the standing-query triage of an ingest firehose (route
    * arriving docs by relevance to a fixed query) with no state store, no
    * watermark, no shuffle — the lexical analogue of
    * `EventStreams.decontamCountsStream`'s frozen-gram probe. Docs
    * sharing no term with the profile score 0 with `matched_terms` 0
    * and are kept (filter downstream). Filter on `matched_terms > 0`,
    * NOT `bm25 > 0`, to reproduce the join paths' row set exactly: a
    * doc that DOES share a term can legitimately sum to 0.000000 (each
    * per-term score rounds to 6 dp before the sum — idf·tf < 5e-7 when
    * df ≈ n at corpus scale), and the join paths keep such docs. */
  def scoreWithProfile(
      profile: QueryProfile,
      docs: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val spark = docs.sparkSession
    val bc = spark.sparkContext.broadcast(profile)
    val scoreUdf = udf { (text: String) =>
      val p = bc.value
      // null-safe: one null-text event in the streaming firehose this is
      // documented for must score 0, not NPE the task and kill the query
      val toks = if (text == null) Array.empty[String] else text.split(" ", -1)
      val dl = toks.length.toDouble
      val tf = scala.collection.mutable.HashMap.empty[String, Long]
      toks.foreach { t =>
        if (p.df.contains(t)) tf.update(t, tf.getOrElse(t, 0L) + 1L)
      }
      var sum = java.math.BigDecimal.ZERO
      tf.toSeq.sortBy(_._1).foreach { case (t, f) =>
        val df = p.df(t).toDouble
        val idf = math.log((p.n - df + 0.5) / (df + 0.5) + 1.0)
        val ts = idf * (f * (p.k1 + 1.0)) /
          (f + p.k1 * ((1.0 - p.b) + p.b * dl / p.avgdl))
        sum = sum.add(BigDecimal(ts)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).bigDecimal)
      }
      (sum.doubleValue, tf.size)
    }
    docs.select(col(idCol), scoreUdf(col(textCol)).as("__s"))
      .select(col(idCol), col("__s._1").as("bm25"),
        col("__s._2").as("matched_terms"))
  }
}
