package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Incremental materialized-aggregate maintenance: keep a per-group state
  * table of ALGEBRAIC partials (count / decimal sum / min / max) and fold
  * append-only deltas into it without touching the already-aggregated
  * history — the pattern that turns a daily 100 TB full re-aggregation
  * into a shuffle over just the day's arrivals.
  *
  * Why these four: they are the self-mergeable partials Spark itself uses
  * for partial aggregation (count/sum add; min/max lattice-join), so
  * `merge(init(a), init(b)) == init(a ∪ b)` holds exactly — sums
  * accumulate in DECIMAL(18,6) (order-independent, see queries/package
  * `dec()`), making the equality bit-true, not approximate. Derived
  * measures (avg = sum/count) are computed at [[result]] time from the
  * partials, never stored. Deletes/updates are out of contract (append
  * log only) — an upsert source should compact through
  * [[Ingest.upsertLatest]] first.
  *
  * The reference's closest analogue is the collection count it refreshes
  * per ingest batch (vector_db.py chroma count bookkeeping); this is the
  * general form a warehouse needs.
  */
object Mview {

  /** Per-group partial state for one measure column `valueCol`:
    * (groupCols*, n, sum_dec, mn, mx).
    *
    * Value domain: |value| < 10¹² (DECIMAL(18,6) integral capacity; group
    * sums get DECIMAL(28,6) headroom from Spark's sum widening). Under
    * Spark's default ANSI mode an overflowing value RAISES at init time —
    * the same loud-overflow discipline as the fixed-point family. Legacy
    * non-ANSI sessions would instead null the cast and silently
    * under-count the sum while `n` still counts the row — keep ANSI on
    * (this repo never disables it). */
  def init(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    df.groupBy(groupCols.map(col): _*).agg(
      count(lit(1)).as("n"),
      // nv = NON-NULL value count: avg must divide by it, not by n —
      // sum() skips nulls, so sum/n silently deflates AVG on any group
      // with null measures (SQL AVG ignores nulls)
      count(col(valueCol)).as("nv"),
      sum(col(valueCol).cast(DecimalType(18, 6))).as("sum_dec"),
      min(col(valueCol)).as("mn"),
      max(col(valueCol)).as("mx"))

  /** Fold a delta's partial state into an existing state: one shuffle on
    * the group key over `state ∪ initDelta` — the delta side is typically
    * tiny, and with both sides bucketed by the group key this is
    * shuffle-free. Union-then-reaggregate keeps the merge associative and
    * idempotent-per-batch rather than hand-writing a full-outer-join
    * coalesce dance. */
  def merge(state: DataFrame, deltaState: DataFrame, groupCols: Seq[String]): DataFrame =
    state.unionByName(deltaState)
      .groupBy(groupCols.map(col): _*).agg(
        sum(col("n")).as("n"),
        sum(col("nv")).as("nv"),
        sum(col("sum_dec")).as("sum_dec"),
        min(col("mn")).as("mn"),
        max(col("mx")).as("mx"))

  /** Per-group change set between two states (old → new): groups whose
    * count or exact-decimal sum moved, with deltas — the validation /
    * change-data-capture view over two rollup snapshots. Full-outer on
    * the keys so appearing and disappearing groups both surface; the
    * comparison is on exact partials, so "changed" is never a float
    * artifact. */
  def diff(oldState: DataFrame, newState: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    // dataframe ALIASES, not o(c)/n(c) references: the two states often
    // share lineage (diff(old, merge(old, delta)), or a state against
    // itself), where unqualified attributes are ambiguous-self-join errors
    val o = oldState.select(
      groupCols.map(col) ++ Seq(col("n").as("__on"), col("sum_dec").as("__os")): _*)
      .alias("__mv_o")
    val n = newState.select(
      groupCols.map(col) ++ Seq(col("n").as("__nn"), col("sum_dec").as("__ns")): _*)
      .alias("__mv_n")
    // null-SAFE key equality (<=>): init/merge group null keys together,
    // so diff must match them together too — plain = would split an
    // unchanged null-keyed group into one "disappearing" and one
    // "appearing" phantom row every run
    o.join(n,
        groupCols.map(c => col(s"__mv_o.$c") <=> col(s"__mv_n.$c"))
          .reduce(_ && _), "full_outer")
      .select(
        groupCols.map(c =>
          coalesce(col(s"__mv_o.$c"), col(s"__mv_n.$c")).as(c)) ++ Seq[Column](
          coalesce(col("__on"), lit(0L)).as("old_n"),
          coalesce(col("__nn"), lit(0L)).as("new_n"),
          (coalesce(col("__nn"), lit(0L)) - coalesce(col("__on"), lit(0L)))
            .as("n_delta"),
          (coalesce(col("__ns"), lit(0).cast(DecimalType(18, 6))) -
            coalesce(col("__os"), lit(0).cast(DecimalType(18, 6))))
            .cast(DoubleType).as("sum_delta")): _*)
      .filter(col("n_delta") =!= 0 || col("sum_delta") =!= 0.0)
  }

  /** Delta rows of an inner JOIN under append-only inserts — the classic
    * incremental-view-maintenance rule (Blakeley et al. SIGMOD'86):
    *
    *   Δ(A ⋈ B) = ΔA ⋈ B_old  ∪  A_old ⋈ ΔB  ∪  ΔA ⋈ ΔB
    *
    * so a join-backed rollup is maintained by [[init]]-ing ONLY these
    * delta rows and [[merge]]-ing them into the standing state — the
    * 100 TB fact⋈fact re-join never happens again after the base build.
    *
    * Scale shape: two delta-sized joins against the old sides (the delta
    * side broadcasts in the common case) plus one delta×delta join;
    * nothing is proportional to |A_old ⋈ B_old|. Deletes/updates remain
    * out of contract, exactly as for the plain state ([[init]] doc).
    * Columns must be disjoint apart from `joinKeys` (standard join
    * hygiene; Spark errors otherwise). */
  def joinDelta(
      aOld: DataFrame, aDelta: DataFrame,
      bOld: DataFrame, bDelta: DataFrame,
      joinKeys: Seq[String]): DataFrame =
    aDelta.join(bOld, joinKeys)
      .unionByName(aOld.join(bDelta, joinKeys))
      .unionByName(aDelta.join(bDelta, joinKeys))

  /** Final measures from the partials (sum/avg as exact-decimal-backed
    * doubles, rounded for replay parity). */
  def result(state: DataFrame, groupCols: Seq[String]): DataFrame =
    state.select(
      groupCols.map(col) ++ Seq[Column](
        col("n"),
        col("sum_dec").cast(DoubleType).as("sum_value"),
        // SQL AVG semantics: nulls excluded from the mean; all-null
        // group -> NULL (never a 0/0 ANSI division error)
        when(col("nv") > 0,
          round(col("sum_dec").cast(DoubleType) / col("nv"), 4))
          .as("avg_value"),
        col("mn").as("min_value"),
        col("mx").as("max_value")): _*)
}
