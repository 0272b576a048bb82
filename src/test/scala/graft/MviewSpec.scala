package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Mview
import graft.queries.table

/** Mview's defining algebra: partial states are self-mergeable, so any
  * split of the input into deltas — in any grouping — must produce the
  * same final state as aggregating from scratch, bit-for-bit (DECIMAL
  * sums make the equality exact, not approximate). */
class MviewSpec extends SparkSpec {
  import spark.implicits._


  private val keys = Seq("l_returnflag", "l_linestatus")
  private lazy val li = table(spark, sf0001, "lineitem")
    .select((keys.map(col) ++ Seq(col("l_orderkey"), col("l_extendedprice"))): _*)

  private def collectState(st: DataFrame): Set[Seq[Any]] =
    Mview.result(st, keys).collect().map(_.toSeq).toSet

  test("merge(init(a), init(b)) == init(a ++ b) exactly") {
    val a = li.filter(col("l_orderkey") % 2 === 0)
    val b = li.filter(col("l_orderkey") % 2 === 1)
    val merged = Mview.merge(
      Mview.init(a, keys, "l_extendedprice"),
      Mview.init(b, keys, "l_extendedprice"), keys)
    assert(collectState(merged) ===
      collectState(Mview.init(li, keys, "l_extendedprice")))
  }

  test("avg excludes null measures (SQL AVG), all-null group is NULL") {
    val df = Seq(
      ("a", Some(10.0)), ("a", None),
      ("b", Option.empty[Double]))
      .toDF("k", "v")
    val res = Mview.result(Mview.init(df, Seq("k"), "v"), Seq("k"))
      .select("k", "n", "avg_value")
      .as[(String, Long, Option[Double])].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    // sum skips nulls: avg must divide by the NON-null count, not n
    assert(res("a") === ((2L, Some(10.0))))
    assert(res("b") === ((1L, None))) // all-null -> NULL, not 0/0 error
  }

  test("merge is associative: ((a+b)+c) == (a+(b+c))") {
    def part(r: Int) = Mview.init(
      li.filter(col("l_orderkey") % 3 === r), keys, "l_extendedprice")
    val left = Mview.merge(Mview.merge(part(0), part(1), keys), part(2), keys)
    val right = Mview.merge(part(0), Mview.merge(part(1), part(2), keys), keys)
    assert(collectState(left) === collectState(right))
  }

  test("empty delta is an identity for merge") {
    val st = Mview.init(li, keys, "l_extendedprice")
    val empty = Mview.init(li.filter(lit(false)), keys, "l_extendedprice")
    assert(collectState(Mview.merge(st, empty, keys)) === collectState(st))
  }

  test("groups absent from the base appear via the delta") {
    val base = li.filter(col("l_returnflag") =!= "R")
    val delta = li.filter(col("l_returnflag") === "R")
    val merged = Mview.merge(
      Mview.init(base, keys, "l_extendedprice"),
      Mview.init(delta, keys, "l_extendedprice"), keys)
    assert(collectState(merged) ===
      collectState(Mview.init(li, keys, "l_extendedprice")))
  }

  test("diff matches null group keys null-safely — no phantom change rows") {
    // init/merge group null keys together (groupBy is null-safe), so diff
    // must match them together too: with a plain = join an UNCHANGED
    // null-keyed group shows up as one disappearing + one appearing row
    // on every run
    import spark.implicits._
    val rows = Seq(
      (Option("a"), 1.0), (Option("a"), 2.0),
      (Option.empty[String], 5.0), (Option.empty[String], 7.0))
      .toDF("k", "v")
    val st = Mview.init(rows, Seq("k"), "v")
    // identical states: NOTHING changed, including the null-keyed group
    assert(Mview.diff(st, st, Seq("k")).count() === 0)
    // a real change under the null key surfaces exactly once, keyed null
    val st2 = Mview.merge(st,
      Mview.init(Seq((Option.empty[String], 100.0)).toDF("k", "v"),
        Seq("k"), "v"), Seq("k"))
    val d = Mview.diff(st, st2, Seq("k")).collect()
    assert(d.length === 1)
    assert(d.head.isNullAt(d.head.fieldIndex("k")))
    assert(d.head.getAs[Long]("n_delta") === 1L)
  }

  test("join delta rule: base state + joinDelta == init(full join), any split") {
    val spark2 = spark
    import spark2.implicits._
    val ord = table(spark, sf0001, "orders")
      .select(col("o_orderkey"), col("o_orderpriority"))
    val liJ = li.select(col("l_orderkey").as("o_orderkey"),
      col("l_extendedprice"))
    val jkeys = Seq("o_orderkey")
    val gkeys = Seq("o_orderpriority")
    for (splitMod <- Seq(2, 5)) {
      val (aOld, aDelta) = (ord.filter(col("o_orderkey") % splitMod =!= 0),
        ord.filter(col("o_orderkey") % splitMod === 0))
      val (bOld, bDelta) = (liJ.filter(col("o_orderkey") % 3 =!= 1),
        liJ.filter(col("o_orderkey") % 3 === 1))
      val incr = Mview.merge(
        Mview.init(aOld.join(bOld, jkeys), gkeys, "l_extendedprice"),
        Mview.init(Mview.joinDelta(aOld, aDelta, bOld, bDelta, jkeys),
          gkeys, "l_extendedprice"), gkeys)
      val full = Mview.init(ord.join(liJ, jkeys), gkeys, "l_extendedprice")
      assert(Mview.result(incr, gkeys).orderBy("o_orderpriority")
          .collect().toSeq ===
        Mview.result(full, gkeys).orderBy("o_orderpriority")
          .collect().toSeq, s"splitMod=$splitMod")
    }
  }
}
