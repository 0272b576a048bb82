package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry

/** The analytics surface: a panel of `SparkEntry.queries`, stratified by
  * family, run over the generated tables in a seeded order. Each query
  * is one request with `construct` (the query function returning its
  * DataFrame), `plan` (forcing the executed plan) and `execute` (collect). */
final class QuerySuite(p: Params) {
  /** Setup reads every table once (footers, schema inference). */
  def setup(spark: SparkSession, rep: Int): SparkSession = {
    graft.Bench.warmTables(spark, p.data)
    spark
  }

  def run(spark: SparkSession, ops: Ops, seconds: Double): Outcome = {
    val all = SparkEntry.queries
    val panel = p.str("panel").split(',').toVector
    val unknown = panel.filterNot(all.contains)
    require(unknown.isEmpty, s"panel names unknown queries: ${unknown.mkString(", ")}")
    val rng = new scala.util.Random(p.seed)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    val samples = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val opNames = scala.collection.mutable.Map.empty[Long, String]
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]
    var attempted = 0L

    def one(name: String, o: Ops): (Array[Row], Double) = o.op("query") { op =>
      if (op != 0L) opNames(op) = name
      val df = o.phase(op, "construct")(all(name)(spark, p.data))
      o.phase(op, "plan")(df.queryExecution.executedPlan)
      val rows = o.phase(op, "execute")(df.collect())
      if (!results.contains(name) && (o eq ops)) results(name) = (df.schema, rows)
      rows
    }

    // untimed warmup pass: codegen and file-footer caches, as graft.Bench;
    // a query that fails here fails (and is counted) in the timed passes
    val warm = new Ops(None)
    val (_, warmS) = Session.wall(panel.foreach { n =>
      try one(n, warm) catch { case _: Exception => () }
    })
    HeapWatch.checkpoint()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    // whole passes only, so every panel query has the same sample count
    while (System.nanoTime() < deadline) {
      for (n <- rng.shuffle(panel)) {
        attempted += 1
        try {
          val (_, dt) = one(n, ops)
          samples(n) = samples.getOrElse(n, Vector.empty) :+ dt
        } catch { case e: Exception => failures += s"$n: $e" }
      }
      HeapWatch.checkpoint()
    }

    // results for the DuckDB oracle check (outside every timed section)
    val outDir = s"${p.work}/suite"
    results.foreach { case (name, (schema, rows)) =>
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => results.contains(k) }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      Json.obj(oracle.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))

    val lat = samples.values.flatten.toSeq
    val allOps = ops.allOpIds
    val opsOf = (names: Set[String]) =>
      allOps.filter(id => opNames.get(id).exists(names))
    val medianOf = samples.map { case (n, v) => n -> Stats.median(v) }
    val families = QuerySuite.Families.map { f =>
      f -> panel.filter(n => QuerySuite.family(n) == f).toSet
    }
    // per family, one sweep = each of the family's panel queries once
    val perFamily = families.flatMap { case (f, names) =>
      val fo = opsOf(names)
      val runs = math.max(1, fo.size).toDouble
      Seq(
        (s"suite.$f.wall_s", names.toSeq.flatMap(medianOf.get).sum, "s/sweep"),
        (s"suite.$f.construct_s", ops.phaseMean(fo, "construct") * names.size, "s/sweep"),
        (s"suite.$f.jobs", ops.jobsOf(fo).size / runs * names.size, "count/sweep"))
    }
    Outcome(attempted, failures.toSeq, lat,
      ops.schedulerAndExecutor(allOps) ++ Seq(
        ("queries.construct_s", ops.phaseMean(allOps, "construct"), "s/op"),
        ("queries.construct_jobs",
          ops.jobsOf(allOps, Some("construct")).size / math.max(1, allOps.size).toDouble,
          "count/op"),
        ("catalyst.plan_s", ops.phaseMean(allOps, "plan"), "s/op"),
        ("suite.wall_s", medianOf.values.sum, "s/sweep")) ++ perFamily,
      Seq("warmup_s" -> Json.num(warmS), "samples" -> Json.obj(samples.toSeq.sortBy(_._1).map { case (n, v) =>
        n -> v.size.toString })))
  }
}

object QuerySuite {
  val Families: Seq[String] =
    Seq("relational", "text", "profile", "dedup", "graph", "vector", "sample_eval", "misc")

  /** A query's family, from its name. */
  def family(name: String): String = name.takeWhile(_ != '_') match {
    case q if q.length == 3 && q.startsWith("q") && q.drop(1).forall(_.isDigit) => "relational"
    case "text" => "text"
    case "profile" => "profile"
    case "dedup" => "dedup"
    case "graph" => "graph"
    case "knn" | "ann" | "emb" | "vector" | "hybrid" | "cluster" => "vector"
    case "sample" | "eval" => "sample_eval"
    case _ => "misc"
  }
}
