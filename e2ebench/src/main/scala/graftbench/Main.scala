package graftbench

import graft.Engine
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Harness entry point. One JVM runs one workload and writes its
  * result file (metrics, counts, provenance, per-query detail) as JSON;
  * `run.py` adds the DuckDB oracle check and prints the final line.
  *
  * {{{
  * graftbench.Main --workload bi_core --data <tables dir> --work <dir>
  *   --seed 1 --seconds 20 --trace 0 --out result.json
  *   [--queries q1,q4] [--fail-query q4]
  * }}}
  */
object Main {
  final case class Args(workload: String, data: String, work: String, seed: Long,
      seconds: Double, trace: Boolean, out: String,
      queries: Option[Seq[String]], failQuery: Option[String])

  /** The benchmark's session is `local[Cores]` on the 4-core host class. */
  val Cores = 4

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"expected --name value pairs, got ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("data"), req("work"), req("seed").toLong,
      req("seconds").toDouble, req("trace") == "1", req("out"),
      m.get("queries").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq),
      m.get("fail-query"))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // resolve the query list before paying for a session, so a typo
    // fails in milliseconds
    val plan: Option[Seq[(String, Workloads.Query)]] = a.workload match {
      case "ingest_serve" => None
      case w => Some(Workloads.resolve(a.queries.getOrElse(Workloads.lists.getOrElse(w,
        throw new IllegalArgumentException(s"unknown workload $w")))))
    }
    a.failQuery.foreach(f => require(
      plan.exists(_.map(_._1).contains(Workloads.resolve(Seq(f)).head._1)),
      s"--fail-query $f is not in the workload"))
    val tracer = new Tracer(a.trace)
    val t0 = System.nanoTime()
    val spark = tracer.span("session") {
      Engine.session(s"local[$Cores]", shufflePartitions = Cores)
    }
    val sessionStartS = (System.nanoTime() - t0) / 1e9
    val listener = if (a.trace) Some(new GroupListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val prov = provenance(spark, a)
    val r = try plan match {
      case Some(qs) =>
        new BatchWorkload(spark, a, qs, tracer, listener, sessionStartS).run()
      case None =>
        new IngestServe(spark, a, tracer, listener, sessionStartS).run()
    } finally spark.stop()
    val nesting = Tracer.nestingViolations(tracer.all)
    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "attempted" -> r.attempted.toString,
      "failed" -> (r.failed + nesting.size).toString,
      "failures" -> Json.arr((r.failures ++ nesting.map("span nesting: " + _)).map(Json.str)),
      "e2e" -> Json.nums(r.e2e),
      "layers" -> Json.nums(r.layers),
      "detail" -> r.detail,
      "provenance" -> Json.strs(prov),
      "spans" -> (if (a.trace) Json.arr(tracer.all.map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ns" -> s.startNs.toString, "end_ns" -> s.endNs.toString)))) else "[]")))
    Files.writeString(Paths.get(a.out), json + "\n")
  }

  private def provenance(spark: SparkSession, a: Args): Seq[(String, String)] = {
    val conf = spark.sparkContext.getConf.getAll.toSeq
      .filter { case (k, _) => k.startsWith("spark.sql") || k == "spark.master" ||
        k.startsWith("spark.local") || k.startsWith("spark.serializer") }
      .sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(";")
    val memKb = scala.util.Try(scala.io.Source.fromFile("/proc/meminfo").getLines()
      .collectFirst { case l if l.startsWith("MemTotal:") => l.split("\\s+")(1) }
      .getOrElse("")).getOrElse("")
    Seq(
      "spark_conf" -> conf,
      "spark_version" -> spark.version,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "host_mem_kb" -> memKb,
      "jvm_max_heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "jdk" -> s"${sys.props("java.vendor")} ${sys.props("java.runtime.version")}",
      "seed" -> a.seed.toString,
      "cores" -> Cores.toString)
  }
}

/** What a workload hands back to [[Main]]. */
final case class Result(attempted: Long, failed: Long, failures: Seq[String],
    e2e: Seq[(String, Double)], layers: Seq[(String, Double)], detail: String)

object Workloads {
  type Query = (SparkSession, String) => org.apache.spark.sql.DataFrame

  val lists: Map[String, Seq[String]] = Map(
    "bi_core" -> Seq("q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9a", "q9b",
      "q10", "q11", "q12", "q15", "q17", "q20", "q26"),
    "ml_iterative" -> Seq("q60", "q61", "q62", "q63", "q90", "q96b"))

  /** Resolve query ids ("q9a") or full keys ("q9a_semi_join") against
    * `SparkEntry.queries`. An unknown or ambiguous name throws. */
  def resolve(names: Seq[String]): Seq[(String, Workloads.Query)] = {
    val all = graft.SparkEntry.queries
    require(names.nonEmpty, "empty query list")
    names.map { n =>
      val hits = if (all.contains(n)) Seq(n)
        else all.keys.filter(_.takeWhile(_ != '_') == n).toSeq
      require(hits.size == 1,
        if (hits.isEmpty) s"unknown query name: $n" else s"ambiguous query name $n: ${hits.mkString(",")}")
      hits.head -> all(hits.head)
    }
  }
}
