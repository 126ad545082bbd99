package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.security.MessageDigest
import scala.collection.mutable

/** Closed loop, one client: the workload's queries run one after the
  * other, each after `clearCache()`, each driven to completion by a
  * noop write.
  *
  * Set-up (timed as `setup_s`): the session start plus untimed
  * verification. Pass 1 runs every query:
  * it writes each oracle row's result as parquet for the DuckDB compare
  * in `run.py` and hashes each rows-only result. Pass 2 re-runs the
  * rows-only queries, whose results must be non-empty with identical
  * hashes. Then `WarmPasses` untimed full passes let the JIT settle.
  *
  * The timed loop then repeats full passes until `seconds` run out (at
  * least one). In a traced run, even passes are traced (spans, a forced
  * `executedPlan`) and odd passes are not, so the tracing overhead is
  * measured inside the run; it runs at least two passes.
  */
final class BatchWorkload(spark: SparkSession, a: Main.Args,
    queries: Seq[(String, Workloads.Query)], tracer: Tracer,
    listener: Option[GroupListener], sessionStartS: Double) {

  private val sc = spark.sparkContext
  private val oracle = graft.SparkEntry.oracleSql
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted, failed = 0L
  /** Untimed full passes after the verification pass. */
  private val WarmPasses = 2
  private val failName: Option[String] = a.failQuery.map(f => Workloads.resolve(Seq(f)).head._1)

  /** One timed execution. `phases` are (construct, plan, execute)
    * seconds; plan is 0 in an untraced pass, where it is not forced. */
  case class Sample(query: String, pass: Int, traced: Boolean, wall: Double,
      phases: (Double, Double, Double), persistedAfterClear: Int)

  private def fail(what: String, e: Throwable): Unit = {
    failed += 1
    failures += s"$what: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"
  }

  private def build(name: String, fn: Workloads.Query): DataFrame = {
    if (failName.contains(name)) throw new IllegalStateException(s"injected failure in $name")
    fn(spark, a.data)
  }

  private def contentHash(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Untimed verification pass; returns each rows-only query's hash.
    * Pass 1 runs every query, pass 2 only the rows-only ones. */
  private def verifyPass(pass: Int, qs: Seq[(String, Workloads.Query)]): Map[String, String] =
    qs.flatMap { case (name, fn) =>
      attempted += 1
      spark.catalog.clearCache()
      sc.setJobGroup(s"verify:$name:$pass", s"verify $name")
      try {
        val df = build(name, fn)
        if (oracle.contains(name)) {
          df.coalesce(1).write.mode("overwrite").parquet(s"${a.work}/verify/$name")
          None
        } else {
          val rows = df.collect()
          if (rows.isEmpty) throw new IllegalStateException("rows-only query returned no rows")
          Some(name -> contentHash(rows))
        }
      } catch { case e: Throwable => fail(s"verify $name pass $pass", e); None }
      finally sc.clearJobGroup()
    }.toMap

  private def timeOne(name: String, fn: Workloads.Query, pass: Int, traced: Boolean): Option[Sample] = {
    attempted += 1
    spark.catalog.clearCache()
    val persisted = sc.getPersistentRDDs.size
    def group(phase: String) = sc.setJobGroup(s"q:$name:$pass:$phase", s"$name $phase")
    def span[T](n: String)(b: => T): T = if (traced) tracer.span(n)(b) else b
    val t0 = System.nanoTime()
    try {
      var c, p, e = 0.0
      span("query") {
        var t = System.nanoTime()
        group("construct")
        val df = span("construct")(build(name, fn))
        c = (System.nanoTime() - t) / 1e9
        if (traced) {
          t = System.nanoTime()
          group("plan")
          span("plan")(df.queryExecution.executedPlan)
          p = (System.nanoTime() - t) / 1e9
        }
        t = System.nanoTime()
        group("execute")
        span("execute")(df.write.format("noop").mode("overwrite").save())
        e = (System.nanoTime() - t) / 1e9
      }
      Some(Sample(name, pass, traced, (System.nanoTime() - t0) / 1e9, (c, p, e), persisted))
    } catch { case e: Throwable => fail(s"$name pass $pass", e); None }
    finally sc.clearJobGroup()
  }

  def run(): Result = {
    val tSetup = System.nanoTime()
    val h1 = verifyPass(1, queries)
    val h2 = verifyPass(2, queries.filterNot(q => oracle.contains(q._1)))
    h1.foreach { case (q, h) =>
      if (h2.get(q).exists(_ != h)) {
        failed += 1
        failures += s"$q: rows-only content hash differs across passes"
      }
    }
    // Warm-up: after the verification pass alone, each timed pass still
    // ran faster than the one before, so the JIT settles here, untimed.
    for (w <- 1 to WarmPasses) queries.foreach { case (n, fn) => timeOne(n, fn, -w, traced = false) }
    val setupS = sessionStartS + (System.nanoTime() - tSetup) / 1e9

    val samples = mutable.ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    val tRun = System.nanoTime()
    var pass = 0
    var heapMb = Double.NaN
    // a traced run alternates traced and untraced passes, so it needs two
    val minPasses = if (a.trace) 2 else 1
    val passWall = mutable.ArrayBuffer.empty[Double]
    while (pass < minPasses || System.nanoTime() < deadline) {
      val tp = System.nanoTime()
      val traced = a.trace && pass % 2 == 0
      queries.foreach { case (n, fn) => samples ++= timeOne(n, fn, pass, traced) }
      passWall += (System.nanoTime() - tp) / 1e9
      // the live set after the first timed pass: the same amount of prior
      // work in every run, whatever the host speed
      if (pass == 0) { spark.catalog.clearCache(); heapMb = Stats.heapAfterGcMb() }
      pass += 1
    }
    val runS = (System.nanoTime() - tRun) / 1e9
    listener.foreach(_.settle())

    // A query without a single successful timed sample has no median;
    // it is named as a failure and never contributes a (fast) time.
    val untraced = samples.filterNot(_.traced)
    val base = if (untraced.nonEmpty) untraced else samples
    val medWall: Seq[(String, Double)] = queries.map(_._1).flatMap { q =>
      val w = base.filter(_.query == q).map(_.wall).toSeq
      if (w.isEmpty) { failures += s"$q: no successful timed sample"; None }
      else Some(q -> Stats.median(w))
    }
    val allWalls = base.map(_.wall * 1000).toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "query_total_s" -> medWall.map(_._2).sum,
      "query_geomean_s" -> Stats.geomean(medWall.map(_._2)),
      "latency_p50_ms" -> Stats.median(allWalls),
      "latency_p95_ms" -> Stats.quantile(allWalls, 0.95),
      "throughput_per_s" -> base.size / base.map(_.wall).sum,
      "heap_live_mb" -> heapMb)

    val layers = listener.map(l => batchLayers(l, samples.toSeq)).getOrElse(Nil)
    val tracedSamples = listener.map { l =>
      Json.arr(samples.filter(_.traced).map { s =>
        val c = counters(l, s)
        Json.obj(Seq("query" -> Json.str(s.query), "pass" -> s.pass.toString) ++
          Seq("wall_s" -> s.wall, "construct_s" -> s.phases._1, "plan_s" -> s.phases._2,
            "execute_s" -> s.phases._3, "jobs" -> c.jobs.toDouble, "stages" -> c.stages.toDouble,
            "tasks" -> c.tasks.toDouble, "task_busy_s" -> c.taskBusyNs / 1e9)
            .map { case (k, v) => k -> Json.num(v) })
      }.toSeq)
    }.getOrElse("[]")
    val detail = Json.obj(Seq(
      "passes" -> pass.toString,
      "timed_samples" -> base.size.toString,
      "pass_wall_s" -> Json.arr(passWall.map(Json.num).toSeq),
      "setup_s" -> Json.num(setupS),
      "timed_seconds" -> Json.num(runS),
      "rows_only_hashes" -> Json.strs(h1.toSeq.sortBy(_._1)),
      "oracle_sql" -> Json.strs(queries.map(_._1).filter(oracle.contains).map(q => q -> oracle(q))),
      "median_wall_s" -> Json.nums(medWall),
      "wall_s" -> Json.obj(queries.map(_._1).map(q =>
        q -> Json.arr(base.filter(_.query == q).map(x => Json.num(x.wall)).toSeq))),
      "traced_samples" -> tracedSamples))
    Result(attempted, failed, failures.toSeq, e2e, layers ++ Layers.zeroStream, detail)
  }

  /** Counters of one sample: its construct, plan and execute groups. */
  private def counters(l: GroupListener, s: Sample, phases: Seq[String] =
      Seq("construct", "plan", "execute")): Counters = {
    val c = new Counters
    phases.foreach(p => c += l.get(s"q:${s.query}:${s.pass}:$p"))
    c
  }

  private def batchLayers(l: GroupListener, samples: Seq[Sample]): Seq[(String, Double)] = {
    val traced = samples.filter(_.traced)
    val untraced = samples.filterNot(_.traced)
    val qs = queries.map(_._1)
    def medOf(f: Sample => Double): Double =
      qs.map(q => Stats.median(traced.filter(_.query == q).map(f))).filterNot(_.isNaN).sum
    def all(s: Sample) = counters(l, s)
    val busy = traced.map(s => all(s).taskBusyNs / 1e9).sum
    val wall = traced.map(_.wall).sum
    def wallMedians(ss: Seq[Sample]) =
      qs.map(q => Stats.median(ss.filter(_.query == q).map(_.wall))).filterNot(_.isNaN).sum
    val overhead = wallMedians(traced) - wallMedians(untraced)
    Seq(
      "session_start_s" -> sessionStartS,
      "construct_s" -> medOf(_.phases._1),
      "construct_jobs" -> medOf(s => counters(l, s, Seq("construct")).jobs.toDouble),
      "plan_s" -> medOf(_.phases._2),
      "exec_s" -> medOf(_.phases._3),
      "jobs" -> medOf(s => all(s).jobs.toDouble),
      "stages" -> medOf(s => all(s).stages.toDouble),
      "tasks" -> medOf(s => all(s).tasks.toDouble),
      "task_busy_s" -> medOf(s => all(s).taskBusyNs / 1e9),
      "core_busy_ratio" -> busy / (Main.Cores * wall),
      "shuffle_bytes" -> medOf(s => all(s).shuffleBytes.toDouble),
      "input_bytes" -> medOf(s => all(s).inputBytes.toDouble),
      "spill_bytes" -> medOf(s => all(s).spillBytes.toDouble),
      "persisted_rdds_after_clear" -> samples.map(_.persistedAfterClear).max.toDouble,
      "unattributed_s" -> traced.map(s => s.wall - s.phases._1 - s.phases._2 - s.phases._3).sum /
        math.max(1, traced.map(_.pass).distinct.size),
      "trace_overhead_s" -> overhead,
      "trace_overhead_pct" -> 100 * overhead / wallMedians(untraced))
  }
}

/** Per-layer metric names shared by every workload; a workload that
  * does not touch a layer reports it as 0. */
object Layers {
  val batch: Seq[String] = Seq("construct_s", "construct_jobs", "plan_s", "exec_s", "jobs",
    "stages", "tasks", "task_busy_s", "core_busy_ratio", "shuffle_bytes", "input_bytes",
    "spill_bytes", "persisted_rdds_after_clear")
  val stream: Seq[String] = Seq("trigger_ms", "add_batch_ms", "query_planning_ms",
    "wal_commit_ms", "state_commit_ms", "state_rows", "state_rows_per_key",
    "jobs_per_trigger", "batch_rows", "files_rewritten_per_commit", "write_amp",
    "abandoned_slots", "probe_resolve_ms", "probe_read_ms", "probe_jobs", "probe_files_read")
  def zeroStream: Seq[(String, Double)] = stream.map(_ -> 0.0)
  def zeroBatch: Seq[(String, Double)] = batch.map(_ -> 0.0)
}
