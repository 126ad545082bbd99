package graftbench

import graft.sources.VersionedStore
import graft.streaming.{KafkaSource, Streams, UpsertSink}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.SplittableRandom
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The paper's pipeline under an open-loop load, with one closed-loop
  * reader beside it.
  *
  * A generator thread offers order-CSV lines at a fixed rate (chunks
  * every 50 ms) to `KafkaSource.orderEvents` → `Streams.entityStream`
  * → `UpsertSink.writeTo`, which commits each trigger into a
  * `VersionedStore`. A reader thread probes one already-committed
  * entity key at a time through `VersionedStore.versions` +
  * `VersionedStore.readKeys`.
  *
  * Set-up (timed as `setup_s`): session start, a seeding trigger of
  * `2 × rate` events, then two warm-up triggers. After the timed window
  * the generator and the reader stop, the stream drains, and `Bursts`
  * closed-loop bursts measure capacity. Last, the final store is
  * compared with an exact recomputation of the entity fold over every
  * generated event; every probe answer must be a state its key passed
  * through.
  */
final class IngestServe(spark: SparkSession, a: Main.Args, tracer: Tracer,
    listener: Option[GroupListener], sessionStartS: Double) {
  import spark.implicits._

  private val sc = spark.sparkContext
  private val failures = mutable.ArrayBuffer.empty[String]
  private var attempted, failed = 0L
  private val store = s"${a.work}/store"
  private val chunkMs = 50L
  /** Offered events per second: about half the burst capacity measured
    * on the 4-core anchor host (see README.md). */
  private val Rate = 1250
  /** The custkey space: the sf0.1 customer table's 15,000 keys, the
    * orders the reference publisher replays (datagen.py; the project's
    * sf0.1 test data has the same count). */
  private val Keys = 15000
  /** Capacity probe after the window: `Bursts` triggers of
    * `BurstFactor × rate` events each, offered at once. */
  private val Bursts = 3
  private val BurstFactor = 4

  // ---- events: (custkey, status, amount in cents), skewed custkeys ----
  private val maxEvents = (Rate * (a.seconds + 30) + 4 * Rate + Bursts * BurstFactor * Rate).toInt
  private val evKey = new Array[Long](maxEvents)
  private val evStatus = new Array[Byte](maxEvents)
  private val evCents = new Array[Int](maxEvents)
  locally {
    val rnd = new SplittableRandom(a.seed)
    val statuses = "OFP".getBytes
    var i = 0
    while (i < maxEvents) {
      // Skew, chosen rather than measured: key = Keys · u³, a density
      // ∝ k^(-2/3). Key 0 takes 4.1% of the events, the hottest 1% of
      // keys 21.5%, the hottest 10% 46%, the coldest half 21%.
      evKey(i) = math.min(Keys - 1, (Keys * math.pow(rnd.nextDouble(), 3)).toLong)
      evStatus(i) = statuses(rnd.nextInt(3))
      evCents(i) = 100 + rnd.nextInt(49900)
      i += 1
    }
  }
  private def amountStr(c: Int) = f"${c / 100}%d.${c % 100}%02d"
  private def line(i: Int) =
    s"$i,${evKey(i)},${evStatus(i).toChar},${amountStr(evCents(i))},3-MEDIUM"

  // ---- chunks offered so far: offset → (first event, end event, stamp) ----
  private case class Chunk(offset: Long, from: Int, until: Int, genNs: Long)
  private val chunks = mutable.ArrayBuffer.empty[Chunk]
  private val input = MemoryStream[String](implicitly[org.apache.spark.sql.Encoder[String]], spark)
  private var sent = 0

  /** Offer the next `n` events as one chunk stamped `genNs`: the time it
    * was due, so a stalled generator's lateness counts in freshness. */
  private def offer(n: Int, genNs: Long = System.nanoTime()): Unit = {
    val from = sent
    val until = math.min(maxEvents, sent + n)
    require(until > from || n == 0, "event buffer exhausted")
    if (until > from) {
      val off = input.addData((from until until).map(line)).json.toLong
      chunks.synchronized(chunks += Chunk(off, from, until, genNs))
      sent = until
    }
  }

  // ---- progress events ----
  private case class Progress(batchId: Long, endOffset: Long, arrivalNs: Long,
      durations: Map[String, Long], inputRows: Long, stateRows: Long, stateCommitMs: Long)
  private val progress = mutable.ArrayBuffer.empty[Progress]
  private val committedEvents = new AtomicLong(0)

  private val progressListener = new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = {
      val now = System.nanoTime()
      val p = e.progress
      val end = Option(p.sources.headOption.map(_.endOffset).orNull).map(_.trim.toLong).getOrElse(-1L)
      val st = p.stateOperators.headOption
      progress.synchronized(progress += Progress(p.batchId, end, now,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows,
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.commitTimeMs).getOrElse(0L)))
      chunks.synchronized(chunks.filter(_.offset <= end).lastOption)
        .foreach(c => committedEvents.accumulateAndGet(c.until.toLong, math.max))
    }
  }

  // ---- probes ----
  private case class Probe(key: Long, traced: Boolean, wallNs: Long, resolveNs: Long,
      readNs: Long, jobGroup: String, filesRead: Long, rows: Seq[Row])
  private val probes = mutable.ArrayBuffer.empty[Probe]

  private object Plans extends AdaptiveSparkPlanHelper {
    def filesRead(p: SparkPlan): Long =
      collectWithSubqueries(p) { case n if n.metrics.contains("numFiles") =>
        n.metrics("numFiles").value }.sum
  }

  private def probeOnce(n: Int, key: Long, traced: Boolean): Probe = {
    val g = s"probe:$n"
    sc.setJobGroup(g, "probe")
    def span[T](s: String)(b: => T): T = if (traced) tracer.span(s)(b) else b
    try {
      val t0 = System.nanoTime()
      var resolveNs, readNs, files = 0L
      val rows = span("probe") {
        val vs = span("probe.resolve")(VersionedStore.versions(spark, store))
        val t1 = System.nanoTime(); resolveNs = t1 - t0
        val r = span("probe.read") {
          val df = VersionedStore.readKeys(spark, store, vs.max, Seq(key).toDF("custkey"), "custkey")
          val out = df.collect().toSeq
          if (traced) files = Plans.filesRead(df.queryExecution.executedPlan)
          out
        }
        readNs = System.nanoTime() - t1
        r
      }
      Probe(key, traced, System.nanoTime() - t0, resolveNs, readNs, g, files, rows)
    } finally sc.clearJobGroup()
  }

  def run(): Result = {
    spark.streams.addListener(progressListener)
    val tSetup = System.nanoTime()
    val query = UpsertSink.writeTo(
      Streams.entityStream(KafkaSource.orderEvents(input.toDS())), store, s"${a.work}/checkpoint")
    try {
      offer(2 * Rate)
      drain(query)
      for (_ <- 1 to 2) { offer(Rate / 2); drain(query) }
      val setupS = sessionStartS + (System.nanoTime() - tSetup) / 1e9
      val warmBatches = progress.synchronized(progress.map(_.batchId).maxOption.getOrElse(-1L))
      val warmChunks = chunks.synchronized(chunks.size)
      val sentAtRun = sent

      val stop = new AtomicBoolean(false)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val tRun = System.nanoTime()
      // how late the generator ran behind its schedule, at worst
      val generatorLagNs = new AtomicLong(0)
      val generator = new Thread(() => try {
        var k = 1L
        while (!stop.get) {
          val due = tRun + k * chunkMs * 1000000L
          val wait = due - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
          else generatorLagNs.accumulateAndGet(-wait, math.max)
          val target = (Rate.toLong * (due - tRun) / 1000000000L).toInt
          offer(target - (sent - sentAtRun), due)
          k += 1
        }
      } catch { case e: Throwable => errors.add(e) }, "bench-generator")
      val reader = new Thread(() => {
        val rnd = new SplittableRandom(a.seed * 31 + 7)
        var n = 0
        while (!stop.get) {
          n += 1
          val key = evKey(rnd.nextInt(math.max(1, committedEvents.get.toInt)))
          try probes.synchronized(probes) += probeOnce(n, key, a.trace && n % 2 == 0)
          catch { case e: Throwable => errors.add(e) }
        }
      }, "bench-reader")
      generator.start(); reader.start()
      Thread.sleep((a.seconds * 1000).toLong)
      stop.set(true)
      generator.join(); reader.join()
      val tEnd = System.nanoTime()
      val backlog = sent - committedEvents.get
      val runS = (tEnd - tRun) / 1e9
      errors.asScala.foreach { e =>
        attempted += 1
        failed += 1
        failures += s"probe/generator: ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      drain(query)
      val windowChunks = chunks.synchronized(chunks.drop(warmChunks).toList)
      val capacity = (1 to Bursts).flatMap(_ => burst(query))
      // the stream is idle now: its state and the store's caches are live
      val heapMb = Stats.heapAfterGcMb()
      listener.foreach(_.settle())

      val after = progress.synchronized(progress.filter(_.batchId > warmBatches).sortBy(_.batchId).toList)
      // triggers that ended inside the window: the open-loop steady state
      val timed = after.filter(p => p.arrivalNs > tRun && p.arrivalNs <= tEnd)
      // freshness of every event: its chunk's stamp to the arrival of the
      // first progress event whose end offset covers it
      val fresh = windowChunks.flatMap { c =>
        after.find(_.endOffset >= c.offset).map(p =>
          ((p.arrivalNs - c.genNs) / 1e6, c.until - c.from))
      }
      val freshMs = fresh.flatMap { case (ms, n) => Seq.fill(n)(ms) }
      val trigMs = timed.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)
      val events = timed.map(_.inputRows).sum
      val ps = probes.synchronized(probes.toList)
      val untracedPs = ps.filterNot(_.traced)
      val probeMs = (if (untracedPs.nonEmpty) untracedPs else ps).map(_.wallNs / 1e6)
      attempted += ps.size + after.size

      val storeRows = UpsertSink.readStore(spark, store).collect()
      checkStore(storeRows)
      checkProbes(ps)

      // the probe is the workload's only read: its median is both the
      // total and the geometric mean over read operations
      val probeS = Stats.median(probeMs) / 1e3
      val e2e = Seq(
        "setup_s" -> setupS,
        "query_total_s" -> probeS,
        "query_geomean_s" -> probeS,
        "latency_p50_ms" -> Stats.median(freshMs),
        "latency_p95_ms" -> Stats.quantile(freshMs, 0.95),
        "throughput_per_s" -> Stats.median(capacity),
        "heap_live_mb" -> heapMb)
      val layers = listener.map(l => streamLayers(l, timed, ps, storeRows.length)).getOrElse(Nil)
      val detail = Json.obj(Seq(
        "offered_rate_events_per_s" -> Rate.toString,
        "keys" -> Keys.toString,
        "timed_seconds" -> Json.num(runS),
        "events_total" -> sent.toString,
        "timed_triggers" -> timed.size.toString,
        "generator_lag_max_ms" -> Json.num(generatorLagNs.get / 1e6),
        "backlog_events_at_window_end" -> backlog.toString,
        "freshness_chunks" -> fresh.size.toString,
        "timed_events" -> events.toString,
        "probes" -> ps.size.toString,
        "probe_p50_ms" -> Json.num(Stats.median(probeMs)),
        "probe_p95_ms" -> Json.num(Stats.quantile(probeMs, 0.95)),
        "probes_per_s" -> Json.num(ps.size / runS),
        "freshness_p50_ms" -> Json.num(Stats.median(freshMs)),
        "freshness_p95_ms" -> Json.num(Stats.quantile(freshMs, 0.95)),
        "ingest_capacity_events_per_s" -> Json.num(Stats.median(capacity)),
        "capacity_samples" -> Json.arr(capacity.map(Json.num)),
        "open_loop_events_per_trigger_s" -> Json.num(events / (trigMs.sum / 1e3)),
        "trigger_p50_ms" -> Json.num(Stats.median(trigMs)),
        "store_keys" -> storeRows.length.toString))
      Result(attempted, failed, failures.toSeq, e2e, Layers.zeroBatch ++ layers, detail)
    } finally {
      query.stop()
      spark.streams.removeListener(progressListener)
    }
  }

  /** Offer one burst and wait for its trigger; events ÷ trigger wall. */
  private def burst(query: org.apache.spark.sql.streaming.StreamingQuery): Option[Double] = {
    offer(BurstFactor * Rate)
    drain(query).map(x => x.inputRows / (x.durations.getOrElse("triggerExecution", 0L) / 1e3))
  }

  /** Process everything offered so far and wait for the progress event
    * of the trigger that covered the last chunk. */
  private def drain(query: org.apache.spark.sql.streaming.StreamingQuery): Option[Progress] = {
    val off = chunks.synchronized(chunks.last.offset)
    query.processAllAvailable()
    val deadline = System.nanoTime() + 10000000000L
    var p: Option[Progress] = None
    while (p.isEmpty && System.nanoTime() < deadline) {
      p = progress.synchronized(progress.find(_.endOffset >= off))
      if (p.isEmpty) Thread.sleep(10)
    }
    p
  }

  // ---- correctness ----
  private case class State(trips: Long, cents: Long, maxAmount: Double, open: Long, fulfilled: Long)

  private def fold(s: State, i: Int): State = State(s.trips + 1, s.cents + evCents(i),
    math.max(s.maxAmount, amountStr(evCents(i)).toDouble),
    s.open + (if (evStatus(i) == 'O') 1 else 0), s.fulfilled + (if (evStatus(i) == 'F') 1 else 0))

  private val empty = State(0, 0, Double.MinValue, 0, 0)

  private def matches(r: Row, s: State): Boolean =
    r.getAs[Long]("totalTrips") == s.trips &&
      r.getAs[Double]("totalAmount") == s.cents / 100.0 &&
      r.getAs[Double]("maxAmount") == s.maxAmount &&
      r.getAs[Long]("openTrips") == s.open && r.getAs[Long]("fulfilledTrips") == s.fulfilled

  private def mismatch(what: String): Unit = { failed += 1; failures += what }

  /** The final store equals the entity fold over all generated events. */
  private def checkStore(rows: Array[Row]): Unit = {
    attempted += 1
    val expected = mutable.LongMap.empty[State]
    for (i <- 0 until sent) expected(evKey(i)) = fold(expected.getOrElse(evKey(i), empty), i)
    val got = rows.map(r => r.getAs[Long]("custkey") -> r).toMap
    val bad = expected.keys.count(k => !got.get(k).exists(matches(_, expected(k))))
    if (bad > 0 || got.size != expected.size)
      mismatch(s"final store: $bad of ${expected.size} keys differ from the batch fold " +
        s"(store has ${got.size} keys)")
  }

  /** Every probe answer is one row, equal to the fold of its key's first
    * `totalTrips` events: a state the key actually passed through. */
  private def checkProbes(ps: Seq[Probe]): Unit = {
    val byKey = mutable.LongMap.empty[mutable.ArrayBuffer[Int]]
    val probed = ps.map(_.key).toSet
    for (i <- 0 until sent if probed(evKey(i))) byKey.getOrElseUpdate(evKey(i), mutable.ArrayBuffer.empty) += i
    ps.foreach { p =>
      val ok = p.rows.size == 1 && {
        val n = p.rows.head.getAs[Long]("totalTrips").toInt
        val evs = byKey.getOrElse(p.key, mutable.ArrayBuffer.empty[Int])
        n >= 1 && n <= evs.size && matches(p.rows.head, evs.take(n).foldLeft(empty)(fold))
      }
      if (!ok) mismatch(s"probe of key ${p.key} answered ${p.rows.mkString(";")}: not a state the key passed through")
    }
  }

  // ---- per-layer ----
  private def streamLayers(l: GroupListener, timed: Seq[Progress], ps: Seq[Probe],
      storeKeys: Int): Seq[(String, Double)] = {
    def med(k: String) = Stats.median(timed.map(_.durations.getOrElse(k, 0L).toDouble))
    val traced = ps.filter(_.traced)
    val untraced = ps.filterNot(_.traced)
    val (rewritten, newBytes, commits) = commitShape()
    val lastState = timed.lastOption.map(_.stateRows).getOrElse(0L)
    val storeBytes = fileBytes(VersionedStore.versionFiles(spark, store, VersionedStore.versions(spark, store).max))
    val batchBytes = batchKeys().toDouble * storeBytes / math.max(1, storeKeys)
    val claims = {
      val p = new org.apache.hadoop.fs.Path(VersionedStore.claimsDir(store))
      val fs = p.getFileSystem(sc.hadoopConfiguration)
      if (fs.exists(p)) fs.listStatus(p).length else 0
    }
    val phases = Seq("addBatch", "getBatch", "latestOffset", "queryPlanning", "walCommit", "commitOffsets")
    val unattributed = timed.map(p => p.durations.getOrElse("triggerExecution", 0L) -
      phases.map(p.durations.getOrElse(_, 0L)).sum).sum / 1e3 / math.max(1, timed.size)
    val probeMed = (xs: Seq[Probe]) => Stats.median(xs.map(_.wallNs / 1e9))
    val overhead = probeMed(traced) - probeMed(untraced)
    // trigger spans (and their phases) from the progress events, for the span file
    timed.foreach { p =>
      val end = p.arrivalNs
      var t = end - p.durations.getOrElse("triggerExecution", 0L) * 1000000L
      val id = tracer.record("trigger", -1, t, end)
      phases.foreach { ph => p.durations.get(ph).foreach { ms =>
        val e = math.min(end, t + ms * 1000000L)
        tracer.record(s"trigger.$ph", id, t, e); t = e } }
    }
    Seq(
      "session_start_s" -> sessionStartS,
      "trigger_ms" -> med("triggerExecution"),
      "add_batch_ms" -> med("addBatch"),
      "query_planning_ms" -> med("queryPlanning"),
      "wal_commit_ms" -> med("walCommit"),
      "state_commit_ms" -> Stats.median(timed.map(_.stateCommitMs.toDouble)),
      "state_rows" -> lastState.toDouble,
      "state_rows_per_key" -> lastState.toDouble / math.max(1, storeKeys),
      "jobs_per_trigger" -> timed.map(p => l.get(s"trigger:${p.batchId}").jobs).sum.toDouble /
        math.max(1, timed.size),
      "batch_rows" -> Stats.median(timed.map(_.inputRows.toDouble)),
      "files_rewritten_per_commit" -> rewritten.toDouble / math.max(1, commits - 1),
      "write_amp" -> newBytes / math.max(1.0, batchBytes),
      "abandoned_slots" -> (claims - VersionedStore.versions(spark, store).size).toDouble,
      "probe_resolve_ms" -> Stats.median(traced.map(_.resolveNs / 1e6)),
      "probe_read_ms" -> Stats.median(traced.map(_.readNs / 1e6)),
      "probe_jobs" -> traced.map(p => l.get(p.jobGroup).jobs).sum.toDouble / math.max(1, traced.size),
      "probe_files_read" -> traced.map(_.filesRead).sum.toDouble / math.max(1, traced.size),
      "unattributed_s" -> unattributed,
      "trace_overhead_s" -> overhead,
      "trace_overhead_pct" -> 100 * overhead / probeMed(untraced))
  }

  /** Σ over all triggers of the distinct keys in the trigger's events:
    * the rows the upserts had to write. */
  private def batchKeys(): Long = {
    val ends = progress.synchronized(progress.map(_.endOffset).sorted.toList)
    val cs = chunks.synchronized(chunks.toList)
    ends.zip(-1L +: ends).map { case (end, prev) =>
      cs.filter(c => c.offset > prev && c.offset <= end)
        .flatMap(c => (c.from until c.until).map(evKey)).distinct.size.toLong
    }.sum
  }

  private def fileBytes(files: Seq[String]): Long = files.map { f =>
    val p = new org.apache.hadoop.fs.Path(f)
    p.getFileSystem(sc.hadoopConfiguration).getFileStatus(p).getLen
  }.sum

  /** Over consecutive committed versions: parent files no longer
    * referenced (rewritten), bytes of files new in each version, and the
    * number of versions. */
  private def commitShape(): (Long, Double, Int) = {
    val vs = VersionedStore.versions(spark, store)
    val files = vs.map(v => VersionedStore.versionFiles(spark, store, v).toSet)
    val pairs = (Set.empty[String] +: files).zip(files)
    val rewritten = pairs.drop(1).map { case (p, c) => (p -- c).size.toLong }.sum
    val newBytes = pairs.map { case (p, c) => fileBytes((c -- p).toSeq) }.sum.toDouble
    (rewritten, newBytes, vs.size)
  }
}
