package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory for the graft engine.
  *
  * Tuned for the driver's local[32] single-JVM harness but with settings
  * that transfer to a real cluster: AQE on (runtime re-plan, skew-join
  * splitting), shuffle partitions sized to cores (the driver overrides
  * per-environment), UTC everywhere (oracle parity).
  */
object Engine {
  /** Shuffle/spill scratch directory for the local harnesses: tmpfs when
    * available (SPARK_GRAFT_LOCAL_DIR overrides). The box's root disk is
    * shared-VM virtio whose throughput swings with co-tenant IO, and that
    * noise lands exactly on the shuffle-heavy queries (observed as
    * unexplained 2-10x per-query swings across otherwise-identical
    * runs). The data is tiny relative to RAM, so tmpfs is safe here; a
    * real cluster provisions local SSDs for the same reason. */
  def localScratchDir: Option[String] =
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) Some("/dev/shm/graft-spark") else None
    }

  /** Root for per-JVM rebuilt store caches (bucketed/z-order/manifest):
    * the scratch tier, so co-tenant root-disk IO stays out of store-read
    * measurements. */
  def scratchRoot: String =
    localScratchDir.getOrElse(sys.props("java.io.tmpdir"))

  /** Per-JVM root for the rebuilt store caches. The build caches
    * (BucketedStore/ZOrderStore/ManifestStore `built`) are per-JVM, so
    * two concurrent JVMs sharing a deterministic path could
    * SaveMode.Overwrite a store the other is reading mid-scan; the PID
    * suffix gives each JVM its own namespace, and the shutdown hook
    * removes it so repeated runs don't accumulate stores in tmpfs. */
  private lazy val storeRoot: String = {
    sweepOrphanStores()
    val root = s"$scratchRoot/graft-stores-${ProcessHandle.current().pid()}"
    writeOwnerMarker(new java.io.File(root))
    Runtime.getRuntime.addShutdownHook(new Thread(() => rmTree(new java.io.File(root))))
    root
  }

  /** Identity of this JVM's pid namespace (`/proc/self/ns/pid` link
    * target, e.g. "pid:[4026531836]") — EXACTLY the condition under which
    * the sweep's ProcessHandle liveness test is sound: two containers
    * sharing a scratch mount (docker --ipc=host shares /dev/shm while pid
    * namespaces stay separate) report different ids, so a foreign
    * container's live store tree is never mistaken for a dead one. None
    * on platforms without /proc (the sweep then stands down). */
  private[graft] def pidNamespaceId: Option[String] =
    try Some(java.nio.file.Files.readSymbolicLink(
      java.nio.file.Paths.get("/proc/self/ns/pid")).toString)
    catch { case _: Exception => None }

  private val OwnerMarker = ".graft-owner-pidns"

  private[graft] def writeOwnerMarker(root: java.io.File): Unit = {
    root.mkdirs()
    pidNamespaceId.foreach { ns =>
      java.nio.file.Files.write(root.toPath.resolve(OwnerMarker),
        ns.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }

  private def ownerMarkerOf(dir: java.io.File): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      dir.toPath.resolve(OwnerMarker)), java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: Exception => None }

  private def rmTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** Remove store namespaces left by DEAD JVMs. The shutdown hook above
    * only fires on clean exit — a SIGKILLed suite (or an aborted spec
    * run) orphans its `graft-stores-<pid>` tree in tmpfs, where it
    * would squat on shared memory until reboot. Each new JVM therefore
    * sweeps siblings whose pid no longer exists before claiming its own
    * namespace. Conservative by construction: a live (even unrelated,
    * pid-reused) process keeps its directory; only verifiably-dead
    * owners are collected. The liveness test is only sound for a
    * pid-namespace-LOCAL owner (ProcessHandle sees this namespace only —
    * on a mount shared across containers, even the DEFAULT /dev/shm under
    * docker --ipc=host, another container's live pid looks dead here), so
    * ownership is proven by marker, not assumed from the path: each JVM
    * stamps its store root with its pid-namespace id
    * ([[writeOwnerMarker]]) and the sweep collects ONLY trees whose
    * marker matches this JVM's namespace — a foreign container's tree
    * (different namespace, or no marker at all) always survives. The
    * SPARK_GRAFT_LOCAL_DIR skip stays on top: an explicitly-managed
    * scratch's hygiene is the operator's. Spec-exercised in
    * BucketedStoreSpec. */
  private[graft] def sweepOrphanStores(): Unit = {
    if (sys.env.contains("SPARK_GRAFT_LOCAL_DIR")) return
    val myNs = pidNamespaceId
    if (myNs.isEmpty) return // no /proc: ownership unprovable, stand down
    val mine = ProcessHandle.current().pid()
    Option(new java.io.File(scratchRoot).listFiles()).foreach(_.foreach { f =>
      val n = f.getName
      if (f.isDirectory && n.startsWith("graft-stores-")) {
        n.stripPrefix("graft-stores-").toLongOption.foreach { pid =>
          val owner = ProcessHandle.of(pid)
          val alive = owner.isPresent && owner.get().isAlive
          val sameNs = ownerMarkerOf(f) == myNs
          if (pid != mine && !alive && sameNs) rmTree(f)
        }
      }
    })
  }

  /** Store directory for `family` keyed by source `dir` — the tag keeps
    * one store PER SOURCE DIR so a second dir's build can never clobber
    * a cached first (shared plumbing for the store family; the fold is a
    * stable 64-bit string hash), under the per-JVM [[storeRoot]]. */
  def storePath(family: String, dir: String): String = {
    val tag = java.lang.Long.toHexString(
      dir.foldLeft(1125899906842597L)((a, c) => a * 31 + c))
    s"$storeRoot/$family/$tag"
  }

  /** Spark's RocksDB state-store provider class (ships with Spark 4; the
    * rocksdbjni native library is on the classpath). The default in-heap
    * HDFSBackedStateStoreProvider keeps EVERY stateful-stream key's state
    * on the executor heap — at 100x key cardinality that is the one real
    * streaming scale cliff, while RocksDB keeps a bounded block cache in
    * memory and the working set on executor-local disk. Enable
    * engine-wide via [[session]]'s `rocksDbStateStore` (or
    * SPARK_GRAFT_ROCKSDB=1), or per-query by setting the
    * `spark.sql.streaming.stateStore.providerClass` SQL conf on a
    * `newSession` (how StreamingSpec pins output + restart parity
    * against the in-heap provider). Checkpoints are provider-specific —
    * switch providers only with a fresh checkpoint location. */
  val RocksDbStateStoreProvider: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** AQE partition-coalescing floor (spark.sql.adaptive.coalescePartitions
    * .minPartitionSize). Spark's default (1m) is sized for cluster-scale
    * shuffles; with `parallelismFirst` (default true) the coalescer
    * targets max(bytes/parallelism, minPartitionSize), so on small
    * inputs the 1m floor collapses every exchange to a handful of
    * partitions and leaves the other cores idle — measured at sf0.1:
    * q81 5→52 tasks = 1.23→0.75 s, q69 5.3→2.0 s, q77 4.5→2.6 s. The
    * floor is only binding when bytes/parallelism < floor, i.e. it is a
    * SMALL-INPUT knob: at production shuffle sizes bytes/parallelism
    * dominates and the value is inert, so lowering it is scale-neutral
    * (SPARK_GRAFT_MIN_PARTITION_SIZE overrides; a cluster wanting fewer,
    * larger partitions for many-small-blocks reasons raises it). */
  def aqeMinPartitionSize: String =
    sys.env.getOrElse("SPARK_GRAFT_MIN_PARTITION_SIZE", "64kb")

  /** Right-size a MATERIALIZED cached frame for repeated cheap aggregate
    * passes: ceil(cachedBytes / target) partitions, never more than the
    * frame already has. The iterative trainers (q63's level histograms,
    * q90's 20 gradient rounds) launch one job per pass over a small
    * cached projection; featurization wants every core, but afterwards a
    * few-MB frame spread over defaultParallelism partitions pays
    * cores × task-launch per pass for sub-millisecond per-task compute
    * (guide §1.2/§2: partition count follows bytes, not cores).
    * `coalesce` on a cached frame merges cached partitions without a
    * shuffle. Scale-adaptive by construction — it only ever REDUCES
    * partition count, so a big frame (≥ target bytes/partition already)
    * is untouched and the coalesce is a no-op; the target is
    * env-overridable (SPARK_GRAFT_PASS_TARGET_BYTES, default 8 MiB —
    * measured optimum for the CPU-dense trainer passes: per-task compute
    * of a few tens of ms against ~5 ms task overhead; the A/B at sf0.1
    * had q63 = 3.7-4.0 s uncoalesced, 3.6 s at one partition, 2.7 s at
    * 8 MiB, q90 flat-to-better at 8 MiB — guide §1.2, task sizing from
    * measurement). Call only after the cache is materialized, so stats
    * reflect actual cached bytes. */
  def rightSizedForPasses(df: DataFrame): DataFrame = {
    val target = sys.env.get("SPARK_GRAFT_PASS_TARGET_BYTES")
      .flatMap(_.toLongOption).filter(_ > 0).getOrElse(8L << 20)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val k = ((bytes + target - 1) / target).max(1)
    val cur = df.rdd.getNumPartitions
    if (k < cur) df.coalesce(k.toInt) else df
  }

  /** The graft session. Its `file:` scheme, for both Hadoop APIs, is
    * [[graft.sources.LocalFs]]: Hadoop's local filesystem with the same
    * calls and results, but no `chmod`/`readlink` process per file
    * created or renamed. Hadoop caches the first `file:` `FileSystem` of
    * the JVM, so build the session before any other Hadoop call, or
    * that call's stock filesystem is the one every later caller gets. */
  def session(master: String = "local[*]", shufflePartitions: Int = 32,
      rocksDbStateStore: Boolean =
        sys.env.get("SPARK_GRAFT_ROCKSDB").contains("1")): SparkSession = {
    val b0 = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        aqeMinPartitionSize)
      .config("spark.sql.session.timeZone", "UTC")
      // testdata events.parquet carries TIMESTAMP(NANOS); read as long ns
      // (DuckDB truncates the same column to micros, so derived values agree)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config(graft.sources.LocalFs.sessionConf.toMap)
    val b =
      if (rocksDbStateStore)
        b0.config("spark.sql.streaming.stateStore.providerClass",
          RocksDbStateStoreProvider)
      else b0
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
