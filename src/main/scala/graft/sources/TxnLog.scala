package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** THE COMMIT LOOP — the one optimistic protocol every versioned
  * committer runs (stream append, COW upsert/MERGE, COW and dv delete,
  * compaction, batch append), and the one owner of the txn-record
  * format. A committer supplies only its PLAN; the loop owns every
  * protocol step:
  *
  *  1. store birth (committers that start a txn lineage): create the
  *     txn dir before any claim, so commit detection is marker-gated
  *     from the first slot — and refuse a manifest-only (batch-built)
  *     store, whose versions the marker gate would hide;
  *  2. tip resolution through [[VersionedStore.committedTip]];
  *  3. the replay check, when the committer carries a stream batch id
  *     (structured streaming replays only its last batches, so a
  *     bounded window of recent markers decides — see
  *     [[alreadyCommitted]]);
  *  4. PLAN against the tip: "nothing to commit" returns before any
  *     claim (a no-op burns no slot), otherwise a [[Stage]];
  *  5. claim the slot ([[VersionedStore.claimVersion]]) and stage the
  *     version's data into it;
  *  6. settle ([[VersionedStore.settleBelow]]): wait for in-flight lower
  *     slots, then re-run the replay check if the tip moved;
  *  7. PUBLISH against the settled tip: write the manifest and side
  *     relations, or decline — the slot is abandoned and the loop
  *     re-plans against the new tip;
  *  8. the txn record, then the marker LAST, then the metadata
  *     checkpoint; then the post-commit
  *     [[VersionedStore.requireNoLineageGap]].
  *
  * Every exit after a claim that does not commit (decline, replay,
  * exception before the marker) writes the slot's abandon marker, so
  * concurrent settlers skip it at once instead of waiting out their
  * timeout. Retries are bounded by [[MaxAttempts]] with a jittered
  * linear backoff: under sustained N-way contention every loser
  * re-plans against the new tip, the backoff de-phases equal-speed
  * writers (the Delta ConcurrentModification retry shape), and the
  * bound fails loudly on a livelocked store instead of spinning.
  *
  * On-disk format: `claims/v<N>` (+ `v<N>.abandoned`), `data/...`
  * staging, `manifest/v<N>`, and `txn/v<N>/` holding a one-row
  * `(batch_id, commit_ts, operation)` parquet plus the zero-byte
  * `batch_<id>.marker` whose single atomic create IS the commit. A
  * manifest-only store (no txn dir) gets no record: its manifest is
  * the commit, and maintenance commits on it stay record-free. */
object TxnLog {

  /** Attempts per commit, shared by every committer. */
  val MaxAttempts = 10

  /** Given the SETTLED tip, write the manifest and side relations
    * (true) or decline (false: abandon the slot, re-plan). */
  type Publish = Option[Int] => Boolean
  /** Stage the version's data into claimed slot `v`; returns the
    * publish step. */
  type Stage = Int => Publish

  /** `committed`: the slot this call committed (None: the plan had
    * nothing to commit, or the batch was a replay). `tip`: the
    * committed tip the call ended on. */
  final case class Outcome(committed: Option[Int], tip: Option[Int])

  private def fsOf(s: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Run one commit through the protocol. `batchId` is the stream batch
    * id (replay-checked, stamped into the record); without one the
    * record carries the pseudo id `-(version)` — negative, so replay
    * checks never match it. `startsLineage` marks committers that may
    * create a txn-record store (appends and upserts); maintenance
    * commits run on either store flavor. */
  def commit(s: SparkSession, path: String, operation: String,
      batchId: Option[Long] = None, startsLineage: Boolean = false,
      settleTimeoutMs: Long = 30000L)(plan: Option[Int] => Option[Stage]): Outcome = {
    val fs = fsOf(s, path)
    val txn = new Path(VersionedStore.txnDir(path))
    if (startsLineage && !fs.exists(txn)) {
      // versions() lists manifests BEFORE the re-probe: a concurrent
      // birth that created the txn dir meanwhile is a txn store, not a
      // manifest-only one
      require(VersionedStore.versions(s, path).isEmpty || fs.exists(txn),
        s"store $path has manifest-only (batch-built) versions above its " +
          "txn tip: keyed upserts require a txn-lineage store (built " +
          "through upsertBatch/appendBatch/appendCommit)")
      fs.mkdirs(txn)
    }
    def replayed(tip: Option[Int]): Boolean =
      batchId.exists(alreadyCommitted(s, path, tip, _))
    var attempts = 0
    var abandoned = Set.empty[Int]
    while (attempts < MaxAttempts) {
      attempts += 1
      if (attempts > 1)
        Thread.sleep(100L * (attempts - 1) + (System.nanoTime() % 97))
      val tip = VersionedStore.committedTip(s, path)
      val stage = if (replayed(tip)) None else plan(tip)
      if (stage.isEmpty) return Outcome(None, tip)
      val v = VersionedStore.claimVersion(s, path, tip.getOrElse(0) + 1)
      val replay: Option[Outcome] =
        try {
          val publish = stage.get(v)
          val settled = VersionedStore.settleBelow(s, path, v, abandoned,
            settleTimeoutMs)
          if (settled != tip && replayed(settled)) Some(Outcome(None, settled))
          else if (!publish(settled)) None
          else {
            if (startsLineage || fs.exists(txn)) {
              writeRecord(s, path, v, batchId.getOrElse(-v.toLong), operation)
              VersionedStore.maybeCheckpoint(s, path, v)
            }
            VersionedStore.requireNoLineageGap(s, path, settled.getOrElse(0), v)
            return Outcome(Some(v), Some(v))
          }
        } catch {
          // a failure past the marker (checkpoint, lineage check) leaves
          // the slot committed: abandon-then-commit must never happen
          case e: Throwable if !isCommitted(fs, path, v) =>
            try VersionedStore.abandonSlot(s, path, v)
            catch { case a: Throwable => e.addSuppressed(a) }
            throw e
        }
      abandoned += v
      VersionedStore.abandonSlot(s, path, v)
      if (replay.isDefined) return replay.get
    }
    throw new IllegalStateException(
      s"$operation commit on $path lost the commit race $MaxAttempts " +
        "times — a writer is committing continuously; back off and retry")
  }

  // ---- the txn-record format ----

  private def markerName(batchId: Long): String = s"batch_$batchId.marker"

  /** The batch id a commit-marker file name carries; None for any other
    * file in the record dir. */
  private def markerBatchId(name: String): Option[Long] =
    if (name.startsWith("batch_") && name.endsWith(".marker"))
      name.stripPrefix("batch_").stripSuffix(".marker").toLongOption
    else None

  /** The commit markers of txn record `v` with the batch ids their
    * names carry — one listing; empty when the record is absent or
    * uncommitted. */
  private[graft] def markers(fs: FileSystem, path: String,
      v: Int): Seq[(Long, FileStatus)] =
    try fs.listStatus(new Path(VersionedStore.txnPath(path, v))).toSeq
      .flatMap(st => markerBatchId(st.getPath.getName).map(_ -> st))
    catch { case _: java.io.FileNotFoundException => Nil }

  private[graft] def isCommitted(fs: FileSystem, path: String, v: Int): Boolean =
    markers(fs, path, v).nonEmpty

  private def batchIds(fs: FileSystem, path: String, v: Int): Seq[Long] =
    markers(fs, path, v).map(_._1)

  private val RecordSchema = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("commit_ts", LongType, nullable = false),
    StructField("operation", StringType)))

  /** Commit slot `v`: the one-row `(batch_id, commit_ts, operation)`
    * parquet, written on the driver ([[LocalParquet.write]], no job),
    * then the marker LAST — its single atomic create is the commit (a
    * crash anywhere earlier leaves an uncommitted leftover),
    * and its name carries the batch id, so replay checks and the
    * batchId → version map need only filesystem listings. `commit_ts`
    * (wall clock) is what timestamp time travel resolves against
    * ([[VersionedStore.readAsOf]]); `operation` is the writer's intent
    * stamp ([[StoreLineage.history]]). */
  private[graft] def writeRecord(s: SparkSession, path: String, v: Int,
      batchId: Long, operation: String): Unit = {
    LocalParquet.write(s, VersionedStore.txnPath(path, v), LocalParquet.Table(
      RecordSchema, Seq(Row(batchId, System.currentTimeMillis(), operation))))
    StoreIo.ops.createMarker(fsOf(s, path),
      new Path(VersionedStore.txnPath(path, v) + "/" + markerName(batchId)))
  }

  // ---- replay ----

  /** batchId → version for every committed txn — checkpointed history
    * from the newest metadata checkpoint (one file read), marker-file
    * names for the tail above it (one directory listing each): zero
    * Spark jobs, O(interval) filesystem calls in store age. The audit
    * surface behind the windowed replay check. */
  def committedBatchIds(s: SparkSession, path: String): Map[Long, Int] = {
    val fs = fsOf(s, path)
    val live = VersionedStore.committedTxnVersions(s, path)
    val liveSet = live.toSet
    val ckpt = VersionedStore.readCheckpoint(s, path)
      .map(_._2).getOrElse(Seq.empty)
    val ckptIds = ckpt.filter(r => liveSet(r._1))
      .map(r => r._2 -> r._1).toMap
    val ckptSet = ckpt.map(_._1).toSet
    val tailIds = live.filterNot(ckptSet)
      .flatMap(v => batchIds(fs, path, v).headOption.map(_ -> v)).toMap
    ckptIds ++ tailIds
  }

  /** How many newest committed versions the per-commit replay check
    * probes. Structured streaming can only replay the LAST batch of a
    * checkpoint (offsets written, commit log not), so a window this
    * deep is already generous; [[committedBatchIds]] stays the audit
    * surface for anything older. The window — not a full-history scan —
    * keeps per-trigger overhead CONSTANT in store age. */
  private val ReplayWindow = 8

  /** Has `batchId` already committed? Marker listings of the newest
    * [[ReplayWindow]] versions first — the per-trigger fast path. A
    * window MISS is final when `batchId` exceeds every NON-NEGATIVE
    * (stream) batch id seen there (batch ids are monotone). Otherwise —
    * maintenance commits carry NEGATIVE pseudo ids, so 8+ of them
    * between the stream's last batch and a checkpoint replay can push
    * the real marker out of the window — fall back to the full
    * [[committedBatchIds]] map, paid only in that rare case. */
  private def alreadyCommitted(s: SparkSession, path: String,
      tip: Option[Int], batchId: Long): Boolean = tip.exists { t =>
    val fs = fsOf(s, path)
    val lo = math.max(1, t - ReplayWindow + 1)
    val windowIds = (lo to t).flatMap(batchIds(fs, path, _))
    if (windowIds.contains(batchId)) true
    else if (lo == 1) false // window covered the full history
    else {
      val streamIds = windowIds.filter(_ >= 0)
      if (streamIds.nonEmpty && batchId > streamIds.max) false
      else committedBatchIds(s, path).contains(batchId)
    }
  }
}
