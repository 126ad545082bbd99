package graft.streaming

import graft.sources.VersionedStore
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming APPEND COMMITS into the versioned store — the bridge
  * between the engine's two write-side stories: [[UpsertSink]] keeps a
  * CURRENT-state table (the reference's Kudu upsert path, history
  * destroyed) and [[graft.sources.VersionedStore]] keeps replayable
  * history for batch commits; this sink gives the STREAM the second
  * behavior. Every micro-batch becomes one immutable version commit:
  *
  *  - the batch's rows land as new files in the batch's OWN data
  *    directory (Overwrite — a replayed batch reproduces the same
  *    files instead of appending duplicates);
  *  - the new manifest = parent manifest + the batch's files (the
  *    O(delta) append commit; no data rewritten, parent versions
  *    untouched and time-travel readable through the SAME
  *    [[VersionedStore.readVersion]] layout);
  *  - a TXN record mapping batchId → version commits LAST (its
  *    _SUCCESS marker is the commit, the Delta txn-action idea): a
  *    checkpoint-replayed batch id found in the committed txn set is
  *    SKIPPED — no duplicate version, no duplicate rows — and a crash
  *    between manifest and txn leaves an uncommitted version the next
  *    attempt simply overwrites.
  *
  * Downstream, the batch machinery applies unchanged: q109-style time
  * travel across stream commits, q110's O(delta) view maintenance off
  * any manifest diff, and [[VersionedStore.vacuum]] for retention.
  */
object VersionedCommitSink {

  def txnDir(path: String): String = VersionedStore.txnDir(path)
  def txnPath(path: String, v: Int): String = VersionedStore.txnPath(path, v)
  /** Data files land in a per-VERSION directory. Versions are allocated
    * fresh above the committed tip and never reused once committed, so
    * the Overwrite below can only ever clobber an UNCOMMITTED crash
    * leftover (the designed retry recovery). A per-BATCH-ID directory
    * (the old layout) is unsafe: after a checkpoint reset restarts
    * batch ids at 0, batch_0's rewrite would delete files still
    * referenced by the live manifest through carry-forward. */
  private def versionDataDir(path: String, v: Int): String =
    path + s"/data/v$v"
  /** The commit marker: a `batch_<id>.marker` file inside the txn
    * record, created LAST (after the txn parquet) — so its single
    * atomic create IS the version commit, and it doubles as the
    * replay check (one fs.exists, never a Spark job — per-trigger
    * overhead stays constant no matter how many versions the stream
    * has committed). A crashed attempt leaves a marker-less txn dir
    * that the retry's Overwrite replaces. */
  private def batchMarker(path: String, v: Int, batchId: Long): String =
    s"${txnPath(path, v)}/batch_$batchId.marker"

  /** Versions whose txn record carries its commit marker — the
    * committed set (a manifest without it is an uncommitted leftover).
    * Pure FS listing, no Spark jobs. */
  def committedVersions(s: SparkSession, path: String): Seq[Int] =
    VersionedStore.committedTxnVersions(s, path)

  /** batchId → version for every committed txn — checkpointed history
    * from the newest metadata checkpoint (one file read), marker-file
    * names for the tail above it (one directory listing each): zero
    * Spark jobs, O(interval) filesystem calls in store age. */
  def committedBatchIds(s: SparkSession, path: String): Map[Long, Int] = {
    val fs = new Path(txnDir(path))
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val live = committedVersions(s, path)
    val liveSet = live.toSet
    val ckpt = VersionedStore.readCheckpoint(s, path)
      .map(_._2).getOrElse(Seq.empty)
    val ckptIds = ckpt.filter(r => liveSet(r._1))
      .map(r => r._2 -> r._1).toMap
    val ckptSet = ckpt.map(_._1).toSet
    val tailIds = live.filterNot(ckptSet).flatMap { v =>
      fs.listStatus(new Path(txnPath(path, v))).toSeq
        .map(_.getPath.getName)
        .collectFirst { case n if n.startsWith("batch_") && n.endsWith(".marker") =>
          n.stripPrefix("batch_").stripSuffix(".marker").toLong -> v
        }
    }.toMap
    ckptIds ++ tailIds
  }

  /** How many newest committed versions the per-trigger replay check
    * probes. Structured streaming can only replay the LAST batch of a
    * checkpoint (offsets written, commit log not), so a window this
    * deep is already generous; [[committedBatchIds]] stays the audit
    * surface for anything older. The window — not a full-history scan —
    * is what keeps per-trigger overhead CONSTANT in store age: one
    * txn-dir listing + at most ReplayWindow marker existence tests,
    * however many versions the stream has committed. */
  private val ReplayWindow = 8

  /** Version numbers present under txn/ (committed or not) — ONE
    * directory listing, no per-version calls. */
  private def txnVersionNumbers(s: SparkSession, path: String): Seq[Int] = {
    val p = new Path(txnDir(path))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    fs.listStatus(p).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case n if n.startsWith("v") => n.drop(1).toIntOption }
      .flatten.sorted
  }

  /** The newest COMMITTED version: marker probes newest-first over the
    * single txn-dir listing, stopping at the first hit — in steady
    * state the newest version IS committed, so this is two filesystem
    * calls; a crash leftover at the tip costs one extra probe. */
  private[streaming] def latestCommitted(s: SparkSession, path: String): Option[Int] =
    VersionedStore.latestCommittedTxn(s, path)

  /** Has `batchId` already committed? Marker existence tests against
    * the newest [[ReplayWindow]] committed versions first — the
    * per-trigger fast path (a streaming replay can only be a recent
    * batch id). A window MISS is only definitive when the window
    * proves the batch is genuinely new: the probe lists the window's
    * marker names and, when `batchId` exceeds every NON-NEGATIVE
    * (stream) batch id seen there, the miss is final (batch ids are
    * monotone). Otherwise — maintenance [[graft.sources.VersionedStore
    * .compactCommit]] runs each commit a version with a NEGATIVE
    * pseudo id, so 8+ compactions between the stream's last batch and
    * a checkpoint replay can push the real marker out of the window —
    * fall back to the full [[committedBatchIds]] map. The full scan is
    * paid only in that rare maintenance-heavy replay case; the steady
    * state stays one txn-dir listing + ReplayWindow directory
    * listings, constant in store age. */
  private[streaming] def alreadyCommitted(s: SparkSession, path: String,
      latest: Option[Int], batchId: Long): Boolean = latest.exists { tip =>
    val fs = new Path(txnDir(path))
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val lo = math.max(1, tip - ReplayWindow + 1)
    val windowIds = (lo to tip).flatMap { v =>
      val d = new Path(txnPath(path, v))
      if (!fs.exists(d)) Nil
      else fs.listStatus(d).toSeq.map(_.getPath.getName)
        .collect { case n if n.startsWith("batch_") && n.endsWith(".marker") =>
          n.stripPrefix("batch_").stripSuffix(".marker").toLong
        }
    }
    if (windowIds.contains(batchId)) true
    else if (lo == 1) false // window covered the full history
    else {
      val streamIds = windowIds.filter(_ >= 0)
      if (streamIds.nonEmpty && batchId > streamIds.max) false
      else committedBatchIds(s, path).contains(batchId)
    }
  }

  /** Commit one micro-batch as the next version. Returns the committed
    * version, or None when the batch was empty or already committed.
    *
    * Optimistic concurrency: the version slot is CLAIMED atomically
    * ([[VersionedStore.claimVersion]]) before any shared-location
    * write, so a concurrent committer (another append stream, a batch
    * appender, a maintenance compaction) can never land on the same
    * number and overwrite this txn record — exactly one writer wins
    * each slot and the loser probes to the next. Appends carry the
    * parent forward BY REFERENCE, so after the data lands the commit
    * SETTLES ([[VersionedStore.settleBelow]]): it waits for in-flight
    * lower slots to commit and unions THAT tip's manifest, so neither
    * racer's files are lost from the tip lineage; a replayed batch id
    * discovered while settling is abandoned (the claim burns, vacuum
    * reclaims the leftovers). */
  def appendBatch(batch: DataFrame, path: String, batchId: Long,
      settleTimeoutMs: Long = 30000L): Option[Int] = {
    if (batch.isEmpty) return None
    val s = batch.sparkSession
    // marker-gate commit detection from store birth (the appendCommit
    // race guard) — see VersionedStore.appendCommit
    new Path(txnDir(path))
      .getFileSystem(s.sparkContext.hadoopConfiguration)
      .mkdirs(new Path(txnDir(path)))
    val latest = latestCommitted(s, path)
    if (alreadyCommitted(s, path, latest, batchId)) return None
    val v = VersionedStore.claimVersion(s, path, latest.getOrElse(0) + 1)
    val dataDir = versionDataDir(path, v)
    batch.write.mode(SaveMode.Overwrite).parquet(dataDir)
    val newFiles = VersionedStore.hadoopLs(s, dataDir)
    val settled = VersionedStore.settleBelow(s, path, v, timeoutMs = settleTimeoutMs)
    if (settled != latest && alreadyCommitted(s, path, settled, batchId)) return None
    val parent = settled
      .map(pv => VersionedStore.versionFiles(s, path, pv).toSet)
      .getOrElse(Set.empty[String])
    VersionedStore.writeManifest(s, path, v, parent ++ newFiles)
    graft.sources.ColStats.onCommit(s, path, newFiles.toSeq.sorted)
    // txn parquet, then the marker LAST: the marker's single atomic
    // create is the commit (a crash anywhere earlier leaves an
    // uncommitted leftover the retry overwrites), and its name carries
    // the batch id so replay checks and the batchId→version map need
    // only filesystem listings. commit_ts (wall clock) is what
    // timestamp-based time travel resolves against
    // (VersionedStore.readAsOf).
    import s.implicits._
    Seq((batchId, System.currentTimeMillis(), "append"))
      .toDF("batch_id", "commit_ts", "operation")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(txnPath(path, v))
    val fs = new Path(txnDir(path))
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    graft.sources.StoreIo.ops.createMarker(fs,
      new Path(batchMarker(path, v, batchId)))
    // every Nth commit consolidates the metadata history so commit-time
    // and replay resolution stay O(interval) in store age
    VersionedStore.maybeCheckpoint(s, path, v)
    // POST-COMMIT LINEAGE CHECK (round-13 advice, the upsertBatch twin):
    // a slow lower-slot writer that outlived settleBelow's timeout and
    // then committed would have its files missing from this version's
    // carried-forward manifest while both callers report success —
    // detect and fail loudly (VersionedStore.requireNoLineageGap).
    VersionedStore.requireNoLineageGap(s, path, settled.getOrElse(0), v)
    Some(v)
  }

  /** Maintain the versioned table from a stream. Each batch is
    * persisted across [[appendBatch]]'s emptiness check and its write,
    * so its upstream plan runs once per trigger. */
  def writeTo(rows: DataFrame, path: String,
      checkpointDir: String): StreamingQuery =
    rows.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        UpsertSink.persisted(batch)(appendBatch(_, path, batchId)); ()
      }
      .start()
}
