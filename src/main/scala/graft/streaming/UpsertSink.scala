package graft.streaming

import graft.sources.{TxnLog, VersionedStore}
import graft.streaming.Streams.EntityUpdate
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery}
import org.apache.spark.storage.StorageLevel

/** Keyed upsert sink: the store side of ingest→process→store.
  *
  * Reference origin: ny_taxi/NyTaxiYellowTripStreaming.scala:214-266
  * sendEntityToKudu (newInsert for New, newUpdate for Modified) and the
  * kudu client session around it. Kudu's row-level upsert is re-expressed
  * as a COPY-ON-WRITE KEYED COMMIT into the [[VersionedStore]] layout:
  * every micro-batch rewrites ONLY the data files whose key range the
  * batch touches (located through per-file key stats carried in the
  * manifest — the q82 planning step, paid at write time instead of a
  * store scan), carries every untouched file forward by reference, and
  * commits a new manifest + txn marker through [[TxnLog.commit]]
  * (exactly once: a checkpoint-replayed batch id is skipped).
  *
  * Per-trigger cost therefore tracks the TOUCHED FILES — bytes
  * written = batch rows + the touched files' survivors; bytes read =
  * the touched files. That is the batch only while its keys fall in few
  * of the store's key bands: a rewrite inherits the touched-file count,
  * so a store born as one file stays one file and every trigger
  * rewrites all of it. Superseded files stay referenced by older
  * manifests (time travel through [[VersionedStore.readVersion]]) until
  * [[VersionedStore.vacuum]] reclaims them.
  *
  * ONE EVALUATION PER BATCH: a `foreachBatch` frame re-runs its whole
  * upstream — the entity fold and its state commit included — for every
  * action taken on it, and a commit takes about six (emptiness and key
  * band, owning files, rewrite, CDC diff and its sizing). So
  * [[upsertBatch]] persists the batch and its distinct keys at entry and
  * releases both on every exit (commit, replay skip, empty batch, lost
  * race, exception); emptiness, key band and key count come from one
  * aggregate over the persisted keys, and the CDC write is sized from
  * that count instead of counting the diff.
  *
  * Store metadata costs no Spark job: the txn tip and replay check are
  * filesystem listings; the parent manifest, the key-type check on one
  * parent file's footer and the metadata checkpoint's txn records are
  * read on the driver ([[graft.sources.LocalParquet]]); the new files'
  * key bands come from their footers ([[VersionedStore.keyBands]], for
  * integral keys); and the manifest and the txn record are written on
  * the driver ([[graft.sources.LocalParquet.write]]). The Spark reads of
  * store files are typed off a footer, so none runs a schema-inference
  * job. What remains per trigger is four Spark executions:
  *
  *  1. the fold, once, with the key aggregate (emptiness, band, count,
  *     null check) over the persisted keys;
  *  2. the owning-file join of the batch keys against the parent bands;
  *  3. the rewrite of the touched files;
  *  4. the write-path CDC: the pre-images against the batch in one
  *     full outer join ([[graft.sources.ChangeFeed.keyedDiff]]).
  *
  * A parent deletion vector adds the resurrection probe, and a hashed
  * (string/binary) key adds the band aggregate over the new files.
  */
/** The upsert manifest row: member file + its key band. The extra
  * stats columns ride alongside [[VersionedStore]]'s `file` column, so
  * every batch reader (versionFiles/readVersion/vacuum) works unchanged
  * while the writer prunes rewrites by key range. Top-level (not nested
  * in the object) so its Encoder stays codegen-compatible. */
private[streaming] case class FileStats(file: String, mn: Long, mx: Long)

object UpsertSink {

  /** Read the store's CURRENT state — the newest committed manifest's
    * member files, nothing else (superseded files are invisible even
    * though they share the data directory). */
  def readStore(s: SparkSession, path: String): DataFrame = {
    val vs = VersionedStore.versions(s, path)
    require(vs.nonEmpty, s"no committed version at $path")
    VersionedStore.readVersion(s, path, vs.max)
  }

  /** Version `v`'s per-file key bands. The manifest is read on the
    * driver (one listing and one small file, no Spark job), and the
    * bands live there as plain rows.
    *
    * SCALE NOTE (round-12 verdict): those rows are bounded by the
    * store's FILE COUNT — the table-format norm (Delta/Iceberg hold
    * manifests driver-side between checkpoints), fine to O(10^4) files.
    * A store whose manifest outgrows the driver moves to the
    * ManifestStore precedent: keep the stats as a DataFrame, run the
    * band-overlap prune cluster-side, and collect only the SELECTED
    * paths; the new manifest then writes as parent-anti-join ∪
    * new-stats without materializing the full file list on the driver. */
  private def statsManifest(s: SparkSession, path: String, v: Int,
      keyCol: String): Array[FileStats] = {
    val mf = VersionedStore.manifest(s, path, v)
    VersionedStore.manifestBands(mf).getOrElse {
      // SELF-HEAL: a maintenance compaction (VersionedStore.compactCommit
      // / CALL graft_store_optimize) writes a file-only manifest — without
      // this branch the next micro-batch's stats read would crashloop the
      // stream (round-12 review finding). Rebuild per-file key bands from
      // the member files in memory; the NEXT upsert commit writes them
      // back into its manifest, so the rebuild cost (one read of the
      // compacted files) is paid only between a compaction and the next
      // commit, never steadily.
      val files = VersionedStore.manifestFiles(mf)
      if (files.isEmpty) Array.empty
      else VersionedStore.keyBands(s, files.toSeq, keyCol)
    }.map(FileStats.tupled)
  }

  /** The prune (and the COW rewrite decision) compares key bands in
    * LONG space: integral keys cast, string/binary keys hash — the
    * shared store contract check ([[VersionedStore.requireSupportedKey]],
    * also guarding the SQL/stream purge path into deleteCommit). */
  private def requireSupportedKey(df: DataFrame, keyCol: String): Unit =
    VersionedStore.requireSupportedKey(df, keyCol)

  /** Files of the newest committed version whose key band can contain
    * a key of `keys` — the stats-manifest prune. Bounded driver state
    * (the manifest's file count); the decision join is broadcast. */
  private def owningFiles(keys: DataFrame, parent: Array[FileStats],
      keyCol: String): Array[String] = {
    if (parent.isEmpty) return Array.empty
    val s = keys.sparkSession
    import s.implicits._
    val statsDf = parent.toSeq.toDF("file", "mn", "mx")
    keys.select(VersionedStore.keyLong(keys, keyCol).as("k")).distinct()
      .join(broadcast(statsDf), col("k") >= col("mn") && col("k") <= col("mx"))
      .select(col("file")).distinct().as[String].collect()
  }

  /** Read ONLY the current rows that could share a key with `keys` —
    * the read-side twin of the COW prune, for per-batch classification
    * (change capture) and point lookups: cost tracks the TOUCHED
    * files, never the store. None = no committed version yet; an
    * existing store whose files cannot contain any batch key returns
    * an empty (0-file) frame with the store schema. */
  def readTouched(s: SparkSession, path: String, keys: DataFrame,
      keyCol: String): Option[DataFrame] = {
    requireSupportedKey(keys, keyCol)
    val vs = VersionedStore.versions(s, path)
    if (vs.isEmpty) return None
    val parent = statsManifest(s, path, vs.max, keyCol)
    // a committed manifest CAN list zero files (a purge that emptied
    // the store): no prior rows, same contract as no-store-yet —
    // read.parquet over an empty path list would throw instead
    if (parent.isEmpty) return None
    val schema = VersionedStore.requireKeyClassMatch(s, parent.head.file, keys, keyCol)
    val owning = owningFiles(keys, parent, keyCol)
    val files = if (owning.nonEmpty) owning
      else parent.map(_.file).take(1) // schema carrier, filtered empty
    val df = s.read.schema(schema).parquet(files.toIndexedSeq: _*)
    Some(if (owning.nonEmpty) df else df.filter(lit(false)))
  }

  /** Commit one keyed micro-batch copy-on-write. Returns the committed
    * version, or None when the batch was empty or already committed
    * (checkpoint replay). `initialPartitions` sizes the FIRST commit's
    * file count (later commits inherit the touched-file count).
    *
    * Optimistic concurrency runs through [[TxnLog.commit]]. Unlike an
    * append, a COW rewrite is computed AGAINST a specific parent (the
    * touched files' survivors), so its publish step accepts the settled
    * tip only when it is still that parent or the interleaved commits
    * are provably disjoint; otherwise it declines, the slot is
    * abandoned (vacuum reclaims the leftovers) and the whole rewrite
    * RETRIES against the new tip — correctness over wasted work,
    * bounded attempts.
    *
    * A batch with a null key is refused (IllegalArgumentException)
    * before any claim: a null key matches no stored row, so every
    * upsert of it would add another row. */
  def upsertBatch(batch: DataFrame, path: String, batchId: Long,
      keyCol: String, initialPartitions: Int = 1,
      settleTimeoutMs: Long = 30000L): Option[Int] =
    upsertBatch(batch, path, batchId, keyCol, initialPartitions,
      settleTimeoutMs, None, "upsert")

  /** Generalized COW keyed commit — the MERGE compiler's target
    * ([[graft.sources.StoreMerge]]): `dropKeys` keys REMOVE their store
    * rows without replacement (the WHEN MATCHED DELETE action riding
    * the same single rewrite the upsert pays), and `operation` stamps
    * the txn record's intent. Owning files, the survivors' anti-join
    * and the CDC pre-image set all plan over batch ∪ drop keys, so the
    * change feed classifies merge deletes as `delete` rows for free. */
  private[graft] def upsertBatch(batch: DataFrame, path: String,
      batchId: Long, keyCol: String, initialPartitions: Int,
      settleTimeoutMs: Long, dropKeys: Option[DataFrame],
      operation: String): Option[Int] = {
    requireSupportedKey(batch, keyCol)
    persisted(batch) { b =>
      val keys = dropKeys
        .map(dk => b.select(col(keyCol)).unionByName(dk.select(col(keyCol))))
        .getOrElse(b.select(col(keyCol)))
        .distinct()
      persisted(keys) { allKeys =>
        // emptiness, the key band (the disjoint-conflict fast path's
        // overlap probe), the key count (the CDC sizing bound) and the
        // null-key check in one aggregate over the persisted keys
        val r = allKeys.agg(count(lit(1)),
          min(VersionedStore.keyLong(allKeys, keyCol)),
          max(VersionedStore.keyLong(allKeys, keyCol)),
          count(col(keyCol))).head()
        if (r.getLong(0) > r.getLong(3))
          throw new IllegalArgumentException(s"$operation batch for $path " +
            s"carries a null '$keyCol': a keyed store needs a key on every row")
        if (r.getLong(0) == 0L) None
        else commit(b, allKeys, path, batchId, keyCol, initialPartitions,
          settleTimeoutMs, operation, BatchKeys(r.getLong(1), r.getLong(2),
            r.getLong(0)))
      }
    }
  }

  /** The batch's distinct keys in long space: band and count. */
  private case class BatchKeys(lo: Long, hi: Long, count: Long)

  /** Run `f` over `ds` persisted, unpersisting it on every exit (return
    * or exception) — the one-evaluation rule above, for any sink that
    * acts on its `foreachBatch` frame more than once. A frame the
    * caller already cached is left exactly as the caller had it. */
  private[streaming] def persisted[T, A](ds: Dataset[T])(f: Dataset[T] => A): A = {
    val own = ds.storageLevel == StorageLevel.NONE
    if (own) ds.persist(StorageLevel.MEMORY_AND_DISK)
    try f(ds) finally if (own) ds.unpersist(blocking = false)
  }

  /** The COW upsert plan of [[upsertBatch]] through the
    * [[TxnLog.commit]] loop, over the persisted non-empty batch and its
    * persisted distinct keys (`allKeys`: batch ∪ drop keys). */
  private def commit(batch: DataFrame, allKeys: DataFrame, path: String,
      batchId: Long, keyCol: String, initialPartitions: Int,
      settleTimeoutMs: Long, operation: String, keys: BatchKeys): Option[Int] = {
    val s = batch.sparkSession
    TxnLog.commit(s, path, operation, Some(batchId), startsLineage = true,
        settleTimeoutMs) { latest =>
      // Parent manifest with per-file key stats: driver-side and bounded
      // by the store's file count (the manifest-store contract). Touched
      // files = those whose [mn, mx] band contains a batch key — a
      // broadcast join of the batch's keys against the k-row stats table,
      // collecting only distinct FILE NAMES (file-count bounded).
      val parent: Array[FileStats] = latest
        .map(pv => statsManifest(s, path, pv, keyCol)).getOrElse(Array.empty)
      // the parent's row schema, off one footer: the Spark reads of its
      // files below need no schema-inference job
      val parentSchema = parent.headOption.map(f =>
        VersionedStore.requireKeyClassMatch(s, f.file, batch, keyCol))
      val owning: Array[String] = owningFiles(allKeys, parent, keyCol)
      Some { v =>
        // Rewrite = touched files' survivors + the batch (keyed replace:
        // the stream emits full merged entities, newest state wins; drop
        // keys contribute to the anti-join but no replacement rows).
        val rewritten =
          if (owning.isEmpty) batch
          else s.read.schema(parentSchema.get).parquet(owning.toIndexedSeq: _*)
            .join(allKeys, Seq(keyCol), "left_anti")
            .unionByName(batch)
        val parts = math.max(1, if (owning.isEmpty) initialPartitions else owning.length)
        // per-VERSION data dir: slots are never reused once committed,
        // so the Overwrite can only clobber an UNCOMMITTED crash
        // leftover. A per-batch-id dir is unsafe under carry-forward: a
        // checkpoint reset restarts ids at 0 and batch_0's rewrite would
        // delete files the live manifest still references (round-12
        // review finding).
        val dataDir = VersionedStore.dataPath(path) + s"/v$v"
        rewritten.repartitionByRange(parts, col(keyCol))
          .sortWithinPartitions(keyCol)
          .write.mode(SaveMode.Overwrite).parquet(dataDir)
        settled => {
          // the COW validity check: the rewrite above is only a correct
          // next version if the tip is STILL the parent it was computed
          // against — or if the interleaved commits are provably
          // DISJOINT (the Delta conflict-detection rule, round-16
          // verdict #6): (a) every owning file it supersedes survived
          // the interleaved commits untouched, and (b) no interleaved
          // commit added a file whose key band can overlap this batch's
          // keys (bands over-approximate, so a false overlap costs a
          // replan, never a wrong tip). The commit then carries the
          // SETTLED manifest minus the owning files — nothing
          // re-planned. Without this, N equal-speed writers admit
          // exactly one winner per round and a chronic loser burns all
          // attempts.
          val commitParent: Option[Array[FileStats]] =
            if (settled == latest) Some(parent)
            else settled.flatMap { sv =>
              val sParent = statsManifest(s, path, sv, keyCol)
              val sSet = sParent.map(_.file).toSet
              val latestSet = parent.map(_.file).toSet
              val ownSurvived = owning.forall(sSet.contains)
              val addedOverlap = sParent.exists(f =>
                !latestSet(f.file) && !(f.mx < keys.lo || f.mn > keys.hi))
              if (ownSurvived && !addedOverlap) Some(sParent) else None
            }
          commitParent.foreach { parentStats =>
            publish(batch, allKeys, path, v, settled, dataDir, keyCol,
              parentStats, owning, parentSchema, keys)
          }
          commitParent.isDefined
        }
      }
    }.committed
  }

  /** Publish a COW upsert at slot `v` over `parentStats`: the new
    * manifest, column stats, write-path CDC and the dv resurrection. */
  private def publish(batch: DataFrame, allKeys: DataFrame, path: String,
      v: Int, settled: Option[Int], dataDir: String, keyCol: String,
      parentStats: Array[FileStats], owning: Array[String],
      parentSchema: Option[org.apache.spark.sql.types.StructType],
      keys: BatchKeys): Unit = {
    val s = batch.sparkSession
    // Key bands of ONLY the files this commit wrote: their footers for
    // an integral key, an aggregate over them for a hashed one.
    // A merge whose every touched row was deleted writes no files.
    val newFiles = VersionedStore.hadoopLs(s, dataDir).toSeq.sorted
    val newStats = if (newFiles.isEmpty) Array.empty[FileStats]
      else VersionedStore.keyBands(s, newFiles, keyCol).map(FileStats.tupled)

    val ownSet = owning.toSet
    VersionedStore.writeManifest(s, path, v, VersionedStore.bandManifest(
      (parentStats.filterNot(fs => ownSet(fs.file)) ++ newStats)
        .map(fs => (fs.file, fs.mn, fs.mx))))
    graft.sources.ColStats.onCommit(s, path, newFiles)
    // write-path CDC (round 15): classify the batch against the
    // pre-images it replaced — MINUS the parent's deletion vector
    // (a dv-erased key's physical leftover is not a pre-image; its
    // re-upsert classifies as the INSERT it logically is, matching
    // the metadata-diff fallback bit for bit) — O(batch) rows
    // persisted at commit, so the change feed never re-diffs the
    // file-sized rewrite; identical-payload replays classify to NO
    // rows (the s15 rule)
    val parentDv = VersionedStore.dvAt(s, path, settled.getOrElse(0))
    val cdcRows =
      if (owning.isEmpty)
        batch.withColumn("_change_type", lit("insert"))
      else {
        val preRaw = s.read.schema(parentSchema.get).parquet(owning.toIndexedSeq: _*)
          .join(allKeys, Seq(keyCol), "left_semi")
        val pre = parentDv.fold(preRaw)(dv =>
          preRaw.join(broadcast(dv), dv.columns.toSeq, "left_anti"))
        graft.sources.ChangeFeed.keyedDiff(pre, batch.toDF(), keyCol)
      }
    // at most 2 change rows (an update's pre- and post-image) per
    // distinct key: a file-count bound, so the diff runs only once,
    // in the write itself
    VersionedStore.writeCdc(s, path, v, cdcRows, keyCol,
      rowBound = Some(2 * keys.count))
    // key-based dv RESURRECTION: a keyed write of key K supersedes
    // K's pending deletion — shrink the cumulative vector at this
    // slot, or the re-onboarded subject's new row stays invisible
    // until the fold (the COW purge path's re-upsert contract,
    // PurgeSinkSpec, extended to dv mode; position-based DV formats
    // don't have this hazard, the key-based form must handle it)
    parentDv.foreach { dv =>
      val batchKeys = batch.select(col(keyCol)).distinct()
      if (dv.join(batchKeys, Seq(keyCol), "left_semi")
          .limit(1).count() > 0)
        VersionedStore.writeDvSized(s, path, v,
          dv.join(batchKeys, Seq(keyCol), "left_anti"), keyCol)
    }
  }

  /** Merge one micro-batch of entity updates into the keyed store. */
  def mergeBatch(batch: Dataset[EntityUpdate], storeDir: String,
      batchId: Long): Option[Int] = {
    val incoming = batch.toDF()
      .select(col("custkey"), col("totalTrips"), col("totalAmount"),
        col("maxAmount"), col("openTrips"), col("fulfilledTrips"))
    upsertBatch(incoming, storeDir, batchId, "custkey")
  }

  /** Attach the upsert sink to an entity-update stream. */
  def writeTo(updates: Dataset[EntityUpdate], storeDir: String,
      checkpointDir: String): StreamingQuery = {
    val w: DataStreamWriter[EntityUpdate] = updates.writeStream
      .outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((batch: Dataset[EntityUpdate], batchId: Long) =>
        { mergeBatch(batch, storeDir, batchId); () })
    w.start()
  }
}
