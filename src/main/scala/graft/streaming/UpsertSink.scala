package graft.streaming

import graft.sources.{ChangeFeed, LocalParquet, StoreIo, TxnLog, VersionedStore}
import graft.streaming.Streams.EntityUpdate
import org.apache.hadoop.fs.Path
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
  * action taken on it. So [[upsertBatch]] persists the batch and its
  * distinct keys at entry and releases both on every exit (commit,
  * replay skip, empty batch, lost race, exception); emptiness, the key
  * band and the null-key check come from one aggregate over the
  * persisted keys.
  *
  * Store metadata costs no Spark job: the txn tip and replay check are
  * filesystem listings; the parent manifest, the key-type check on one
  * parent file's footer and the metadata checkpoint's txn records are
  * read on the driver ([[graft.sources.LocalParquet]]); the new files'
  * key bands come from their footers ([[VersionedStore.keyBands]], for
  * integral keys); and the manifest and the txn record are written on
  * the driver ([[graft.sources.LocalParquet.write]]). The Spark reads of
  * store files are typed off a footer, so none runs a schema-inference
  * job. What remains per trigger is two Spark executions:
  *
  *  1. the fold, once, with the key aggregate (emptiness, band, null
  *     check) over the persisted keys. The band decides the owning
  *     files: a file whose band holds the batch's lowest or highest key
  *     owns a batch key, one disjoint from that range owns none, and
  *     only files strictly inside it meet the batch keys in a broadcast
  *     join (an extra execution; none on a one-file store);
  *  2. one job that writes the rewrite AND the write-path change rows
  *     ([[commitRows]]): a full outer join of the owning files' rows
  *     with the batch yields per key its store row and its change rows
  *     (the [[graft.sources.ChangeFeed.keyedDiff]] classification), all
  *     tagged with `_change_type` and written range-partitioned by key,
  *     partitioned by `_change_type`, under `cdc/v<N>` — Delta's
  *     change-data-feed write. The store rows' partition
  *     (`_change_type=__store__`) is then renamed to `data/v<N>`
  *     through [[graft.sources.StoreIo]], leaving one subdirectory per
  *     change type (`insert`, `delete`, `update_preimage`,
  *     `update_postimage`) that partition discovery reads back as the
  *     `_change_type` column; a commit that changes no row leaves an
  *     empty typed relation instead.
  *
  * Their jobs carry the step's name as job description and short call
  * site (`upsert:fold`, `upsert:write`; `merge:` for MERGE), so an event
  * log or the UI tells them apart inside a stream's trigger.
  *
  * A parent deletion vector adds the resurrection probe, and a hashed
  * (string/binary) key adds the band aggregate over the new files.
  */
/** The upsert manifest row: member file + its key band. The extra
  * stats columns ride alongside [[VersionedStore]]'s `file` column, so
  * every batch reader (versionFiles/readVersion/vacuum) works unchanged
  * while the writer prunes rewrites by key range. Top-level (not nested
  * in the object) so its Encoder stays codegen-compatible. */
private[graft] case class FileStats(file: String, mn: Long, mx: Long)

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

  /** The owning-file decision the bands settle alone, for a batch whose
    * keys span [lo, hi] in long space: a band holding `lo` or `hi` owns
    * a batch key for certain (first), a band disjoint from [lo, hi]
    * owns none, and a band strictly inside the range is undecided
    * (second) — only those go to [[owningFiles]]' join. */
  private[graft] def bandSplit(parent: Array[FileStats], lo: Long,
      hi: Long): (Array[String], Array[FileStats]) = {
    val (certain, open) = parent.filterNot(f => f.mx < lo || f.mn > hi)
      .partition(f => f.mn <= lo || f.mx >= hi)
    (certain.map(_.file), open)
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
    * the txn record's intent. Owning files, the store rows and the CDC
    * pre-image set all plan over batch ∪ drop keys, so the change feed
    * classifies merge deletes as `delete` rows for free. */
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
        // emptiness, the key band (the owning-file split and the
        // disjoint-conflict fast path's overlap probe) and the null-key
        // check in one aggregate over the persisted keys
        val r = step(b.sparkSession, s"$operation:fold") {
          allKeys.agg(count(lit(1)),
            min(VersionedStore.keyLong(allKeys, keyCol)),
            max(VersionedStore.keyLong(allKeys, keyCol)),
            count(col(keyCol))).head()
        }
        if (r.getLong(0) > r.getLong(3))
          throw new IllegalArgumentException(s"$operation batch for $path " +
            s"carries a null '$keyCol': a keyed store needs a key on every row")
        if (r.getLong(0) == 0L) None
        else commit(b, allKeys, path, batchId, keyCol, initialPartitions,
          settleTimeoutMs, dropKeys.isDefined, operation,
          BatchKeys(r.getLong(1), r.getLong(2)))
      }
    }
  }

  /** The band of the batch's distinct keys in long space. */
  private case class BatchKeys(lo: Long, hi: Long)

  /** Run `f` with `name` as the job description and short call site of
    * the Spark jobs it starts, then restore the caller's (in a stream:
    * the trigger's description and the stream's start call site). The
    * long call site, the stack an execution records, stays as it was. */
  private def step[A](s: SparkSession, name: String)(f: => A): A = {
    val sc = s.sparkContext
    val props = Seq("spark.job.description", "callSite.short")
    val saved = props.map(sc.getLocalProperty)
    props.foreach(sc.setLocalProperty(_, name))
    try f finally props.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
  }

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
    * persisted distinct keys (`allKeys`: batch ∪ drop keys, of which
    * there are some when `drops`). */
  private def commit(batch: DataFrame, allKeys: DataFrame, path: String,
      batchId: Long, keyCol: String, initialPartitions: Int,
      settleTimeoutMs: Long, drops: Boolean, operation: String,
      keys: BatchKeys): Option[Int] = {
    val s = batch.sparkSession
    TxnLog.commit(s, path, operation, Some(batchId), startsLineage = true,
        settleTimeoutMs) { latest =>
      // Parent manifest with per-file key stats: driver-side and bounded
      // by the store's file count (the manifest-store contract). Touched
      // files = those whose [mn, mx] band contains a batch key: the bands
      // decide every file but those strictly inside the batch's key
      // range, and only those meet the batch keys in a broadcast join.
      val parent: Array[FileStats] = latest
        .map(pv => statsManifest(s, path, pv, keyCol)).getOrElse(Array.empty)
      // the parent's row schema, off one footer: the Spark reads of its
      // files below need no schema-inference job
      val parentSchema = parent.headOption.map(f =>
        VersionedStore.requireKeyClassMatch(s, f.file, batch, keyCol))
      val (certain, open) = bandSplit(parent, keys.lo, keys.hi)
      val owning: Array[String] = certain ++ owningFiles(allKeys, open, keyCol)
      // the deletion vector in force at the parent: its keys' old rows
      // are not pre-images (a dv-erased key's re-upsert is an insert)
      val parentDvAt = latest.flatMap(VersionedStore.dvVersionAt(s, path, _))
      val parentDv = latest.flatMap(VersionedStore.dvAt(s, path, _))
      Some { v =>
        // per-VERSION data dir: slots are never reused once committed,
        // so the staging can only clobber an UNCOMMITTED crash leftover.
        // A per-batch-id dir is unsafe under carry-forward: a checkpoint
        // reset restarts ids at 0 and batch_0's rewrite would delete
        // files the live manifest still references (round-12 review
        // finding).
        val dataDir = VersionedStore.dataPath(path) + s"/v$v"
        val old = parentSchema.fold(LocalParquet.empty(s, batch.schema)) { sch =>
          if (owning.isEmpty) LocalParquet.empty(s, sch)
          else s.read.schema(sch).parquet(owning.toIndexedSeq: _*)
        }
        step(s, s"$operation:write") {
          writeCommit(s, commitRows(old, batch, keyCol, Option.when(drops)(allKeys), parentDv),
            path, v, dataDir, keyCol,
            math.max(1, if (owning.isEmpty) initialPartitions else owning.length))
        }
        settled => {
          // the COW validity check: the staged version is only a correct
          // next version if the tip is STILL the parent it was computed
          // against — or if the interleaved commits are provably
          // DISJOINT (the Delta conflict-detection rule, round-16
          // verdict #6): (a) every owning file it supersedes survived
          // the interleaved commits untouched, (b) no interleaved
          // commit added a file whose key band can overlap this batch's
          // keys (bands over-approximate, so a false overlap costs a
          // replan, never a wrong tip), and (c) the settled tip carries
          // the deletion vector the change rows were classified against
          // (a vector committed in between would turn an insert into an
          // update pair). The commit then carries the SETTLED manifest
          // minus the owning files — nothing re-planned. Without this,
          // N equal-speed writers admit exactly one winner per round
          // and a chronic loser burns all attempts.
          val commitParent: Option[Array[FileStats]] =
            if (settled == latest) Some(parent)
            else settled.filter(sv =>
              VersionedStore.dvVersionAt(s, path, sv) == parentDvAt).flatMap { sv =>
              val sParent = statsManifest(s, path, sv, keyCol)
              val sSet = sParent.map(_.file).toSet
              val latestSet = parent.map(_.file).toSet
              val ownSurvived = owning.forall(sSet.contains)
              val addedOverlap = sParent.exists(f =>
                !latestSet(f.file) && !(f.mx < keys.lo || f.mn > keys.hi))
              if (ownSurvived && !addedOverlap) Some(sParent) else None
            }
          commitParent.foreach { parentStats =>
            publish(batch, path, v, dataDir, keyCol, parentStats, owning, parentDv)
          }
          commitParent.isDefined
        }
      }
    }.committed
  }

  /** The `_change_type` of the store rows in [[commitRows]]: no change
    * type the feed emits. */
  private[graft] val StoreRows = "__store__"

  /** One keyed commit's output in one frame: per key of the full outer
    * join of `old` (the owning files' rows, or an empty typed frame)
    * with `batch`,
    *
    *  - its store row, tagged [[StoreRows]]: the batch row; failing
    *    that, nothing for a key of `drops` (MERGE's distinct batch ∪
    *    drop keys); failing that, the old row;
    *  - its change rows, as [[ChangeFeed.keyedDiff]] classifies them
    *    for the keys the commit touches (batch ∪ drop keys), where an
    *    old row whose key is in the parent's deletion vector `dv` is no
    *    pre-image.
    *
    * Columns: the store's (old's order, then columns only the batch
    * has) and `_change_type`. */
  private[graft] def commitRows(old: DataFrame, batch: DataFrame,
      keyCol: String, drops: Option[DataFrame],
      dv: Option[DataFrame]): DataFrame = {
    val cols = ChangeFeed.payload(old, batch, keyCol)
    val (o, p, dropped, erased) = ("_old", "_post", "_dropped", "_erased")
    // a key set marks the old rows it holds: `keys` are distinct
    def marked(side: DataFrame, keys: Option[DataFrame], flag: String) =
      keys.fold(side)(k => side.join(k.select(col(keyCol), lit(true).as(flag)),
        Seq(keyCol), "left_outer"))
    val rows = marked(marked(ChangeFeed.aligned(old, keyCol, cols, o),
        dv.map(d => broadcast(d.select(col(keyCol)).distinct())), erased),
        drops, dropped)
      .join(ChangeFeed.aligned(batch, keyCol, cols, p), Seq(keyCol), "full_outer")
    val touched = drops.fold(col(p).isNotNull)(_ => col(dropped).isNotNull)
    val pre = dv.fold(when(touched, col(o)))(_ =>
      when(touched && col(erased).isNull, col(o)))
    val store = when(col(p).isNotNull, col(p)).when(!touched, col(o))
    ChangeFeed.exploded(rows, keyCol,
      when(store.isNotNull, ChangeFeed.tagged(store, cols, StoreRows)) +:
        ChangeFeed.changeRows(pre, col(p), cols),
      (old.columns ++ batch.columns).distinct.toSeq)
  }

  /** Write [[commitRows]] in one job: range-partitioned by key into
    * `parts` tasks, partitioned by `_change_type` under `cdc/v<v>`; the
    * store partition is then renamed to `dataDir`. A commit with no
    * change rows leaves the empty change relation, typed. */
  private def writeCommit(s: SparkSession, rows: DataFrame, path: String,
      v: Int, dataDir: String, keyCol: String, parts: Int): Unit = {
    val ct = ChangeFeed.ChangeType
    val cdcDir = new Path(VersionedStore.cdcPath(path, v))
    rows.repartitionByRange(parts, col(keyCol))
      .sortWithinPartitions(ct, keyCol)
      .write.mode(SaveMode.Overwrite).partitionBy(ct).parquet(cdcDir.toString)
    val fs = cdcDir.getFileSystem(s.sparkContext.hadoopConfiguration)
    val storePart = new Path(cdcDir, s"$ct=$StoreRows")
    val data = new Path(dataDir)
    fs.delete(data, true)
    if (fs.exists(storePart)) {
      fs.mkdirs(data.getParent)
      if (!StoreIo.ops.rename(fs, storePart, data))
        throw new java.io.IOException(s"could not publish $storePart as $data")
    }
    if (!fs.listStatus(cdcDir).exists(_.getPath.getName.startsWith(s"$ct=")))
      LocalParquet.write(s, cdcDir.toString, LocalParquet.Table(rows.schema, Nil))
  }

  /** Publish a COW upsert at slot `v` over `parentStats`: the new
    * manifest, column stats and the dv resurrection. */
  private def publish(batch: DataFrame, path: String, v: Int,
      dataDir: String, keyCol: String, parentStats: Array[FileStats],
      owning: Array[String], parentDv: Option[DataFrame]): Unit = {
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
