package graft.streaming

import graft.sources.{TxnLog, VersionedStore}
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
  *    marker is the commit, the Delta txn-action idea): a
  *    checkpoint-replayed batch id found in the committed txn set is
  *    SKIPPED — no duplicate version, no duplicate rows — and a crash
  *    between manifest and txn leaves an uncommitted version the next
  *    attempt simply overwrites. The protocol is
  *    [[graft.sources.TxnLog.commit]]'s; this sink supplies only the
  *    append plan ([[VersionedStore.appendStage]]).
  *
  * Downstream, the batch machinery applies unchanged: q109-style time
  * travel across stream commits, q110's O(delta) view maintenance off
  * any manifest diff, and [[VersionedStore.vacuum]] for retention.
  */
object VersionedCommitSink {

  /** Versions whose txn record carries its commit marker — the
    * committed set (a manifest without it is an uncommitted leftover).
    * Pure FS listing, no Spark jobs. */
  def committedVersions(s: SparkSession, path: String): Seq[Int] =
    VersionedStore.committedTxnVersions(s, path)

  /** Commit one micro-batch as the next version. Returns the committed
    * version, or None when the batch was empty or already committed.
    *
    * The batch's rows land in the claimed slot's own data dir, and the
    * publish step unions the SETTLED tip's manifest with them
    * ([[VersionedStore.appendStage]]), so neither of two racing
    * appenders loses the other's files; a replayed batch id found
    * before the claim or while settling commits nothing, and a claimed
    * slot is abandoned ([[TxnLog.commit]]). */
  def appendBatch(batch: DataFrame, path: String, batchId: Long,
      settleTimeoutMs: Long = 30000L): Option[Int] = {
    if (batch.isEmpty) return None
    TxnLog.commit(batch.sparkSession, path, "append", Some(batchId),
        startsLineage = true, settleTimeoutMs) { _ =>
      Some(VersionedStore.appendStage(batch.sparkSession, path)(
        batch.write.mode(SaveMode.Overwrite).parquet(_)))
    }.committed
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
