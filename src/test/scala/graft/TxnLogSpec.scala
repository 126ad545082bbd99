package graft

import graft.sources.VersionedStore
import graft.streaming.{UpsertSink, VersionedCommitSink}
import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

/** The one commit loop ([[graft.sources.TxnLog]]): a claimed slot that
  * does not commit is always resolved by an abandon marker, and the
  * committers that start a txn lineage refuse a manifest-only store
  * instead of overwriting its versions. */
class TxnLogSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_txnlog_$tag").toString + "/store"

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  test("a replayed batch found while settling abandons its claimed slot") {
    val path = tmp("replay")
    VersionedCommitSink.appendBatch(
      Seq((1L, 1L)).toDF("key", "amount"), path, batchId = 0L) // v1
    // an in-flight writer holds slot 2
    assert(VersionedStore.claimVersion(spark, path, 2) == 2)
    val fs = fsOf(path)
    val pending = Future {
      VersionedCommitSink.appendBatch(Seq((7L, 7L)).toDF("key", "amount"),
        path, batchId = 7L, settleTimeoutMs = 120000L)
    }
    // the append claims slot 3, then waits in settle on slot 2
    val claim3 = new Path(VersionedStore.claimsDir(path) + "/v3")
    val deadline = System.currentTimeMillis() + 60000L
    while (!fs.exists(claim3)) {
      assert(System.currentTimeMillis() < deadline, "append never claimed slot 3")
      Thread.sleep(20L)
    }
    // the slot-2 holder commits batch 7 by hand: manifest, txn record,
    // then the marker
    VersionedStore.writeManifest(spark, path, 2,
      VersionedStore.versionFiles(spark, path, 1).toSeq)
    Seq((7L, System.currentTimeMillis(), "append"))
      .toDF("batch_id", "commit_ts", "operation").coalesce(1)
      .write.parquet(VersionedStore.txnPath(path, 2))
    fs.create(new Path(VersionedStore.txnPath(path, 2) + "/batch_7.marker"),
      true).close()
    assert(Await.result(pending, 120.seconds).isEmpty,
      "a batch committed at slot 2 was committed again")
    assert(fs.exists(new Path(VersionedStore.claimsDir(path) + "/v3.abandoned")),
      "the replayed append left its claimed slot unresolved")
    assert(VersionedStore.versions(spark, path) == Seq(1, 2))
  }

  test("lineage-starting committers refuse a manifest-only store and leave it untouched") {
    val path = tmp("mfonly")
    val data = VersionedStore.dataPath(path)
    Seq((1L, 1L)).toDF("key", "amount").write.parquet(data + "/b1")
    Seq((2L, 2L)).toDF("key", "amount").write.parquet(data + "/b2")
    val f1 = VersionedStore.hadoopLs(spark, data + "/b1")
    val f2 = VersionedStore.hadoopLs(spark, data + "/b2")
    VersionedStore.writeManifest(spark, path, 1, f1)
    VersionedStore.writeManifest(spark, path, 2, f1 ++ f2)
    val rows = Seq((3L, 3L)).toDF("key", "amount")
    Seq[() => Any](
      () => UpsertSink.upsertBatch(rows, path, 0L, "key"),
      () => VersionedCommitSink.appendBatch(rows, path, 0L),
      () => VersionedStore.appendCommit(spark, path, rows, "key", 1)
    ).foreach { commit =>
      val e = intercept[IllegalArgumentException](commit())
      assert(e.getMessage.contains("manifest-only"), e.getMessage)
    }
    assert(VersionedStore.versions(spark, path) == Seq(1, 2))
    assert(VersionedStore.versionFiles(spark, path, 1).toSet == f1)
    assert(VersionedStore.readVersion(spark, path, 2).count() == 2L)
    assert(!fsOf(path).exists(new Path(VersionedStore.txnDir(path))))
  }
}
