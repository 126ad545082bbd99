package graft

import graft.streaming.{ChangelogSink, Streams}
import graft.streaming.Streams.OrderEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The change feed must say exactly what each batch did to the store:
  * first-contact keys as INSERT with null before-image, revisits as
  * UPDATE with the correct before/after pair, and a replayed identical
  * state as silence. */
class ChangelogSinkSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("per-batch changelog carries INSERT/UPDATE with before/after images") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_cdc_").toString
    val (store, cdc, ckpt) = (s"$base/entities", s"$base/cdc", s"$base/ckpt")
    val in = MemoryStream[OrderEvent]
    val q = ChangelogSink.writeTo(Streams.entityStream(in.toDS()), store, cdc, ckpt)
    try {
      in.addData(OrderEvent(1, 10.0, "O"), OrderEvent(2, 3.0, "F"))
      q.processAllAvailable()
      val b0 = spark.read.parquet(s"$cdc/batch_0").collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3))).sortBy(_._2)
      assert(b0.toSeq == Seq(("INSERT", 1L, -1L, 1L), ("INSERT", 2L, -1L, 1L)),
        s"batch 0 changelog wrong: ${b0.mkString("|")}")

      in.addData(OrderEvent(1, 6.0, "F"), OrderEvent(3, 1.0, "P"))
      q.processAllAvailable()
      val b1 = spark.read.parquet(s"$cdc/batch_1").collect()
        .map(r => (r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) -1L else r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) -1.0 else r.getDouble(4), r.getDouble(5)))
        .sortBy(_._2)
      // key 1 revisited (1 trip/10.0 -> 2 trips/16.0), key 3 new,
      // key 2 untouched by this batch => absent from the feed
      assert(b1.toSeq == Seq(
        ("UPDATE", 1L, 1L, 2L, 10.0, 16.0),
        ("INSERT", 3L, -1L, 1L, -1.0, 1.0)),
        s"batch 1 changelog wrong: ${b1.mkString("|")}")

      // replaying an already-merged state classifies as no-op silence
      val replay = ChangelogSink.classify(
        spark.createDataset(Seq(
          Streams.EntityUpdate(1, "Untouched", 2, 16.0, 10.0, 1, 1))),
        store)
      assert(replay.isEmpty, "identical replayed state produced change rows")

      // and the store itself holds the merged truth (the UpsertSink path)
      val after = graft.streaming.UpsertSink.readStore(spark, store)
        .select("custkey", "totalTrips", "totalAmount").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(after == Map(1L -> (2L, 16.0), 2L -> (1L, 3.0), 3L -> (1L, 1.0)))
    } finally q.stop()
  }

  test("changelog and merge share one evaluation of the entity fold per trigger") {
    // classify and merge both act on the foreachBatch frame; each action
    // on an unpersisted frame re-runs the fold and adds its state rows
    // to the trigger's metrics again
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_cdc_once_").toString
    val (store, cdc, ckpt) = (s"$base/entities", s"$base/cdc", s"$base/ckpt")
    val in = MemoryStream[OrderEvent]
    val q = ChangelogSink.writeTo(Streams.entityStream(in.toDS()), store, cdc, ckpt)
    try {
      Seq(0 until 100, 50 until 150).foreach { keys =>
        val before = spark.sparkContext.getPersistentRDDs.size
        in.addData(keys.map(k => OrderEvent(k.toLong, 2.0, "O")): _*)
        q.processAllAvailable()
        assert(spark.sparkContext.getPersistentRDDs.size == before,
          "a trigger left RDDs persisted")
        val storeKeys = graft.streaming.UpsertSink.readStore(spark, store)
          .select("custkey").distinct().count()
        assert(q.lastProgress.stateOperators.head.numRowsTotal == storeKeys,
          s"state rows ${q.lastProgress.stateOperators.head.numRowsTotal} " +
            s"!= store keys $storeKeys")
      }
    } finally q.stop()
  }
}
