package graft

import graft.streaming.{SearchDocSink, Streams, UpsertSink}
import graft.streaming.Streams.OrderEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class UpsertSinkSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("foreachBatch upsert store holds the latest merged entity per key") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_store_").toString
    val store = s"$base/entities"
    val ckpt = s"$base/ckpt"
    val in = MemoryStream[OrderEvent]
    val q = UpsertSink.writeTo(Streams.entityStream(in.toDS()), store, ckpt)
    try {
      in.addData(OrderEvent(1, 10.0, "O"), OrderEvent(2, 3.0, "F"))
      q.processAllAvailable()
      val after1 = UpsertSink.readStore(spark, store).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(after1 == Map(1L -> 1L, 2L -> 1L)) // one trip each

      in.addData(OrderEvent(1, 6.0, "F"), OrderEvent(3, 1.0, "P"))
      q.processAllAvailable()
      val after2 = UpsertSink.readStore(spark, store)
        .select("custkey", "totalTrips", "totalAmount").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      // key 1 updated in place (2 trips, 16.0), key 2 untouched, key 3 inserted
      assert(after2 == Map(
        1L -> (2L, 16.0), 2L -> (1L, 3.0), 3L -> (1L, 1.0)))
    } finally q.stop()
  }

  test("merge replay is skipped by its txn marker and a crashed attempt is overwritten") {
    import graft.streaming.Streams.EntityUpdate
    val store = Files.createTempDirectory("graft_store_").toString + "/entities"
    def batch(rows: (Long, Long, Double)*) =
      rows.map { case (k, n, amt) =>
        EntityUpdate(k, "Modified", n, amt, amt, 0L, n) }.toDS()

    assert(UpsertSink.mergeBatch(
      batch((1L, 1L, 10.0), (2L, 1L, 3.0)), store, 0L).contains(1))
    val b2 = batch((1L, 2L, 16.0), (3L, 1L, 1.0))
    assert(UpsertSink.mergeBatch(b2, store, 1L).contains(2))
    def snap() = UpsertSink.readStore(spark, store).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val once = snap()
    // foreachBatch is at-least-once: the SAME batch may be replayed after
    // a crash. A replayed batch id finds its commit marker and is skipped
    // — no new version, no content change.
    assert(UpsertSink.mergeBatch(b2, store, 1L).isEmpty,
      "replayed batch id was not skipped")
    assert(snap() == once, "replaying the same batch changed the store")
    assert(graft.sources.VersionedStore.versions(spark, store) == Seq(1, 2),
      "replay committed a duplicate version")

    // crash AFTER the manifest write but BEFORE the txn marker: the
    // uncommitted version is invisible to readers, and the next merge
    // claims the same version number, overwriting the leftover.
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val orphanManifest = new org.apache.hadoop.fs.Path(
      graft.sources.VersionedStore.manifestPath(store, 3))
    fs.mkdirs(orphanManifest) // simulate the leftover (empty manifest dir)
    assert(snap() == once, "uncommitted leftover changed reader state")
    assert(UpsertSink.mergeBatch(batch((2L, 2L, 7.5)), store, 2L).contains(3),
      "merge after a crashed attempt did not claim the orphaned version")
    assert(snap() == Seq((1L, 2L, 16.0), (2L, 2L, 7.5), (3L, 1L, 1.0)),
      "crash recovery lost state")
  }

  test("per-trigger upsert IO tracks the batch, not the store") {
    // The 100 TB contract: a one-key micro-batch against a many-file
    // store must rewrite ONLY the file(s) owning that key — every
    // untouched file is carried forward BY REFERENCE (same physical
    // path in both manifests), and the commit's new bytes are a small
    // fraction of the store's.
    import graft.streaming.Streams.EntityUpdate
    import graft.sources.VersionedStore
    val store = Files.createTempDirectory("graft_store_").toString + "/entities"
    val big = (1L to 5000L).map(k =>
      EntityUpdate(k, "New", 1L, k.toDouble, k.toDouble, 0L, 1L)).toDS()
    val bigDf = big.toDF().select($"custkey", $"totalTrips", $"totalAmount",
      $"maxAmount", $"openTrips", $"fulfilledTrips")
    assert(UpsertSink.upsertBatch(bigDf, store, 0L, "custkey",
      initialPartitions = 8).contains(1))
    val v1Files = VersionedStore.versionFiles(spark, store, 1).toSet
    // range sampling may leave a boundary partition empty — require
    // "many files", not an exact count (the KnnGraphStoreSpec lesson)
    assert(v1Files.size >= 4, s"initial commit produced ${v1Files.size} files")

    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def bytes(files: Set[String]): Long = files.toSeq.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(f)).getLen).sum
    val storeBytes = bytes(v1Files)

    val tiny = Seq(EntityUpdate(17L, "Modified", 9L, 99.0, 99.0, 0L, 9L)).toDS()
    assert(UpsertSink.mergeBatch(tiny, store, 1L).contains(2))
    val v2Files = VersionedStore.versionFiles(spark, store, 2).toSet
    val newFiles = v2Files -- v1Files
    val carried = v2Files.intersect(v1Files)
    // exactly one owning file rewritten; the rest shared by reference
    assert(carried.size == v1Files.size - 1,
      s"expected 1 rewritten file, got ${v1Files.size - carried.size}")
    assert(bytes(newFiles) * 4 < storeBytes,
      s"one-key commit wrote ${bytes(newFiles)} of $storeBytes store bytes")
    // and the content merged correctly
    val r = UpsertSink.readStore(spark, store)
      .filter($"custkey" === 17L).select("totalTrips").head().getLong(0)
    assert(r == 9L)
    assert(UpsertSink.readStore(spark, store).count() == 5000L)

    // the read-side prune: a one-key lookup opens ONE owning file, not
    // the store (the classification path's cost model)
    val touched = UpsertSink.readTouched(spark, store,
      Seq(17L).toDF("custkey"), "custkey").get
    assert(touched.inputFiles.length == 1,
      s"touched read opened ${touched.inputFiles.length} files")
    assert(touched.filter($"custkey" === 17L).count() == 1L)
    // a key outside every band reads an EMPTY frame
    val none = UpsertSink.readTouched(spark, store,
      Seq(999999L).toDF("custkey"), "custkey").get
    assert(none.count() == 0L)

    // data files land in per-VERSION dirs: version numbers allocate
    // fresh above the committed tip and never reuse once committed, so
    // a checkpoint reset (batch ids restarting at 0) can never rewrite
    // a directory whose files the live manifest still carries forward
    assert(newFiles.forall(_.contains("/data/v2/")),
      s"v2 files not under data/v2: $newFiles")

    // MAINTENANCE INTEROP: a compaction (CALL graft_store_optimize)
    // writes a file-only manifest; the stream's stats read must
    // self-heal instead of crashlooping, and the next commit restores
    // the stats manifest
    import graft.sources.VersionedStore
    VersionedStore.compactCommit(spark, store, "custkey", 16L << 10) // many small files: the prune has files to SKIP
    val afterOpt = UpsertSink.readTouched(spark, store,
      Seq(17L).toDF("custkey"), "custkey").get
    assert(afterOpt.filter($"custkey" === 17L).count() == 1L,
      "readTouched broke on the compacted (file-only) manifest")
    val tiny2 = Seq(EntityUpdate(18L, "Modified", 7L, 7.0, 7.0, 0L, 7L)).toDS()
    assert(UpsertSink.mergeBatch(tiny2, store, 2L).isDefined,
      "upsert after optimize failed")
    assert(UpsertSink.readStore(spark, store)
      .filter($"custkey" === 18L).select("totalTrips").head().getLong(0) == 7L)
    // the post-optimize commit's manifest carries stats again: a
    // one-key read is pruned (strictly fewer files than the store)
    val healed = UpsertSink.readTouched(spark, store,
      Seq(17L).toDF("custkey"), "custkey").get
    assert(healed.inputFiles.length <
      UpsertSink.readStore(spark, store).inputFiles.length,
      "stats prune not restored after optimize + commit")

    // string keys are supported (hashed key space, round-15 verdict
    // #2); a genuinely unsupported type is a LOUD contract error
    assert(UpsertSink.upsertBatch(Seq(("a@x", 1L)).toDF("email", "v"),
      store + "_str", 0L, "email").contains(1))
    val err = intercept[IllegalArgumentException] {
      UpsertSink.upsertBatch(Seq((1.5, 1L)).toDF("fkey", "v"),
        store + "_fkey", 0L, "fkey")
    }
    assert(err.getMessage.contains("unsupported store key type"),
      err.getMessage)
  }

  /** One evaluation per trigger: the sink acts on its `foreachBatch`
    * frame several times (emptiness and key band, owning files, the
    * rewrite, the change diff), and every action on an unpersisted
    * frame re-runs the entity fold upstream of it, adding that fold's
    * state rows to the trigger's metrics again. Evaluated once,
    * `numRowsTotal` equals the store's distinct keys exactly, revisited
    * keys included, and the persisted frames are released on every
    * exit: commit, replayed batch id and empty batch. */
  private def oneEvaluationPerTrigger(rocksDb: Boolean): Unit = {
    import graft.streaming.Streams.EntityUpdate
    val s = spark.newSession()
    if (rocksDb) s.conf.set("spark.sql.streaming.stateStore.providerClass",
      Engine.RocksDbStateStoreProvider)
    implicit val sqlCtx = s.sqlContext
    val base = Files.createTempDirectory("graft_once_").toString
    val store = s"$base/entities"
    def persistedRdds = s.sparkContext.getPersistentRDDs.size
    def storeKeys = UpsertSink.readStore(s, store)
      .select("custkey").distinct().count()
    val in = MemoryStream[OrderEvent]
    val q = UpsertSink.writeTo(Streams.entityStream(in.toDS()), store,
      s"$base/ckpt")
    try {
      // three triggers, the second and third revisiting earlier keys
      Seq(0 until 200, 100 until 300, 0 until 400 by 3).zipWithIndex
        .foreach { case (keys, t) =>
          val before = persistedRdds
          in.addData(keys.map(k => OrderEvent(k.toLong, 1.0 + t,
            if (k % 2 == 0) "O" else "F")): _*)
          q.processAllAvailable()
          assert(persistedRdds == before,
            s"trigger $t left ${persistedRdds - before} RDDs persisted")
          val sop = q.lastProgress.stateOperators.head
          assert(sop.numRowsTotal == storeKeys,
            s"trigger $t: state rows ${sop.numRowsTotal} != store keys " +
              s"$storeKeys — the entity fold ran more than once")
          if (rocksDb) assert(sop.customMetrics.keySet.asScala
            .exists(_.toLowerCase.contains("rocksdb")), "provider not RocksDB")
        }
    } finally q.stop()
    assert(storeKeys == 334L) // [0, 300) plus the multiples of 3 in [300, 400)

    val lastBatch = q.lastProgress.batchId
    val before = persistedRdds
    val replay = Seq(EntityUpdate(1L, "Modified", 9L, 9.0, 9.0, 0L, 9L)).toDS()
    assert(UpsertSink.mergeBatch(replay, store, lastBatch).isEmpty,
      "replayed batch id was not skipped")
    assert(persistedRdds == before, "a replayed batch left RDDs persisted")
    assert(UpsertSink.mergeBatch(s.emptyDataset[EntityUpdate], store,
      lastBatch + 1).isEmpty, "an empty batch committed")
    assert(persistedRdds == before, "an empty batch left RDDs persisted")
  }

  test("each trigger evaluates the entity fold once (in-heap state)") {
    oneEvaluationPerTrigger(rocksDb = false)
  }

  test("each trigger evaluates the entity fold once (RocksDB state)") {
    oneEvaluationPerTrigger(rocksDb = true)
  }

  test("search-doc sink resumes batch numbering after a checkpoint restart") {
    // index-side restart contract: committed batches keep their files
    // untouched (no re-index), the restarted query continues from the
    // next batch id, and down-time arrivals land in the new batch
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_idx_restart_").toString
    val in = MemoryStream[(Long, String, Double)]
    def stream() = in.toDS().toDF("user_id", "event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56")))
    val q1 = SearchDocSink.writeTo(stream(), s"$base/idx", s"$base/ckpt")
    try {
      in.addData((7L, "purchase", 1.25))
      q1.processAllAvailable()
    } finally q1.stop()
    val batch0 = spark.read.json(s"$base/idx/batch_0")
      .collect().map(_.getAs[String]("id")).toSet

    in.addData((9L, "error", 0.5)) // arrives while the query is down

    val q2 = SearchDocSink.writeTo(stream(), s"$base/idx", s"$base/ckpt")
    try {
      q2.processAllAvailable()
      assert(spark.read.json(s"$base/idx/batch_0")
        .collect().map(_.getAs[String]("id")).toSet == batch0,
        "restart rewrote a committed index batch")
      assert(spark.read.json(s"$base/idx/batch_1")
        .collect().map(_.getAs[String]("id")).toSet ==
        Set("9,2024-03-01T12:34:56Z"),
        "down-time arrival missing from the post-restart batch")
    } finally q2.stop()
  }

  test("upsert sink and entity state survive a checkpoint restart exactly-once") {
    // The contract the reference's Kudu/Solr sinks could not make: kill
    // the query between micro-batches, restart from the SAME checkpoint,
    // and (a) the flatMapGroupsWithState state store resumes (key 1's
    // totals ACCUMULATE across the restart instead of restarting at 1),
    // (b) the committed batch is not reprocessed (exactly-once effect on
    // the store: replay would be idempotent here, so assert on batch ids,
    // not just store content), (c) data that arrived while the query was
    // down is processed on restart.
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_restart_").toString
    val store = s"$base/entities"
    val ckpt = s"$base/ckpt"
    val in = MemoryStream[OrderEvent]
    val q1 = UpsertSink.writeTo(Streams.entityStream(in.toDS()), store, ckpt)
    try {
      in.addData(OrderEvent(1, 10.0, "O"), OrderEvent(2, 3.0, "F"))
      q1.processAllAvailable()
    } finally q1.stop() // the "kill": batch 0 committed, query gone

    // arrivals while the query is down
    in.addData(OrderEvent(1, 6.0, "F"), OrderEvent(3, 1.0, "P"))

    val q2 = UpsertSink.writeTo(Streams.entityStream(in.toDS()), store, ckpt)
    try {
      q2.processAllAvailable()
      val after = UpsertSink.readStore(spark, store)
        .select("custkey", "totalTrips", "totalAmount").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(after == Map(
        1L -> (2L, 16.0), 2L -> (1L, 3.0), 3L -> (1L, 1.0)),
        s"restart lost or double-applied state: $after")
      // resumed, not replayed: every batch the restarted query processed
      // has id >= 1 (batch 0's commit survived in the checkpoint)
      val ids = q2.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
      assert(ids.nonEmpty && ids.forall(_ >= 1),
        s"restarted query reprocessed committed batches: ${ids.mkString(",")}")
    } finally q2.stop()
  }

  test("search-doc sink writes ISO-8601 batch files with synthesized ids") {
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("graft_index_").toString
    case class Ev(ts: java.sql.Timestamp, user_id: Long, event_type: String, value: Double)
    val in = MemoryStream[(Long, String, Double)]
    val df = in.toDS().toDF("user_id", "event_type", "value")
      .withColumn("ts", org.apache.spark.sql.functions.lit(
        java.sql.Timestamp.valueOf("2024-03-01 12:34:56")))
    val q = SearchDocSink.writeTo(df, s"$base/idx", s"$base/ckpt")
    try {
      in.addData((7L, "purchase", 1.25), (9L, "error", 0.5))
      q.processAllAvailable()
      val docs = spark.read.json(s"$base/idx/batch_0").collect()
        .map(r => r.getAs[String]("id")).sorted
      assert(docs.sameElements(Array(
        "7,2024-03-01T12:34:56Z", "9,2024-03-01T12:34:56Z")), docs.mkString("|"))
      // the emitted field set/types match the declared index schema (the
      // schema.xml contract) — drift here must fail, not reach the index
      assert(SearchDocSink.conforms(SearchDocSink.toDocs(df)),
        s"doc projection drifted: ${SearchDocSink.toDocs(df).schema.sql}")
      assert(SearchDocSink.indexSchema.fieldNames.head == "id",
        "uniqueKey must lead the schema")
    } finally q.stop()
  }
}
