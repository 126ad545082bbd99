package graft

import graft.sources.VersionedStore
import graft.streaming.{UpsertSink, VersionedCommitSink}
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Driver-side reads of small parquet relations: a literal-key point
  * probe under the broadcast threshold is served on the driver with no
  * Spark job and answers exactly what the Spark semi-join answers (rows,
  * schema, input files); store-metadata reads launch no job at all. */
class LocalParquetSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_localpq_$tag").toString + "/store"

  private val groups = new AtomicInteger

  /** `body`'s result and the number of Spark jobs it launched (jobs of
    * its own job group only, so stray jobs of other threads don't
    * count). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"localpq-${groups.incrementAndGet()}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      ListenerBusBridge.drain(sc)
      (r, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def served(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.exists(
      _.getClass.getName == "graft.sources.LocalParquet$Relation")

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** The driver path and the Spark path (the same keys, repartitioned so
    * they no longer plan to a LocalRelation) agree on rows, schema and
    * input files; the driver path runs no job and its scan reports the
    * files it opened. */
  private def sameAsSpark(path: String, v: Int, keys: DataFrame, keyCol: String): Seq[String] = {
    val ((local, got), jobs) = jobsOf {
      val df = VersionedStore.readKeys(spark, path, v, keys, keyCol)
      (df, df.collect())
    }
    assert(served(local), s"v$v $keys: not served on the driver")
    assert(jobs == 0, s"v$v: the driver-path probe ran $jobs jobs")
    val spark0 = VersionedStore.readKeys(spark, path, v, keys.repartition(2), keyCol)
    assert(!served(spark0))
    assert(local.schema == spark0.schema, s"${local.schema} vs ${spark0.schema}")
    val want = spark0.collect()
    assert(sorted(got) == sorted(want), s"v$v: rows differ")
    assert(local.inputFiles.sorted.toSeq == spark0.inputFiles.sorted.toSeq,
      s"v$v: input files ${local.inputFiles.toSeq} vs ${spark0.inputFiles.toSeq}")
    val metric = (name: String) => collectWithSubqueries(local.queryExecution.executedPlan) {
      case n if n.metrics.contains(name) => n.metrics(name).value }.sum
    assert(metric("numFiles") == local.inputFiles.length)
    assert(metric("numOutputRows") == got.length)
    sorted(got)
  }

  private def withThreshold[T](bytes: Long)(body: => T): T = {
    val k = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(k)
    spark.conf.set(k, bytes.toString)
    try body finally spark.conf.set(k, prev)
  }

  test("long keys with blooms and a dv: the driver path equals the Spark path") {
    val path = tmp("long")
    // EVEN keys only: odd probes are in-band-but-absent (the bloom's job)
    VersionedCommitSink.appendBatch(
      (1L to 4000L).map(k => (k * 2, k * 4)).toDF("k", "v")
        .repartitionByRange(8, col("k")).sortWithinPartitions("k"), path, 0L)
    // an all-absent dv erasure commits nothing but heals bands + blooms
    VersionedStore.deleteCommitDv(spark, path, Seq(-1L).toDF("k"), "k")
    val v1 = VersionedStore.versions(spark, path).last
    val v2 = VersionedStore.deleteCommitDv(spark, path, Seq(10L, 5000L).toDF("k"), "k")
    assert(v2 > v1 && VersionedStore.dvAt(spark, path, v2).isDefined)
    val cases = Seq(
      Seq(Some(10L), Some(20L), Some(30L)), // present, one band
      Seq(Some(999999L)), // outside every band
      Seq(Some(21L), Some(4443L)), // inside a band, absent
      Seq(Some(20L), Some(20L), Some(5000L), Some(5000L)), // duplicated
      Seq(None, Some(20L)), // a null key never matches
      Seq(Some(10L), Some(7998L))) // spans two files
    cases.foreach { ks =>
      Seq(v1, v2).foreach(v => sameAsSpark(path, v, ks.toDF("k"), "k"))
    }
    assert(sameAsSpark(path, v1, Seq(10L, 20L).toDF("k"), "k").size == 2)
    assert(sameAsSpark(path, v2, Seq(10L, 20L, 5000L).toDF("k"), "k") ==
      Seq("[20,40]"), "a dv-purged key leaked through the driver path")
    // int keys probe a long-keyed store in the integral key space
    assert(sameAsSpark(path, v2, Seq(20, 22).toDF("k"), "k").size == 2)
    // the in-band-but-absent probe opens at most a bloom false positive
    assert(VersionedStore.readKeys(spark, path, v1, Seq(21L, 4443L).toDF("k"), "k")
      .inputFiles.length < VersionedStore.versionFiles(spark, path, v1).length)
  }

  test("int keys without blooms; a purge that emptied the manifest") {
    val path = tmp("int")
    UpsertSink.upsertBatch((1 to 500).map(k => (k, k.toLong * 3)).toDF("id", "amount")
      .repartition(1), path, 0L, "id", initialPartitions = 4)
    val v1 = VersionedStore.versions(spark, path).last
    assert(!new java.io.File(VersionedStore.bloomsDir(path)).exists())
    Seq(Seq(Some(7)), Seq(Some(7), Some(7), Some(480)), Seq(Some(9999)), Seq(None, Some(3)),
        Seq.empty[Option[Int]]).foreach(ks => sameAsSpark(path, v1, ks.toDF("id"), "id"))
    assert(sameAsSpark(path, v1, Seq(7).toDF("id"), "id") == Seq("[7,21]"))
    // long keys probe an int-keyed store
    assert(sameAsSpark(path, v1, Seq(7L, 8L).toDF("id"), "id").size == 2)
    val v2 = VersionedStore.deleteCommit(spark, path, (1 to 500).toDF("id"), "id")
    // the committed tip lists zero files: its schema comes from v1
    VersionedStore.writeManifest(spark, path, v2, Nil)
    assert(sameAsSpark(path, v2, Seq(7).toDF("id"), "id").isEmpty)
  }

  test("string keys hash bit for bit on the driver; unstatted manifests " +
      "read every file") {
    val path = tmp("str")
    val rows = (1 to 300).map(i => (f"user-$i%04d@example.com", i.toLong)).toDF("email", "uid")
    VersionedStore.appendCommit(spark, path, rows, "email", 6)
    // an append manifest carries no bands: every file owns every key
    val v1 = VersionedStore.versions(spark, path).last
    val one = Seq("user-0042@example.com").toDF("email")
    sameAsSpark(path, v1, one, "email")
    assert(VersionedStore.readKeys(spark, path, v1, one, "email").inputFiles.length ==
      VersionedStore.versionFiles(spark, path, v1).length)
    // a COW erasure heals bands + blooms: the hashed probe is pruned
    val v2 = VersionedStore.deleteCommit(spark, path, Seq("user-0007@example.com").toDF("email"), "email")
    Seq(Seq(Some("user-0042@example.com")), Seq(Some("user-0007@example.com")),
        Seq(Some("nobody@example.com")), Seq(None, Some("user-0100@example.com")),
        Seq(Some("user-0100@example.com"), Some("user-0100@example.com"))).foreach { ks =>
      Seq(v1, v2).foreach(v => sameAsSpark(path, v, ks.toDF("email"), "email"))
    }
    assert(sameAsSpark(path, v2, one, "email") == Seq("[user-0042@example.com,42]"))
    assert(VersionedStore.readKeys(spark, path, v2, one, "email").inputFiles.length <
      VersionedStore.versionFiles(spark, path, v2).length)
  }

  test("non-local keys, a threshold of -1 and an over-threshold owning set " +
      "take the Spark path") {
    val path = tmp("fallback")
    UpsertSink.upsertBatch((1L to 200L).map(k => (k, k)).toDF("key", "amount"),
      path, 0L, "key", initialPartitions = 2)
    val v = VersionedStore.versions(spark, path).last
    val want = Seq("[5,5]")
    def spark0(df: => DataFrame): Unit = {
      val ((d, rows), jobs) = jobsOf { val d = df; (d, d.collect()) }
      assert(!served(d) && jobs > 0 && sorted(rows) == want)
    }
    spark0(VersionedStore.readKeys(spark, path, v,
      spark.range(5, 6).toDF("key"), "key"))
    withThreshold(-1)(spark0(VersionedStore.readKeys(spark, path, v,
      Seq(5L).toDF("key"), "key")))
    withThreshold(1)(spark0(VersionedStore.readKeys(spark, path, v,
      Seq(5L).toDF("key"), "key")))
  }

  test("store-metadata reads launch no Spark job") {
    val path = tmp("meta")
    (0 until 9).foreach { b =>
      UpsertSink.upsertBatch(Seq((b.toLong, b.toLong), (100L + b, 1L)).toDF("key", "amount"),
        path, b.toLong, "key")
    }
    VersionedStore.deleteCommitDv(spark, path, Seq(3L).toDF("key"), "key")
    val v = VersionedStore.versions(spark, path).last
    assert(v == 10)
    val file = VersionedStore.versionFiles(spark, path, v).head
    val keys = Seq(1L).toDF("key")
    // the tenth commit checkpointed; rebuild that checkpoint
    val ckpt = new java.io.File(VersionedStore.checkpointDir(path) + "/v10")
    assert(ckpt.delete())
    val (_, jobs) = jobsOf {
      VersionedStore.versionFiles(spark, path, v)
      VersionedStore.fileKeyStatsReadOnly(spark, path, v)
      VersionedStore.requireKeyClassMatch(spark, path, v, keys, "key")
      VersionedStore.requireKeyClassMatch(spark, file, keys, "key")
      VersionedStore.schemaCarrier(spark, path, v).collect()
      VersionedStore.maybeCheckpoint(spark, path, v)
    }
    assert(jobs == 0, s"metadata reads ran $jobs jobs")
    assert(ckpt.exists())
    val stats = VersionedStore.fileKeyStatsReadOnly(spark, path, v).get
    assert(stats.columns.toSeq == Seq("file", "mn", "mx", "bloom"))
    assert(stats.count() == VersionedStore.versionFiles(spark, path, v).length)
    assert(VersionedStore.schemaCarrier(spark, path, v).schema ==
      spark.read.parquet(file).schema)
    // the rebuilt checkpoint resolves every committed batch id
    assert(graft.sources.TxnLog.committedBatchIds(spark, path).filter(_._1 >= 0) ==
      (0 until 9).map(b => b.toLong -> (b + 1)).toMap)
  }
}
