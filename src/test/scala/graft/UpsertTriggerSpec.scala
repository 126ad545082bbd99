package graft

import graft.sources.{ChangeFeed, LocalParquet, TxnLog, VersionedStore}
import graft.streaming.UpsertSink
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFooterReader
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The fixed cost of one keyed upsert trigger: store metadata (manifest,
  * key bands, txn record) is written and read on the driver with no
  * Spark job and lands as the files Spark's writer would leave; the
  * write-path change diff is one pass with the rows of the four-branch
  * union it replaced; a steady trigger runs two SQL executions, the
  * bands deciding its owning files; and a null batch key is refused
  * before any claim. */
class UpsertTriggerSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_trigger_$tag").toString + "/store"

  private val groups = new AtomicInteger

  /** `body`'s result and, per Spark job it launched in its own job
    * group, the call-site stack it ran under: its SQL execution's, or
    * its stages' for a job outside one. (A job that adaptive execution
    * submits runs on another thread, so only the execution's call site
    * names the code that asked for it.) */
  private def jobsOf[T](body: => T): (T, Seq[String]) = {
    val (r, jobs) = executionsOf(body)
    (r, jobs.map(_._2))
  }

  /** [[jobsOf]] with each job's SQL execution id. */
  private def executionsOf[T](body: => T): (T, Seq[(Option[Long], String)]) = {
    val sc = spark.sparkContext
    val group = s"trigger-${groups.incrementAndGet()}"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Option[Long], String)]
    val executions = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((Option(e.properties.getProperty("spark.sql.execution.id"))
            .map(_.toLong), e.stageInfos.map(_.details).mkString("\n")))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => executions.put(x.executionId, x.details)
        case _ =>
      }
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, group)
    try {
      val r = body
      ListenerBusBridge.drain(sc)
      import scala.jdk.CollectionConverters._
      (r, jobs.asScala.toSeq.map { case (x, stages) =>
        (x, x.flatMap(id => Option(executions.get(id))).getOrElse(stages)) })
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("a null batch key is refused before any claim") {
    val path = tmp("nullkey")
    val kv = (r: Seq[(java.lang.Long, Long)]) => r.toDF("key", "amount")
    UpsertSink.upsertBatch(kv(Seq((1L, 1L), (2L, 2L))), path, 0L, "key")
    val claims = new java.io.File(VersionedStore.claimsDir(path))
    val claimed = claims.list().toSet
    Seq(kv(Seq((null, 5L), (3L, 3L))), kv(Seq((null, 6L)))).zipWithIndex
      .foreach { case (batch, i) =>
        val e = intercept[IllegalArgumentException](
          UpsertSink.upsertBatch(batch, path, 1L + i, "key"))
        assert(e.getMessage.contains("null 'key'"), e.getMessage)
      }
    assert(claims.list().toSet == claimed, "a refused batch claimed a slot")
    assert(VersionedStore.versions(spark, path) == Seq(1))
    assert(multiset(UpsertSink.readStore(spark, path)) == Seq("[1,1]", "[2,2]"))
  }

  /** The four-branch union [[ChangeFeed.keyedDiff]] replaced, kept here
    * as the reference its one pass must equal. */
  private def fourBranchDiff(pre: DataFrame, post: DataFrame,
      keyCol: String): DataFrame = {
    val cols = (pre.columns ++ post.columns).distinct.filterNot(_ == keyCol)
    def aligned(df: DataFrame, tag: String): DataFrame = {
      val have = df.columns.toSet
      df.select(col(keyCol), struct(cols.map(c =>
        if (have(c)) col(c) else lit(null).as(c)).toIndexedSeq: _*).as(tag))
    }
    val j = aligned(pre, "_pre").join(aligned(post, "_post"),
      Seq(keyCol), "full_outer")
    def expand(row: String, ct: String) =
      Seq(col(keyCol)) ++ cols.map(c => col(row).getField(c).as(c)) :+
        lit(ct).as(ChangeFeed.ChangeType)
    val chg = j.filter(col("_pre").isNotNull && col("_post").isNotNull &&
      !(col("_pre") <=> col("_post")))
    j.filter(col("_pre").isNull).select(expand("_post", "insert"): _*)
      .unionAll(j.filter(col("_post").isNull).select(expand("_pre", "delete"): _*))
      .unionAll(chg.select(expand("_pre", "update_preimage"): _*))
      .unionAll(chg.select(expand("_post", "update_postimage"): _*))
  }

  test("the one-pass keyed diff gives the four-branch union's rows") {
    // keys: 1 unchanged, 2 updated, 3 deleted, 4 inserted, 5 unchanged
    // with a null field, 6 a null field set, 7 a field nulled, and a
    // null key on each side; `b` exists only before, `c` (all null
    // unless set) only after
    val pre = Seq[(java.lang.Long, Integer)]((1L, 10), (2L, 20), (3L, 30),
      (5L, null), (6L, null), (7L, 70), (null, 0)).toDF("key", "a")
    val post = Seq[(java.lang.Long, Integer, java.lang.Double)](
        (1L, 10, null), (2L, 21, null), (4L, 40, null), (5L, null, null),
        (6L, 60, null), (7L, null, null), (null, 0, null))
      .toDF("key", "a", "c")
    val withB = Seq[(java.lang.Long, Integer, String)](
        (1L, 10, "x"), (2L, 20, "y"), (3L, 30, "z"), (5L, null, "n"))
      .toDF("key", "a", "b")
    val cases = Seq(
      "same columns" -> (pre, post.drop("c")),
      "evolved column after" -> (pre, post),
      "column dropped after" -> (withB, post.drop("c")),
      "columns on one side each" -> (withB, post),
      "post carries a set evolved field" -> (pre,
        post.withColumn("c", when(col("key") === 1L, lit(1.5)).otherwise(col("c")))))
    cases.foreach { case (name, (p, q)) =>
      val got = ChangeFeed.keyedDiff(p, q, "key")
      val want = fourBranchDiff(p, q, "key")
      assert(got.columns.toSeq == want.columns.toSeq, name)
      assert(got.schema.map(_.dataType) == want.schema.map(_.dataType), name)
      assert(multiset(got) == multiset(want), name)
    }
    // the unchanged keys produce no row; every change kind is covered
    val kinds = ChangeFeed.keyedDiff(pre, post, "key")
      .groupBy(ChangeFeed.ChangeType).count().as[(String, Long)].collect().toMap
    assert(kinds == Map("insert" -> 2L, "delete" -> 2L,
      "update_preimage" -> 3L, "update_postimage" -> 3L), kinds)
  }

  test("a steady upsert trigger runs no job for the manifest, the key " +
      "bands or the txn record") {
    val path = tmp("steady")
    val batches = (0 until 3).map(b => (0L until 200L).map(k => (k * 7 + b, k + b))) :+
      (0L until 50L).map(k => (k * 13, -k))
    batches.init.zipWithIndex.foreach { case (rows, b) =>
      UpsertSink.upsertBatch(rows.toDF("key", "amount"), path, b.toLong, "key")
    }
    val (v, sites) = jobsOf(UpsertSink.upsertBatch(
      batches.last.toDF("key", "amount"), path, 3L, "key"))
    assert(v.contains(4))
    val metadata = sites.filter(s => Seq("writeRecord", "keyBands", "writeManifest",
      "LocalParquet").exists(s.contains))
    assert(metadata.isEmpty, s"metadata jobs:\n${metadata.mkString("\n---\n")}")
    info(s"steady upsertBatch: ${sites.size} jobs")
    assert(multiset(UpsertSink.readStore(spark, path)) ==
      batches.flatten.toMap.toSeq.map { case (k, a) => s"[$k,$a]" }.sorted)
    // the footer-read bands equal the aggregate over the same files
    val files = VersionedStore.versionFiles(spark, path, 4).toSeq
    val bands = VersionedStore.manifestBands(VersionedStore.manifest(spark, path, 4)).get
    val agg = spark.read.parquet(files: _*).groupBy(input_file_name().as("f"))
      .agg(min("key"), max("key")).as[(String, Long, Long)].collect()
      .map(t => (VersionedStore.canon(t._1), t._2, t._3))
    assert(bands.toSeq.sorted == agg.toSeq.sorted)
  }

  /** The Spark row metadata (schema with nullability) of `dir`'s one
    * data file, and its codec suffix. */
  private def footerOf(dir: String): (String, String) = {
    val st = LocalParquet.ls(spark, dir)
    assert(st.size == 1, s"$dir holds ${st.size} data files")
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(st.head, spark.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS).getFileMetaData
    (meta.getKeyValueMetaData.get("org.apache.spark.sql.parquet.row.metadata"),
      st.head.getPath.getName.replaceAll("^part-00000-[0-9a-f-]+-c000", ""))
  }

  private def sameAsTwin(driver: String, twin: String): Unit = {
    // the txn record's dir also holds its marker: Spark reads the data file
    def read(dir: String) = spark.read.parquet(
      LocalParquet.ls(spark, dir).map(_.getPath.toString): _*)
    val (d, t) = (read(driver), read(twin))
    assert(d.schema == t.schema)
    assert(multiset(d) == multiset(t))
    val (ld, lt) = (LocalParquet.table(spark, driver), LocalParquet.table(spark, twin))
    assert(ld.schema == lt.schema && ld.schema == d.schema)
    assert(ld.rows.map(_.toString).sorted == lt.rows.map(_.toString).sorted)
    assert(footerOf(driver) == footerOf(twin))
    assert(new java.io.File(driver, "_SUCCESS").exists())
  }

  test("driver-written manifests and txn records read back as their " +
      "Spark-written twins") {
    val path = tmp("compat")
    val base = new java.io.File(path).getParent
    val bands = Seq(("/d/b.parquet", 5L, 9L), ("/d/a.parquet", -3L, 4L))
    val (_, sites) = jobsOf {
      VersionedStore.writeManifest(spark, path, 1, VersionedStore.bandManifest(bands))
      VersionedStore.writeManifest(spark, path, 2, Seq("/d/b.parquet", "/d/a.parquet"))
      TxnLog.writeRecord(spark, path, 1, 42L, "upsert")
    }
    assert(sites.isEmpty, s"driver writes ran ${sites.size} jobs")
    bands.sortBy(_._1).toDF("file", "mn", "mx").coalesce(1).write.parquet(s"$base/twin_bands")
    Seq("/d/a.parquet", "/d/b.parquet").toDF("file").coalesce(1).write
      .parquet(s"$base/twin_files")
    val ts = LocalParquet.table(spark, VersionedStore.txnPath(path, 1))
      .rows.head.getAs[Long]("commit_ts")
    Seq((42L, ts, "upsert")).toDF("batch_id", "commit_ts", "operation")
      .coalesce(1).write.parquet(s"$base/twin_txn")
    sameAsTwin(VersionedStore.manifestPath(path, 1), s"$base/twin_bands")
    sameAsTwin(VersionedStore.manifestPath(path, 2), s"$base/twin_files")
    sameAsTwin(VersionedStore.txnPath(path, 1), s"$base/twin_txn")
    // a rewrite replaces the table: one data file, the new rows
    VersionedStore.writeManifest(spark, path, 2, Seq("/d/c.parquet"))
    assert(LocalParquet.table(spark, VersionedStore.manifestPath(path, 2)).rows ==
      Seq(Row("/d/c.parquet")))
    assert(LocalParquet.ls(spark, VersionedStore.manifestPath(path, 2)).size == 1)
  }

  test("key bands: footers for integral keys, the aggregate for hashed " +
      "keys, both equal to the aggregate") {
    val base = Files.createTempDirectory("graft_trigger_bands").toString
    def aggregate(files: Seq[String], key: Column): Seq[(String, Long, Long)] =
      spark.read.parquet(files: _*).groupBy(input_file_name().as("f"))
        .agg(min(key), max(key)).as[(String, Long, Long)].collect()
        .map(t => (VersionedStore.canon(t._1), t._2, t._3)).toSeq.sorted
    def filesOf(dir: String) = VersionedStore.hadoopLs(spark, dir).toSeq.sorted
    // int keys over many row groups per file, one file with no rows
    val ints = s"$base/ints"
    spark.range(0, 6000).select((col("id") * 3 - 7000).cast("int").as("key"),
        col("id").as("v")).repartition(3, col("v")).write
      .option("parquet.block.size", 4096).parquet(ints)
    spark.range(0).select(col("id").cast("int").as("key"), col("id").as("v"))
      .coalesce(1).write.mode("append").parquet(ints)
    val intFiles = filesOf(ints)
    val (intBands, intJobs) = jobsOf(VersionedStore.keyBands(spark, intFiles, "key"))
    assert(intJobs.isEmpty, s"integral bands ran ${intJobs.size} jobs")
    assert(intBands.toSeq.sorted == aggregate(intFiles, col("key").cast("long")))
    val groupsPerFile = LocalParquet.status(spark, intFiles)
      .map(st => LocalParquet.integralBounds(spark, st, "key").size)
    assert(groupsPerFile.max > 1, "the int files hold one row group each")
    assert(groupsPerFile.contains(0) && intBands.length == intFiles.size - 1,
      "the file with no rows has a band")
    // string keys hash: their bands come from the aggregate
    val strs = s"$base/strs"
    spark.range(0, 300).select(concat(lit("user-"), col("id")).as("key"), col("id").as("v"))
      .repartition(2).write.parquet(strs)
    val strFiles = filesOf(strs)
    assert(VersionedStore.keyBands(spark, strFiles, "key").toSeq.sorted ==
      aggregate(strFiles, xxhash64(col("key"))))
  }

  test("a steady upsert trigger on a one-file store runs two SQL " +
      "executions and no owning-file join") {
    val path = tmp("twoexec")
    (0 until 3).foreach(b => UpsertSink.upsertBatch(
      (0L until 300L).map(k => (k * 5 + b, k + b)).toDF("key", "amount"), path, b.toLong, "key"))
    assert(VersionedStore.versionFiles(spark, path, 3).length == 1)
    val batch = (0L until 50L).map(k => (k * 29, -k))
    val (v, jobs) = executionsOf(UpsertSink.upsertBatch(
      batch.toDF("key", "amount"), path, 3L, "key"))
    assert(v.contains(4))
    val executions = jobs.flatMap(_._1).distinct
    info(s"steady upsertBatch: ${jobs.size} jobs in ${executions.size} SQL executions")
    assert(jobs.forall(_._1.isDefined), "a job ran outside any SQL execution")
    assert(executions.size == 2, jobs.map(_._2).distinct.mkString("\n---\n"))
    assert(!jobs.exists(_._2.contains("owningFiles")), "the owning-file join ran")
    assert(VersionedStore.versionFiles(spark, path, 4).length == 1)
  }

  test("the owning-file join runs only over the bands strictly inside the " +
      "batch's key range, and the owning set equals the full join's") {
    val path = tmp("threefile")
    UpsertSink.upsertBatch((0L until 300L).map(k => (k, k)).toDF("key", "amount"),
      path, 0L, "key", initialPartitions = 3)
    def bands(v: Int) = VersionedStore.manifestBands(VersionedStore.manifest(spark, path, v))
      .get.toSeq.sortBy(_._2)
    // each batch's lowest key falls in the first band and its highest in
    // the last; only the first batch has a key in the middle band
    Seq((1L, Seq(10L, 150L, 250L)), (2L, Seq(20L, 260L))).foreach { case (id, keys) =>
      val parent = VersionedStore.versions(spark, path).last
      val bs = bands(parent)
      assert(bs.size == 3 && keys.head <= bs(0)._3 && bs(1)._2 > keys.head &&
        bs(1)._3 < keys.last && keys.last >= bs(2)._2, s"bands $bs")
      val (certain, open) = UpsertSink.bandSplit(
        bs.map { case (f, mn, mx) => graft.streaming.FileStats(f, mn, mx) }.toArray,
        keys.head, keys.last)
      assert(certain.toSet == Set(bs(0)._1, bs(2)._1) && open.map(_.file).toSeq == Seq(bs(1)._1))
      val (_, jobs) = executionsOf(UpsertSink.upsertBatch(
        keys.map(k => (k, -k)).toDF("key", "amount"), path, id, "key"))
      assert(jobs.exists(_._2.contains("owningFiles")), "no owning-file join ran")
      val owning = bs.map(_._1).toSet -- VersionedStore.versionFiles(spark, path, parent + 1)
      val joined = bs.filter { case (_, mn, mx) => keys.exists(k => k >= mn && k <= mx) }
        .map(_._1).toSet
      assert(owning == joined)
      assert(owning.size == (if (id == 1L) 3 else 2), s"owning $owning")
      assert(owning.contains(bs(1)._1) == keys.exists(k => k >= bs(1)._2 && k <= bs(1)._3))
    }
    assert(multiset(UpsertSink.readStore(spark, path).filter(col("amount") < 0)) ==
      Seq("[10,-10]", "[150,-150]", "[20,-20]", "[250,-250]", "[260,-260]"))
  }

  test("the fold and the fused write carry their step names; the caller's " +
      "description and call site come back") {
    val path = tmp("steps")
    UpsertSink.upsertBatch((0L until 300L).map(k => (k, k)).toDF("key", "amount"), path, 0L, "key")
    val sc = spark.sparkContext
    val named = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => named.add(x.description)
        case _ =>
      }
    }
    sc.setJobDescription("caller")
    sc.addSparkListener(l)
    try {
      UpsertSink.upsertBatch((0L until 50L).map(k => (k * 3, -k)).toDF("key", "amount"), path, 1L, "key")
      ListenerBusBridge.drain(sc)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(sc.getLocalProperty("callSite.short") == null)
    } finally {
      sc.removeSparkListener(l)
      sc.setJobDescription(null)
    }
    import scala.jdk.CollectionConverters._
    val (steps, others) = named.asScala.toSeq.partition(_.startsWith("upsert:"))
    assert(steps == Seq("upsert:fold", "upsert:write"), named)
    assert(others.forall(_ == "caller"), named)
  }
}
