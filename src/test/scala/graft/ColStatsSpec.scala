package graft

import graft.sources.{ColStats, VersionedStore}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Laws of per-column file stats (data skipping): pruning never changes
  * results (zero false negatives), the time-correlated append commit is
  * skipped exactly, unstatted files fail open, and the relation is
  * type-preserving past the key column. */
class ColStatsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  test("q121's date predicate opens EXACTLY the v2 append's files and " +
      "matches the unpruned read") {
    val path = ColStats.stattedStore(spark, TestSpark.sf)
    val f1 = VersionedStore.versionFiles(spark, path, 1).toSet
    val f2 = VersionedStore.versionFiles(spark, path, 2).toSet
    val (lo, hi) = (to_timestamp(lit("1997-01-01")), to_timestamp(lit("1998-01-01")))
    val pruned = ColStats.readPruned(spark, path, 2, "o_orderdate")(
      (mn, mx) => mx >= lo && mn < hi)
    val opened = pruned.inputFiles.map(VersionedStore.canon).toSet
    assert(opened == f2 -- f1,
      s"expected exactly the v2 delta (${(f2 -- f1).size} files), " +
        s"opened ${opened.size}")
    val full = spark.read.parquet(f2.toSeq: _*)
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .agg(count(lit(1)), sum(col("amount_c"))).as[(Long, Long)].head()
    val skip = pruned
      .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
      .agg(count(lit(1)), sum(col("amount_c"))).as[(Long, Long)].head()
    assert(skip == full, "pruning changed the filtered result")
  }

  test("unstatted files fail open; stats are type-preserving on longs") {
    val path = Files.createTempDirectory("graft_colstats_").toString + "/store"
    val dp = VersionedStore.dataPath(path)
    (1L to 800L).map(k => (k, k * 10)).toDF("key", "amount")
      .repartitionByRange(8, col("key")).sortWithinPartitions("key")
      .write.mode(SaveMode.Overwrite).parquet(dp)
    val files = VersionedStore.hadoopLs(spark, dp).toSeq.sorted
    VersionedStore.writeManifest(spark, path, 1, files)
    // stat all but the LAST file — it must survive every prune.
    // the predicate is amount <= 1000, so the OVERLAP test is mn <= 1000
    ColStats.append(spark, path, files.dropRight(1), "amount")
    val pruned = ColStats.readPruned(spark, path, 1, "amount")(
      (mn, mx) => mn <= 1000L)
    val opened = pruned.inputFiles.map(VersionedStore.canon).toSet
    assert(opened.contains(files.last), "unstatted file was wrongly skipped")
    assert(opened.size < files.size, "no file was pruned")
    // zero-FN: the filtered result matches the unpruned read
    val want = spark.read.parquet(files: _*)
      .filter(col("amount") <= 1000L).count()
    assert(pruned.filter(col("amount") <= 1000L).count() == want)
    // once the last file is statted too, its band (far above 1000)
    // prunes it as well
    ColStats.append(spark, path, Seq(files.last), "amount")
    val tight = ColStats.readPruned(spark, path, 1, "amount")(
      (mn, mx) => mn <= 1000L)
    val tightOpened = tight.inputFiles.map(VersionedStore.canon).toSet
    assert(!tightOpened.contains(files.last) && tightOpened.size < opened.size)
    assert(tight.filter(col("amount") <= 1000L).count() == want)
  }

  test("vacuum garbage-collects stale colstats entries (the bloom rule)") {
    val path = Files.createTempDirectory("graft_colstats_gc_").toString + "/store"
    VersionedStore.appendCommit(spark, path,
      (1L to 100L).map(k => (k, k)).toDF("key", "amount"), "key", 2)
    VersionedStore.deleteCommit(spark, path, (1L to 10L).toDF("key"), "key")
    val all = VersionedStore.versionFiles(spark, path, 1).toSet ++
      VersionedStore.versionFiles(spark, path, 2).toSet
    ColStats.append(spark, path, all.toSeq.sorted, "amount")
    VersionedStore.vacuum(spark, path, 1, claimGraceMs = 0L)
    val live = VersionedStore.versionFiles(spark, path, 2).toSet
    val entries = ColStats.read(spark, path, "amount").get
      .select("file").as[String].collect().toSet
    assert(entries.nonEmpty && entries.subsetOf(live),
      s"stale colstats survived vacuum: ${entries -- live}")
    // the surviving relation still prunes correctly
    val pruned = ColStats.readPruned(spark, path, 2, "amount")(
      (mn, mx) => mn <= 20L)
    assert(pruned.filter(col("amount") <= 20L).count() == 10L)
  }

  test("a configured store stats every commit's new files automatically") {
    val path = Files.createTempDirectory("graft_colstats_auto_").toString + "/store"
    ColStats.configure(spark, path, Seq("amount"))
    VersionedStore.appendCommit(spark, path,
      (1L to 100L).map(k => (k, k * 3)).toDF("key", "amount"), "key", 2)
    def entries(): Set[String] = ColStats.read(spark, path, "amount").get
      .select("file").as[String].collect().toSet
    val f1 = VersionedStore.versionFiles(spark, path, 1).toSet
    assert(f1.subsetOf(entries()), "append commit left new files unstatted")
    // COW delete: the rewritten survivor file is statted by the hook
    VersionedStore.deleteCommit(spark, path, Seq(1L, 2L).toDF("key"), "key")
    assert(VersionedStore.versionFiles(spark, path, 2).toSet
      .subsetOf(entries()), "delete commit left rewritten files unstatted")
    // compaction: the clustered rewrite is statted too
    val v3 = VersionedStore.compactCommit(spark, path, "key", 1L << 30)
    assert(VersionedStore.versionFiles(spark, path, v3).toSet
      .subsetOf(entries()), "compaction left new files unstatted")
    // the fresh stats prune correctly with NO read-path heal
    val pruned = ColStats.readPruned(spark, path, v3, "amount")(
      (mn, mx) => mn <= 30L)
    assert(pruned.filter(col("amount") <= 30L).count() == 8L)
    // a configured column absent from a later batch is skipped, not fatal
    VersionedStore.appendCommit(spark, path,
      (101L to 110L).map(k => Tuple1(k)).toDF("key"), "key", 1)
    val tip = VersionedStore.versions(spark, path).last
    assert(VersionedStore.versionFiles(spark, path, tip).length >
      VersionedStore.versionFiles(spark, path, v3).length)
  }

  test("readPruned never resurfaces deletion-vectored rows") {
    val path = Files.createTempDirectory("graft_colstats_dv_").toString + "/store"
    ColStats.configure(spark, path, Seq("amount"))
    VersionedStore.appendCommit(spark, path,
      (1L to 100L).map(k => (k, k)).toDF("key", "amount"), "key", 2)
    VersionedStore.deleteCommitDv(spark, path, Seq(5L).toDF("key"), "key")
    val v = VersionedStore.versions(spark, path).last
    val pruned = ColStats.readPruned(spark, path, v, "amount")(
      (mn, mx) => mn <= 50L)
    assert(pruned.filter(col("key") === 5L).count() == 0,
      "a dv-erased row resurfaced through the pruned read")
    assert(pruned.filter(col("amount") <= 50L).count() ==
      VersionedStore.readVersion(spark, path, v)
        .filter(col("amount") <= 50L).count())
  }

  test("duplicate stats entries resolve deterministically to the WIDEST " +
      "interval (the union over-approximation), never an arbitrary pick") {
    val path = Files.createTempDirectory("graft_colstats_dup_").toString + "/store"
    val dp = VersionedStore.dataPath(path)
    (1L to 100L).map(k => (k, k)).toDF("key", "amount")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(dp)
    val files = VersionedStore.hadoopLs(spark, dp).toSeq.sorted
    VersionedStore.writeManifest(spark, path, 1, files)
    // a legitimate re-stat appends a second row for the same file; a
    // divergent duplicate (here: hand-written narrow and wide bands)
    // must resolve to mn=min, mx=max regardless of read order
    Seq((files.head, 40L, 60L), (files.head, 10L, 90L))
      .toDF("file", "mn", "mx")
      .write.mode(SaveMode.Append).parquet(ColStats.dir(path, "amount"))
    val resolved = ColStats.read(spark, path, "amount").get
      .as[(String, Long, Long)].collect()
    assert(resolved.toSeq == Seq((files.head, 10L, 90L)),
      s"duplicate resolution is not the interval union: ${resolved.toSeq}")
    // the widened band keeps zero false negatives
    val pruned = ColStats.readPruned(spark, path, 1, "amount")(
      (mn, mx) => mx >= 15L && mn <= 15L)
    assert(pruned.filter(col("amount") === 15L).count() == 1L)
  }

  test("gc swap is crash-recoverable: every injected crash point leaves " +
      "the relation restorable by the next gc, never lost") {
    val path = Files.createTempDirectory("graft_colstats_crash_").toString + "/store"
    val dp = VersionedStore.dataPath(path)
    (1L to 100L).map(k => (k, k)).toDF("key", "amount")
      .repartitionByRange(2, col("key"))
      .write.mode(SaveMode.Overwrite).parquet(dp)
    val files = VersionedStore.hadoopLs(spark, dp).toSeq.sorted
    VersionedStore.writeManifest(spark, path, 1, files)
    ColStats.append(spark, path, files, "amount")
    val before = ColStats.read(spark, path, "amount").get
      .as[(String, Long, Long)].collect().toSet
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val liveDir = new org.apache.hadoop.fs.Path(ColStats.dir(path, "amount"))
    val oldDir = new org.apache.hadoop.fs.Path(path + "/colstats_old/amount")
    val gcDir = new org.apache.hadoop.fs.Path(path + "/colstats_gc/amount")
    // crash point 1: staged copy written, live still in place — the
    // orphaned staging must be dropped, the live relation kept
    fs.mkdirs(gcDir.getParent)
    org.apache.hadoop.fs.FileUtil.copy(fs, liveDir, fs, gcDir, false,
      spark.sparkContext.hadoopConfiguration)
    ColStats.gc(spark, path, files.toSet)
    assert(!fs.exists(gcDir), "staging orphan survived gc")
    assert(ColStats.read(spark, path, "amount").get
      .as[(String, Long, Long)].collect().toSet == before)
    // crash point 2: between rename-out and rename-in — live missing,
    // _old holds the pre-gc copy; the next gc must HEAL it back
    fs.mkdirs(oldDir.getParent)
    require(fs.rename(liveDir, oldDir))
    assert(ColStats.read(spark, path, "amount").isEmpty, "fail-open window")
    ColStats.gc(spark, path, files.toSet)
    assert(fs.exists(liveDir) && !fs.exists(oldDir))
    assert(ColStats.read(spark, path, "amount").get
      .as[(String, Long, Long)].collect().toSet == before,
      "heal did not restore the pre-crash relation")
  }

  test("a store with no stats relation reads unpruned (and correct)") {
    val path = Files.createTempDirectory("graft_colstats_none_").toString + "/store"
    val dp = VersionedStore.dataPath(path)
    (1L to 100L).map(k => (k, k)).toDF("key", "amount")
      .repartitionByRange(2, col("key"))
      .write.mode(SaveMode.Overwrite).parquet(dp)
    VersionedStore.writeManifest(spark, path, 1,
      VersionedStore.hadoopLs(spark, dp))
    val pruned = ColStats.readPruned(spark, path, 1, "amount")(
      (mn, mx) => mn <= 10L)
    assert(pruned.inputFiles.length == 2)
    assert(pruned.filter(col("amount") <= 10L).count() == 10L)
  }

  test("a configured commit's stats cost one Spark aggregate: the config " +
      "is read and the stats files are written on the driver") {
    val path = Files.createTempDirectory("graft_colstats_jobs_").toString + "/store"
    ColStats.configure(spark, path, Seq("amount", "key"))
    assert(ColStats.configured(spark, path) == Seq("amount", "key"))
    VersionedStore.appendCommit(spark, path,
      (1L to 100L).map(k => (k, k * 3)).toDF("key", "amount"), "key", 2)
    val files = VersionedStore.versionFiles(spark, path, 1).toSeq.sorted
    val sc = spark.sparkContext
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[Option[String]]
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == "colstats-commit")
          executions.add(Option(e.properties.getProperty("spark.sql.execution.id")))
    }
    sc.addSparkListener(l)
    sc.setJobGroup("colstats-commit", "colstats-commit")
    try {
      ColStats.onCommit(spark, path, files)
      org.apache.spark.ListenerBusBridge.drain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
    import scala.jdk.CollectionConverters._
    val ids = executions.asScala.toSeq
    info(s"configured onCommit: ${ids.size} jobs in ${ids.flatten.distinct.size} SQL executions")
    assert(ids.nonEmpty && ids.forall(_.isDefined) && ids.flatten.distinct.size == 1,
      s"jobs by execution: $ids")
    // each column's relation holds the commit's (file, mn, mx), typed as
    // the column, alongside the append commit's own entries
    Seq("key" -> 1L, "amount" -> 3L).foreach { case (c, m) =>
      val st = ColStats.read(spark, path, c).get
      assert(st.schema("mn").dataType == org.apache.spark.sql.types.LongType)
      val want = spark.read.parquet(files: _*).groupBy(input_file_name().as("file"))
        .agg(min(col(c)), max(col(c))).as[(String, Long, Long)].collect()
        .map(t => (VersionedStore.canon(t._1), t._2, t._3)).toSeq.sorted
      assert(st.as[(String, Long, Long)].collect().toSeq.sorted == want, c)
      assert(want.map(_._2).min == m)
      assert(new java.io.File(ColStats.dir(path, c)).list().count(_.endsWith(".parquet")) == 2,
        s"$c: one stats file per commit")
    }
  }
}
