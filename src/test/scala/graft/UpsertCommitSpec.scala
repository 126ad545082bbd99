package graft

import graft.sources.{ChangeFeed, StoreIo, StoreMerge, VersionedStore}
import graft.streaming.UpsertSink
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The keyed commit writes its rewrite and its change rows in one job.
  * Its store rows, file schemas and change rows equal the two steps it
  * replaced (kept here as the reference) over first commits, batches
  * that own no file, updates, identical replays, MERGE drop keys and a
  * deletion-vector parent, for int, long and hashed string keys; a
  * deletion vector committed while the commit is in flight makes it
  * replan; and the feed reads the same over flat and partitioned
  * change relations as the metadata diff. */
class UpsertCommitSpec extends AnyFunSuite {
  import TestSpark.spark

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_commit_$tag").toString + "/store"

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def fields(st: StructType): Seq[(String, DataType)] =
    st.map(f => (f.name, f.dataType))

  /** The write-path diff before the commit was fused: one full outer
    * join of the aligned sides, the null-safe-equal keys filtered out,
    * the rest exploded into their tagged rows. */
  private def referenceDiff(pre: DataFrame, post: DataFrame,
      keyCol: String): DataFrame = {
    val cols = (pre.columns ++ post.columns).distinct.filterNot(_ == keyCol)
    def aligned(df: DataFrame, tag: String): DataFrame = {
      val have = df.columns.toSet
      df.select(col(keyCol), struct(cols.map(c =>
        if (have(c)) col(c) else lit(null).as(c)).toIndexedSeq: _*).as(tag))
    }
    def tagged(side: String, ct: String) =
      struct(cols.map(c => col(side).getField(c).as(c)).toIndexedSeq :+
        lit(ct).as(ChangeFeed.ChangeType): _*)
    aligned(pre, "_pre").join(aligned(post, "_post"), Seq(keyCol), "full_outer")
      .filter(!(col("_pre") <=> col("_post")))
      .select(col(keyCol), explode(
        when(col("_pre").isNull, array(tagged("_post", "insert")))
          .when(col("_post").isNull, array(tagged("_pre", "delete")))
          .otherwise(array(tagged("_pre", "update_preimage"),
            tagged("_post", "update_postimage")))).as("_change"))
      .select(col(keyCol) +: (cols :+ ChangeFeed.ChangeType).map(c =>
        col("_change").getField(c).as(c)).toIndexedSeq: _*)
  }

  /** The two steps before the fused commit, over the files it
    * superseded (`owning`): the rewrite (survivors plus the batch) and
    * the change rows (pre-images outside the parent's vector against
    * the batch). */
  private def reference(path: String, parent: Option[Int], owning: Seq[String],
      batch: DataFrame, allKeys: DataFrame, keyCol: String): (DataFrame, DataFrame) =
    if (owning.isEmpty) (batch, batch.withColumn(ChangeFeed.ChangeType, lit("insert")))
    else {
      val old = spark.read.parquet(owning: _*)
      val preRaw = old.join(allKeys, Seq(keyCol), "left_semi")
      val pre = parent.flatMap(VersionedStore.dvAt(spark, path, _)).fold(preRaw)(dv =>
        preRaw.join(broadcast(dv), dv.columns.toSeq, "left_anti"))
      (old.join(allKeys, Seq(keyCol), "left_anti").unionByName(batch),
        referenceDiff(pre, batch, keyCol))
    }

  /** The parent files whose band holds a key of `keys`: the full join. */
  private def joinOwning(path: String, v: Int, keys: DataFrame,
      keyCol: String): Set[String] = {
    val ks = keys.select(VersionedStore.keyLong(keys, keyCol)).collect().map(_.getLong(0))
    VersionedStore.manifestBands(VersionedStore.manifest(spark, path, v)).get
      .filter { case (_, mn, mx) => ks.exists(k => k >= mn && k <= mx) }
      .map(_._1).toSet
  }

  /** Commit `batch` (and MERGE `drops`) and check the version against
    * the reference; returns the version and its owning files. */
  private def step(path: String, batchId: Long, batch: DataFrame, keyCol: String,
      drops: Option[DataFrame] = None, parts: Int = 1): (Int, Seq[String]) = {
    val parent = VersionedStore.versions(spark, path).lastOption
    val before = parent.map(VersionedStore.versionFiles(spark, path, _).toSet)
      .getOrElse(Set.empty[String])
    val allKeys = drops.fold(batch.select(col(keyCol)))(d =>
      batch.select(col(keyCol)).unionByName(d.select(col(keyCol)))).distinct()
    val v = UpsertSink.upsertBatch(batch, path, batchId, keyCol, parts, 30000L,
      drops, if (drops.isDefined) "merge" else "upsert").get
    val after = VersionedStore.versionFiles(spark, path, v).toSet
    val owning = (before -- after).toSeq.sorted
    parent.foreach(p => assert(owning.toSet == joinOwning(path, p, allKeys, keyCol),
      s"v$v: the owning files differ from the full join's"))
    val (rewrite, changes) = reference(path, parent, owning, batch, allKeys, keyCol)
    val written = (after -- before).toSeq.sorted
    assert(written.flatMap(f => multiset(spark.read.parquet(f))).sorted == multiset(rewrite),
      s"v$v: store rows")
    written.foreach(f => assert(fields(spark.read.parquet(f).schema) == fields(rewrite.schema),
      s"v$v: schema of $f"))
    val cdc = VersionedStore.readCdc(spark, path, v).get
    assert(fields(cdc.schema) == fields(changes.schema), s"v$v: change row schema")
    assert(multiset(cdc.select(changes.columns.toIndexedSeq.map(col): _*)) ==
      multiset(changes), s"v$v: change rows")
    (v, owning)
  }

  private def rows(keyType: DataType, keyOf: Int => Any,
      rs: Seq[(Int, Long, String)]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(rs.map { case (k, a, n) => Row(keyOf(k), a, n) }, 2),
      StructType(Seq(StructField("key", keyType, nullable = false),
        StructField("amount", LongType), StructField("name", StringType))))

  private def changeTypes(path: String, va: Int, vb: Int): Map[String, Long] = {
    val f = ChangeFeed.changesBetween(spark, path, va, vb, "key")
    f.collect().map(_.getAs[String](ChangeFeed.ChangeType))
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
  }

  Seq[(String, DataType, Int => Any)](
    ("int", IntegerType, k => k),
    ("long", LongType, k => k.toLong * 1000000007L),
    ("hashed string", StringType, k => s"user-$k")).foreach { case (name, kt, keyOf) =>
    test(s"the fused commit equals the rewrite plus the keyed diff: $name keys") {
      val path = tmp(name.replace(' ', '_'))
      val kv = (rs: Seq[(Int, Long, String)]) => rows(kt, keyOf, rs)
      val base = (0 until 40).map(k => (k, k.toLong, if (k % 7 == 0) null else s"n$k"))
      // a first commit: every row an insert, two files
      val (v1, _) = step(path, 0L, kv(base), "key", parts = 2)
      assert(VersionedStore.versionFiles(spark, path, v1).length == 2)
      // a batch beyond every band owns no file (hashed keys may own one)
      val (_, own2) = step(path, 1L, kv((1000 until 1004).map(k => (k, k.toLong, "far"))), "key")
      if (kt != StringType) assert(own2.isEmpty, "a batch beyond every band owned a file")
      // updates, unchanged payloads (one with a null field) and inserts
      val mixed = (5 until 10).map(k => (k, k + 100L, s"n$k")) ++
        Seq((11, 11L, "n11"), (14, 14L, null)) ++ (50 until 54).map(k => (k, k.toLong, "new"))
      val (v3, _) = step(path, 2L, kv(mixed), "key")
      assert(changeTypes(path, v3 - 1, v3) == Map("insert" -> 4L,
        "update_preimage" -> 5L, "update_postimage" -> 5L))
      // an identical-payload replay under a new batch id: no change rows,
      // and the feed reads the empty relation, not the metadata diff
      val (v4, _) = step(path, 3L, kv(mixed), "key")
      val replay = ChangeFeed.changesBetween(spark, path, v3, v4, "key")
      assert(replay.count() == 0)
      assert(replay.inputFiles.nonEmpty && replay.inputFiles.forall(_.contains("/cdc/")),
        s"the replay's feed read ${replay.inputFiles.toSeq}")
      // MERGE: drop keys (one absent, one also upserted) ride the rewrite
      val (v5, _) = step(path, 4L, kv(Seq((12, 112L, "u"), (60, 60L, "m"))), "key",
        drops = Some(kv(Seq((15, 0L, null), (16, 0L, null), (12, 0L, null),
          (2000, 0L, null))).select("key")))
      assert(changeTypes(path, v4, v5) == Map("insert" -> 1L, "delete" -> 2L,
        "update_preimage" -> 1L, "update_postimage" -> 1L))
      // a deletion-vector parent: a vectored key re-upserted is an insert,
      // an untouched vectored key stays hidden
      VersionedStore.deleteCommitDv(spark, path, kv(Seq((17, 0L, null), (18, 0L, null)))
        .select("key"), "key")
      val (v7, _) = step(path, 5L, kv(Seq((17, 717L, "back"), (19, 719L, "n19"))), "key")
      assert(changeTypes(path, v7 - 1, v7) == Map("insert" -> 1L,
        "update_preimage" -> 1L, "update_postimage" -> 1L))
      val tip = VersionedStore.readVersion(spark, path, v7)
      assert(multiset(tip.filter(col("key").isin(keyOf(17), keyOf(18))).select("amount")) ==
        Seq("[717]"))
    }
  }

  /** Runs `inject` once, on the first slot claim it sees: after that
    * commit planned, before it settles. */
  private class Interleave(inject: () => Unit) extends StoreIo.Ops {
    private var fired = false
    def createNoOverwrite(fs: FileSystem, p: Path): Boolean = {
      if (!fired && p.getParent.getName == "claims") { fired = true; inject() }
      StoreIo.HadoopOps.createNoOverwrite(fs, p)
    }
    def createMarker(fs: FileSystem, p: Path): Unit = StoreIo.HadoopOps.createMarker(fs, p)
    def rename(fs: FileSystem, src: Path, dst: Path): Boolean =
      StoreIo.HadoopOps.rename(fs, src, dst)
  }

  private def abandoned(path: String): Seq[String] =
    Option(new java.io.File(VersionedStore.claimsDir(path)).list()).toSeq.flatten
      .filter(_.endsWith(".abandoned")).sorted

  private val kvLong = (rs: Seq[(Long, Long)]) =>
    rows(LongType, k => k.toLong, rs.map { case (k, a) => (k.toInt, a, "x") })

  test("a deletion vector committed in flight makes the upsert replan: " +
      "its re-upserted key feeds as an insert") {
    val path = tmp("dv_conflict")
    UpsertSink.upsertBatch(kvLong((1L to 20L).map(k => (k, k))), path, 0L, "key")
    StoreIo.withOps(new Interleave(() =>
      VersionedStore.deleteCommitDv(spark, path, kvLong(Seq((5L, 0L))).select("key"), "key"))) {
      UpsertSink.upsertBatch(kvLong(Seq((5L, 500L), (6L, 600L))), path, 1L, "key")
    }
    assert(VersionedStore.versions(spark, path) == Seq(1, 2, 4))
    assert(abandoned(path) == Seq("v3.abandoned"), "the upsert did not replan")
    assert(changeTypes(path, 2, 4) == Map("insert" -> 1L,
      "update_preimage" -> 1L, "update_postimage" -> 1L))
    val feed = ChangeFeed.changesBetween(spark, path, 2, 4, "key")
    assert(multiset(feed.filter(col(ChangeFeed.ChangeType) === "insert")
      .select("key", "amount")) == Seq("[5,500]"))
    assert(multiset(VersionedStore.readVersion(spark, path, 4)
      .filter(col("key") <= 6L).select("key", "amount")) ==
      Seq("[1,1]", "[2,2]", "[3,3]", "[4,4]", "[5,500]", "[6,600]"))
  }

  test("a disjoint upsert committed in flight does not make the upsert replan") {
    val path = tmp("disjoint")
    UpsertSink.upsertBatch(kvLong((1L to 100L).map(k => (k, k))), path, 0L, "key",
      initialPartitions = 2)
    assert(VersionedStore.versionFiles(spark, path, 1).length == 2)
    StoreIo.withOps(new Interleave(() =>
      UpsertSink.upsertBatch(kvLong(Seq((80L, 800L), (81L, 810L))), path, 7L, "key"))) {
      UpsertSink.upsertBatch(kvLong(Seq((10L, 1000L))), path, 8L, "key")
    }
    assert(VersionedStore.versions(spark, path) == Seq(1, 2, 3))
    assert(abandoned(path).isEmpty, s"replanned: ${abandoned(path)}")
    assert(multiset(ChangeFeed.changesBetween(spark, path, 2, 3, "key")
      .select("key", "amount", ChangeFeed.ChangeType)) ==
      Seq("[10,10,update_preimage]", "[10,1000,update_postimage]"))
    val tip = VersionedStore.readVersion(spark, path, 3)
    assert(multiset(tip.filter(col("key").isin(10L, 80L, 81L)).select("key", "amount")) ==
      Seq("[10,1000]", "[80,800]", "[81,810]"))
  }

  test("the feed over flat and partitioned change relations equals the " +
      "metadata diff") {
    val path = tmp("mixed")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    UpsertSink.upsertBatch(kvLong((1L to 30L).map(k => (k, k))), path, 0L, "key")
    UpsertSink.upsertBatch(kvLong(Seq((3L, 33L), (4L, 4L), (31L, 31L))), path, 1L, "key")
    VersionedStore.deleteCommit(spark, path, kvLong(Seq((7L, 0L), (8L, 0L))).select("key"), "key")
    VersionedStore.deleteCommitDv(spark, path, kvLong(Seq((9L, 0L), (10L, 0L))).select("key"),
      "key")
    UpsertSink.upsertBatch(kvLong(Seq((9L, 99L), (11L, 111L))), path, 2L, "key")
    UpsertSink.upsertBatch(kvLong(Seq((9L, 99L), (11L, 111L))), path, 3L, "key")
    StoreMerge.merge(spark, path, kvLong(Seq((12L, 0L), (40L, 40L))), "key",
      whenMatched = "delete", whenNotMatched = "insert", batchId = 4L)
    val vs = VersionedStore.versions(spark, path)
    assert(vs == (1 to 7))
    def partitioned(v: Int) = fs.listStatus(new Path(VersionedStore.cdcPath(path, v)))
      .exists(_.getPath.getName.startsWith(ChangeFeed.ChangeType + "="))
    assert(Seq(2, 5, 7).forall(partitioned) && !Seq(3, 4, 6).exists(partitioned),
      "the lineage does not mix the two layouts")
    val cols = Seq("key", "amount", "name", ChangeFeed.ChangeType, ChangeFeed.CommitVersion)
    val feed = multiset(ChangeFeed.changes(spark, path, 1, 7, "key").select(cols.map(col): _*))
    fs.delete(new Path(VersionedStore.cdcDir(path)), true)
    val diff = multiset(ChangeFeed.changes(spark, path, 1, 7, "key").select(cols.map(col): _*))
    assert(feed == diff)
    assert(feed.size == 12, feed.mkString("\n"))
  }
}
