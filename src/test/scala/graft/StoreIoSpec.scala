package graft

import graft.sources.{ColStats, StoreIo, VersionedStore}
import graft.streaming.{UpsertSink, VersionedCommitSink}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The commit-protocol IO seam (round-15 verdict #6): committers reach
  * the three storage primitives ONLY through [[StoreIo]], the ordering
  * discipline (claim before marker, per version) holds under a
  * recording implementation, and a conditional-put simulation (an
  * object store with no O_EXCL create) drives the claim protocol
  * correctly — the contract a cloud deployment's swap must honor. */
class StoreIoSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private def tmp(tag: String): String =
    Files.createTempDirectory(s"graft_storeio_$tag").toString + "/store"

  /** Delegating recorder: every primitive logs (op, path) in order. */
  private class Recording extends StoreIo.Ops {
    val events = new scala.collection.mutable.ArrayBuffer[(String, String)]
    private def log(op: String, p: Path): Unit =
      events.synchronized { events += ((op, p.toString)) }
    def createNoOverwrite(fs: FileSystem, p: Path): Boolean = {
      log("claim", p); StoreIo.HadoopOps.createNoOverwrite(fs, p)
    }
    def createMarker(fs: FileSystem, p: Path): Unit = {
      log("marker", p); StoreIo.HadoopOps.createMarker(fs, p)
    }
    def rename(fs: FileSystem, src: Path, dst: Path): Boolean = {
      log("rename", dst); StoreIo.HadoopOps.rename(fs, src, dst)
    }
  }

  /** A crash injected at the seam: the k-th primitive call and every
    * later one throw before touching the store — the process died at
    * call k and makes no further calls. */
  private class InjectedCrash(k: Int) extends RuntimeException(s"injected crash at call $k")
  private class Crashing(k: Int) extends Recording {
    private def due(): Unit = if (events.size >= k - 1) throw new InjectedCrash(k)
    override def createNoOverwrite(fs: FileSystem, p: Path): Boolean = {
      due(); super.createNoOverwrite(fs, p)
    }
    override def createMarker(fs: FileSystem, p: Path): Unit = {
      due(); super.createMarker(fs, p)
    }
    override def rename(fs: FileSystem, src: Path, dst: Path): Boolean = {
      due(); super.rename(fs, src, dst)
    }
  }

  test("committers flow through the seam; a version's claim precedes " +
      "its commit marker; gc renames route through it") {
    val path = tmp("rec")
    val rec = new Recording
    StoreIo.withOps(rec) {
      VersionedStore.appendCommit(spark, path,
        (1L to 100L).map(k => (k, k)).toDF("key", "amount"), "key", 2)
      VersionedStore.deleteCommit(spark, path, Seq(5L).toDF("key"), "key")
      ColStats.append(spark, path,
        VersionedStore.versionFiles(spark, path, 2).toIndexedSeq, "amount")
      ColStats.gc(spark, path,
        VersionedStore.versionFiles(spark, path, 2).toSet)
    }
    val claims = rec.events.filter(_._1 == "claim").map(_._2)
    val markers = rec.events.filter(_._1 == "marker").map(_._2)
    assert(claims.exists(_.contains("/claims/v1")) &&
      claims.exists(_.contains("/claims/v2")),
      s"claims did not route through the seam: $claims")
    assert(markers.count(_.contains(".marker")) >= 2,
      s"markers did not route through the seam: $markers")
    // per committed version: the claim event strictly precedes the
    // marker event — the protocol's ordering clause, observed
    Seq(1, 2).foreach { v =>
      val ci = rec.events.indexWhere(e =>
        e._1 == "claim" && e._2.contains(s"/claims/v$v"))
      val mi = rec.events.indexWhere(e =>
        e._1 == "marker" && e._2.contains(s"/txn/v$v/"))
      assert(ci >= 0 && mi >= 0 && ci < mi,
        s"v$v: claim at $ci, marker at $mi — ordering broken")
    }
    assert(rec.events.exists(_._1 == "rename"),
      "colstats gc renames did not route through the seam")
    // the store the recorded run produced is a correct store
    assert(VersionedStore.readVersion(spark, path,
      VersionedStore.versions(spark, path).last).count() == 99)
  }

  test("a conditional-put implementation (no O_EXCL, external registry) " +
      "drives the claim protocol: distinct slots, correct commits") {
    // simulates an object store whose create-if-absent is a catalog
    // conditional put: ownership decided by an external atomic map,
    // the file then written plainly (never relied on for atomicity)
    val registry = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    object CondPut extends StoreIo.Ops {
      def createNoOverwrite(fs: FileSystem, p: Path): Boolean = {
        if (!registry.add(p.toString)) false
        else { fs.create(p, true).close(); true }
      }
      def createMarker(fs: FileSystem, p: Path): Unit =
        StoreIo.HadoopOps.createMarker(fs, p)
      def rename(fs: FileSystem, src: Path, dst: Path): Boolean =
        StoreIo.HadoopOps.rename(fs, src, dst)
    }
    val path = tmp("condput")
    StoreIo.withOps(CondPut) {
      VersionedStore.appendCommit(spark, path,
        (1L to 50L).map(k => (k, k)).toDF("key", "amount"), "key", 1)
      VersionedStore.appendCommit(spark, path,
        (51L to 80L).map(k => (k, k)).toDF("key", "amount"), "key", 1)
      // a pre-claimed slot (a racing writer's conditional put already
      // registered v3) forces the probe-upward path through the seam
      registry.add(new Path(path + "/claims/v3").toString)
      VersionedStore.appendCommit(spark, path,
        (81L to 90L).map(k => (k, k)).toDF("key", "amount"), "key", 1)
    }
    val vs = VersionedStore.versions(spark, path)
    assert(vs == Seq(1, 2, 4), s"conditional-put claims landed on $vs")
    assert(VersionedStore.readVersion(spark, path, 4).count() == 90)
  }

  /** One committer under the crash matrix: `setup` builds the store,
    * `commit` is the commit under test (re-run verbatim after a crash —
    * same batch id), `expected` the tip's rows after it. */
  private case class Crashable(name: String, setup: String => Unit,
      commit: String => Unit, expected: Seq[(Long, Long)],
      replayable: Boolean = true)

  private val kv = (r: Seq[(Long, Long)]) => r.toDF("key", "amount")
  private val crashables = Seq(
    Crashable("appendBatch",
      p => VersionedCommitSink.appendBatch(kv((1L to 20L).map(k => (k, k))), p, 0L),
      p => VersionedCommitSink.appendBatch(kv((21L to 30L).map(k => (k, k))), p, 1L,
        settleTimeoutMs = 500L),
      (1L to 30L).map(k => (k, k))),
    Crashable("upsertBatch",
      p => UpsertSink.upsertBatch(kv((1L to 20L).map(k => (k, 0L))), p, 0L, "key"),
      p => UpsertSink.upsertBatch(kv((11L to 30L).map(k => (k, 1L))), p, 1L, "key",
        settleTimeoutMs = 500L),
      (1L to 10L).map(k => (k, 0L)) ++ (11L to 30L).map(k => (k, 1L))),
    Crashable("deleteCommit",
      p => VersionedCommitSink.appendBatch(kv((1L to 30L).map(k => (k, k))), p, 0L),
      p => VersionedStore.deleteCommit(spark, p, (1L to 5L).toDF("key"), "key",
        settleTimeoutMs = 500L),
      (6L to 30L).map(k => (k, k))),
    Crashable("compactCommit",
      p => {
        VersionedCommitSink.appendBatch(kv((1L to 15L).map(k => (k, k))), p, 0L)
        VersionedCommitSink.appendBatch(kv((16L to 30L).map(k => (k, k))), p, 1L)
      },
      p => VersionedStore.compactCommit(spark, p, "key", 1L << 20,
        settleTimeoutMs = 500L),
      (1L to 30L).map(k => (k, k)), replayable = false),
    Crashable("deleteCommitDv",
      p => VersionedCommitSink.appendBatch(kv((1L to 30L).map(k => (k, k))), p, 0L),
      p => VersionedStore.deleteCommitDv(spark, p, (1L to 5L).toDF("key"), "key",
        settleTimeoutMs = 500L),
      (6L to 30L).map(k => (k, k))),
    Crashable("appendCommit",
      p => VersionedStore.appendCommit(spark, p, kv((1L to 20L).map(k => (k, k))), "key", 1),
      p => VersionedStore.appendCommit(spark, p, kv((21L to 30L).map(k => (k, k))), "key", 1),
      (1L to 30L).map(k => (k, k)), replayable = false))

  private def rowsAt(path: String, v: Int): Seq[(Long, Long)] =
    VersionedStore.readVersion(spark, path, v).select("key", "amount")
      .as[(Long, Long)].collect().toSeq.sorted

  crashables.foreach { c =>
    test(s"crash matrix: ${c.name} survives a crash at every primitive call") {
      val clean = tmp(s"clean_${c.name}")
      c.setup(clean)
      val rec = new Recording
      StoreIo.withOps(rec)(c.commit(clean))
      val calls = rec.events.size
      assert(calls >= 2, s"${c.name} made $calls seam calls: ${rec.events}")
      (1 to calls).foreach { k =>
        val path = tmp(s"crash_${c.name}_$k")
        c.setup(path)
        val before = VersionedStore.versions(spark, path)
        val beforeRows = before.map(v => v -> rowsAt(path, v))
        val crash = intercept[Exception](StoreIo.withOps(new Crashing(k))(c.commit(path)))
        assert(Iterator.iterate[Throwable](crash)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[InjectedCrash]), s"k=$k: unexpected failure $crash")
        // restart: the same commit again, then a replay of it
        c.commit(path)
        val after = VersionedStore.versions(spark, path)
        if (c.replayable) {
          c.commit(path)
          assert(VersionedStore.versions(spark, path) == after,
            s"k=$k: a replayed ${c.name} committed again")
        }
        // versions committed before the crash read unchanged
        beforeRows.foreach { case (v, rows) =>
          assert(rowsAt(path, v) == rows, s"k=$k: v$v changed under the crash")
        }
        // exactly one new version, carrying its parent: no lineage gap
        assert(after.init == before, s"k=$k: versions $before -> $after")
        VersionedStore.requireNoLineageGap(spark, path, before.last, after.last)
        // the tip holds the expected rows exactly once
        assert(rowsAt(path, after.last) == c.expected, s"k=$k: tip rows")
        // vacuum reclaims the crash leftovers; the store keeps committing
        VersionedStore.vacuum(spark, path, keepVersions = 10, claimGraceMs = 0L)
        VersionedCommitSink.appendBatch(kv(Seq((1000L, 1000L))), path, 100L,
          settleTimeoutMs = 500L)
        assert(rowsAt(path, VersionedStore.versions(spark, path).last) ==
          (c.expected :+ ((1000L, 1000L))).sorted, s"k=$k: store after vacuum")
      }
    }
  }

  test("reads refuse a version whose commit crashed at its marker") {
    val path = tmp("uncommitted")
    val esc = path.replace("'", "''")
    UpsertSink.upsertBatch(kv((1L to 20L).map(k => (k, 0L))), path, 0L, "key")
    val commit = (p: String) => UpsertSink.upsertBatch(
      kv((11L to 30L).map(k => (k, 1L))), p, 1L, "key", settleTimeoutMs = 500L)
    // the marker is the commit: crash exactly there, after the manifest
    val clean = tmp("uncommitted_clean")
    UpsertSink.upsertBatch(kv((1L to 20L).map(k => (k, 0L))), clean, 0L, "key")
    val rec = new Recording
    StoreIo.withOps(rec)(commit(clean))
    val k = rec.events.indexWhere(e => e._1 == "marker" && e._2.endsWith(".marker")) + 1
    assert(k > 0, s"no commit marker among ${rec.events}")
    intercept[Exception](StoreIo.withOps(new Crashing(k))(commit(path)))
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new Path(VersionedStore.manifestPath(path, 2))),
      "the crash left no uncommitted manifest to serve")
    assert(VersionedStore.versions(spark, path) == Seq(1))
    def refused(read: => Any): Unit = {
      val e = intercept[Throwable](read)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("not a committed version")),
        s"unexpected failure: $e")
    }
    refused(VersionedStore.readVersion(spark, path, 2).collect())
    refused(VersionedStore.readKeys(spark, path, 2, Seq(11L).toDF("key"), "key")
      .collect())
    refused(spark.sql(s"SELECT * FROM graft_snapshot('$esc', 2)").collect())
    refused(spark.sql(s"SELECT * FROM graft_export('$esc', 2, 'key', '11,12')")
      .collect())
    // the committed parent still reads, through every entry point
    assert(VersionedStore.readVersion(spark, path, 1).count() == 20)
    assert(spark.sql(s"SELECT * FROM graft_export('$esc', 1, 'key', '11,12')")
      .count() == 2)
    // a manifest-only store: the manifest is the commit
    val batchBuilt = tmp("uncommitted_manifest_only")
    spark.range(5).toDF("key").write.parquet(VersionedStore.dataPath(batchBuilt))
    VersionedStore.writeManifest(spark, batchBuilt, 1,
      VersionedStore.hadoopLs(spark, VersionedStore.dataPath(batchBuilt)))
    assert(VersionedStore.readVersion(spark, batchBuilt, 1).count() == 5)
    refused(VersionedStore.readVersion(spark, batchBuilt, 2))
    refused(VersionedStore.readKeys(spark, batchBuilt, 2, Seq(1L).toDF("key"), "key"))
  }
}
