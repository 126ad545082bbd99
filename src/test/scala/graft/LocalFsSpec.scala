package graft

import graft.sources.{LocalFs, VersionedStore}
import graft.streaming.{Streams, UpsertSink}
import graft.streaming.Streams.OrderEvent
import jdk.jfr.consumer.RecordingStream
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumException, ChecksumFs, CreateFlag, FileAlreadyExistsException, FileContext, FileStatus, FileSystem, LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Marks the end of a [[LocalFsSpec]] fork probe in the JFR stream. */
@jdk.jfr.Name("graft.ForkProbeEnd")
class ForkProbeEnd extends jdk.jfr.Event

/** [[LocalFs]], the local filesystem [[Engine.session]] binds: the same
  * results as Hadoop's stock `LocalFileSystem`/`LocalFs` — permission
  * bits, file statuses, symlinks, checksums, `FileContext` renames —
  * and no process started by a store commit or a stream's checkpoint. */
class LocalFsSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._

  private val root = URI.create("file:///")
  private def session: Configuration = spark.sparkContext.hadoopConfiguration

  /** A copy of `c` with Hadoop's stock local classes bound. */
  private def stock(c: Configuration): Configuration = {
    val s = new Configuration(c)
    s.set("fs.file.impl", classOf[LocalFileSystem].getName)
    s.set("fs.AbstractFileSystem.file.impl", classOf[org.apache.hadoop.fs.local.LocalFs].getName)
    s
  }

  /** `f` over the graft and the stock filesystem of conf `c`, uncached. */
  private def both[A](c: Configuration = session)(f: FileSystem => A): (A, A) = {
    def run(conf: Configuration) = {
      val fs = FileSystem.newInstance(root, conf)
      try f(fs) finally fs.close()
    }
    (run(c), run(stock(c)))
  }

  private def tmp(tag: String): java.nio.file.Path = Files.createTempDirectory(s"graft_localfs_$tag")

  /** Mode bits (permissions and sticky) of every entry under `dir`, by relative path. */
  private def modes(dir: java.nio.file.Path): Map[String, Int] =
    Files.walk(dir).iterator.asScala.filter(_ != dir).map { p =>
      dir.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff)
    }.toMap

  private def fields(st: FileStatus): Seq[Any] = Seq(st.getPath, st.getLen, st.isFile,
    st.isDirectory, st.isSymlink, Try(st.getSymlink).toOption, st.getReplication,
    st.getBlockSize, st.getModificationTime, st.getAccessTime, st.getPermission,
    st.getOwner, st.getGroup)

  /** A status's fields, or the class of what it threw. */
  private def outcome(st: => FileStatus): Either[String, Seq[Any]] =
    Try(fields(st)).toEither.left.map(_.getClass.getName)

  test("Engine.session binds both Hadoop local-filesystem APIs to LocalFs") {
    for (c <- Seq(session, spark.sessionState.newHadoopConf())) {
      val fs = FileSystem.newInstance(root, c)
      try {
        assert(fs.getClass == classOf[LocalFs.FileSystemImpl])
        assert(fs.asInstanceOf[LocalFileSystem].getRaw.getClass == classOf[LocalFs.Raw])
      } finally fs.close()
      val afs = AbstractFileSystem.createFileSystem(root, c)
      assert(afs.getClass == classOf[LocalFs.AbstractFileSystemImpl])
      assert(afs.asInstanceOf[ChecksumFs].getRawFs.getClass == classOf[LocalFs.RawFs])
    }
  }

  test("create, mkdirs and setPermission leave the stock permission bits, umask applied") {
    for (umask <- Seq("022", "027", "077")) {
      val c = new Configuration(session)
      c.set("fs.permissions.umask-mode", umask)
      val dirs = Seq(tmp("perm_graft"), tmp("perm_stock"))
      val it = dirs.iterator
      both(c) { fs =>
        val d = new Path(it.next().toString)
        fs.create(new Path(d, "plain")).close()
        fs.create(new Path(d, "x/y/explicit"), new FsPermission("750"), true, 4096,
          1.toShort, 1L << 20, null).close()
        fs.mkdirs(new Path(d, "a/b"))
        fs.mkdirs(new Path(d, "m"), new FsPermission("705"))
        fs.create(new Path(d, "chmod")).close()
        fs.setPermission(new Path(d, "chmod"), new FsPermission("604"))
        fs.mkdirs(new Path(d, "sticky"))
        fs.setPermission(new Path(d, "sticky"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      }
      val Seq(g, s) = dirs.map(modes)
      assert(g == s, s"umask $umask")
      val mask = Integer.parseInt(umask, 8)
      assert(g("plain") == (0x1b6 & ~mask) && g(".plain.crc") == (0x1b6 & ~mask))
      assert(g("a/b") == (0x1ff & ~mask) && g("x/y/explicit") == (Integer.parseInt("750", 8) & ~mask))
      assert(g("chmod") == Integer.parseInt("604", 8) && g("sticky") == Integer.parseInt("1777", 8))
    }
  }

  test("file, directory and symlink statuses match the stock classes") {
    val d = tmp("status")
    Files.write(d.resolve("f"), "abc".getBytes(UTF_8))
    Files.createDirectory(d.resolve("dir"))
    Files.createSymbolicLink(d.resolve("link"), d.resolve("f"))
    Files.createSymbolicLink(d.resolve("dangling"), d.resolve("missing"))
    val names = Seq("f", "dir", "link", "dangling", "missing")
    def plain(n: String) = new Path(d.resolve(n).toString)
    def qualified(n: String) = new Path("file:" + d.resolve(n))
    val paths = names.flatMap(n => Seq(plain(n), qualified(n)))
    val (g, s) = both() { fs =>
      (paths.map(p => (outcome(fs.getFileStatus(p)), outcome(fs.getFileLinkStatus(p)))),
        fs.listStatus(new Path(d.toString)).sortBy(_.getPath.toString).toSeq.map(fields))
    }
    assert(g == s)
    // the unqualified link paths reach Hadoop's symlink code: a link
    // status with the qualified target; a dangling link is still a link
    val byPath = paths.zip(g._1.map(_._2)).toMap
    assert(byPath(plain("link")).toOption.get(4) == true)
    assert(byPath(plain("link")).toOption.get(5) == Some(new Path("file:" + d.resolve("f"))))
    assert(byPath(plain("dangling")).toOption.get(4) == true)
    // a qualified path never names a link to Hadoop's probe; a qualified
    // dangling link and a missing path are not found
    assert(byPath(qualified("link")).toOption.get(4) == false)
    assert(byPath(qualified("dangling")).isLeft && byPath(plain("missing")).isLeft)
    // the same through FileContext
    def fc(c: Configuration) = FileContext.getFileContext(root, c)
    val viaFc = Seq(fc(session), fc(stock(session))).map(c =>
      paths.map(p => outcome(c.getFileLinkStatus(p))))
    assert(viaFc(0) == viaFc(1))
  }

  test("checksums are written and verified: corrupted data or a corrupted .crc fails the read") {
    // corrupted reads go through FileContext: a LocalFileSystem read that
    // fails its checksum moves the file to a `bad_files` directory at the
    // top of its mount. (FileContext.open(path) without a buffer size
    // skips ChecksumFs, in Hadoop's own classes too.)
    def run(c: Configuration): Seq[Any] = {
      val d = tmp("crc")
      val fs = FileSystem.newInstance(root, c)
      val fc = FileContext.getFileContext(root, c)
      try Seq("viaFs", "viaFc").flatMap { n =>
        val p = new Path(d.resolve(n).toString)
        val out = if (n == "viaFs") fs.create(p) else fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
        out.write(("0123456789" * 100).getBytes(UTF_8))
        out.close()
        val crc = d.resolve(s".$n.crc")
        val clean = new String(fs.open(p).readAllBytes(), UTF_8).length
        val copy = d.resolve(s"$n.copy")
        Files.copy(d.resolve(n), copy)
        Files.copy(crc, d.resolve(s".$n.copy.crc"))
        def flip(f: java.nio.file.Path, at: Int) = {
          val b = Files.readAllBytes(f)
          b(at) = (b(at) ^ 1).toByte
          Files.write(f, b)
        }
        flip(d.resolve(n), 3)
        flip(d.resolve(s".$n.copy.crc"), Files.size(crc).toInt - 1)
        def read(q: Path) = Try(fc.open(q, 4096).readAllBytes()).failed.toOption.map(_.getClass)
        Seq(Files.exists(crc), clean, read(p), read(new Path(copy.toString)))
      } finally fs.close()
    }
    val g = run(session)
    assert(g == run(stock(session)))
    val failed = Some(classOf[ChecksumException])
    assert(g == Seq(true, 1000, failed, failed, true, 1000, failed, failed))
  }

  test("FileContext.rename: NONE refuses an existing destination, OVERWRITE replaces it") {
    def run(c: Configuration): Seq[Any] = {
      val d = tmp("rename")
      val fc = FileContext.getFileContext(root, c)
      def write(n: String, body: String): Path = {
        val p = new Path(d.resolve(n).toString)
        val out = fc.create(p, java.util.EnumSet.of(CreateFlag.CREATE))
        out.write(body.getBytes(UTF_8))
        out.close()
        p
      }
      def read(n: String) = Try(new String(Files.readAllBytes(d.resolve(n)), UTF_8)).toOption
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      val refused = Try(fc.rename(src, dst, Options.Rename.NONE)).failed.toOption.map(_.getClass)
      val afterNone = (read("src"), read("dst"))
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val fresh = new Path(d.resolve("fresh").toString)
      fc.rename(dst, fresh, Options.Rename.NONE)
      val names = Files.list(d).iterator.asScala.map(_.getFileName.toString).toSeq.sorted
      Seq(refused, afterNone, read("fresh"), names,
        new String(fc.open(fresh).readAllBytes(), UTF_8))
    }
    val g = run(session)
    assert(g == run(stock(session)))
    assert(g == Seq(Some(classOf[FileAlreadyExistsException]), (Some("new"), Some("old")),
      Some("new"), Seq(".fresh.crc", "fresh"), "new"))
  }

  /** The processes started while `body` runs, as (command, stack frames),
    * from a JFR stream of `jdk.ProcessStart`. */
  private def forks(body: => Unit): Seq[(String, Seq[String])] = {
    val seen = new ConcurrentLinkedQueue[(String, Seq[String])]
    val end = new CountDownLatch(1)
    val rs = new RecordingStream()
    try {
      rs.enable("jdk.ProcessStart").withStackTrace()
      rs.enable(classOf[ForkProbeEnd])
      rs.onEvent("jdk.ProcessStart", e => seen.add((e.getString("command"),
        Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala)
          .map(f => f.getMethod.getType.getName + "." + f.getMethod.getName))))
      rs.onEvent("graft.ForkProbeEnd", _ => end.countDown())
      rs.startAsync()
      body
      new ForkProbeEnd().commit()
      assert(end.await(60, TimeUnit.SECONDS), "the JFR stream never delivered the end mark")
    } finally rs.close()
    seen.asScala.toSeq
  }

  /** Two Spark daemons fork on their own schedule, outside any commit:
    * the cleaner removes a released session's artifact directory with
    * `rm -rf` whenever a GC finds it, and the executor heartbeat runs
    * `getconf PAGESIZE` once per JVM. */
  private def fsForks(fs: Seq[(String, Seq[String])]): Seq[(String, Seq[String])] =
    fs.filterNot(_._2.exists(f => f.startsWith("org.apache.spark.sql.artifact.ArtifactManager") ||
      f.startsWith("org.apache.spark.executor.ProcfsMetricsGetter")))

  test("an upsert commit and a two-trigger stream start no process") {
    implicit val sqlCtx = spark.sqlContext
    val base = tmp("forks").toString
    val store = s"$base/store"
    UpsertSink.upsertBatch(Seq((1L, 1L), (2L, 2L)).toDF("key", "amount"), store, 0L, "key")
    val commit = fsForks(forks {
      UpsertSink.upsertBatch(Seq((2L, 20L), (3L, 3L)).toDF("key", "amount"), store, 1L, "key")
    })
    assert(commit.isEmpty, commit.mkString("\n"))
    assert(VersionedStore.versions(spark, store).size == 2)

    val in = MemoryStream[OrderEvent]
    val stream = fsForks(forks {
      val q = UpsertSink.writeTo(Streams.entityStream(in.toDS()), s"$base/entities", s"$base/ckpt")
      try {
        in.addData(OrderEvent(1, 10.0, "O"), OrderEvent(2, 3.0, "F"))
        q.processAllAvailable()
        in.addData(OrderEvent(1, 6.0, "F"), OrderEvent(3, 1.0, "P"))
        q.processAllAvailable()
      } finally q.stop()
    })
    assert(stream.isEmpty, stream.mkString("\n"))
    assert(UpsertSink.readStore(spark, s"$base/entities").count() == 3)

    // the probe does see the forks of the stock classes
    val stockForks = forks {
      both() { fs =>
        val p = new Path(s"$base/probe_${fs.getClass.getSimpleName}")
        fs.create(p).close()
        fs.mkdirs(new Path(p.toString + "_dir"))
      }
      val fc = FileContext.getFileContext(root, stock(session))
      fc.rename(new Path(s"$base/probe_LocalFileSystem"), new Path(s"$base/probe_renamed"))
    }
    val cmds = fsForks(stockForks).map(_._1)
    assert(cmds.exists(_.contains("chmod")) && cmds.exists(_.contains("readlink")), cmds)
  }
}
