package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}

/** COMMIT-PROTOCOL IO SEAM (round-15 verdict #6): every store family's
  * commit discipline rests on exactly three storage primitives —
  *
  *  1. `createNoOverwrite` — the single atomic create that decides
  *     slot/lease ownership (claim files, writer leases). Contract:
  *     O_CREAT|O_EXCL semantics — exactly one concurrent caller wins;
  *  2. `createMarker` — the commit point: a zero-byte file whose
  *     EXISTENCE flips a version/segment from invisible to committed.
  *     Contract: readers that probe it must see it only complete
  *     (read-after-write visibility);
  *  3. `rename` — the stage-then-swap publish (segment merges, stats
  *     gc, fold files, metadata checkpoints). Contract: atomic within
  *     one store, never partially visible.
  *
  * On a local/HDFS filesystem the default [[HadoopOps]] provides all
  * three (with the java.io O_EXCL workaround for the `file` scheme,
  * where Hadoop's create(overwrite=false) is exists-then-create).
  * S3-class object stores provide NONE of them natively: rename is
  * copy+delete, create-no-overwrite needs a conditional put, and
  * list-after-write may lag. A cloud deployment therefore swaps in an
  * Ops built on its store's conditional-put API (S3 If-None-Match,
  * GCS preconditions) or an external catalog/lock service — the same
  * split Delta makes with its LogStore plugin — WITHOUT touching any
  * committer: every versioned committer reaches the seam through
  * [[TxnLog]] (slot claims, commit and abandon markers, checkpoint
  * renames), and the remaining side-relation swaps (segment merges,
  * stats gc, tags) call [[StoreIo.ops]] directly. The contract each
  * replacement must honor is this file's three clauses; the spec
  * drives the committers through a recording, a conditional-put
  * simulation and an injected crash at every call to pin that the seam
  * is the only path and that every crash point recovers.
  */
object StoreIo {

  trait Ops {
    /** Atomic create-if-absent: true = this caller owns the path. */
    def createNoOverwrite(fs: FileSystem, p: Path): Boolean
    /** The commit-point marker write (idempotent overwrite). */
    def createMarker(fs: FileSystem, p: Path): Unit
    /** Atomic publish rename; false when the FS rejects it. */
    def rename(fs: FileSystem, src: Path, dst: Path): Boolean
  }

  /** The local/HDFS implementation — today's behavior, centralized. */
  object HadoopOps extends Ops {
    def createNoOverwrite(fs: FileSystem, p: Path): Boolean =
      if (fs.getUri.getScheme == "file")
        // Hadoop's local create(p, overwrite=false) is exists-then-
        // create — NOT atomic; O_CREAT|O_EXCL needs java.io
        new java.io.File(p.toUri.getPath).createNewFile()
      else
        try { fs.create(p, false).close(); true }
        catch {
          // only "taken" means lost; a persistent failure re-read as
          // "taken" would spin a claimer forever (round-13 advice)
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          case e: java.io.IOException => if (fs.exists(p)) false else throw e
        }
    def createMarker(fs: FileSystem, p: Path): Unit =
      fs.create(p, true).close()
    def rename(fs: FileSystem, src: Path, dst: Path): Boolean =
      fs.rename(src, dst)
  }

  @volatile private var current: Ops = HadoopOps

  def ops: Ops = current

  /** Swap the implementation for the duration of `body` — the test /
    * deployment seam. Serialized: implementations are process-global
    * (the committers they serve already run under per-store leases). */
  def withOps[T](o: Ops)(body: => T): T = synchronized {
    val prev = current
    current = o
    try body finally current = prev
  }
}
