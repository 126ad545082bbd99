package graft.sources

import graft.{Engine, Num, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Store LINEAGE surface for the versioned store — the three verbs a
  * table format's users reach for the moment the write path works:
  *
  *   - [[history]] — the commit log as a RELATION (Delta
  *     `DESCRIBE HISTORY`): per committed version, the writer's INTENT
  *     stamp (`operation` from the txn record) beside what the manifest
  *     diff PROVES it did (files added/removed), with the
  *     monotone-adjusted commit wall clock;
  *   - [[tag]] / [[readTagged]] — NAMED versions (Iceberg tags): a
  *     training snapshot gets a durable name, [[VersionedStore.vacuum]]
  *     retains tagged versions past the count window, and dropping the
  *     tag releases them — reproducibility pins with an explicit
  *     lifecycle;
  *   - [[cloneFrom]] / [[releaseClone]] — ZERO-COPY branching (Delta
  *     shallow clone): a new store whose v1 manifest references the
  *     source version's files byte-for-byte, pinned against source
  *     vacuum by an auto-managed clone tag, diverging copy-on-write
  *     from the first write onward. The experiment-branch verb a
  *     training-data pipeline uses to fork a 100 TB corpus for free.
  *
  * Scale shape: history is ONE distributed pass over the manifest
  * relations (per-file version spans aggregated to a ≤k² histogram —
  * file lists never reach the driver) plus one merged read of the tiny
  * txn records; tags are k empty marker files; a clone writes one
  * manifest, one txn record and the (small) in-force deletion vector —
  * O(metadata), never O(data).
  *
  * Ref: the reference keeps no lineage at all — its stores mutate in
  * place (Kudu upserts, `ConnectedCarStreaming.scala`); history/tags/
  * clones are what the same pipeline needs once snapshots exist.
  */
object StoreLineage extends QueryPack {

  import VersionedStore.{manifestPath, txnPath, versionFiles, versions}

  // ---------------------------------------------------------------
  // COMMIT HISTORY
  // ---------------------------------------------------------------

  /** The commit log of `path` as a small DataFrame — one row per
    * COMMITTED version: (version, operation, batch_id, commit_ts,
    * n_files, files_added, files_removed, rows_added, rows_removed).
    * The row metrics (the Delta operationMetrics column users grep
    * first) read O(metadata) from the bloom side relation's per-file
    * counts — NULL when a member file has no recorded count (pre-heal
    * store), 0/dv-delta for deletion-vector commits.
    *
    *   - `operation` is the writer's stamp when the txn record carries
    *     one ("append" / "upsert" / "delete" / "delete_dv" /
    *     "optimize" / "clone"); for pre-stamp records and manifest-only
    *     stores it is DERIVED from physical evidence: a dv commit
    *     (manifest verbatim + dv relation) → "delete_dv", no files
    *     removed → "append", anything else → "rewrite".
    *   - `batch_id` is the txn record's id (negative = maintenance /
    *     backfill pseudo-id), null on manifest-only stores.
    *   - `commit_ts` is monotone-adjusted exactly like
    *     [[VersionedStore.commitTimes]] (version order and time order
    *     can never disagree); manifest-only stores fall back to the
    *     manifest directory's modification time.
    *
    * Cost: one merged scan over the retained manifests (the per-file
    * (first, last) version spans collapse to a ≤k² histogram before
    * collect — a 100k-file store ships k² longs, not file lists), one
    * merged scan over the txn records, k tiny listings. Bounded by
    * retention, independent of data size — the Delta history shape. */
  def history(s: SparkSession, path: String): DataFrame = {
    import s.implicits._
    val vs = versions(s, path)
    if (vs.isEmpty)
      return Seq.empty[(Int, String, Option[Long], Long, Int, Int, Int,
          Option[Long], Option[Long])]
        .toDF("version", "operation", "batch_id", "commit_ts",
          "n_files", "files_added", "files_removed",
          "rows_added", "rows_removed")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)

    // per-file version spans, aggregated distributed: carry-forward
    // manifests make a file's member versions a contiguous [fv, lv]
    // range (files land once and leave once — immutability), so the
    // (fv, lv) histogram reconstructs every count exactly.
    // operationMetrics (round-16 verdict #8): per-file ROW COUNTS ride
    // the bloom side relation ([[VersionedStore.appendBlooms]] writes
    // them at erasure-planning/heal time), joined DISTRIBUTED onto the
    // span aggregation — rows_added/rows_removed cost O(histogram),
    // never a data scan. Files without a recorded count make their
    // commit's metric NULL (unknown), never a guess.
    val bloomsP = VersionedStore.bloomsDir(path)
    val haveBlooms = fs.exists(new org.apache.hadoop.fs.Path(bloomsP))
    // (fv, lv, files, rowsSum, missingCount)
    val spanHist: Array[(Int, Int, Long, Long, Long)] = {
      val dirs = vs.map(v => manifestPath(path, v))
      val spans = s.read.option("mergeSchema", "true").parquet(dirs: _*)
        .select(regexp_extract(input_file_name(), "/manifest/v(\\d+)/", 1)
          .cast("int").as("mv"), col("file"))
        .groupBy(col("file"))
        .agg(min(col("mv")).as("fv"), max(col("mv")).as("lv"))
      val withRows =
        if (!haveBlooms) spans.withColumn("rows", lit(null).cast("long"))
        else {
          val br = s.read.parquet(bloomsP).dropDuplicates("file")
          val rcol =
            if (br.columns.contains("rows")) br.select(col("file"), col("rows"))
            else br.select(col("file"), lit(null).cast("long").as("rows"))
          spans.join(rcol, Seq("file"), "left_outer")
        }
      withRows.groupBy(col("fv"), col("lv"))
        .agg(count(lit(1)).as("n"), sum(coalesce(col("rows"), lit(0L))).as("rs"),
          sum(when(col("rows").isNull, 1L).otherwise(0L)).as("miss"))
        .collect().map(r =>
          (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    }
    val nextOf: Map[Int, Int] = vs.zip(vs.drop(1)).toMap
    def nFiles(v: Int) =
      spanHist.filter(t => t._1 <= v && v <= t._2).map(_._3).sum
    def added(v: Int) = spanHist.filter(_._1 == v).map(_._3).sum
    def removed(v: Int) = // files whose LAST version directly precedes v
      spanHist.filter(t => nextOf.get(t._2).contains(v)).map(_._3).sum
    def rowsOf(sel: ((Int, Int, Long, Long, Long)) => Boolean): Option[Long] = {
      val hit = spanHist.filter(sel)
      if (hit.exists(_._5 > 0)) None else Some(hit.map(_._4).sum)
    }
    def rowsAdded(v: Int) = rowsOf(_._1 == v)
    def rowsRemoved(v: Int) = rowsOf(t => nextOf.get(t._2).contains(v))
    // a dv commit's manifest diff is empty — its removed rows are the
    // newly vectored keys, read O(dv rows) from the (small) dv deltas
    lazy val dvSizes: Map[Int, Long] =
      VersionedStore.dvVersions(s, path).map(v =>
        v -> s.read.parquet(VersionedStore.dvPath(path, v)).count()).toMap

    // txn metadata, one merged read over every version's record files
    // (explicit .parquet lists — the record dirs also hold the commit
    // MARKERS, which are zero-byte non-parquet files)
    val txnByV: Map[Int, (Long, Long, Option[String])] = {
      val dirs = vs.map(v => txnPath(path, v)).filter(d =>
        fs.exists(new org.apache.hadoop.fs.Path(d)))
        .flatMap(d => VersionedStore.hadoopLs(s, d).toSeq.sorted)
      if (dirs.isEmpty) Map.empty
      else {
        val df = s.read.option("mergeSchema", "true").parquet(dirs: _*)
        val withOp =
          if (df.columns.contains("operation")) df
          else df.withColumn("operation", lit(null).cast("string"))
        withOp
          .select(regexp_extract(input_file_name(), "/txn/v(\\d+)/", 1)
            .cast("int").as("tv"), col("batch_id"), col("commit_ts"),
            col("operation"))
          .collect().map(r => r.getInt(0) ->
            (r.getLong(1), r.getLong(2),
              Option(r.getString(3)))).toMap
      }
    }
    def mtime(v: Int): Long =
      try fs.getFileStatus(new org.apache.hadoop.fs.Path(manifestPath(path, v)))
        .getModificationTime
      catch { case _: java.io.IOException => 0L }

    val dvs = VersionedStore.dvVersions(s, path).toSet
    val rows = vs.foldLeft(List.empty[(Int, String, Option[Long], Long)]) {
      case (acc, v) =>
        val (a, r) = (added(v), removed(v))
        val meta = txnByV.get(v)
        val op = meta.flatMap(_._3).getOrElse {
          if (dvs.contains(v) && a == 0 && r == 0) "delete_dv"
          else if (r == 0) "append"
          else "rewrite"
        }
        val raw = meta.map(_._2).getOrElse(mtime(v))
        val ts = acc.headOption.map(p => math.max(raw, p._4 + 1)).getOrElse(raw)
        (v, op, meta.map(_._1), ts) :: acc
    }.reverse
    rows.map { case (v, op, bid, ts) =>
      val isDv = dvs.contains(v) && added(v) == 0 && removed(v) == 0
      val (ra, rr) =
        if (isDv)
          (Some(0L), dvSizes.get(v).map(n =>
            n - dvSizes.filter(_._1 < v).values.maxOption.getOrElse(0L)))
        else (rowsAdded(v), rowsRemoved(v))
      (v, op, bid, ts, nFiles(v).toInt, added(v).toInt, removed(v).toInt,
        ra, rr)
    }.toDF("version", "operation", "batch_id", "commit_ts",
      "n_files", "files_added", "files_removed",
      "rows_added", "rows_removed")
  }

  // ---------------------------------------------------------------
  // TAGS — named, vacuum-pinned versions
  // ---------------------------------------------------------------

  def tagsDir(path: String): String = path + "/tags"

  /** Unambiguous tag-file grammar: the version rides in the FILE NAME
    * (`<name>.v<N>`, an empty marker created no-overwrite), so a tag is
    * one atomic create and resolution is one listing — no content file
    * to tear. Names exclude '.' so the `.v` suffix parses uniquely, and
    * must carry at least one non-digit so a tag can never shadow a
    * version number in `graft_snapshot('<path>', '<v|tag>')`. */
  private val TagName = "^(?=.*[A-Za-z_-])[A-Za-z0-9_-]{1,128}$"

  private def tagFiles(s: SparkSession, path: String): Seq[(String, Int)] = {
    val td = new org.apache.hadoop.fs.Path(tagsDir(path))
    val fs = td.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(td)) Nil
    else fs.listStatus(td).toSeq.filter(_.isFile).flatMap { st =>
      val n = st.getPath.getName
      val i = n.lastIndexOf(".v")
      if (i <= 0) None
      else n.substring(i + 2).toIntOption.map(v => (n.substring(0, i), v))
    }
  }

  /** All tags of `path` as (name, version), name-sorted. */
  def tags(s: SparkSession, path: String): Seq[(String, Int)] =
    tagFiles(s, path).sortBy(_._1)

  /** Versions pinned by at least one tag — [[VersionedStore.vacuum]]'s
    * retention floor. One listing; absent dir = one exists probe. */
  private[graft] def taggedVersions(s: SparkSession, path: String): Seq[Int] =
    tagFiles(s, path).map(_._2).distinct.sorted

  /** Pin committed version `v` under `name`. Idempotent when the tag
    * already pins exactly `v`; an existing tag on ANOTHER version is a
    * loud contract error (tags are immutable — drop first, the Iceberg
    * rule). Serialized against vacuum and other taggers by the
    * maintenance lease, so a tag can never land on a version whose
    * manifests a concurrent vacuum is dropping. */
  def tag(s: SparkSession, path: String, name: String, v: Int): Unit =
    WriterLease.withLease(s, path, s"tag:$name") {
      require(name.matches(TagName),
        s"tag name '$name' must match $TagName (no dots — the .v suffix)")
      require(versions(s, path).contains(v),
        s"cannot tag v$v of $path: not a committed version")
      tagFiles(s, path).find(_._1 == name) match {
        case Some((_, ev)) if ev == v => () // idempotent re-pin
        case Some((_, ev)) => throw new IllegalStateException(
          s"tag '$name' already pins v$ev of $path; drop it before re-tagging")
        case None =>
          val td = new org.apache.hadoop.fs.Path(tagsDir(path))
          val fs = td.getFileSystem(s.sparkContext.hadoopConfiguration)
          fs.mkdirs(td)
          require(StoreIo.ops.createNoOverwrite(fs,
            new org.apache.hadoop.fs.Path(tagsDir(path) + s"/$name.v$v")),
            s"tag '$name' creation raced another writer at $path")
      }
    }

  /** Drop the tag (releases its vacuum pin). Idempotent. */
  def dropTag(s: SparkSession, path: String, name: String): Unit =
    WriterLease.withLease(s, path, s"untag:$name") {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      tagFiles(s, path).filter(_._1 == name).foreach { case (n, v) =>
        fs.delete(new org.apache.hadoop.fs.Path(tagsDir(path) + s"/$n.v$v"),
          false)
      }
    }

  /** The version `name` pins. Loud error when the tag does not exist. */
  def resolveTag(s: SparkSession, path: String, name: String): Int =
    tagFiles(s, path).find(_._1 == name).map(_._2).getOrElse(
      throw new NoSuchElementException(
        s"no tag '$name' at $path; tags: ${tags(s, path).map(_._1).mkString(",")}"))

  /** Read the store as of the tagged version — time travel by NAME. */
  def readTagged(s: SparkSession, path: String, name: String): DataFrame =
    VersionedStore.readVersion(s, path, resolveTag(s, path, name))

  // ---------------------------------------------------------------
  // SHALLOW CLONE — zero-copy branching
  // ---------------------------------------------------------------

  private def cloneSrcPath(dst: String) = dst + "/_clone_src"

  private[graft] def clonePinName(dstPath: String): String =
    "clone_" + java.lang.Long.toHexString(
      dstPath.foldLeft(1125899906842597L)((a, c) => a * 31 + c))

  /** Branch `srcPath`@`srcV` into the empty store `dstPath` WITHOUT
    * copying data: dst's v1 manifest is src's manifest verbatim (stats
    * columns and all — bands stay warm), the deletion vector in force
    * at srcV carries over, and a `clone`-stamped txn record + marker
    * commit it. The source version is pinned by an auto-managed tag
    * (`clone_<hash(dst)>`) CREATED FIRST, so a source vacuum running at
    * any point after the pin can never reap the files the clone
    * references; [[releaseClone]] drops the pin when the branch dies.
    * Writes to the clone land under ITS data root (copy-on-write
    * divergence — the source is never touched); writes to the source
    * never reach the clone. O(metadata + dv rows), zero data bytes. */
  def cloneFrom(s: SparkSession, srcPath: String, srcV: Int,
      dstPath: String): Int = {
    require(versions(s, dstPath).isEmpty,
      s"clone target $dstPath already has committed versions")
    require(versions(s, srcPath).contains(srcV),
      s"cannot clone v$srcV of $srcPath: not a committed version")
    tag(s, srcPath, clonePinName(dstPath), srcV) // pin BEFORE any copy
    val fs = new org.apache.hadoop.fs.Path(dstPath)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    VersionedStore.writeManifest(s, dstPath, 1,
      VersionedStore.manifest(s, srcPath, srcV))
    VersionedStore.dvAt(s, srcPath, srcV).foreach(d =>
      d.coalesce(1).write.mode(SaveMode.Overwrite)
        .parquet(VersionedStore.dvPath(dstPath, 1)))
    // provenance BEFORE the commit marker: releaseClone must be able to
    // find the pin for any store that ever committed
    locally {
      val out = fs.create(new org.apache.hadoop.fs.Path(cloneSrcPath(dstPath)),
        true)
      try out.write(s"$srcPath\n$srcV\n".getBytes("UTF-8"))
      finally out.close()
    }
    TxnLog.writeRecord(s, dstPath, 1, -1L, "clone") // marker LAST = the commit
    1
  }

  /** The clone's recorded provenance: (source path, source version). */
  def cloneSource(s: SparkSession, dstPath: String): Option[(String, Int)] = {
    val p = new org.apache.hadoop.fs.Path(cloneSrcPath(dstPath))
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        // read to EOF: a single read() may legally return short on
        // FSDataInputStream (the WriterLease.readLease rule)
        val buf = new java.io.ByteArrayOutputStream()
        val chunk = new Array[Byte](4096)
        var n = in.read(chunk)
        while (n >= 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        val ls = new String(buf.toByteArray, "UTF-8").split("\n")
        Some((ls(0), ls(1).trim.toInt))
      } finally in.close()
    }
  }

  /** Release the clone's pin on its source (the branch is done): the
    * source vacuum may then reap srcV like any untagged version —
    * after which the CLONE's shared files die with it, the documented
    * shallow-clone lifecycle (flatten with
    * [[VersionedStore.compactCommit]] on the clone first to keep it). */
  def releaseClone(s: SparkSession, dstPath: String): Unit =
    cloneSource(s, dstPath).foreach { case (src, _) =>
      dropTag(s, src, clonePinName(dstPath))
    }

  // ---------------------------------------------------------------
  // gated harness
  // ---------------------------------------------------------------

  private val (cut1, cut2) = ("1997-01-01", "1998-01-01")

  private def ordersCols(df: DataFrame): DataFrame =
    df.select(col("o_orderkey"), col("o_custkey"),
      Num.cents(col("o_totalprice")).as("amount_c"))

  /** The q107 erasure subjects projected onto the orders key. */
  private def subjectKeys(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "AUTOMOBILE" && col("c_custkey") % 10 === 7)
      .select(col("c_custkey").as("o_custkey"))

  private def wipeUnless(s: SparkSession, path: String, want: Seq[Int]): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p) && versions(s, path) != want) fs.delete(p, true)
  }

  /** Four-verb lineage for q129: append, append, COW delete, optimize —
    * every distinct batch-side operation stamp in one store. */
  private val histBuilt = scala.collection.mutable.Map.empty[String, String]

  private[graft] def histStore(s: SparkSession, dir: String): String =
    synchronized {
      histBuilt.getOrElseUpdate(dir, {
        val path = Engine.storePath("graft-versioned-hist", dir)
        wipeUnless(s, path, Seq(1, 2, 3, 4))
        if (versions(s, path).isEmpty) {
          val orders = Tables.orders(s, dir)
          VersionedStore.appendCommit(s, path,
            ordersCols(orders.filter(
              col("o_orderdate") < to_timestamp(lit(cut1)))), "o_custkey", 4)
          VersionedStore.appendCommit(s, path,
            ordersCols(orders.filter(
              col("o_orderdate") >= to_timestamp(lit(cut1)) &&
                col("o_orderdate") < to_timestamp(lit(cut2)))), "o_custkey", 2)
          VersionedStore.deleteCommit(s, path, subjectKeys(s, dir), "o_custkey")
          VersionedStore.compactCommit(s, path, "o_custkey", 32L << 20)
        }
        path
      })
    }

  /** Two-version clone demo for q132: branch the ts store's v1 into an
    * empty store, then diverge it with an append the SOURCE never sees
    * (the even-custkey half of the 1997 slice). Built once per JVM. */
  private val cloneBuilt = scala.collection.mutable.Map.empty[String, (String, String)]

  private[graft] def cloneDemo(s: SparkSession, dir: String): (String, String) =
    synchronized {
      cloneBuilt.getOrElseUpdate(dir, {
        val src = VersionedStore.tsStore(s, dir)
        val dst = Engine.storePath("graft-versioned-clonedst", dir)
        wipeUnless(s, dst, Seq(1, 2))
        if (versions(s, dst).isEmpty) {
          cloneFrom(s, src, 1, dst)
          VersionedStore.appendCommit(s, dst,
            ordersCols(Tables.orders(s, dir).filter(
              col("o_orderdate") >= to_timestamp(lit(cut1)) &&
                col("o_orderdate") < to_timestamp(lit(cut2)) &&
                col("o_custkey") % 2 === 0)), "o_custkey", 2)
        }
        (src, dst)
      })
    }

  // ---------------------------------------------------------------
  // gated queries
  // ---------------------------------------------------------------

  /** q129: COMMIT HISTORY — the history relation joined to each
    * version's logical content. The oracle restates all four commit
    * definitions (pre-1997 append, 1997 append, subject erasure,
    * content-preserving optimize) WITH their operation labels, so a
    * wrong stamp, a missed derivation, a manifest diff miscount
    * surfacing as the wrong operation, or any version's content drift
    * breaks the hash. */
  def q129History(s: SparkSession, dir: String): DataFrame = {
    val path = histStore(s, dir)
    val h = history(s, path).select(col("version"), col("operation"))
    val contents = (1 to 4).map { v =>
      VersionedStore.readVersion(s, path, v)
        .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"))
        .select(lit(v).as("version"), col("n_rows"), col("amount_c"))
    }.reduce(_.unionAll(_))
    h.join(contents, Seq("version"))
      .select(col("version").cast("long").as("version"), col("operation"),
        col("n_rows"), col("amount_c"))
      .orderBy(col("version"))
  }

  /** q130: TAGGED READ — time travel by NAME: pin the ts store's v1 as
    * `baseline` (idempotent re-pin), read through the tag beside the
    * tip. A tag resolving to the wrong version, or a reader bypassing
    * the manifest, breaks a count against the two commit definitions. */
  def q130TaggedRead(s: SparkSession, dir: String): DataFrame = {
    val path = VersionedStore.tsStore(s, dir)
    tag(s, path, "baseline", 1)
    val base = readTagged(s, path, "baseline")
      .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"),
        count_distinct(col("o_custkey")).as("n_customers"))
      .select(lit("baseline").as("ref"), col("n_rows"), col("amount_c"),
        col("n_customers"))
    val tip = VersionedStore.readVersion(s, path, versions(s, path).last)
      .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"),
        count_distinct(col("o_custkey")).as("n_customers"))
      .select(lit("tip").as("ref"), col("n_rows"), col("amount_c"),
        col("n_customers"))
    base.unionAll(tip).orderBy(col("ref"))
  }

  /** q132: SHALLOW CLONE — the branch reads the source version's data
    * through its own manifest (zero bytes copied — spec-asserted), then
    * diverges: the clone's tip carries the even-custkey 1997 append the
    * source never sees, and the source tip is bit-identical to what it
    * was before the branch. A clone manifest drift, a divergent write
    * leaking into the source, or a shared file double-counted breaks a
    * sum. */
  def q132Clone(s: SparkSession, dir: String): DataFrame = {
    val (src, dst) = cloneDemo(s, dir)
    def summarize(path: String, ref: String) =
      VersionedStore.readVersion(s, path, versions(s, path).last)
        .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"),
          count_distinct(col("o_custkey")).as("n_customers"))
        .select(lit(ref).as("ref"), col("n_rows"), col("amount_c"),
          col("n_customers"))
    summarize(dst, "clone_tip").unionAll(summarize(src, "source_tip"))
      .orderBy(col("ref"))
  }

  val queries: Map[String, Q] = Map(
    "q129_history" -> (q129History _),
    "q130_tagged_read" -> (q130TaggedRead _),
    "q132_clone" -> (q132Clone _))

  private val subjectSql =
    "SELECT c_custkey FROM customer " +
      "WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 10 = 7"

  val oracleSql: Map[String, String] = Map(
    "q129_history" ->
      s"""WITH o AS (
         |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a, o_orderdate
         |  FROM orders WHERE o_orderdate < TIMESTAMP '$cut2'),
         |del AS ($subjectSql)
         |SELECT 1 AS version, 'append' AS operation, count(*) AS n_rows,
         |  CAST(sum(a) AS BIGINT) AS amount_c
         |FROM o WHERE o_orderdate < TIMESTAMP '$cut1'
         |UNION ALL
         |SELECT 2, 'append', count(*), CAST(sum(a) AS BIGINT) FROM o
         |UNION ALL
         |SELECT 3, 'delete', count(*), CAST(sum(a) AS BIGINT)
         |FROM o WHERE o_custkey NOT IN (SELECT c_custkey FROM del)
         |UNION ALL
         |SELECT 4, 'optimize', count(*), CAST(sum(a) AS BIGINT)
         |FROM o WHERE o_custkey NOT IN (SELECT c_custkey FROM del)
         |ORDER BY version""".stripMargin,
    "q130_tagged_read" ->
      s"""WITH o AS (
         |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a, o_orderdate
         |  FROM orders)
         |SELECT 'baseline' AS ref, count(*) AS n_rows,
         |  CAST(sum(a) AS BIGINT) AS amount_c,
         |  count(DISTINCT o_custkey) AS n_customers
         |FROM o WHERE o_orderdate < TIMESTAMP '$cut1'
         |UNION ALL
         |SELECT 'tip', count(*), CAST(sum(a) AS BIGINT),
         |  count(DISTINCT o_custkey)
         |FROM o WHERE o_orderdate < TIMESTAMP '$cut2'
         |ORDER BY ref""".stripMargin,
    "q132_clone" ->
      s"""WITH o AS (
         |  SELECT o_custkey, ${Num.sql.cents("o_totalprice")} AS a, o_orderdate
         |  FROM orders)
         |SELECT 'clone_tip' AS ref, count(*) AS n_rows,
         |  CAST(sum(a) AS BIGINT) AS amount_c,
         |  count(DISTINCT o_custkey) AS n_customers
         |FROM o WHERE o_orderdate < TIMESTAMP '$cut1'
         |  OR (o_orderdate < TIMESTAMP '$cut2' AND o_custkey % 2 = 0)
         |UNION ALL
         |SELECT 'source_tip', count(*), CAST(sum(a) AS BIGINT),
         |  count(DISTINCT o_custkey)
         |FROM o WHERE o_orderdate < TIMESTAMP '$cut2'
         |ORDER BY ref""".stripMargin)
}
