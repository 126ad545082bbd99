package graft.sources

import graft.{Num, QueryPack}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Read-path CHANGE DATA FEED over a [[VersionedStore]] commit lineage —
  * the `table_changes(path, from, to)` verb of the table formats (Delta
  * CDF / Iceberg changelog read), and the O(delta) answer to
  * q100_snapshot_diff's full-scan version diff: instead of re-reading
  * two whole snapshots, the feed derives each commit's changes from the
  * commit's OWN metadata diff, so the bytes read track the commit, not
  * the store.
  *
  * Relationship to the rest of the family: [[graft.streaming.ChangelogSink]]
  * (s15) is the WRITE-path twin — the upsert writer classifies its own
  * batch as it lands. This is the READ path: any consumer, at any later
  * time, reconstructs what changed between two committed versions from
  * the lineage alone — including commits made by other writers, COW
  * deletes, deletion-vector commits and compactions it never saw.
  *
  * Per consecutive committed pair (va, vb) the algebra is the exact
  * two-diff rule [[VersionedStore.refreshMv]] aggregates by — applied at
  * ROW grain with change typing instead of signed partial sums:
  *
  *  - file diff: rows of `removed` files (minus va's deletion vector)
  *    are the candidate PRE-image; rows of `added` files (minus vb's
  *    vector) the candidate POST-image. A key only in pre is a
  *    `delete`, only in post an `insert`, in both with ANY column
  *    differing an `update_preimage`/`update_postimage` pair, in both
  *    with identical payload NO change — which is what makes a
  *    compaction commit (all files swapped, all rows equal) emit the
  *    empty feed for free.
  *  - dv diff: keys newly vectored between va and vb whose rows live in
  *    SHARED files are `delete`s; their pre-image rows are read from
  *    only the stats+bloom-pruned owning subset
  *    ([[VersionedStore.fileKeyStatsReadOnly]] — the feed is a READ
  *    path, so it never heals manifests or appends blooms; absent stats
  *    fail open), semi-joined to the diff keys — cost ∝ deleted rows,
  *    the dv commit's own write law.
  *    Restricting the dv term to shared files is what keeps a key from
  *    double-counting when a rewrite and a vector race across a
  *    retention gap: rows in removed/added files are the file diff's
  *    business, rows in shared files the vector's.
  *
  * Scale shape at 100 TB: an append's feed reads the appended files; a
  * COW update's the owning+rewritten files; a dv erasure's O(deleted
  * rows); only a compaction pays a full read (the diff-fallback every
  * format shares when no write-path CDC files exist — the write path
  * here is s15). Nothing shuffles except the keyed full-outer join of
  * each commit's own delta against itself.
  *
  * Contract: the store's `keyCol` must be a ROW IDENTITY (unique per
  * row) — the same requirement every format's CDF makes. Payload
  * equality is exact null-safe struct equality over the aligned column
  * set (schema evolution aligns by name, absent columns null), so
  * column types must be comparable (atomics/structs/arrays — no maps).
  *
  * Reference anchor: the reference keeps no versioned lineage at all —
  * its closest shape is re-reading the Kudu table after each mutation
  * batch (ny_taxi/NyTaxiYellowTripStreaming.scala:121-160); the feed is
  * what replaces those re-reads when state lives in an immutable
  * commit lineage.
  */
object ChangeFeed extends QueryPack {

  val ChangeType = "_change_type"
  val CommitVersion = "_commit_version"

  /** All change rows in the committed-version interval (fromV, toV] —
    * one pass per consecutive retained pair, unioned. Columns: the
    * store's data columns (name-aligned union across evolution, absent
    * → null) + `_change_type` + `_commit_version`. */
  def changes(s: SparkSession, path: String, fromV: Int, toV: Int,
      keyCol: String): DataFrame = {
    val committed = VersionedStore.versions(s, path)
    val vs = committed.filter(v => v >= fromV && v <= toV)
    require(vs.headOption.contains(fromV),
      s"base version $fromV is not committed/retained under $path")
    // a silent truncation at the tip would let a consumer record
    // "consumed through $toV" and skip every commit landing later —
    // fail loudly instead (the Delta table_changes contract)
    require(vs.lastOption.contains(toV),
      s"end version $toV is not committed under $path " +
        s"(newest committed: ${committed.lastOption.getOrElse(-1)})")
    require(vs.size >= 2, s"no committed versions in ($fromV, $toV] under $path")
    val steps = vs.sliding(2).collect { case Seq(va, vb) =>
      stepBetween(s, path, va, vb, keyCol, adjacent = true)
    }.toSeq
    // BOUNDED-PLAN union (round-15 advice): a deep lineage's feed must
    // not build a thousands-way left-deep union on the driver. Steps
    // union in fixed-fan-in chunks; past ChunkSize steps each chunk is
    // eagerly localCheckpoint-ed (lineage truncated to its materialized
    // blocks), so the final plan holds interval/ChunkSize leaves with
    // bounded depth however many commits the interval spans.
    unionBounded(steps)
  }

  /** Fixed fan-in per chunk of the multi-step feed union. */
  private[graft] val ChunkSize = 32

  private[graft] def unionBounded(steps: Seq[DataFrame]): DataFrame = {
    def unionAll(dfs: Seq[DataFrame]) =
      dfs.reduce(_.unionByName(_, allowMissingColumns = true))
    if (steps.size <= ChunkSize) unionAll(steps)
    else unionAll(steps.grouped(ChunkSize)
      .map(chunk => unionAll(chunk).localCheckpoint(true)).toSeq)
  }

  /** One commit step's feed (also the unit [[graft.streaming.ChangeFeedReader]]
    * tails). `va` and `vb` need not be adjacent commit numbers — across
    * a vacuumed gap the result is the NET change between the two
    * retained snapshots (intermediate churn collapses), which is the
    * only well-defined answer once the middle manifests are gone. */
  def changesBetween(s: SparkSession, path: String, va: Int, vb: Int,
      keyCol: String): DataFrame = {
    // both endpoints must be COMMITTED (round-15 advice): an
    // uncommitted vb whose slot holds a crashed pre-marker writer's
    // orphaned artifacts must never be served as a feed endpoint
    val committed = VersionedStore.versions(s, path)
    require(committed.contains(va) && committed.contains(vb),
      s"change feed endpoints must be committed/retained versions of " +
        s"$path — got ($va, $vb), committed: ${committed.mkString(", ")}")
    require(va < vb, s"change feed interval must run forward, got ($va, $vb)")
    stepBetween(s, path, va, vb, keyCol,
      adjacent = !committed.exists(w => w > va && w < vb))
  }

  /** One pair's feed with the adjacency fact THREADED from the caller —
    * [[changes]] walks consecutive retained versions, so it passes
    * `adjacent = true` without re-listing the lineage per pair (an
    * n-step poll would otherwise pay O(n) manifest+txn listings). */
  private def stepBetween(s: SparkSession, path: String, va: Int, vb: Int,
      keyCol: String, adjacent: Boolean): DataFrame = {
    // write-path CDC fast path (the Delta _change_data read): the
    // committer persisted its change rows, so the feed reads O(changed
    // rows) — valid iff va is vb's TRUE PARENT, i.e. no committed
    // version sits between them. Retained adjacency decides this
    // exactly: commits are monotone and vacuum prefix-drops, so a
    // committed version can never be missing from BETWEEN two retained
    // ones (burned claim slots never committed and don't count); a
    // caller deliberately spanning several retained commits gets the
    // net diff below, the only correct answer there.
    val cdc = if (adjacent) VersionedStore.readCdc(s, path, vb) else None
    cdc match {
      case Some(rows) => rows.withColumn(CommitVersion, lit(vb.toLong))
      case None => diffBetween(s, path, va, vb, keyCol)
    }
  }

  /** The metadata-diff feed of one pair — the always-correct fallback
    * every format shares when no write-path CDC files exist. */
  private def diffBetween(s: SparkSession, path: String, va: Int, vb: Int,
      keyCol: String): DataFrame = {
    val fa = VersionedStore.versionFiles(s, path, va).toSet
    val fb = VersionedStore.versionFiles(s, path, vb).toSet
    val removed = (fa -- fb).toSeq.sorted
    val added = (fb -- fa).toSeq.sorted
    val shared = (fa & fb).toSeq.sorted
    val dvA = VersionedStore.dvAt(s, path, va)
    val dvB = VersionedStore.dvAt(s, path, vb)
    def minusDv(df: DataFrame, dv: Option[DataFrame]) =
      dv.fold(df)(d => df.join(broadcast(d), d.columns.toSeq, "left_anti"))
    val pre =
      if (removed.isEmpty) None
      else Some(minusDv(s.read.parquet(removed: _*), dvA))
    val post =
      if (added.isEmpty) None
      else Some(minusDv(s.read.parquet(added: _*), dvB))

    val fileDiff: Option[DataFrame] = (pre, post) match {
      case (None, None) => None
      case (Some(p), None) => Some(p.withColumn(ChangeType, lit("delete")))
      case (None, Some(q)) => Some(q.withColumn(ChangeType, lit("insert")))
      case (Some(p), Some(q)) => Some(keyedDiff(p, q, keyCol))
    }

    // dv diff over the shared files: newly vectored keys' pre-images,
    // read from only the band+bloom-owning subset
    val dvDiff: Option[DataFrame] =
      if (shared.isEmpty) None
      else dvB.flatMap { n =>
        // the dv relation's single column IS the store's dv key — a
        // caller keying the feed by any other (even valid row-identity)
        // column would fail mid-query with an opaque AnalysisException
        // in the selects below; state the contract instead
        val dvKey = n.columns.head
        require(dvKey == keyCol,
          s"change feed keyCol '$keyCol' does not match the store's " +
            s"deletion-vector column '$dvKey' — a dv-bearing store's " +
            "feed must be keyed by the column its deletion vectors carry")
        val diff = dvA.fold(n)(o => n.join(o, o.columns.toSeq, "left_anti"))
        // READ-only owning-file prune: bands+blooms when present, fail
        // open to the shared set otherwise (a consumer must never
        // write). The shared restriction is a semi-join against a small
        // frame, not an In-literal over tens of thousands of file names
        // (round-15 advice).
        val owning: Seq[String] =
          VersionedStore.fileKeyStatsReadOnly(s, path, vb) match {
            case None => shared
            case Some(st) =>
              import s.implicits._
              VersionedStore.owningFilesFor(diff,
                st.join(broadcast(shared.toDF("file")), Seq("file"),
                  "left_semi"), keyCol)
          }
        if (owning.isEmpty) None
        else Some(s.read.parquet(owning.toIndexedSeq: _*)
          .join(diff.select(col(keyCol)).distinct(), Seq(keyCol), "left_semi")
          .withColumn(ChangeType, lit("delete")))
      }

    val parts = fileDiff.toSeq ++ dvDiff.toSeq
    val step = parts match {
      case Nil =>
        // metadata-only step (e.g. a replayed no-op): an empty feed with
        // the store's schema — carrier-resolved so a zero-file committed
        // manifest (a purge that emptied the store) still types the
        // empty result instead of throwing (round-15 advice)
        VersionedStore.schemaCarrier(s, path, vb)
          .withColumn(ChangeType, lit(""))
      case ps => ps.reduce(_.unionByName(_, allowMissingColumns = true))
    }
    step.withColumn(CommitVersion, lit(vb.toLong))
  }

  /** Row-grain keyed diff of one commit's pre/post images. Schemas are
    * aligned by name first (evolution adds columns as null on the old
    * side), then compared as one null-safe struct per side. One pass:
    * a single full outer join, each key's one or two tagged change rows
    * (`insert`, `delete`, or an `update_preimage`/`update_postimage`
    * pair; none when the two sides are null-safe equal) exploded out.
    * Its helpers are shared with the keyed upsert's commit
    * ([[graft.streaming.UpsertSink]]), which tags its store rows in the
    * same pass. */
  private[graft] def keyedDiff(pre: DataFrame, post: DataFrame,
      keyCol: String): DataFrame = {
    val cols = payload(pre, post, keyCol)
    exploded(
      aligned(pre, keyCol, cols, "_pre")
        .join(aligned(post, keyCol, cols, "_post"), Seq(keyCol), "full_outer"),
      keyCol, changeRows(col("_pre"), col("_post"), cols), keyCol +: cols)
  }

  /** The payload columns (all but the key) of a pre/post pair, by name:
    * pre's in order, then those only post has. */
  private[graft] def payload(pre: DataFrame, post: DataFrame,
      keyCol: String): Seq[String] =
    (pre.columns ++ post.columns).distinct.filterNot(_ == keyCol).toSeq

  /** `df` as its key plus one struct `tag` of `cols`, a column `df`
    * lacks as null: one side of a diff, aligned by name. */
  private[graft] def aligned(df: DataFrame, keyCol: String, cols: Seq[String],
      tag: String): DataFrame = {
    val have = df.columns.toSet
    df.select(col(keyCol), struct(cols.map(c =>
      if (have(c)) col(c) else lit(null).as(c)): _*).as(tag))
  }

  /** One change row: the `cols` of struct `side` plus its change type. */
  private[graft] def tagged(side: Column, cols: Seq[String], ct: String): Column =
    struct(cols.map(c => side.getField(c).as(c)) :+ lit(ct).as(ChangeType): _*)

  /** A key's change rows, given its aligned pre and post structs (null:
    * absent on that side), as two tagged rows, each null where there is
    * none: nothing when the sides are null-safe equal, else an `insert`,
    * a `delete`, or an update pair. */
  private[graft] def changeRows(pre: Column, post: Column,
      cols: Seq[String]): Seq[Column] = {
    val changed = !(pre <=> post)
    Seq(
      when(changed, when(pre.isNull, tagged(post, cols, "insert"))
        .when(post.isNull, tagged(pre, cols, "delete"))
        .otherwise(tagged(pre, cols, "update_preimage"))),
      when(changed && pre.isNotNull && post.isNotNull,
        tagged(post, cols, "update_postimage")))
  }

  /** One output row per non-null tagged row of `rows` over `df`'s rows:
    * the columns `out` (the key from `df`, the rest from the tagged
    * row) then the change type. */
  private[graft] def exploded(df: DataFrame, keyCol: String, rows: Seq[Column],
      out: Seq[String]): DataFrame = {
    val row = "_change"
    df.select(col(keyCol), explode(array(rows: _*)).as(row))
      .filter(col(row).isNotNull)
      .select(out.map(c =>
        if (c == keyCol) col(keyCol) else col(row).getField(c).as(c)) :+
        col(row).getField(ChangeType).as(ChangeType): _*)
  }

  /** q120: the change feed of the full q107/q109 lineage — append (v2),
    * copy-on-write band update (v3), erasure delete (v4) — summarized
    * per (commit, change type). The oracle restates each commit's
    * logical definition from the raw tables: a feed that loses a
    * delete, double-counts a shared file's rows, or emits an unchanged
    * row as an update breaks a count or an integer-cent sum. */
  def q120ChangeFeed(s: SparkSession, dir: String): DataFrame = {
    val path = VersionedStore.purgedStore(s, dir)
    changes(s, path, 1, 4, "o_orderkey")
      .groupBy(col(CommitVersion).as("version"),
        col(ChangeType).as("change_type"))
      .agg(count(lit(1)).as("n_rows"), sum(col("amount_c")).as("amount_c"),
        count_distinct(col("o_custkey")).as("n_customers"))
      .orderBy(col("version"), col("change_type"))
  }

  /** q128: the change feed as a QUERYABLE RELATION (round-15 verdict
    * #3): `CALL graft_store_changes` registers the q120 lineage's feed
    * and a plain spark.sql statement JOINS it against the customer
    * dimension — change rows enriched inline, the `table_changes(...)`
    * consumption shape. The oracle restates each commit's logical rows
    * (the q120 definitions) joined to customer segments: a feed row
    * lost, double-counted or mis-keyed breaks a per-segment count or
    * integer-cent sum. */
  def q128ChangesJoin(s: SparkSession, dir: String): DataFrame = {
    val path = VersionedStore.purgedStore(s, dir)
    graft.GraftCatalog.call(s,
      s"CALL graft_store_changes('versioned', '$path', '1', '4', 'o_orderkey')")
    graft.Tables.customer(s, dir).createOrReplaceTempView("graft_q128_customer")
    s.sql(s"""SELECT ch.`$ChangeType` AS change_type,
      c.c_mktsegment AS seg, count(*) AS n_rows,
      sum(ch.amount_c) AS amount_c
      FROM graft_store_changes ch
      JOIN graft_q128_customer c ON ch.o_custkey = c.c_custkey
      GROUP BY 1, 2 ORDER BY 1, 2""")
  }

  val queries: Map[String, Q] = Map(
    "q120_change_feed" -> ((s, dir) => q120ChangeFeed(s, dir)),
    "q128_changes_join" -> ((s, dir) => q128ChangesJoin(s, dir)))

  val oracleSql: Map[String, String] = Map(
    // the q120 commit definitions as a change-row union, joined to the
    // customer dimension and rolled per (change type, segment)
    "q128_changes_join" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey,
         |    ${Num.sql.cents("o_totalprice")} AS a, o_orderdate
         |  FROM orders),
         |v2 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01'),
         |mm AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM v2),
         |k AS (SELECT mn + ((mx - mn + 1) * 4) // 10 AS lo,
         |  mn + ((mx - mn + 1) * 5) // 10 AS hi FROM mm),
         |u AS (
         |  SELECT 'insert' AS change_type, o_custkey, a FROM o
         |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |    AND o_orderdate < TIMESTAMP '1998-01-01'
         |  UNION ALL
         |  SELECT 'update_preimage', o_custkey, a
         |  FROM v2, k WHERE o_custkey BETWEEN lo AND hi
         |  UNION ALL
         |  SELECT 'update_postimage', o_custkey, a + 100
         |  FROM v2, k WHERE o_custkey BETWEEN lo AND hi
         |  UNION ALL
         |  SELECT 'delete', o_custkey,
         |    a + CASE WHEN o_custkey BETWEEN lo AND hi THEN 100 ELSE 0 END
         |  FROM v2, k WHERE o_custkey IN (
         |    SELECT c_custkey FROM customer
         |    WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 10 = 7))
         |SELECT change_type, c.c_mktsegment AS seg,
         |  count(*) AS n_rows, CAST(sum(a) AS BIGINT) AS amount_c
         |FROM u JOIN customer c ON u.o_custkey = c.c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // each commit's logical definition, restated: v2 = the 1997 append;
    // v3 = the +100¢ band update (pre and post images over the SAME
    // band rows); v4 = the q107 erasure list's rows at their v3 state
    "q120_change_feed" ->
      s"""WITH o AS (
         |  SELECT o_orderkey, o_custkey,
         |    ${Num.sql.cents("o_totalprice")} AS a, o_orderdate
         |  FROM orders),
         |v2 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01'),
         |mm AS (SELECT min(o_custkey) AS mn, max(o_custkey) AS mx FROM v2),
         |k AS (SELECT mn + ((mx - mn + 1) * 4) // 10 AS lo,
         |  mn + ((mx - mn + 1) * 5) // 10 AS hi FROM mm)
         |SELECT 2 AS version, 'insert' AS change_type, count(*) AS n_rows,
         |  CAST(sum(a) AS BIGINT) AS amount_c,
         |  count(DISTINCT o_custkey) AS n_customers
         |FROM o WHERE o_orderdate >= TIMESTAMP '1997-01-01'
         |  AND o_orderdate < TIMESTAMP '1998-01-01'
         |UNION ALL
         |SELECT 3, 'update_preimage', count(*), CAST(sum(a) AS BIGINT),
         |  count(DISTINCT o_custkey)
         |FROM v2, k WHERE o_custkey BETWEEN lo AND hi
         |UNION ALL
         |SELECT 3, 'update_postimage', count(*), CAST(sum(a + 100) AS BIGINT),
         |  count(DISTINCT o_custkey)
         |FROM v2, k WHERE o_custkey BETWEEN lo AND hi
         |UNION ALL
         |SELECT 4, 'delete', count(*),
         |  CAST(sum(a + CASE WHEN o_custkey BETWEEN lo AND hi
         |    THEN 100 ELSE 0 END) AS BIGINT),
         |  count(DISTINCT o_custkey)
         |FROM v2, k WHERE o_custkey IN (
         |  SELECT c_custkey FROM customer
         |  WHERE c_mktsegment = 'AUTOMOBILE' AND c_custkey % 10 = 7)
         |ORDER BY version, change_type""".stripMargin)
}
