package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Named-table loader over the driver's parquet test layout.
  *
  * Reads are `spark.read.parquet` so Catalyst predicate pushdown and
  * column pruning reach the scan; callers select/filter lazily and
  * never cache (each query owns its scan). The schema comes from one
  * footer read on the driver ([[footerSchema]]), so building a frame
  * starts no schema-inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The schema Spark's inference reads for the parquet table at `path`
    * without schema merging: the footer of a `_common_metadata`, else a
    * `_metadata`, else the first data file by path (a file `path` is its
    * own first file). None, leaving inference to Spark, when merging is
    * on, the path is absent or empty, or it holds directories (partition
    * discovery adds columns). */
  private[graft] def footerSchema(s: SparkSession, path: String): Option[StructType] = {
    if (s.sessionState.conf.isParquetSchemaMergingEnabled) return None
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val leaves: Seq[FileStatus] = try {
      val st = fs.getFileStatus(p)
      if (st.isFile) Seq(st) else fs.listStatus(p).toSeq.sortBy(_.getPath.toString)
    } catch { case _: java.io.FileNotFoundException => return None }
    def named(n: String) = leaves.find(_.getPath.getName == n)
    def hidden(n: String) = n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
    if (leaves.exists(_.isDirectory)) None
    else named("_common_metadata").orElse(named("_metadata"))
      .orElse(leaves.find(f => !hidden(f.getPath.getName)))
      .map(graft.sources.LocalParquet.schema(s, _))
  }

  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def events(s: SparkSession, d: String): DataFrame = apply(s, d, "events")

  /** events with ts normalized to `ts_us` (long micros, = DuckDB's
    * epoch_us) and `tstamp` (TIMESTAMP at micros), ADAPTIVE to the
    * generator's physical type: a TIMESTAMP(NANOS) column arrives as a
    * raw ns long (under `nanosAsLong`; `div` truncates toward zero =
    * DuckDB's floor for post-epoch data), a TIMESTAMP(MICROS) column —
    * what the current driver testdata writes — arrives as
    * TIMESTAMP/TIMESTAMP_NTZ and converts exactly via `unix_micros`
    * (NTZ values interpret in the session zone, which every graft
    * session pins to UTC — the same naive-as-written reading DuckDB's
    * epoch_us takes). */
  def eventsTs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros, unix_micros}
    val ev = events(s, d)
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        ev.withColumn("ts_us", expr("ts div 1000"))
          .withColumn("tstamp", timestamp_micros(col("ts_us")))
      case org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType =>
        ev.withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
          .withColumn("tstamp", col("ts").cast("timestamp"))
      case other =>
        // the generator has changed ts's physical type between rounds;
        // an unexpected type (e.g. plain INT32/DOUBLE seconds) must fail
        // loudly here rather than silently misscale by 1e6 downstream
        throw new IllegalStateException(
          s"events.ts arrived as unsupported type $other — " +
            "expected raw nanos LONG, TIMESTAMP, or TIMESTAMP_NTZ")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")

  /** documents, rebalanced to the session's parallelism when the parquet
    * layout yields fewer scan splits than cores. The text operators'
    * per-row work (tokenize/shingle/hash higher-order functions) is
    * CPU-bound, so scan parallelism — not IO — limits them; at real
    * scale the corpus file count supplies that parallelism, but a single
    * small file cannot be split below one row group and pins the whole
    * pipeline to one core (measured 2.5s → 0.34s for the q66 shingle
    * stage at sf0.1). The exchange this adds moves the raw text once,
    * and only when the layout is degenerate. */
  def documentsBalanced(s: SparkSession, d: String): DataFrame = {
    val df = documents(s, d)
    val p = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
