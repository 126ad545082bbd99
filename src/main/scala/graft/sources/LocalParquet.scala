package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
import org.apache.spark.paths.SparkPath
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.MultiInstanceRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{FileRelation, LeafExecNode, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.StructType

/** DRIVER-SIDE PARQUET for small relations: store metadata (manifests,
  * blooms, dv keys, txn records) and the owning files of a point probe.
  * A Spark read of a tiny relation costs a schema-inference job plus the
  * job that reads it; here the footers and rows go through Spark's own
  * parquet reader ([[ParquetFileFormat.buildReaderWithPartitionValues]])
  * under the session's SQL and Hadoop conf, on the calling thread, with
  * no job at all. The decoder, the `nanosAsLong`/timezone handling and
  * the schema (the first file's footer, nullable — what inference
  * yields) are Spark's, so a relation reads the same either way.
  *
  * Nothing read here is cached: every call lists, opens and decodes
  * afresh, so a reader always sees the files as they are now.
  *
  * [[write]] (and [[append]]) is the twin for driver-held metadata: the
  * rows go through Spark's own parquet output writer, so the file is the
  * one a `coalesce(1).write.parquet` would leave, without the job. */
object LocalParquet {

  /** A small parquet table read whole: its schema and rows. */
  final case class Table(schema: StructType, rows: Seq[Row]) {
    def has(c: String): Boolean = schema.fieldNames.contains(c)
  }

  /** The parquet data files directly under `dir`, sorted by path: no
    * `_SUCCESS` markers, no `.crc` side files. Empty when `dir` is
    * absent. */
  def ls(s: SparkSession, dir: String): Seq[FileStatus] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter { st =>
      val name = st.getPath.getName
      st.isFile && name.endsWith(".parquet") && !name.startsWith(".") &&
        !name.startsWith("_")
    }.sortBy(_.getPath.toString)
  }

  /** One status per named file, in order. */
  def status(s: SparkSession, files: Seq[String]): Seq[FileStatus] =
    files.map { f =>
      val p = new Path(f)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).getFileStatus(p)
    }

  /** The row schema inference yields for a relation whose first file is
    * `file`: the schema Spark stored in its footer (or the converted
    * parquet schema), all fields nullable. One footer read. */
  def schema(s: SparkSession, file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, s.sessionState.newHadoopConf()),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    GraftSqlBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(s.sessionState.conf)))
  }

  /** The rows of `files` read as `schema` that pass `keep`, as unsafe
    * copies in file order. */
  def scan(s: SparkSession, files: Seq[FileStatus], schema: StructType)(
      keep: InternalRow => Boolean): Seq[InternalRow] = {
    if (files.isEmpty) return Nil
    val read = new ParquetFileFormat().buildReaderWithPartitionValues(
      s, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      s.sessionState.newHadoopConf())
    val toUnsafe = UnsafeProjection.create(schema)
    val out = Seq.newBuilder[InternalRow]
    files.foreach { st =>
      val it = read(PartitionedFile(InternalRow.empty,
        SparkPath.fromFileStatus(st), 0L, st.getLen,
        modificationTime = st.getModificationTime, fileSize = st.getLen))
      try it.foreach { r =>
        val u = toUnsafe(r)
        if (keep(u)) out += u.copy()
      } finally it match {
        case c: java.io.Closeable => c.close()
        case _ =>
      }
    }
    out.result()
  }

  /** Every row of the parquet table under `dir`. Throws
    * [[java.io.FileNotFoundException]] when `dir` holds no data file. */
  def table(s: SparkSession, dir: String): Table = {
    val files = ls(s, dir)
    if (files.isEmpty)
      throw new java.io.FileNotFoundException(s"no parquet data file under $dir")
    val sch = schema(s, files.head)
    val toRow = CatalystTypeConverters.createToScalaConverter(sch)
    Table(sch, scan(s, files, sch)(_ => true).map(r => toRow(r).asInstanceOf[Row]))
  }

  /** Per row group of `file` that holds rows: the (min, max) of the
    * top-level integral column `c` from the footer's column-chunk
    * statistics. None for a row group whose chunk has no usable
    * statistics: absent, no non-null value, or a physical type whose
    * statistics do not order as signed integers. One footer read. */
  def integralBounds(s: SparkSession, file: FileStatus,
      c: String): Seq[Option[(Long, Long)]] = {
    import scala.jdk.CollectionConverters._
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, s.sessionState.newHadoopConf()),
      ParquetMetadataConverter.NO_FILTER)
    footer.getBlocks.asScala.toSeq.filter(_.getRowCount > 0).map { b =>
      b.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(c)))
        .filter { ch =>
          val pt = ch.getPrimitiveType
          (pt.getPrimitiveTypeName == INT32 || pt.getPrimitiveTypeName == INT64) &&
            (pt.getLogicalTypeAnnotation match {
              case null => true
              case i: IntLogicalTypeAnnotation => i.isSigned
              case _ => false
            })
        }
        .map(_.getStatistics)
        .filter(st => st != null && st.hasNonNullValue)
        .map(st => (st.genericGetMin.asInstanceOf[Number].longValue,
          st.genericGetMax.asInstanceOf[Number].longValue))
    }
  }

  /** Write `t` as the one-file parquet table under `dir`, on the
    * driver: the rows go through Spark's own output writer
    * ([[ParquetFileFormat.prepareWrite]]) under the session's SQL and
    * Hadoop conf, so the codec, the schema metadata and the nullability
    * are what Spark's writer makes of `t.schema`. The file is written
    * as a hidden temp, published with [[StoreIo.ops]]' rename, and
    * `_SUCCESS` follows. Whatever `dir` held before goes only after the
    * publish: a failure earlier leaves the old table readable. */
  def write(s: SparkSession, dir: String, t: Table): Unit =
    publish(s, dir, t, replace = true)

  /** [[write]] keeping what `dir` already holds: `t`'s rows become one
    * more file of the table there. */
  def append(s: SparkSession, dir: String, t: Table): Unit =
    publish(s, dir, t, replace = false)

  private def publish(s: SparkSession, dir: String, t: Table,
      replace: Boolean): Unit = {
    val conf = s.sessionState.newHadoopConf()
    val job = Job.getInstance(conf)
    val factory = new ParquetFileFormat().prepareWrite(s, job, Map.empty, t.schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID(
      new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0))
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    val stale = if (replace && fs.exists(d)) fs.listStatus(d).toSeq else Nil
    val name = s"part-00000-${java.util.UUID.randomUUID()}-c000" +
      factory.getFileExtension(ctx)
    val tmp = new Path(d, s".$name.tmp")
    val w = factory.newInstance(tmp.toString, t.schema, ctx)
    try {
      val toInternal = CatalystTypeConverters.createToCatalystConverter(t.schema)
      t.rows.foreach(r => w.write(toInternal(r).asInstanceOf[InternalRow]))
    } finally w.close()
    if (!StoreIo.ops.rename(fs, tmp, new Path(d, name)))
      throw new java.io.IOException(s"could not publish $tmp as $name")
    stale.foreach(st => fs.delete(st.getPath, true))
    fs.create(new Path(d, "_SUCCESS"), true).close()
  }

  /** A zero-row frame of `schema`. */
  def empty(s: SparkSession, schema: StructType): DataFrame =
    s.createDataFrame(java.util.Collections.emptyList[Row](), schema)

  /** A frame over unsafe rows already read on the driver from `files`
    * (fully qualified, as [[org.apache.spark.sql.Dataset.inputFiles]]
    * reports them). Collecting it runs no job; its scan node reports the
    * SQL metrics `numFiles` and `numOutputRows`. */
  def frame(s: SparkSession, output: Seq[Attribute], rows: Seq[InternalRow],
      files: Seq[String]): DataFrame = {
    register(s)
    GraftSqlBridge.ofRows(s, Relation(output, rows, files))
  }

  /** The logical leaf behind [[frame]]. */
  private case class Relation(output: Seq[Attribute], rows: Seq[InternalRow],
      files: Seq[String]) extends LeafNode with MultiInstanceRelation
      with FileRelation {
    def newInstance(): LogicalPlan = copy(output = output.map(_.newInstance()))
    def inputFiles: Array[String] = files.toArray
    override def maxRows: Option[Long] = Some(rows.size.toLong)
    override def computeStats(): Statistics = Statistics(sizeInBytes =
      BigInt(math.max(1L, rows.map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum)))
    override def simpleString(maxFields: Int): String =
      s"LocalParquet ${output.mkString("[", ", ", "]")}, ${files.size} files, ${rows.size} rows"
  }

  /** The physical scan of a [[Relation]]: a collect hands back the rows. */
  private case class ScanExec(output: Seq[Attribute], rows: Seq[InternalRow],
      files: Int) extends LeafExecNode {
    override lazy val metrics: Map[String, SQLMetric] = Map(
      "numFiles" -> SQLMetrics.createMetric(sparkContext, "number of files read"),
      "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

    private def served(n: Int): Unit = {
      metrics("numFiles").set(files.toLong)
      metrics("numOutputRows").set(n.toLong)
      SQLMetrics.postDriverMetricUpdates(sparkContext,
        sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
        metrics.values.toSeq)
    }

    override def executeCollect(): Array[InternalRow] = {
      served(rows.size); rows.toArray
    }
    override def executeTake(n: Int): Array[InternalRow] = {
      val out = rows.take(n).toArray; served(out.length); out
    }
    protected override def doExecute(): RDD[InternalRow] = {
      served(rows.size)
      sparkContext.parallelize(rows, 1)
    }
    override def simpleString(maxFields: Int): String =
      s"LocalParquetScan ${output.mkString("[", ", ", "]")}, $files files, ${rows.size} rows"
  }

  private object Strategy extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case r: Relation => ScanExec(r.output, r.rows, r.files.size) :: Nil
      case _ => Nil
    }
  }

  /** Plan [[Relation]] in `s`: registered once per session, so sessions
    * built without [[graft.GraftExtensions]] serve it too. */
  private def register(s: SparkSession): Unit = {
    val e = s.experimental
    if (!e.extraStrategies.contains(Strategy)) synchronized {
      if (!e.extraStrategies.contains(Strategy))
        e.extraStrategies = Strategy +: e.extraStrategies
    }
  }
}
