package graft

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Table reads take their schema from one footer on the driver: the
  * schema Spark's inference yields, and no schema-inference job. */
class TablesSpec extends AnyFunSuite {
  import TestSpark.{sf, spark}

  /** The Spark jobs `body` starts. */
  private def jobs(body: => Unit): Int = {
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    val sc = spark.sparkContext
    ListenerBusBridge.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerBusBridge.drain(sc) } finally sc.removeSparkListener(l)
    n.get
  }

  test("every table reads with the schema spark.read.parquet infers") {
    for (n <- Tables.names) {
      var t: org.apache.spark.sql.DataFrame = null
      assert(jobs { t = Tables(spark, sf, n) } == 0, n)
      assert(t.schema == spark.read.parquet(s"$sf/$n.parquet").schema, n)
    }
  }

  test("a Spark-written directory reads its first file's footer; partitioned or absent infers") {
    import spark.implicits._
    val base = Files.createTempDirectory("graft_tables").toString
    val df = (1 to 40).map(i => (i.toLong, s"s$i", i % 3)).toDF("id", "s", "p")
    df.repartition(3).write.parquet(s"$base/flat")
    df.write.partitionBy("p").parquet(s"$base/parted")
    assert(Tables.footerSchema(spark, s"$base/flat").contains(spark.read.parquet(s"$base/flat").schema))
    assert(Tables.footerSchema(spark, s"$base/parted").isEmpty)
    assert(Tables.footerSchema(spark, s"$base/absent").isEmpty)
    intercept[org.apache.spark.sql.AnalysisException](Tables(spark, base, "absent")) // Spark's own error
  }

  /** `bi_core`'s queries, as the end-to-end benchmark lists them. */
  private val biCore = Seq("q1", "q2", "q3", "q4", "q5", "q6", "q7", "q8", "q9a", "q9b",
    "q10", "q11", "q12", "q15", "q17", "q20", "q26")

  test("constructing each bi_core frame starts no Spark job") {
    val all = SparkEntry.queries
    for (id <- biCore) {
      val key = all.keys.filter(k => k == id || k.takeWhile(_ != '_') == id).toSeq
      assert(key.size == 1, id)
      assert(jobs(all(key.head)(spark, sf)) == 0, key.head)
    }
  }
}
