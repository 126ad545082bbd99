package graftbench

import org.apache.spark.scheduler._

import scala.collection.mutable

/** One timed region. `parent` is the id of the enclosing span on the
  * same thread, or -1 at the top. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest per thread; nothing is written
  * until the run ends. A disabled tracer only runs the body, so the
  * untraced run pays no recording cost. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue() = Nil }
  private var nextId = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.get.headOption.getOrElse(-1)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        synchronized { spans += Span(id, parent, name, t0, t1) }
      }
    }

  /** A span whose bounds were measured elsewhere (e.g. the phases of a
    * streaming trigger reported by a progress event). */
  def record(name: String, parent: Int, startNs: Long, endNs: Long): Int =
    synchronized {
      nextId += 1
      spans += Span(nextId, parent, name, startNs, endNs)
      nextId
    }

  def all: Seq[Span] = synchronized(spans.toList.sortBy(_.id))
}

object Tracer {
  /** Every child lies inside its parent. Returns the violations. */
  def nestingViolations(spans: Seq[Span]): Seq[String] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.filter(_.parent >= 0).flatMap { c =>
      byId.get(c.parent) match {
        case None => Seq(s"${c.name}#${c.id}: parent ${c.parent} missing")
        case Some(p) if c.startNs < p.startNs || c.endNs > p.endNs =>
          Seq(s"${c.name}#${c.id} outside ${p.name}#${p.id}")
        case _ => Nil
      }
    }
  }
}

/** Counters of one job group (a query phase, a trigger, a probe). */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskBusyNs, shuffleBytes, inputBytes, spillBytes = 0L
  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskBusyNs += o.taskBusyNs; shuffleBytes += o.shuffleBytes
    inputBytes += o.inputBytes; spillBytes += o.spillBytes
  }
}

/** Attributes jobs, stages and task metrics to the group that launched
  * them. A job belongs to the `spark.jobGroup.id` local property of the
  * thread that submitted it; a streaming micro-batch job carries its
  * batch id instead, and is filed under `trigger:<batchId>`. */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, Counters]
  @volatile private var lastEventNs = System.nanoTime()

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .map("trigger:" + _)
      .orElse(Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))))
      .getOrElse("other")

  private def counters(g: String) = groups.getOrElseUpdate(g, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val g = group(e.properties)
    counters(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEventNs = System.nanoTime()
    counters(stageGroup.getOrElse(e.stageInfo.stageId, "other")).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    lastEventNs = System.nanoTime()
    val c = counters(stageGroup.getOrElse(e.stageId, "other"))
    c.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      c.taskBusyNs += m.executorRunTime * 1000000L
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      c.inputBytes += m.inputMetrics.bytesRead
      c.spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
    }
  }

  /** Wait until the listener bus has been quiet for `quietMs`, so late
    * task-end events are counted before the totals are read. */
  def settle(quietMs: Long = 300, maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() - lastEventNs < quietMs * 1000000L &&
      System.nanoTime() < deadline) Thread.sleep(50)
  }

  def get(g: String): Counters = synchronized {
    val c = new Counters; groups.get(g).foreach(c += _); c
  }
}
