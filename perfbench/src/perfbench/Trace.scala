package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a library layer. `op` is the operation it
  * belongs to (negative: warm-up, `Tracer.SetupOp`: set-up); `eagerNs`
  * marks when the library call returned, `endNs` when its result was
  * materialized. Times are `System.nanoTime` readings. */
final class Span(val id: Int, val name: String, val op: Int, val parent: Int,
                 val startNs: Long, val gcStartMs: Long) {
  var eagerNs: Long = -1L
  var endNs: Long = -1L
  var gcMs: Long = 0L

  /** Mark the library call as returned; the rest of the span is the
    * benchmark materializing what it returned. */
  def returned(): Unit = if (eagerNs < 0) eagerNs = System.nanoTime()
}

/** Per-span Spark counters, filled by [[SpanListener]]. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var shuffleBytes = 0L
}

/** Attributes Spark jobs and tasks to the span that was open on the
  * submitting thread, through a local property. Jobs are always
  * counted (the run checks that trainings ran jobs); task metrics only
  * when `tasks` is set, i.e. in a traced run. */
final class SpanListener(tasks: Boolean) extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val bySpan = mutable.HashMap.empty[Int, Counters]

  private def of(span: Int): Counters = bySpan.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey))).foreach { s =>
      val span = s.toInt
      of(span).jobs += 1
      if (tasks) e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (tasks) synchronized {
    stageSpan.get(e.stageId).foreach { span =>
      val c = of(span)
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskCpuNs += m.executorCpuTime
        c.taskRunMs += m.executorRunTime
        c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
      }
    }
  }

  def counters(span: Int): Counters = synchronized(bySpan.getOrElse(span, new Counters))
}

/** Spans kept in memory and written out once, at exit. The open span's
  * id rides on the Spark local property [[Tracer.SpanKey]], so every
  * job the layer submits (broadcast and subquery jobs included: Spark
  * copies local properties onto their threads) is charged to it. */
final class Tracer(sc: SparkContext, traced: Boolean) {
  val listener = new SpanListener(tasks = traced)
  sc.addSparkListener(listener)

  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private def gcMs: Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  def span[T](name: String, op: Int)(body: Span => T): T = {
    val s = new Span(all.size, name, op, stack.headOption.map(_.id).getOrElse(-1),
      System.nanoTime(), gcMs)
    all += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      if (s.eagerNs < 0) s.eagerNs = s.endNs
      s.gcMs = gcMs - s.gcStartMs
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Jobs charged to spans named `name` of operation `op`. Valid after
    * [[drain]]. */
  def jobs(name: String, op: Int): Long =
    all.filter(s => s.name == name && s.op == op).map(s => listener.counters(s.id).jobs).sum

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def spans: Seq[Span] = all.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
  val SetupOp = Int.MinValue
}
