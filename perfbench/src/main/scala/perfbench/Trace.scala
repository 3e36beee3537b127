package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed interval around a call into a module. `unit` is the timed
  * run it belongs to (0 during set-up), `parent` the enclosing span. */
final class Span(val id: Long, val name: String, val layer: String,
                 val parent: Long, val unit: Int) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endNs: Long = startNs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work attributed to one span: jobs, stages, tasks and their
  * metrics, plus the wall intervals of its stages. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var taskNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val stageIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Records spans in memory. When enabled, every call made inside a span
  * runs with the span id in the Spark local property [[Tracer.Key]], so
  * the listener can attribute each job, stage and task to the span that
  * caused it. When disabled, spans are still timed (the harness needs
  * the op latencies) but nothing is attached to Spark. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private var nextId = 0L
  private val current = new ThreadLocal[Span]
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  val listener = new SpanListener
  if (enabled) sc.addSparkListener(listener)
  @volatile var unit = 0

  def apply[T](name: String, layer: String)(body: Span => T): T = {
    val parent = current.get
    val s = synchronized {
      nextId += 1
      val sp = new Span(nextId, name, layer, Option(parent).map(_.id).getOrElse(0L), unit)
      spans += sp
      sp
    }
    val prevProp = sc.getLocalProperty(Tracer.Key)
    current.set(s)
    if (enabled) sc.setLocalProperty(Tracer.Key, s.id.toString)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      current.set(parent)
      if (enabled) sc.setLocalProperty(Tracer.Key, prevProp)
    }
  }

  /** Blocks until the listener bus has delivered every queued event. */
  def drain(): Unit = if (enabled) org.apache.spark.perfbenchglue.Glue.drainListeners(sc)
}

object Tracer {
  val Key = "perfbench.span"
}

/** Aggregates Spark scheduler events per span id. */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Long, SparkCounts]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def counts(span: Long): SparkCounts = bySpan.computeIfAbsent(span, _ => new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Key)))
    span.foreach { s =>
      val id = s.toLong
      val c = counts(id)
      c.synchronized { c.jobs += 1 }
      e.stageIds.foreach(st => stageSpan.put(st, id))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageSpan.get(info.stageId)).foreach { id =>
      val c = counts(id)
      c.synchronized {
        c.stages += 1
        for (s <- info.submissionTime; f <- info.completionTime) c.stageIntervals += ((s, f))
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val c = counts(id)
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.taskNs += m.executorRunTime * 1000000L
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }
}

/** The heap left live once Spark has released what the timed runs no
  * longer reference. One collection is not enough: Spark's context
  * cleaner frees broadcast, shuffle and checkpoint blocks on its own
  * thread, only after a collection has found their owners unreachable.
  * So the heap is collected again every 250 ms until two readings agree
  * within 1 %, at least 1 s after the first (at most 10 s). */
object LiveHeap {
  private def collect(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  def settled(): Long = {
    val t0 = System.nanoTime()
    def waited = (System.nanoTime() - t0) / 1e9
    var prev = collect()
    Thread.sleep(250)
    var cur = collect()
    while ((waited < 1.0 || math.abs(cur - prev) > prev / 100) && waited < 10) {
      prev = cur
      Thread.sleep(250)
      cur = collect()
    }
    cur
  }
}
