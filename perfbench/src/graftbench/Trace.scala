package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Spark task metrics summed over the jobs of one span. */
final class Usage {
  var jobs = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleBytes = 0L; var spillBytes = 0L; var outputBytes = 0L

  def add(o: Usage): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; outputBytes += o.outputBytes
  }
}

/** One listener for the whole run: a job submitted under job group
  * `gb:<span id>` belongs to that span, and so do the stages it submits
  * and every task of those stages. */
final class Rollup extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Int, Usage]()
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()

  private def usage(span: Int): Usage = bySpan.computeIfAbsent(span, _ => new Usage)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).map(_.getProperty(Rollup.JobGroup)).orNull
    if (group != null && group.startsWith(Rollup.Prefix)) {
      val span = group.substring(Rollup.Prefix.length).toInt
      val u = usage(span)
      u.synchronized { u.jobs += 1 }
      e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val u = usage(span.intValue)
      u.synchronized {
        u.tasks += 1
        u.runMs += m.executorRunTime
        u.cpuNs += m.executorCpuTime
        u.gcMs += m.jvmGCTime
        u.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        u.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        u.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  /** Stage ids restart with each SparkContext. */
  def newContext(): Unit = stageSpan.clear()

  /** Usage of one span, or None when no job ran under it. Call after the
    * listener bus is drained. */
  def of(span: Int): Option[Usage] = Option(bySpan.get(span))
}

object Rollup {
  val Prefix = "gb:"
  /** The local property Spark stores the job group under. */
  val JobGroup = "spark.jobGroup.id"
}

/** A timed call: `pass` is -1 for set-up, 0 for the warm-up pass and 1.. for
  * measured passes; `traced` says whether its jobs were labelled. */
final case class Span(id: Int, name: String, parent: Int, pass: Int, traced: Boolean,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
  def layer: String = name.takeWhile(_ != '.')
}

/** Records a span around each call the benchmark makes into the engine.
  * Spans are always timed; while `labelling` is on, the span's Spark jobs
  * also run under its own job group so [[Rollup]] can attribute them. Only
  * the single driver thread calls this (closed loop), so the span stack
  * needs no locking. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  val rollup = new Rollup
  var pass = -1
  var labelling = false
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var sc: SparkContext = _

  def bind(context: SparkContext): Unit = {
    sc = context
    rollup.newContext()
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    val traced = labelling
    val prevGroup = if (traced) sc.getLocalProperty(Rollup.JobGroup) else null
    if (traced) sc.setJobGroup(Rollup.Prefix + id, name, interruptOnCancel = false)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack = stack.tail
      if (traced) {
        if (prevGroup != null) sc.setJobGroup(prevGroup, name, interruptOnCancel = false)
        else sc.clearJobGroup()
      }
      spans += Span(id, name, parent, pass, traced, t0, t1)
    }
  }

  /** A span's duration minus the part its child spans cover. Children run
    * one after another on the same thread, so they never overlap. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum
}
