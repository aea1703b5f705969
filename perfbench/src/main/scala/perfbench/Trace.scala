package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Spans of one request share `request`. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    request: String, startNs: Long, endNs: Long) {
  def wallNs: Long = endNs - startNs
}

/** Spark work summed over the jobs that ran under one job group. */
final class Counters {
  val jobs, stages, tasks, runMs, cpuNs, gcMs, inputBytes, shuffleReadBytes,
    shuffleWriteBytes, spillBytes, outputBytes = new AtomicLong
  def add(o: Counters): Unit =
    Seq(jobs -> o.jobs, stages -> o.stages, tasks -> o.tasks,
      runMs -> o.runMs, cpuNs -> o.cpuNs, gcMs -> o.gcMs,
      inputBytes -> o.inputBytes, shuffleReadBytes -> o.shuffleReadBytes,
      shuffleWriteBytes -> o.shuffleWriteBytes, spillBytes -> o.spillBytes,
      outputBytes -> o.outputBytes).foreach { case (a, b) => a.addAndGet(b.get) }
}

/** A `SparkListener` that sums job, stage and task metrics per job group.
  * The span recorder sets one job group per span on the client thread, so
  * every Spark job a layer call starts is charged to that call. Work from
  * other threads (none in a traced run) lands under the empty group. */
final class SparkCollector extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val pendingJobs = new AtomicLong
  private val lastEventNs = new AtomicLong(System.nanoTime())

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.GroupKey)))
      .getOrElse("")
  private def counters(g: String): Counters =
    byGroup.computeIfAbsent(g, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = group(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    counters(g).jobs.incrementAndGet()
    pendingJobs.incrementAndGet()
    lastEventNs.set(System.nanoTime())
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    pendingJobs.decrementAndGet()
    lastEventNs.set(System.nanoTime())
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = group(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    counters(g).stages.incrementAndGet()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEventNs.set(System.nanoTime())
    val m = e.taskMetrics
    if (m != null) {
      val c = counters(Option(stageGroup.get(e.stageId)).getOrElse(""))
      c.tasks.incrementAndGet()
      c.runMs.addAndGet(m.executorRunTime)
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.gcMs.addAndGet(m.jvmGCTime)
      c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
      c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
    }
  }

  /** Wait until the listener bus has delivered every started job's end
    * and has been quiet for a moment (bounded). */
  def settle(maxMs: Long = 5000): Unit = {
    val deadline = System.nanoTime() + maxMs * 1000000L
    while (System.nanoTime() < deadline &&
        (pendingJobs.get > 0 || System.nanoTime() - lastEventNs.get < 200000000L))
      Thread.sleep(20)
  }

  def of(g: String): Counters = Option(byGroup.get(g)).getOrElse(new Counters)
}

/** In-memory span recorder for the client thread. Each span runs under
  * its own Spark job group, restored on exit, so nested spans charge
  * Spark work to the innermost call. Spans are kept in memory and written
  * once when the run ends. */
final class Tracer(sc: SparkContext) {
  /** Off until the traced window starts; while off, spans cost nothing. */
  var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private var nextId = 1

  def apply[T](name: String, layer: String, request: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      val prevGroup = sc.getLocalProperty(Tracer.GroupKey)
      sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.pop()
        if (prevGroup == null) sc.clearJobGroup()
        else sc.setJobGroup(prevGroup, "", interruptOnCancel = false)
        spans += Span(id, name, layer, parent, request, t0, t1)
      }
    }

  def all: Seq[Span] = spans.toSeq

  def group(s: Span): String = s"span-${s.id}"
}

object Tracer {

  /** The local property Spark stores the job group under. */
  val GroupKey = "spark.jobGroup.id"

  /** Self time per span: wall time minus the part of it covered by its
    * children (children of one span never overlap: the client is one
    * thread). */
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map { c =>
        math.max(0L, math.min(c.endNs, s.endNs) - math.max(c.startNs, s.startNs))
      }.sum
      s.id -> math.max(0L, s.wallNs - covered)
    }.toMap
  }
}
