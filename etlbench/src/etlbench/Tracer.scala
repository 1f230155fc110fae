package etlbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-layer accounting for the traced run.
  *
  * Spark is lazy, so a span only measures something if the code inside it
  * ends in an action. The active span's name rides on a driver-thread local
  * property; every job started under it carries the property, and this
  * listener charges the job's stages and tasks (CPU, input, shuffle, spill)
  * to that span. Spans nest: a job is charged to the innermost span only,
  * and [[total]] adds a span's children back in.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  private val accs = new ConcurrentHashMap[String, Acc]()
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val parent = mutable.Map.empty[String, String]
  private var stack: List[String] = Nil

  sc.addSparkListener(this)

  private def acc(span: String): Acc = accs.computeIfAbsent(span, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).map(_.getProperty(SpanKey)).orNull
    if (span != null) {
      acc(span).jobs.add(1)
      e.stageInfos.foreach(si => stageSpan.put(si.stageId, span))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => acc(s).stages.add(1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val a = acc(span)
      a.tasks.add(1)
      a.cpuNs.add(m.executorCpuTime)
      a.inputBytes.add(m.inputMetrics.bytesRead)
      a.shuffleWriteBytes.add(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Runs `body` as span `name` (a child of the enclosing span) and adds its
    * wall time to the span's total. */
  def span[T](name: String)(body: => T): T = {
    stack.headOption.foreach(p => parent(name) = p)
    stack = name :: stack
    sc.setLocalProperty(SpanKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      acc(name).wallNs.add(System.nanoTime() - t0)
      stack = stack.tail
      sc.setLocalProperty(SpanKey, stack.headOption.orNull)
    }
  }

  /** Waits for the listener bus, so every finished task has been charged. */
  def drain(): Unit = org.apache.spark.etlbench.Bus.drain(sc)

  /** Totals of `name` and all its descendants; wall time is the span's
    * own (its children ran inside it). */
  def total(name: String): Totals = {
    val kids = parent.collect { case (k, p) if p == name => total(k) }
    val own = Option(accs.get(name)).map(_.totals).getOrElse(Totals())
    kids.foldLeft(own)((t, k) => t.plusWork(k))
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object Tracer {
  val SpanKey = "etlbench.span"

  final class Acc {
    import java.util.concurrent.atomic.LongAdder
    val jobs, stages, tasks, cpuNs, wallNs, inputBytes,
      shuffleWriteBytes, spillBytes = new LongAdder
    def totals: Totals = Totals(jobs.sum, stages.sum, tasks.sum,
      cpuNs.sum, wallNs.sum, inputBytes.sum, shuffleWriteBytes.sum, spillBytes.sum)
  }

  final case class Totals(jobs: Long = 0, stages: Long = 0,
      tasks: Long = 0, cpuNs: Long = 0, wallNs: Long = 0, inputBytes: Long = 0,
      shuffleWriteBytes: Long = 0, spillBytes: Long = 0) {
    def plusWork(o: Totals): Totals = copy(jobs = jobs + o.jobs,
      stages = stages + o.stages, tasks = tasks + o.tasks, cpuNs = cpuNs + o.cpuNs,
      inputBytes = inputBytes + o.inputBytes,
      shuffleWriteBytes = shuffleWriteBytes + o.shuffleWriteBytes,
      spillBytes = spillBytes + o.spillBytes)
  }
}
