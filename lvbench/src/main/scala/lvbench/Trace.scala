package lvbench

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Engine counters summed over a window. */
final case class Counts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskFailures: Long = 0,
    busyMs: Long = 0, cpuNs: Long = 0, shuffleBytes: Long = 0, spillBytes: Long = 0,
    catalystMs: Long = 0, gcMs: Long = 0) {
  def -(o: Counts): Counts = zip(o)(_ - _)
  def +(o: Counts): Counts = zip(o)(_ + _)
  private def zip(o: Counts)(f: (Long, Long) => Long): Counts = Counts(
    f(jobs, o.jobs), f(stages, o.stages), f(tasks, o.tasks), f(taskFailures, o.taskFailures),
    f(busyMs, o.busyMs), f(cpuNs, o.cpuNs), f(shuffleBytes, o.shuffleBytes),
    f(spillBytes, o.spillBytes), f(catalystMs, o.catalystMs), f(gcMs, o.gcMs))
}

/** Spans and engine counters for the traced run. Spans are kept in
  * memory and written once, when the run ends. A `Tracer` that is not
  * enabled registers nothing and its spans cost one branch. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {

  final case class Span(id: Int, name: String, startNs: Long, endNs: Long, parent: Int, opId: Int) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int] // ids of the spans being recorded, innermost first
  private var nextId = 0

  private object C {
    val jobs, stages, tasks, fails, busy, cpu, shuffle, spill, catalyst = new AtomicLong
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = C.jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = C.stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      C.tasks.incrementAndGet()
      if (e.reason != org.apache.spark.Success) C.fails.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        C.busy.addAndGet(m.executorRunTime)
        C.cpu.addAndGet(m.executorCpuTime)
        C.shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        C.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      C.catalyst.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Counters so far, after every event posted up to now has arrived.
    * The query listener is fed from the same bus, so one drain covers
    * both. */
  def counts(): Counts = {
    if (!enabled) return Counts()
    ListenerDrain(spark.sparkContext)
    Counts(C.jobs.get, C.stages.get, C.tasks.get, C.fails.get, C.busy.get, C.cpu.get,
      C.shuffle.get, C.spill.get, C.catalyst.get, gcMs())
  }

  def span[T](name: String, opId: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, t0, System.nanoTime(), parent, opId)
        open = open.tail
      }
    }

  /** Duration minus the part of it that child spans cover. */
  def selfMs(s: Span): Double =
    s.ms - spans.iterator.filter(_.parent == s.id).map(_.ms).sum

  /** The spans with their self times, and the run's counters. */
  def write(path: java.nio.file.Path, totals: Counts): Unit = {
    val sb = new StringBuilder("{\"spans\": [\n")
    sb.append(spans.map { s =>
      s"""  {"id": ${s.id}, "name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}, """ +
        s""""parent": ${s.parent}, "op_id": ${s.opId}, "self_ms": ${selfMs(s)}}"""
    }.mkString(",\n"))
    sb.append("\n],\n\"counts\": ")
    sb.append(Json.obj(totals.productElementNames.zip(
      totals.productIterator.map(_.asInstanceOf[Long].toDouble)).toSeq))
    sb.append("}\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }
}
