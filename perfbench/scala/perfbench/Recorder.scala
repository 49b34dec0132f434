package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed call. Counters are filled by the listener for the jobs
  * the call launched itself (not its children's). */
final class Span(val id: Int, val name: String, val parent: Int,
    val startNs: Long) {
  var endNs = 0L
  var gcMs = 0L
  var jitMs = 0L
  var codegen = 0L
  var childNs = 0L // wall time covered by direct child spans
  val jobs, stages, tasks, cpuNs, recordsRead, shuffleRead, shuffleWrite,
    spillBytes, taskGcMs, bytesWritten, recordsWritten = new AtomicLong
  val extra = mutable.LinkedHashMap.empty[String, Double]
  def seconds: Double = (endNs - startNs) / 1e9
  def selfSeconds: Double = (endNs - startNs - childNs) / 1e9
}

/** Times every call the benchmark makes into the program. Untraced, a
  * call costs two `nanoTime` reads. Traced, each call is a span
  * (name, start, end, parent) and a listener attributes Spark job,
  * stage and task counts to the innermost open span through a job
  * local property. */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val sc = spark.sparkContext
  private val SpanKey = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val byId = new ConcurrentHashMap[Int, Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans
  private val jit = ManagementFactory.getCompilationMXBean

  private def gcMs: Long = {
    var t = 0L
    gcBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  if (traced) sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanKey))).map(_.toInt)
      id.flatMap(i => Option(byId.get(i))).foreach { s =>
        s.jobs.incrementAndGet()
        e.stageIds.foreach(st => stageSpan.put(st, s))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId))
        .foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.tasks.incrementAndGet()
        val m = e.taskMetrics
        if (m != null) {
          s.cpuNs.addAndGet(m.executorCpuTime)
          s.recordsRead.addAndGet(m.inputMetrics.recordsRead)
          s.shuffleRead.addAndGet(m.shuffleReadMetrics.recordsRead)
          s.shuffleWrite.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          s.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
          s.taskGcMs.addAndGet(m.jvmGCTime)
          s.bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
          s.recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
        }
        ()
      }
  })

  /** Times `body` as one call named `name`; returns its result and its
    * wall seconds. Nested calls become child spans when traced. */
  def time[T](name: String)(body: => T): (T, Double) =
    if (!traced) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } else {
      val parent = open.headOption
      val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += s
      byId.put(s.id, s)
      open.push(s)
      val prevProp = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      val gc0 = gcMs
      val jit0 = jit.getTotalCompilationTime
      val cg0 = PerfbenchBus.codegenCompiles
      val r = try body finally {
        PerfbenchBus.drain(sc)
        s.endNs = System.nanoTime()
        s.gcMs = gcMs - gc0
        s.jitMs = jit.getTotalCompilationTime - jit0
        s.codegen = PerfbenchBus.codegenCompiles - cg0
        sc.setLocalProperty(SpanKey, prevProp)
        open.pop()
        parent.foreach(_.childNs += s.endNs - s.startNs)
      }
      (r, s.seconds)
    }

  /** Attaches a measured quantity to the innermost open span (traced
    * runs only; untraced, `value` is not evaluated). */
  def note(key: String, value: => Double): Unit =
    if (traced) open.headOption.foreach(_.extra(key) = value)
}
