package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** One closed span: `<module>.<Object>.<function>` around a call into a
  * library layer, or `op.<type>` around one client operation. Times are
  * epoch milliseconds on the driver clock (the clock Spark stamps job
  * events with), so spans and jobs share one time line. `parent` 0 marks
  * an op's root span; every span of one op carries the op's `trace`. */
final case class SpanRec(id: Int, trace: Int, parent: Int, name: String,
                         start: Double, end: Double) {
  def ms: Double = end - start
}

/** Span recorder. Off, `span` is a plain call. On, it records the span
  * and stamps the innermost open span's id on the driver thread's
  * `perfbench.span` local property, so every Spark job the call submits
  * (including jobs Spark submits from helper threads that inherit the
  * properties) is attributed to it by [[JobListener]]. Spans stay in
  * memory until the run ends. Single-threaded by design: the benchmark
  * has one client thread. */
final class Tracer(sc: SparkContext) {
  var on = false
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[(Int, Int)] = Nil // (span id, trace id)
  private var nextId = 1
  private var nextTrace = 1
  private val originMs =
    System.currentTimeMillis().toDouble - System.nanoTime() / 1e6

  def nowMs: Double = originMs + System.nanoTime() / 1e6

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val (parent, trace) = stack.headOption.getOrElse {
        nextTrace += 1
        (0, nextTrace - 1)
      }
      stack = (id, trace) :: stack
      sc.setLocalProperty(Tracer.PropKey, id.toString)
      val t0 = nowMs
      try body
      finally {
        spans += SpanRec(id, trace, parent, name, t0, nowMs)
        stack = stack.tail
        sc.setLocalProperty(Tracer.PropKey,
          stack.headOption.map(_._1.toString).orNull)
      }
    }
}

object Tracer {
  val PropKey = "perfbench.span"
}

/** Work one Spark job did, summed over its tasks. `span` is the id of the
  * innermost open span when the job was submitted, 0 if none. */
final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end: Long = start
  var stages, tasks, tasksFailed = 0
  var runMs, cpuNs, gcMs, schedDelayMs = 0L
  var inputBytes, outputBytes, shuffleReadBytes, shuffleWriteBytes,
      spillBytes = 0L
}

/** Records every job, stage and task end of the session. Callbacks run on
  * the listener-bus thread; read [[jobs]] only after
  * `PerfbenchBus.drain`. */
final class JobListener extends SparkListener {
  private val byId = mutable.LinkedHashMap.empty[Int, JobRec]
  // a stage belongs to the first job that lists it: later jobs list it
  // again only as a skipped (already computed) stage
  private val stageJob = mutable.HashMap.empty[Int, Int]

  def jobs: Seq[JobRec] = synchronized(byId.values.toVector)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.PropKey))).map(_.toInt).getOrElse(0)
    byId(e.jobId) = new JobRec(e.jobId, span, e.time)
    e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(byId.get).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(byId.get).foreach { j =>
      j.tasks += 1
      if (e.reason != Success) j.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime
          else 0L
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        j.inputBytes += m.inputMetrics.bytesRead
        j.outputBytes += m.outputMetrics.bytesWritten
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.diskBytesSpilled
      }
    }
  }
}

/** Interval arithmetic for self time and driver time. */
object Intervals {
  /** Length of the union of `xs`, each clipped to [lo, hi]. */
  def covered(xs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}
