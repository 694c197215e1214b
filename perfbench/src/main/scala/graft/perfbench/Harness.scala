package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Opts(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, work: Path, out: Path, cpus: Int)

/** One client operation as the client saw it. `trace` is the id of its
  * root span (0 when the op ran untraced). */
final class OpRec(val kind: String, val start: Double, val end: Double,
                  val measured: Boolean, val traced: Boolean, val trace: Int) {
  var ok = true
  def ms: Double = end - start
}

/** The closed loop: one client thread issues the workload's next op only
  * after the previous one has returned its rows or its commit. Owns the
  * tracer, the op log, the latency samples and the failure count. */
final class Harness(val spark: SparkSession, val opts: Opts) {
  val tracer = new Tracer(spark.sparkContext)
  val listener: Option[JobListener] =
    if (opts.trace) {
      val l = new JobListener
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None

  /** Every op issued, warm-up included. */
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Latency samples (ms) by class ("read", "write"), per block kind. */
  val samples = mutable.Map.empty[(Boolean, String), mutable.ArrayBuffer[Double]]
  /** Loop wall (ms) per block kind. */
  val wallMs = mutable.Map(false -> 0.0, true -> 0.0)
  val heapSamplesMb = mutable.ArrayBuffer.empty[Double]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var measuring = false
  private var tracedBlock = false
  var probe: Option[StoreProbe] = None

  def nowMs: Double = tracer.nowMs

  /** Run one op. An exception fails the op (it is logged, never rethrown);
    * a check that fails later calls [[fail]] on the returned record. */
  def op[A](kind: String)(body: => A): (OpRec, Option[A]) = {
    val t0 = nowMs
    val res =
      try Right(tracer.span(s"op.$kind")(body))
      catch { case e: Exception => Left(e) }
    val t1 = nowMs
    val trace = if (tracer.on) tracer.spans.last.trace else 0
    val rec = new OpRec(kind, t0, t1, measuring, tracedBlock && measuring, trace)
    ops += rec
    res.left.foreach(e => fail(rec, s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
    if (tracer.on) probe.foreach(_.afterOp())
    (rec, res.toOption)
  }

  def fail(rec: OpRec, why: String): Unit = {
    rec.ok = false
    failures += s"${rec.kind}: $why"
  }

  /** A failure that belongs to no single op (set-up or a run-level check). */
  def failRun(why: String): Unit = {
    runFailures += 1
    failures += s"run: $why"
  }
  var runFailures = 0

  def failureLog: Seq[String] = failures.toSeq

  def sample(cls: String, ms: Double): Unit =
    if (measuring)
      samples.getOrElseUpdate((tracedBlock, cls), mutable.ArrayBuffer.empty) += ms

  def samplesOf(traced: Boolean, cls: String): Seq[Double] =
    samples.get((traced, cls)).map(_.toSeq).getOrElse(Nil)

  /** Ops completed in measured blocks of one kind. */
  def measuredOps(traced: Boolean): Seq[OpRec] =
    ops.filter(o => o.measured && o.traced == traced).toSeq

  /** User bytes submitted: all of them, and those of traced blocks. */
  var userBytesTotal = 0L
  var userBytesTraced = 0L
  def addUserBytes(n: Long): Unit = {
    userBytesTotal += n
    if (measuring && tracedBlock) userBytesTraced += n
  }

  /** Measure: whole rounds until at least `seconds` have passed, so every
    * run measures complete rounds (the same op mix). A traced run adds a
    * second, traced block of the same length. Heap is sampled between
    * blocks, outside the loop wall. */
  def run(round: () => Unit): Unit = {
    val kinds = if (opts.trace) Seq(false, true) else Seq(false)
    sampleHeap()
    measuring = true
    kinds.foreach { traced =>
      tracedBlock = traced
      tracer.on = traced
      if (traced) probe.foreach(_.reset())
      val t0 = nowMs
      var t = t0
      while (t - t0 < opts.seconds * 1000.0) { round(); t = nowMs }
      wallMs(traced) += t - t0
      tracer.on = false
      sampleHeap()
    }
    measuring = false
    tracedBlock = false
  }

  /** Old-generation occupancy right after a full collection: the live
    * set, which unlike post-young-GC occupancy does not drift with
    * allocation timing. Spark frees unpersisted blocks and unreachable
    * broadcasts asynchronously (ContextCleaner) once a collection has
    * found them, so a second collection after a short pause counts the
    * live set, not the cleanup backlog. Taken between blocks, outside the
    * loop wall. */
  private def sampleHeap(): Unit = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    val old = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getName.contains("Old"))
    val used =
      if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    heapSamplesMb += used / 1048576.0
  }
}

object Stats {
  /** Linear-interpolated percentile, p in [0, 1]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val r = p * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 0.5)
}
