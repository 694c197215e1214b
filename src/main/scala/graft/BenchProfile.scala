package graft

import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Optimization-round measurement harness (guide §1: measure first).
  *
  * Wall-clock on this host swings 2-10× between adjacent runs (NOTES:
  * host-interference phases), so A/Bs of structural changes use the
  * WORK COUNTERS the scheduler reports — jobs, stages, tasks, shuffle
  * bytes, input bytes, spill — which are deterministic for a fixed plan
  * and data. A change that cuts jobs/shuffle-bytes is a win regardless
  * of the weather; wall time is printed for context only.
  *
  * Usage: runMain graft.BenchProfile [substringFilter,...]
  * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS (default 4, as Verify).
  * Prints one line per query:
  *   PROFILE q=<name> jobs=N stages=N tasks=N shufW=bytes shufR=bytes
  *           input=bytes spillMem=bytes spillDisk=bytes wall_ms=N
  */
object BenchProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val filter = args.toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty)
    def selected(name: String): Boolean =
      filter.isEmpty || filter.exists(name.contains)
    val spark = Sessions.local(cpus, "graft-profile")
    Tables.names.foreach(n => Tables.load(spark, sfDir, n).count())

    val jobs = new AtomicLong; val stages = new AtomicLong
    val tasks = new AtomicLong
    val shufW = new LongAdder; val shufR = new LongAdder
    val input = new LongAdder
    val spillMem = new LongAdder; val spillDisk = new LongAdder
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufW.add(m.shuffleWriteMetrics.bytesWritten)
          shufR.add(m.shuffleReadMetrics.totalBytesRead)
          input.add(m.inputMetrics.bytesRead)
          spillMem.add(m.memoryBytesSpilled)
          spillDisk.add(m.diskBytesSpilled)
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    def drain(): Unit = {
      // listener bus is async; let the queue flush before reading counters
      var i = 0
      while (i < 50 && spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty) {
        Thread.sleep(100); i += 1
      }
      Thread.sleep(500)
    }
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => selected(name) }
      .foreach { case (name, fn) =>
        spark.catalog.clearCache()
        drain()
        jobs.set(0); stages.set(0); tasks.set(0)
        shufW.reset(); shufR.reset(); input.reset()
        spillMem.reset(); spillDisk.reset()
        spark.sparkContext.setJobDescription(name)
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() } catch {
          case e: Throwable =>
            System.err.println(s"PROFILE ERROR $name: ${e.getMessage}")
        }
        val wallMs = (System.nanoTime() - t0) / 1000000
        drain()
        println(s"PROFILE q=$name jobs=${jobs.get} stages=${stages.get} " +
          s"tasks=${tasks.get} shufW=${shufW.sum} shufR=${shufR.sum} " +
          s"input=${input.sum} spillMem=${spillMem.sum} " +
          s"spillDisk=${spillDisk.sum} wall_ms=$wallMs")
        spark.sparkContext.setJobDescription(null)
      }
    spark.stop()
  }
}
