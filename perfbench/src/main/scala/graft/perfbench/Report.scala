package graft.perfbench

import org.apache.spark.PerfbenchBus

/** Turns a run's op log, spans and Spark job records into the named
  * metrics. End-to-end metrics come from the untraced blocks only;
  * per-layer metrics from the traced blocks (and the traced set-up). */
final class Report(h: Harness, w: Workload, opts: Opts) {
  import Report._

  def endToEnd(setupS: Double, atRestBytes: Long): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("ops_per_s", h.measuredOps(false).size / (h.wallMs(false) / 1000.0), "1/s"),
    ("read_p50_ms", Stats.median(h.samplesOf(false, "read")), "ms"),
    ("write_p50_ms", Stats.median(h.samplesOf(false, "write")), "ms"),
    ("heap_peak_mb", h.heapSamplesMb.max, "MB"),
    ("bytes_per_user_byte", atRestBytes.toDouble / h.userBytesTotal, "ratio"))

  /** Coverage of each traced op's wall by its spans' self times plus its
    * Spark jobs (should be 1): filled by [[perLayer]]. */
  var coverage: Seq[Double] = Nil

  def perLayer(atEnd: Option[(Long, Long)]): Seq[(String, Double, String)] = {
    PerfbenchBus.drain(h.spark.sparkContext)
    val spans = h.tracer.spans.toSeq
    val jobs = h.listener.get.jobs
    val traceOf = spans.map(s => s.id -> s.trace).toMap
    val jobsBySpan = jobs.groupBy(_.span).withDefaultValue(Nil)
    val jobsByTrace = jobs.groupBy(j => traceOf.getOrElse(j.span, 0)).withDefaultValue(Nil)
    val children = spans.groupBy(_.parent).withDefaultValue(Nil)
    def iv(j: JobRec) = (j.start.toDouble, j.end.toDouble)
    def selfMs(s: SpanRec): Double =
      s.ms - Intervals.covered(children(s.id).map(c => (c.start, c.end)) ++
        jobsBySpan(s.id).map(iv), s.start, s.end)

    val roots = spans.filter(_.parent == 0).map(s => s.trace -> s).toMap
    val tracedOps = h.ops.filter(o => o.traced && roots.contains(o.trace)).toSeq
    val opKindOfTrace = tracedOps.map(o => o.trace -> o.kind).toMap
    val loopJobs = jobs.filter(j => opKindOfTrace.contains(traceOf.getOrElse(j.span, 0)))
    def driverMs(trace: Int): Double = {
      val r = roots(trace)
      r.ms - Intervals.covered(jobsByTrace(trace).map(iv), r.start, r.end)
    }
    coverage = tracedOps.map { o =>
      val r = roots(o.trace)
      val selfSum = spans.filter(_.trace == o.trace).map(selfMs).sum
      (selfSum + Intervals.covered(jobsByTrace(o.trace).map(iv), r.start, r.end)) / r.ms
    }

    val timings = Timings.map { case (metric, span, stat) =>
      val xs = spans.filter(s => s.name == span &&
        !ReplayOps(opKindOfTrace.getOrElse(s.trace, "")))
      val v = stat match {
        case "p50" => Stats.median(xs.map(_.ms))
        case "self_p50" => Stats.median(xs.map(selfMs))
        case "max" => if (xs.isEmpty) 0.0 else xs.map(_.ms).max
      }
      (metric, v, "ms")
    }

    def sum(f: JobRec => Long): Double = loopJobs.map(f).sum.toDouble
    val tracedWallMs = h.wallMs(true)
    val spark = Seq(
      ("spark.jobs", loopJobs.size.toDouble, "count"),
      ("spark.stages", sum(_.stages), "count"),
      ("spark.tasks", sum(_.tasks), "count"),
      ("spark.tasks_failed", sum(_.tasksFailed), "count"),
      ("spark.executor_run_ms", sum(_.runMs), "ms"),
      ("spark.executor_cpu_ms", sum(_.cpuNs) / 1e6, "ms"),
      ("spark.gc_ms", sum(_.gcMs), "ms"),
      ("spark.scheduler_delay_ms", sum(_.schedDelayMs), "ms"),
      ("spark.driver_ms", tracedOps.map(o => driverMs(o.trace)).sum, "ms"),
      ("spark.busy_share", sum(_.runMs) / (tracedWallMs * opts.cpus), "ratio"),
      ("spark.input_bytes", sum(_.inputBytes), "bytes"),
      ("spark.output_bytes", sum(_.outputBytes), "bytes"),
      ("spark.shuffle_read_bytes", sum(_.shuffleReadBytes), "bytes"),
      ("spark.shuffle_write_bytes", sum(_.shuffleWriteBytes), "bytes"),
      ("spark.spill_bytes", sum(_.spillBytes), "bytes"))

    val perOp = OpKinds.flatMap { k =>
      val os = tracedOps.filter(_.kind == k)
      val nJobs = if (os.isEmpty) 0.0
                  else os.map(o => jobsByTrace(o.trace).size).sum.toDouble / os.size
      Seq((s"spark.jobs.$k", nJobs, "count"),
        (s"spark.driver_ms.$k", Stats.median(os.map(o => driverMs(o.trace))), "ms"))
    }

    val p = h.probe
    val store = Seq(
      ("store.commits", p.map(_.commits.toDouble).getOrElse(0.0), "count"),
      ("store.bytes_written", p.map(_.bytesWritten.toDouble).getOrElse(0.0), "bytes"),
      ("store.write_amplification",
        if (h.userBytesTraced == 0) 0.0
        else p.map(_.bytesWritten.toDouble).getOrElse(0.0) / h.userBytesTraced, "ratio"),
      ("store.live_bytes", atEnd.map(_._1.toDouble).getOrElse(0.0), "bytes"),
      ("store.versions_retained", atEnd.map(_._2.toDouble).getOrElse(0.0), "count"),
      ("store.chain_length_max", p.map(_.chainLengthMax.toDouble).getOrElse(0.0), "count"))
    val own = w.layerValues
    val extra = Seq(
      ("store.replays_skipped", own.getOrElse("store.replays_skipped", 0.0), "count"),
      ("store.lineage.dup_ratio", own.getOrElse("store.lineage.dup_ratio", 0.0), "ratio"),
      ("store.VectorIndex.recall_at_10", own.getOrElse("store.VectorIndex.recall_at_10", 0.0), "ratio"),
      ("trace.overhead_ratio",
        Stats.median(h.samplesOf(true, "read")) / Stats.median(h.samplesOf(false, "read")),
        "ratio"))
    timings ++ store ++ extra ++ spark ++ perOp
  }
}

object Report {
  /** (metric, span name, statistic) of the per-layer timings. */
  val Timings: Seq[(String, String, String)] = Seq(
    "sources.Ingest.catalogBatch" -> "p50",
    "operators.Mutations.create" -> "p50",
    "operators.Mutations.update" -> "p50",
    "operators.Mutations.softDelete" -> "p50",
    "operators.Mutations.hardDelete" -> "p50",
    "operators.Mutations.appendBatchOnce" -> "p50",
    "operators.CatalogQueries.getBySNo" -> "p50",
    "operators.CatalogQueries.getByLogin" -> "p50",
    "operators.CatalogQueries.searchByTeam" -> "p50",
    "operators.CatalogQueries.page" -> "p50",
    "operators.CatalogQueries.dashboard" -> "p50",
    "store.CurationIngest.ingestBatchOnce" -> "p50",
    "store.CurationIngest.ingestBatchOnce" -> "self_p50",
    "store.PhraseIndex.appendBatchOnce" -> "p50",
    "store.Graft.deleteDocsOnce" -> "p50",
    "store.Graft.maintainAll" -> "p50",
    "store.Graft.maintainAll" -> "max",
    "store.TextIndex.query" -> "p50",
    "store.TextIndex.queryMaxScore" -> "p50",
    "store.TextIndex.queryChampions" -> "p50",
    "store.PhraseIndex.phraseQuery" -> "p50",
    "store.VectorIndex.queryRefined" -> "p50",
    "functions.Retrieval.bm25TopK" -> "p50",
  ).map { case (span, stat) => (s"$span.${stat}_ms", span, stat) }

  /** Ops that re-deliver an applied batch: their calls return early, so
    * they are kept out of the layer timings of the real calls. */
  val ReplayOps = Set("replay")

  val OpKinds: Seq[String] = Seq(
    "get_by_sno", "get_by_login", "search_team", "page", "dashboard",
    "create", "update", "soft_delete", "hard_delete", "csv_append",
    "ingest", "index_append", "takedown", "replay", "maintain",
    "bm25", "maxscore", "champions", "phrase", "ann", "bm25_scan")
}
