package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import graft.Sessions

/** Benchmark entry point. One run: start the session, set the workload up
  * [[Main.SetupReps]] times (set-up time is the median), warm up, run the
  * timed closed loop, check every output, and write the result JSON.
  *
  * {{{
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --out <result.json> [--prime 1]
  * }}}
  *
  * `--prime 1` only starts the session and sets up once: the build runs
  * it to record which classes a run loads.
  *
  * Normally started by `perfbench/run.py`, which builds the classpath,
  * sizes the JVM and turns the result file into the final report line. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val opts = Opts(a("workload"), a("seed").toLong, a("seconds").toInt,
      a("trace") == "1", Paths.get(a("work")), Paths.get(a("out")),
      sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors))

    val spark = Sessions.local(opts.cpus, "perfbench")
    val h = new Harness(spark, opts)
    val sessionS = (h.nowMs - jvmStartMs) / 1000.0
    val w = Workload(opts.workload, h)

    if (a.get("prime").contains("1")) {
      // class-loading pass for the build's class-data-sharing archive:
      // one set-up, no loop, no result
      try w.setup(opts.work.resolve("prime")) finally spark.stop()
      System.exit(0)
    }

    var ok = true
    val out = try {
      // set-up, repeated; the last build serves the loop
      val setupS = (1 to SetupReps).map { i =>
        val dir = opts.work.resolve(s"setup-$i")
        if (i > 1) deleteTree(opts.work.resolve(s"setup-${i - 1}"))
        val last = i == SetupReps
        h.tracer.on = last && opts.trace
        val t0 = h.nowMs
        h.tracer.span("op.setup")(w.setup(dir))
        h.tracer.on = false
        (h.nowMs - t0) / 1000.0
      }
      val digest = w.inputDigest
      w.warmup()
      h.run(() => w.round())
      val atEnd = h.probe.map(p => (p.liveBytes, p.versionsRetained))
      w.check()
      val restRoot = w.settle()
      val atRestBytes = StoreProbe.bytesUnder(restRoot)
      val report = new Report(h, w, opts)
      val e2e = report.endToEnd(sessionS + Stats.median(setupS),
        atRestBytes)
      val layers = if (opts.trace) report.perLayer(atEnd) else Seq.empty
      val failed = h.ops.count(!_.ok)
      ok = h.failureLog.isEmpty
      Json.obj(
        "correct" -> ok,
        "attempted" -> h.ops.size,
        "failed" -> math.min(h.ops.size, failed + h.runFailures),
        "metrics" -> Json.obj((if (opts.trace) layers else e2e).map {
          case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u)
        }: _*),
        "info" -> Json.obj(
          "workload" -> opts.workload, "seed" -> opts.seed,
          "seconds" -> opts.seconds, "trace" -> opts.trace, "cpus" -> opts.cpus,
          "input_sha256" -> digest,
          "session_s" -> sessionS,
          "setup_reps_s" -> Json.arr(setupS: _*),
          "samples" -> Json.obj(h.samples.toSeq.sortBy(_._1.toString).map {
            case ((t, c), xs) => s"${if (t) "traced_" else ""}$c" -> (xs.size: Any) }: _*),
          "ops_by_kind" -> Json.obj(h.ops.groupBy(_.kind).toSeq.sortBy(_._1)
            .map { case (k, v) => k -> (v.size: Any) }: _*),
          "heap_samples_mb" -> Json.arr(h.heapSamplesMb.toSeq: _*),
          "user_bytes" -> h.userBytesTotal,
          "at_rest_bytes" -> atRestBytes,
          "end_to_end" -> Json.obj(e2e.map { case (n, v, u) =>
            n -> Json.obj("value" -> v, "unit" -> u) }: _*),
          "named" -> Json.obj(w.namedFigures(e2e.map(t => t._1 -> t._2).toMap)
            .map { case (n, v, u) => n -> Json.obj("value" -> v, "unit" -> u) }: _*),
          "coverage" -> Json.arr(
            (if (report.coverage.isEmpty) Nil
             else Seq(report.coverage.min, Stats.median(report.coverage),
               report.coverage.max)): _*),
          "op_ms" -> Json.arr(h.ops.map(o => Json.arr(o.kind, o.ms, o.measured, o.ok)).toSeq: _*),
          "failures" -> Json.arr(h.failureLog.take(20): _*)))
    } catch {
      case e: Throwable =>
        ok = false
        e.printStackTrace()
        Json.obj("correct" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}")
    } finally spark.stop()
    Files.write(opts.out, out.s.getBytes(UTF_8))
    System.exit(if (ok) 0 else 1)
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }
}

/** Minimal JSON writer for the result file. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }
  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}"))
  def arr(xs: Any*): Raw = Raw(xs.map(value).mkString("[", ", ", "]"))
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case null => "null"
    case other => str(other.toString)
  }
}
