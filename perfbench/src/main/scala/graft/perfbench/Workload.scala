package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Path
import java.security.MessageDigest

/** One benchmark workload: a seeded input generator, a set-up that builds
  * the store from those inputs, an op sequence drawn from the seed, and
  * the checks that run after the timed loop. */
abstract class Workload(val h: Harness) {
  /** Build inputs and store under `dir`, which is fresh. Called several
    * times per run (set-up time is a median); the last build serves the
    * loop. */
  def setup(dir: Path): Unit
  /** Ops issued before the timed loop starts, so the loop meets warm JIT
    * and plan caches. */
  def warmup(): Unit
  /** Issue the next round of ops: a fixed mix, in seeded order. */
  def round(): Unit
  /** Checks that need extra Spark work; run after the timed loop. */
  def check(): Unit
  /** Bring the store to rest (the maintenance an operator would run) and
    * return its root, for the at-rest bytes measurement. */
  def settle(): Path
  /** Workload-specific per-layer values (ratios, skipped replays). */
  def layerValues: Map[String, Double] = Map.empty
  /** Named end-to-end figures in this workload's own terms. */
  def namedFigures(e2e: Map[String, Double]): Seq[(String, Double, String)]

  /** SHA-256 over the set-up inputs, in generation order; each [[setup]]
    * resets it. Loop inputs are pure functions of the seed and the op
    * index. */
  protected val digest: MessageDigest = MessageDigest.getInstance("SHA-256")
  protected def feed(s: String): Unit = digest.update(s.getBytes(UTF_8))
  protected def feed(xs: Array[Float]): Unit = {
    val bb = java.nio.ByteBuffer.allocate(xs.length * 4)
    xs.foreach(bb.putFloat)
    digest.update(bb.array())
  }
  /** Hex digest of the inputs generated by the last [[setup]]. */
  def inputDigest: String =
    digest.clone().asInstanceOf[MessageDigest].digest().map(b => f"$b%02x").mkString
}

object Workload {
  def apply(name: String, h: Harness): Workload = name match {
    case "catalog_api"     => new CatalogApi(h)
    case "curate_serve"    => new CurateServe(h)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}

/** The highest whole percentile with at least ten of `n` samples beyond
  * it (0 when there is none): the tail a run of `n` samples can report. */
object TailPct {
  def apply(n: Int): Int = if (n <= 10) 0 else math.floor(100.0 * (n - 10) / n).toInt
}
