package graft.store

import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

/** Single-pass (nDocs, sumDl) stats for the text index build/append
  * paths (optimization round r18, guide §1.2/§2.3: don't pay a second
  * full pass for an aggregate the write pass already streams over).
  *
  * The pre-r18 shape persisted the tokenized batch and ran a separate
  * stats aggregate before the postings write — one extra action (a full
  * tokenize pass at scale) plus a MEMORY_AND_DISK materialization of
  * the whole tokenized corpus per build/append. This helper rides the
  * stats on the write itself via `Dataset.observe`: a CollectMetrics
  * node over the tokenized rows accumulates count/sum WHILE the write
  * job scans them, so the stats cost zero extra passes and the persist
  * goes away entirely.
  *
  * Failure shape (measured, OPTIMIZATION_r18.md): on a plan the
  * optimizer collapses to an empty relation (e.g. `docs.limit(0)` empty
  * init) the CollectMetrics node is eliminated and the observation
  * resolves with an EMPTY row — `result` then falls back to the eager
  * aggregate, which on such inputs is a trivial job. A timeout falls
  * back the same way, so the stats are never silently wrong or
  * missing. */
private[graft] object ObservedStats {

  /** Attach a (count, sum(dl)) observation to `tok` over `dlExpr`.
    * Returns the frame to build postings from (same rows, observed). */
  def attach(tok: DataFrame, dlExpr: Column): (DataFrame, Observation) = {
    val obs = Observation()
    (tok.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(dlExpr.cast("long")), lit(0L)).as("sdl")), obs)
  }

  /** The observed (nDocs, sumDl), or `fallback` (an eager aggregate over
    * a re-derived frame) when the observation resolved empty or timed
    * out. Call AFTER the write action over the observed frame. */
  def result(obs: Observation, fallback: => (Long, Long)): (Long, Long) =
    observed(obs, 2) match {
      case Some(r) => (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
      case None => fallback
    }

  /** A collect_set(struct(…)) observation's structs (the first field),
    * or None when the observation resolved empty (collapsed plan) or
    * timed out — the caller runs its eager fallback then. Used by the
    * MaxScore probe to ride the per-term champion stats on the θ̂
    * scoring action (one struct per term: the stats columns are
    * constant per term, so the SET dedups the per-row repeats — and a
    * plan that evaluates the observed frame twice only re-adds
    * identical structs). */
  def structSet(obs: Observation): Option[Seq[Row]] =
    observed(obs, 1).map(_.getSeq[Row](0))

  /** A single observed LONG metric (the first field), or `fallback`
    * when the observation resolved empty (collapsed plan), null (sum
    * over zero rows — callers wanting 0 there should coalesce in the
    * metric expression) or timed out. Used by the iterative loops
    * (connected components, lineage closure) to ride their convergence
    * count on the round's eager checkpoint — measured
    * (OPTIMIZATION_r18.md): the observation fires on `localCheckpoint`
    * materializations with exact counts. */
  def longMetric(obs: Observation, fallback: => Long): Long =
    observed(obs, 1).fold(fallback)(_.getLong(0))

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The observation's row when it carries at least `width` fields and a
    * non-null first one, waiting at most 2 s for it. Otherwise None, and
    * the fallback is logged once with its consumer (the calling source
    * line): a timeout at WARN, an empty or null observation — the
    * documented collapsed-plan case — at INFO. */
  private def observed(obs: Observation, width: Int): Option[Row] = {
    val row =
      try Some(Await.result(obs.future, Duration(2000, "ms")))
      catch { case _: TimeoutException => None }
    row match {
      case Some(r) if r.length >= width && !r.isNullAt(0) => Some(r)
      case Some(_) =>
        log.info(s"observation at $consumer resolved empty; running its eager fallback")
        None
      case None =>
        log.warn(s"observation at $consumer timed out after 2 s; running its eager fallback")
        None
    }
  }

  /** The first stack frame outside this object: the consuming call. */
  private def consumer: String =
    Thread.currentThread.getStackTrace.iterator
      .filter(f => f.getClassName.startsWith("graft.") &&
        !f.getClassName.startsWith(getClass.getName))
      .map(f => s"${f.getFileName}:${f.getLineNumber}")
      .nextOption().getOrElse("unknown")
}
