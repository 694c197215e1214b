package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Shared construction of the in-scan LSH key-probe tester for the
  * incremental dedup appends ([[BandedPairs]]) — ONE implementation of
  * the budget clamp, exact-set take, and Bloom fallback.
  *
  * `keyRows` must be the batch's key rows as two columns
  * (part: int, bucket: long) — the band/table id first. `bound` is the
  * caller's a-priori distinct-key ceiling (nBatch · keysPerDoc).
  *
  * Decision ladder:
  *  1. budget = min(keyProbeMaxKeys, BloomProbeMaxKeys): caps the
  *     driver-side collect for ANY caller value and keeps the
  *     take(budget + 1) overflow-free at Int.MaxValue;
  *  2. when `bound` fits the budget — or exceeds it but stays under
  *     `rescueTakeCeiling` (the SimHash regime: combosPerDoc grossly
  *     over-counts shared keys, so a bounded take-and-check can rescue
  *     the exact tester the bound alone would demote to Bloom/none) —
  *     collect the distinct keys capped at budget+1; a fit gives the
  *     exact sorted-set tester;
  *  3. an overflowing take, or a bound past the rescue ceiling, falls
  *     to the ~1%-fpp Bloom when `bound` ≤ BloomProbeMaxKeys (tester
  *     false positives only widen the exact semi-join downstream),
  *     else NO probe — a true backfill is amortized by its own size
  *     and must not pay a wasted cluster-side distinct just to learn
  *     the probe can't fit (the zero-job skip the a-priori bound
  *     buys; an unconditional take re-paid the full batch-key shuffle
  *     on exactly those batches).
  */
private[store] object LshKeyProbe {

  /** Ceiling on the BLOOM probe's key bound: above it the probe is
    * skipped entirely. A Bloom at 1% fpp costs ~9.6 bits per expected
    * key, and the filter rides in the scan expression's task binary —
    * 16.7M keys ≈ 20 MB is the acceptable edge; a batch big enough to
    * exceed it (≥ ~1M docs at 16 MinHash bands) is a backfill whose
    * append cost is amortized by its own size, not a trickle that needs
    * the prefilter. Guards the driver and the task binary from a
    * multi-GB sketch on a corpus-sized "batch". */
  val BloomProbeMaxKeys: Long = 1L << 24

  def apply(keyRows: DataFrame, bound: Long, keyProbeMaxKeys: Int,
            rescueTakeCeiling: Long,
            exact: Array[Long] => Column,
            bloom: org.apache.spark.util.sketch.BloomFilter => Column)
      : Option[Column] = {
    if (keyProbeMaxKeys <= 0) return None
    val budget =
      math.min(keyProbeMaxKeys.toLong, BloomProbeMaxKeys).toInt
    if (bound <= budget || bound <= rescueTakeCeiling) {
      val rows = keyRows.select(col("part"), col("bucket")).distinct()
        .take(budget + 1)
      if (rows.length <= budget) {
        val arr = rows.map(r =>
          graft.plans.SimHashKeyHits.mix(r.getInt(0), r.getLong(1)))
        java.util.Arrays.sort(arr)
        return Some(exact(arr))
      }
    }
    if (bound > BloomProbeMaxKeys) None
    else {
      // builder key = bucket ^ ((part+1) << 56), mirrored verbatim in
      // BloomMixedKeys (ANSI-safe: shiftleft + xor only)
      val sketch = keyRows
        .select(col("bucket").bitwiseXOR(
          shiftleft(col("part").cast("long") + lit(1L), 56)).as("mk"))
        .stat.bloomFilter("mk", bound, 0.01)
      Some(bloom(sketch))
    }
  }
}
