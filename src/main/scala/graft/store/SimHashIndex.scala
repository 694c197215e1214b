package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistent SimHash combo-key index — INCREMENTAL batch-vs-corpus
  * near-dup dedup for the Hamming-distance regime, the simhash twin of
  * [[DedupIndex]] (which owns the MinHash/Jaccard regime).
  *
  * One row per document: {{{ (id, sh64: long) }}} — `sh64` is the
  * caller-computed 64-bit SimHash (production: `Dedup.simhash64(text)`;
  * oracle paths: the md5-portable variant). The pigeonhole
  * block-combination keys are NOT stored: they are a pure function of
  * sh64 and the banding parameters, recomputed in-expression
  * ([[graft.plans.SimHashComboKeys]]) wherever needed — 16 bytes per
  * indexed document instead of ~360, and every scan reads two primitive
  * columns (r13: the stored-key layout made the 5M-doc append read and
  * explode a ~1.7 GB key column; tables written by older versions still
  * carry it and keep working — the delta chain projects every member to
  * the canonical (id, sh64), so mixed old-fat/new-slim chains read,
  * append and compact cleanly, and the first compaction rewrites slim).
  * Any pair within the committed Hamming radius shares at least one
  * key (recall 1.0 by construction, see Dedup.simhashBlockCombos). The
  * banding parameters (nBlocks, maxHamming, maxBucketSize) are FIXED at
  * build time and ride in the snapshot metadata atomically with the
  * rows: combo keys are a function of those parameters, so re-keying
  * per append would silently break the shared-bucket guarantee across
  * generations.
  *
  * The verify payload is the 8-byte hash itself — riding WITH the key
  * rows — so unlike DedupIndex there is no second corpus column scan:
  * one append costs one columnar scan of (id, sh64), a broadcast
  * bucket-set semi-join (no corpus shuffle, and with the opt-in
  * `keyProbeMaxKeys` prefilter most index rows never reach it), a
  * capped heap over the touched-bucket membership, and in-bucket
  * popcount verification (HammingPairs). Appends are O(batch)
  * [[DeltaChain]] versions with the shared exactly-once batch-id
  * watermark.
  *
  * Pairs, recovery and streaming are the shared [[BandedPairs]]
  * skeleton (contract, incremental ≡ batch and cap semantics there);
  * SimHashIndexSpec pins pair-for-pair equality with
  * `Dedup.simhashPairsFromHashes` across batchings. Takedown, fold and
  * vacuum are the shared [[ChainedIndex]] lifecycle. */
object SimHashIndex extends BandedPairs {

  private val P = "shdedup." // metadata key prefix
  // Canonical columns: tables written before the r13 slimming carry the
  // stored `bks` key column; projecting every chain member keeps a mixed
  // old-base + slim-delta chain unioning cleanly (reads AND appends), and
  // the next compaction rewrites the table slim.
  private[store] val chain = new DeltaChain(s"${P}parts", Seq("id", "sh64"))

  private def encode(hashed: DataFrame): DataFrame =
    hashed.select(col("id"), col("sh64"))

  /** Encode `hashed` (id, sh64) and commit it as a fresh full snapshot
    * with the banding parameters in the metadata. Computes NO pairs (run
    * simhashPairsFromHashes for the corpus-internal ones) — or init
    * empty with `hashed.limit(0)`. `nBlocks` should come from
    * `Dedup.simhashAutoBlocks` for the EXPECTED final corpus size: it is
    * fixed for the index's lifetime. */
  def build(store: SnapshotStore, table: String, hashed: DataFrame,
            nBlocks: Int, maxHamming: Int,
            maxBucketSize: Int = 1000): Long =
    commitBuild(store, table, encode(hashed), Map(
      "nBlocks" -> nBlocks.toString, "maxHamming" -> maxHamming.toString,
      "maxBucketSize" -> maxBucketSize.toString))

  /** Dedup `batchHashed` (id, sh64) against the indexed corpus AND
    * itself under the COMMITTED banding parameters, then append its
    * encodings as an O(batch) delta. Returns the new pairs —
    * (id_a, id_b, hamming ≤ committed maxHamming) with at least one
    * member in the batch — EAGER (a self-contained [[EagerCut]]
    * checkpoint, safe to read after a vacuum), or None for a replayed
    * (streamId, batchId). `keyProbeMaxKeys` (opt-in, default 0) spends
    * one bounded action on the batch's mixed combo keys so the index
    * scan keeps only docs whose own keys can hit them ([[LshKeyProbe]]);
    * 0 keeps the one-action job budget.
    *
    * Cost envelope (r17 adjudication — profiled and A/B'd, all quiet
    * targeted windows at the 5M-doc flagship, 100k batch, nBlocks=8/
    * h=6): the ~32 s append is CANDIDATE-VOLUME-BOUND by the committed
    * regime, not by execution strategy. A 100k batch occupies ~82% of
    * the 1.83M-slot combo keyspace, so ~every corpus doc survives any
    * doc-level prefilter and ~120M candidate key rows cross the bucket
    * exchange regardless. Measured: baseline (probe on) 31.9 s; probe
    * OFF 32.3 s (the prefilter neither pays nor costs here — it stays
    * for sparse-batch regimes where buckets are rare); raising the
    * ObjectHashAggregate sort-fallback threshold to 256k keys 39.5 s
    * (the map-side object map builds 256k heap buffers and then falls
    * back anyway); pre-partitioning on the bucket key so the heap
    * aggregate runs post-exchange (both external sorts gone) 32.1 s —
    * the unreduced exchange ate exactly what the sorts cost. The lever
    * that would actually move this is the REGIME (wider bucket keys ⇒
    * more combos/doc — simhashAutoBlocks' documented trade), not the
    * plan. */
  def appendBatchOnce(store: SnapshotStore, table: String,
                      batchHashed: DataFrame,
                      streamId: String, batchId: Long,
                      compactEvery: Int = 8,
                      broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                      batchCountHint: Option[Long] = None,
                      keyProbeMaxKeys: Int = 0)
      : Option[DataFrame] =
    appendPairs(store, table, Some((streamId, batchId)), compactEvery,
        broadcastKeyLimit, batchCountHint, keyProbeMaxKeys)(
        _ => encode(batchHashed))(committed)

  /** The regime under the committed banding parameters. */
  private def committed(meta: Map[String, String]): BandedPairs.Regime =
    regime(param(meta, "nBlocks").toInt, param(meta, "maxHamming").toInt,
      param(meta, "maxBucketSize").toInt)

  /** The SimHash regime over (id, sh64) rows: the pigeonhole combo keys
    * recomputed in-expression ([[graft.plans.SimHashComboKeys]]), the
    * 8-byte hash riding the key rows into the bucket, HammingPairs
    * popcount verification in-bucket — no second corpus scan — and the
    * pairs restricted to the batch afterwards.
    *
    * The key probe: combosPerDoc is a per-DOC over-count — near-dup-rich
    * batches share most keys — so a bounded take-and-check past the
    * budget can RESCUE the exact tester the bound alone would demote
    * (r14 ADVICE). The rescue is itself ceilinged at 4× the Bloom
    * bound: past that, even heavy sharing can't plausibly fit, and a
    * true backfill must not pay a wasted cluster-side distinct just to
    * learn it. */
  private[graft] def regime(nBlocks: Int, maxHamming: Int,
                            maxBucketSize: Int): BandedPairs.Regime = {
    import graft.plans.VectorExpressions
    BandedPairs.Regime(
      part = "band",
      keys = sh => VectorExpressions.simhashComboKeys(sh, nBlocks, maxHamming),
      keysPerDoc = combosPerDoc(nBlocks, maxHamming),
      payload = "sh64", carry = true, maxBucketSize = maxBucketSize,
      members = (_, cap) =>
        graft.plans.TopKAggregate.boundedMembers(col("id"), col("sh64"), cap),
      verify = m => VectorExpressions.hammingPairs(m, maxHamming),
      pairCols = Seq(col("p.id_a"), col("p.id_b"), col("p.hamming")),
      fresh = false,
      exactProbe = arr => VectorExpressions
        .simhashKeyHits(col("sh64"), nBlocks, maxHamming, arr),
      bloomProbe = bf => VectorExpressions
        .simhashKeyHitsBloom(col("sh64"), nBlocks, maxHamming, bf),
      probeRescue = LshKeyProbe.BloomProbeMaxKeys * 4)
  }

  /** Combo keys emitted per document: C(nBlocks, nBlocks−maxHamming) —
    * the pigeonhole block-combination count (SimHashComboKeys caps it
    * at 4096). Bounds the distinct-bucket count of a batch from
    * above, so the BroadcastGate needs no driver-side count. */
  private def combosPerDoc(nBlocks: Int, maxHamming: Int): Long = {
    val k = math.min(maxHamming, nBlocks - maxHamming)
    (1 to k).foldLeft(1L)((a, i) => a * (nBlocks - k + i) / i)
  }

  /** The recovery twin of [[appendBatchOnce]]'s pair result
    * ([[BandedPairs]] contract). */
  def pairsForCommitted(store: SnapshotStore, table: String, ids: DataFrame,
                        broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit)
      : DataFrame =
    forCommitted(store, table, ids, broadcastKeyLimit)(committed)

  /** Keep the index current from a stream of (id, sh64) rows
    * ([[BandedPairs]] contract). */
  def maintainFromStream(store: SnapshotStore, table: String,
                         stream: DataFrame, checkpointDir: String,
                         streamId: String = "sh-inbox",
                         onPairs: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    BandedPairs.maintainFromStream(stream, checkpointDir, onPairs) {
      (batch, batchId) =>
        appendBatchOnce(store, table, batch, streamId, batchId)
    }
}
