package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Persistent multi-table hyperplane-LSH index — INCREMENTAL
  * batch-vs-corpus near-dup dedup for the EMBEDDING-COSINE regime: the
  * third near-dup index alongside [[DedupIndex]] (MinHash/Jaccard) and
  * [[SimHashIndex]] (Hamming), completing the regime set with the one
  * that catches SEMANTIC duplicates no token-level hash can (same
  * content re-worded; the judge case for embedding-based dedup in a
  * training pipeline).
  *
  * Layout: one row per vector: {{{ (id, uv: array<double>) }}}
  * `uv` is the L2-normalized (double-widened) vector. The hyperplane
  * bucket keys are NOT stored (r15 — the last index to shed its
  * derivable key column, after SimHashIndex in r13 and DedupIndex in
  * r14): table t's bucket is the sign pattern of `bits` random-plane
  * projections of `uv` (seed + t·7919, the
  * `Similarity.embeddingNearDupPairs` construction), a pure function of
  * the stored vector and the committed (dim, nTables, bits, seed), so
  * every path recomputes it in whole-stage codegen. The old layout's
  * `bks` column — array<struct<table:int,bucket:long>>, ~nTables·16 B
  * of NESTED parquet per row — was pure scan tax next to the wide `uv`
  * payload the verify needs anyway. Normalization scales by a positive
  * constant, so sign(plane·uv) = sign(plane·vec) and the recomputed
  * buckets match the batch operator's vec-side keys (modulo a
  * sign-exactly-zero rounding tie, measure-zero for real embeddings;
  * EmbedIndexSpec pins pair-for-pair equality). Tables written by older
  * code still carry `bks` and keep working: the delta chain projects
  * every member to the canonical (id, uv), so mixed old-fat/new-slim
  * chains read, append and compact cleanly, and the first compaction
  * rewrites the table slim.
  *
  * A cos-θ pair collides in one table with probability (1−θ/π)^bits;
  * `nTables` OR-ed tables lift recall to 1−(1−p)^T (near-identical
  * pairs: ≈1 − 10⁻¹³ at 8×16 bits, and DETERMINISTIC for a fixed seed).
  * Unlike the pigeonhole combo keys of [[SimHashIndex]] this is
  * probabilistic-recall banding — the price of the continuous metric —
  * so the structural parameters (nTables, bits, seed, dim) AND the
  * verify threshold ride in the snapshot metadata, fixed at build time:
  * re-keying per append would silently break the shared-bucket
  * guarantee across generations, exactly the SimHashIndex argument.
  *
  * `bits` must be sized for the EXPECTED FINAL corpus
  * (ceil(log2(N·8/maxBucketSize)), clamped [8,24] — the
  * embeddingNearDupPairs auto-size formula): at 1M vectors an 8-bit
  * table averages ~4k members per bucket, every bucket trips the cap,
  * and recall silently collapses. Pass `expectedCorpus` accordingly.
  *
  * The verify payload (the unit vector, ~8·dim bytes) rides WITH the
  * key rows — one append costs one columnar scan of the index, a
  * size-gated broadcast bucket-set semi-join (no corpus shuffle), a
  * capped heap over the touched-bucket membership, and in-bucket
  * dot-product verification (CosinePairs) — no second corpus scan.
  * DedupIndex-style deferred payload lookup was considered and
  * rejected: clustered embeddings make bucket pair sets DENSE
  * (C(270,2) candidates per 270-member bucket at the 1M flagship), so
  * materializing unverified candidate pairs for a post-hoc uv join
  * would explode where the in-expression verify emits only the true
  * near-dups. The `keyProbeMaxKeys` in-scan prefilter
  * ([[graft.plans.HyperplaneKeyHits]]) drops vectors that cannot share
  * a bucket with the batch BEFORE their wide payload enters the
  * explode — nTables·bits·dim multiply-adds per row in codegen against
  * an exact-set | Bloom key tester (the r14 DedupIndex machinery). It
  * is OPT-IN (default 0), unlike DedupIndex's: hyperplane banding has
  * only 2^bits ≈ thousands of buckets per table (vs MinHash's 64-bit
  * hash keys), so any non-trivial batch touches most of them and the
  * probe's per-row recompute cannot pay — measured r15, same-window
  * pairs at the 1M-vector flagship: 100k append probe-on 16.7-18.0 s
  * vs probe-off 16.0 s, and even a 50-vector micro-trickle (where the
  * probe drops ~90% of rows) measures parity (3.1 vs 2.9 s): the
  * trickle floor is the index's columnar uv scan, which the probe
  * filters but still reads. The machinery stays for corpora whose
  * probe would cut real CPU (higher bits, fatter dims); both paths are
  * spec-pinned output-identical. Appends are O(batch) [[DeltaChain]]
  * versions under the shared exactly-once batch-id watermark.
  *
  * FLOAT EXCHANGE (r15, dim-gated): at production embedding dims the
  * append's dominant cost is the 8·dim-byte `uv` payload riding the
  * bucket exchange nTables times per row. When the committed dim ≥
  * `floatExchangeMinDim` (default [[DefaultFloatExchangeMinDim]]; pass
  * 0 to force, Int.MaxValue to disable) the heap ships a FLOAT copy
  * instead — half the exchange bytes — and emits CANDIDATES at
  * threshold − [[FloatVerifyMargin]] ([[graft.plans.CosineCandidatesF]],
  * whose scaladoc carries the soundness bound: the margin is ~800× the
  * worst-case float-dot error, so no true pair can sink below the
  * cutoff). Survivors are re-verified EXACTLY against the stored
  * doubles through one candidate-restricted (id, uv) lookup — a
  * broadcast-semi-joined columnar re-scan, no shuffle — so the output
  * is pair-for-pair identical to the double path (EmbedIndexSpec pins
  * both forced paths, including cos values and pairs planted INSIDE
  * the margin band). At this corpus's dim 64 the saved bytes ≈ the
  * added re-scan, so the default gate keeps the single-pass double
  * path there. Measured at dim 768 (the design regime — ScaleBench
  * emb_hidim_*, 200k corpus / 20k append, order-reversed table-swapped
  * pairs): stable-window float 15.4-17.0 s vs double 19.9-38.2 s —
  * the float path won every one of 4 paired windows (0.40-0.79×) AND
  * cut the spread 10× (1.6 s vs 18.3), because halving the
  * shuffle-spill volume halves the disk-weather exposure; identical
  * 10,039-pair output throughout. The 256 gate is the reasoned
  * midpoint between the measured dim-64 parity and the measured
  * dim-768 win, not itself a measured point.
  *
  * The r15 fat-vs-slim A/B (same-window, interleaved): append 16.4-16.7 s
  * fat vs 16.0 s slim (parity within noise — the append's floor is the
  * wide-uv bucket exchange plus in-bucket CosinePairs, not the key
  * column), build 5.1-5.5 s fat vs 3.8-4.2 s slim, and the at-rest index
  * sheds the ~nTables·16 B/row nested key column (~20% at dim 64). The
  * freshness-tagged pair generation (see [[regime]]) then cut the
  * same-window append to 11.7-12.3 s by skipping the ~91% of in-bucket
  * dot products whose pairs the batch restriction would discard.
  *
  * Pairs, recovery and streaming are the shared [[BandedPairs]]
  * skeleton (contract, incremental ≡ batch and cap semantics there);
  * EmbedIndexSpec pins pair-for-pair equality with
  * `Similarity.embeddingNearDupPairs` across batchings. Takedown, fold
  * and vacuum are the shared [[ChainedIndex]] lifecycle. */
object EmbedIndex extends BandedPairs {

  /** Committed dims at/above which appends ship the float exchange by
    * default (class scaladoc): below it the 4·dim-byte saving cannot
    * beat the candidate re-scan; at 768+ the wide-payload exchange
    * dominates and the float path wins. 0 forces the float path,
    * Int.MaxValue forces the classic double path. */
  val DefaultFloatExchangeMinDim: Int = 256

  /** Candidate cutoff slack under the committed threshold for the float
    * exchange — ~800× the proven worst-case float-dot error (soundness
    * argument in [[graft.plans.CosineCandidatesF]]), so a true pair can
    * never be lost; the band's false candidates are dropped by the
    * exact double re-verify. */
  val FloatVerifyMargin: Double = 1e-4

  private[graft] def floatExchangeActive(dim: Int, minDim: Int): Boolean =
    dim >= minDim

  private val P = "embdedup." // metadata key prefix
  // Canonical columns: pre-r15 tables carry the stored `bks` key column;
  // projecting every chain member keeps mixed old-fat/new-slim chains
  // unioning cleanly, and the next compaction rewrites the table slim.
  private[store] val chain = new DeltaChain(s"${P}parts", Seq("id", "uv"))

  /** The embeddingNearDupPairs corpus-sizing formula, applied to the
    * EXPECTED corpus (an index must not re-key as it grows). */
  def autoBits(expectedCorpus: Long, maxBucketSize: Int): Int =
    math.min(24, math.max(8,
      math.ceil(math.log(math.max(1L, expectedCorpus) * 8.0 / maxBucketSize)
        / math.log(2)).toInt))

  /** Index rows for `vecs` (id, vec): id + the normalized vector, from
    * which the table keys are recomputed in-expression. */
  private def encode(vecs: DataFrame): DataFrame =
    vecs.select(col("id"), Similarity.unitVector(col("vec")).as("uv"))

  /** Encode `vecs` (id, vec) and commit as a fresh full snapshot with
    * every structural parameter in the metadata. Computes NO pairs (run
    * `Similarity.embeddingNearDupPairs` for the corpus-internal ones) —
    * or init empty with `vecs.limit(0)`. */
  def build(store: SnapshotStore, table: String, vecs: DataFrame, dim: Int,
            threshold: Double, nTables: Int = 8, expectedCorpus: Long = 5000000L,
            maxBucketSize: Int = 2000, seed: Long = 42L): Long = {
    val bits = autoBits(expectedCorpus, maxBucketSize)
    commitBuild(store, table, encode(vecs), Map(
      "dim" -> dim.toString,
      "threshold" -> threshold.toString,
      "nTables" -> nTables.toString,
      "bits" -> bits.toString,
      "seed" -> seed.toString,
      "maxBucketSize" -> maxBucketSize.toString))
  }

  /** Dedup `batchVecs` (id, vec) against the indexed corpus AND itself
    * under the COMMITTED parameters, then append its encodings as an
    * O(batch) delta. Returns the new pairs — (id_a, id_b, cos ≥
    * committed threshold, rounded to 6 places like the batch operator)
    * with at least one member in the batch — EAGER, or None for a
    * replayed (streamId, batchId). The double path returns a
    * self-contained [[EagerCut]] checkpoint; the float path returns
    * `Similarity.exactReverify`'s persisted frame (unpersist it when
    * done, and read it before a vacuum drops the snapshot dirs its
    * lineage reads).
    *
    * `keyProbeMaxKeys` (OPT-IN, default 0 — see the class scaladoc's
    * measured rationale: coarse 2^bits bucket spaces make the probe a
    * net cost for any non-trivial batch) adds one BOUNDED driver action
    * collecting the batch's bucket keys; the index scan then drops
    * vectors that cannot share a bucket with the batch before their
    * wide `uv` payload enters the explode — worth it only for
    * micro-trickle batches (nBatch ≪ 2^bits / nTables). Batches whose
    * key bound exceeds the budget keep the probe as a ~1%-fpp Bloom
    * (never lost to batch size); 0 keeps the strict one-action job
    * budget.
    *
    * `floatExchangeMinDim`: committed dims at/above this ship the
    * float-exchange pair path (class scaladoc — half the bucket-exchange
    * bytes, exact double re-verify, output identical); 0 forces it,
    * Int.MaxValue forces the classic double path. */
  def appendBatchOnce(store: SnapshotStore, table: String,
                      batchVecs: DataFrame,
                      streamId: String, batchId: Long,
                      compactEvery: Int = 8,
                      broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                      batchCountHint: Option[Long] = None,
                      keyProbeMaxKeys: Int = 0,
                      floatExchangeMinDim: Int = DefaultFloatExchangeMinDim)
      : Option[DataFrame] =
    appendPairs(store, table, Some((streamId, batchId)), compactEvery,
        broadcastKeyLimit, batchCountHint, keyProbeMaxKeys)(
        _ => encode(batchVecs))(committed(_, floatExchangeMinDim))

  /** The regime under the committed parameters. */
  private def committed(meta: Map[String, String],
                        floatExchangeMinDim: Int): BandedPairs.Regime = {
    val dim = param(meta, "dim").toInt
    regime(dim, param(meta, "nTables").toInt, param(meta, "bits").toInt,
      param(meta, "seed").toLong, param(meta, "threshold").toDouble,
      param(meta, "maxBucketSize").toInt,
      floatExchangeActive(dim, floatExchangeMinDim))
  }

  /** The hyperplane regime over (id, uv) rows. Table t's bucket is the
    * sign pattern of `bits` plane projections, all nTables recomputed
    * by one fused expression that extracts the vector once
    * ([[graft.plans.HyperplaneTableKeys]], bit-identical to the
    * per-table `Similarity.lshBucket` form); one key per table per
    * vector, so the probe bound is tight and no rescue take runs.
    *
    * The unit vector rides the key rows into the bucket and the batch
    * restriction lives INSIDE the verifier (r15): the fresh flag rides
    * through the bounded heap and CosinePairs skips corpus-corpus pairs
    * before their 2·dim-flop dot products run — on a 100k append
    * against 1M vectors those were ~91% of the in-bucket pair work.
    * fresh ⇔ id ∈ batch under the unique-id contract, so "some member
    * fresh" ≡ "pair touches the batch".
    *
    * `useFloat` is the float exchange (class scaladoc): the heap ships
    * a FLOAT copy of the unit vector (member selection is by id, so the
    * kept set is the double heap's), [[graft.plans.CosineCandidatesF]]
    * emits candidates at threshold − [[FloatVerifyMargin]], and the
    * shared `Similarity.exactReverify` re-verifies them EXACTLY against
    * the stored doubles (one candidate-restricted (id, uv) lookup, no
    * corpus shuffle) — ids, exact cos, rounding and dedup are the
    * double path's. Its result is exactReverify's persisted frame. */
  private[graft] def regime(dim: Int, nTables: Int, bits: Int, seed: Long,
                            threshold: Double, maxBucketSize: Int,
                            useFloat: Boolean): BandedPairs.Regime = {
    import graft.plans.{TopKAggregate, VectorExpressions}
    val double = BandedPairs.Regime(
      part = "table",
      keys = uv => VectorExpressions
        .hyperplaneTableKeys(uv, dim, nTables, bits, seed),
      keysPerDoc = nTables, payload = "uv", carry = true,
      maxBucketSize = maxBucketSize,
      members = (fresh, cap) =>
        TopKAggregate.boundedVecMembers(col("id"), col("uv"), fresh, cap),
      verify = m => VectorExpressions.cosinePairs(m, threshold),
      pairCols = Seq(col("p.id_a"), col("p.id_b"),
        round(col("p.cos"), 6).as("cos")),
      fresh = true,
      exactProbe = arr => VectorExpressions
        .hyperplaneKeyHits(col("uv"), dim, nTables, bits, seed, arr),
      bloomProbe = bf => VectorExpressions
        .hyperplaneKeyHitsBloom(col("uv"), dim, nTables, bits, seed, bf))
    if (!useFloat) double
    else double.copy(
      members = (fresh, cap) => TopKAggregate.boundedVecMembersF(col("id"),
        col("uv").cast("array<float>"), fresh, cap),
      verify = m => VectorExpressions
        .cosineCandidatesF(m, threshold - FloatVerifyMargin),
      pairCols = Seq(col("p.id_a"), col("p.id_b")),
      finish = { (cand, uvSource, broadcastKeyLimit) =>
        val (cut, nCand) = EagerCut.counted(cand)
        Similarity.exactReverify(cut, nCand, uvSource, threshold,
          broadcastKeyLimit)
      })
  }

  /** The recovery twin of [[appendBatchOnce]]'s pair result
    * ([[BandedPairs]] contract). */
  def pairsForCommitted(store: SnapshotStore, table: String, ids: DataFrame,
                        broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                        floatExchangeMinDim: Int = DefaultFloatExchangeMinDim)
      : DataFrame =
    forCommitted(store, table, ids, broadcastKeyLimit)(
      committed(_, floatExchangeMinDim))

  /** Keep the index current from a stream of (id, vec) rows
    * ([[BandedPairs]] contract). */
  def maintainFromStream(store: SnapshotStore, table: String,
                         stream: DataFrame, checkpointDir: String,
                         streamId: String = "emb-inbox",
                         onPairs: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    BandedPairs.maintainFromStream(stream, checkpointDir, onPairs) {
      (batch, batchId) =>
        appendBatchOnce(store, table, batch, streamId, batchId)
    }
}
