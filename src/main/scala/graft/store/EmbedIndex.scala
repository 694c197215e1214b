package graft.store

import org.apache.spark.sql.{Column, DataFrame}
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
  * capped window over the touched-bucket membership, and in-bucket
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
  * freshness-tagged pair generation (see [[pairsAmong]]) then cut the
  * same-window append to 11.7-12.3 s by skipping the ~91% of in-bucket
  * dot products whose pairs the batch restriction would discard.
  *
  * Incremental ≡ batch: bucket keys are a pure per-vector function of
  * committed parameters; an append sees the union membership of every
  * batch-touched bucket, and pairs between older vectors were emitted
  * by the append that introduced their younger member. Cap semantics
  * match the batch operator's while final bucket sizes stay under
  * maxBucketSize (same degenerate-regime caveat as the other indexes).
  * EmbedIndexSpec pins pair-for-pair equality with
  * `Similarity.embeddingNearDupPairs` across batchings. Takedown, fold
  * and vacuum are the shared [[ChainedIndex]] lifecycle. */
object EmbedIndex extends ChainedIndex {

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

  /** The per-table bucket keys of a unit-vector column, recomputed from
    * the committed parameters — the one key construction every path
    * (batch keys, corpus keys, probe) shares. The fused expression
    * extracts the vector once and runs plain-array plane dots
    * (bit-identical to the per-table `Similarity.lshBucket` builder
    * form, which re-reads the ArrayData for every plane). */
  private def tableKeys(uv: Column, dim: Int, nTables: Int, bits: Int,
                        seed: Long): Column =
    graft.plans.VectorExpressions
      .hyperplaneTableKeys(uv, dim, nTables, bits, seed)

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
    appendTx(store, table, Some((streamId, batchId)), compactEvery)(
        _ => encode(batchVecs)) { (v, meta, enc) =>
      val dim = param(meta, "dim").toInt
      val nTables = param(meta, "nTables").toInt
      val bits = param(meta, "bits").toInt
      val seed = param(meta, "seed").toLong
      // Gate sizing without a distinct() job: hint from the caller, or
      // a narrow count on the persisted encoding (warms the cache).
      val nBatch = batchCountHint.getOrElse(enc.count())
      // In-scan prefilter via the shared decision ladder
      // (LshKeyProbe): exact sorted key set when nBatch·nTables fits
      // the clamped budget, ~1%-fpp Bloom up to the ceiling; tester
      // false positives only widen the exact (table, bucket)
      // semi-join input. One key per table per vector — the bound is
      // tight, no rescue take.
      val probeFilter: Option[Column] =
        LshKeyProbe(
          keysOf(enc, dim, nTables, bits, seed)
            .select(col("table").as("part"), col("bucket")),
          bound = nBatch * nTables,
          keyProbeMaxKeys = keyProbeMaxKeys,
          rescueTakeCeiling = 0L,
          exact = arr => graft.plans.VectorExpressions
            .hyperplaneKeyHits(col("uv"), dim, nTables, bits, seed, arr),
          bloom = bf => graft.plans.VectorExpressions
            .hyperplaneKeyHitsBloom(col("uv"), dim, nTables, bits, seed, bf))
      val idxRows = chain.load(store, table, v, meta)
      val idxSrc = probeFilter match {
        case Some(p) => idxRows.filter(p)
        case None => idxRows
      }
      (pairsVsIndex(idxSrc, enc, nBatch, dim, nTables, bits, seed,
        param(meta, "threshold").toDouble,
        param(meta, "maxBucketSize").toInt, broadcastKeyLimit,
        useFloat = floatExchangeActive(dim, floatExchangeMinDim)),
        enc, Map.empty)
    }.map(_._1)

  /** Key rows recomputed in-expression from the stored unit vector — the
    * scan reads only the flat (id, uv) columns; the nTables·bits·dim
    * projections ride inside whole-stage codegen. */
  private def keysOf(e: DataFrame, dim: Int, nTables: Int, bits: Int,
                     seed: Long): DataFrame =
    e.select(col("id"), col("uv"),
        explode(tableKeys(col("uv"), dim, nTables, bits, seed)).as("bk"))
      .select(col("bk.table").as("table"), col("bk.bucket").as("bucket"),
        col("id"), col("uv"))

  /** Pairs of `batchEnc` against `idx` ∪ itself — the corpus enters
    * through a size-gated broadcast bucket filter; the unit vector rides
    * with the key rows, so verification (CosinePairs dot products)
    * happens in-bucket with no extra corpus scan. */
  private def pairsVsIndex(idx: DataFrame, batchEnc: DataFrame,
                           nBatch: Long, dim: Int, nTables: Int, bits: Int,
                           seed: Long, threshold: Double, maxBucketSize: Int,
                           broadcastKeyLimit: Long,
                           useFloat: Boolean = false): DataFrame = {
    val bKeys = keysOf(batchEnc, dim, nTables, bits, seed)
    // nBatch × nTables bounds the distinct bucket count (one key per
    // hash table per vector) — gate sized with zero driver actions.
    // No distinct() on a semi-join probe side (r19, guide §2.4).
    val bBuckets = bKeys.select(col("table"), col("bucket"))
    val cKeys = keysOf(idx, dim, nTables, bits, seed)
      .join(BroadcastGate(bBuckets, nBatch * nTables, broadcastKeyLimit),
        Seq("table", "bucket"), "left_semi")
    // the freshness tag rides into the bucket heap so CosinePairs skips
    // corpus-corpus pairs inside the expression (they were emitted by
    // the append that introduced their younger member)
    val flagged = cKeys.withColumn("fresh", lit(false))
      .unionByName(bKeys.withColumn("fresh", lit(true)))
    if (useFloat)
      pairsAmongF(flagged,
        idx.select(col("id"), col("uv"))
          .unionByName(batchEnc.select(col("id"), col("uv"))),
        threshold, maxBucketSize, broadcastKeyLimit)
    else pairsAmong(flagged, threshold, maxBucketSize)
  }

  /** READ-ONLY recovery twin of [[appendBatchOnce]]'s pair result (same
    * contract as SimHashIndex.pairsForCommitted: valid until a LATER
    * batch lands, which sequential-batchId streaming guarantees). */
  def pairsForCommitted(store: SnapshotStore, table: String, ids: DataFrame,
                        broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                        floatExchangeMinDim: Int = DefaultFloatExchangeMinDim)
      : DataFrame = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    val threshold = param(meta, "threshold").toDouble
    val maxBucketSize = param(meta, "maxBucketSize").toInt
    val (dim, nTables, bits, seed) = (param(meta, "dim").toInt,
      param(meta, "nTables").toInt, param(meta, "bits").toInt,
      param(meta, "seed").toLong)
    val idx = chain.load(store, table, v, meta)
    val (idRows, nIds) = EagerCut.counted(ids.select(col("id")).distinct())
    val batchRows = idx.join(BroadcastGate(idRows, nIds, broadcastKeyLimit),
      Seq("id"), "left_semi")
    // nIds × nTables bounds the touched-bucket count — no second action,
    // and no distinct() on a semi-join probe side (r19, guide §2.4).
    val bBuckets = keysOf(batchRows, dim, nTables, bits, seed)
      .select(col("table"), col("bucket"))
    val allKeys = keysOf(idx, dim, nTables, bits, seed)
      .join(BroadcastGate(bBuckets, nIds * nTables, broadcastKeyLimit),
        Seq("table", "bucket"), "left_semi")
    // all rows come from the committed index here: freshness = batch
    // membership, tagged through one gated outer join
    val flagged = allKeys
      .join(BroadcastGate(idRows.select(col("id"), lit(true).as("fresh_f")),
          nIds, broadcastKeyLimit),
        Seq("id"), "left_outer")
      .withColumn("fresh", coalesce(col("fresh_f"), lit(false)))
      .drop("fresh_f")
    if (floatExchangeActive(dim, floatExchangeMinDim))
      pairsAmongF(flagged, idx.select(col("id"), col("uv")),
        threshold, maxBucketSize, broadcastKeyLimit)
    else pairsAmong(flagged, threshold, maxBucketSize)
  }

  /** In-bucket pair generation over the touched-bucket membership
    * `allKeys` (table, bucket, id, uv, fresh) — the SimHashIndex
    * skeleton with CosinePairs as the verifier. The batch restriction
    * lives INSIDE the expression (r15): the fresh flag rides through
    * the bounded heap and CosinePairs skips corpus-corpus pairs before
    * their 2·dim-flop dot products run — on a 100k append against 1M
    * vectors those were ~91% of the in-bucket pair work, computed only
    * for the old restrictToTouching pass to discard (flagship, same
    * window: 16.0 → 11.7-12.3 s, vs 16.4-16.7 for the pre-r15 fat
    * layout). Equivalence: fresh ⇔ id ∈ batch (ids are
    * globally unique), so "some member fresh" ≡ "pair touches the
    * batch" — EmbedIndexSpec pins the path pair-for-pair. */
  private def pairsAmong(allKeys: DataFrame, threshold: Double,
                         maxBucketSize: Int): DataFrame = {
    // Bucket capping as ONE bounded-heap aggregate (r15 — the r13
    // window→heap medicine, last applied here): member-for-member
    // identical to the row_number window it replaces, which sorted the
    // full touched-key stream with the ~8·dim-byte unit vector riding
    // every row just to discard everything past m+1.
    EagerCut(allKeys
      .groupBy(col("table"), col("bucket"))
      .agg(graft.plans.TopKAggregate
        .boundedVecMembers(col("id"), col("uv"), col("fresh"),
          maxBucketSize + 1)
        .as("members"))
      // size == maxBucketSize+1 marks a truncated degenerate bucket:
      // dropped whole, the batch operator's cap semantics
      .filter(size(col("members")).between(2, maxBucketSize))
      .select(explode(graft.plans.VectorExpressions
        .cosinePairs(col("members"), threshold)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), round(col("p.cos"), 6).as("cos"))
      .dropDuplicates("id_a", "id_b"))
  }

  /** The float-exchange twin of [[pairsAmong]] (class scaladoc): the
    * bucket heap ships a FLOAT copy of the unit vector (member selection
    * is by id, so the kept set is identical to the double heap's),
    * [[graft.plans.CosineCandidatesF]] emits candidates at
    * threshold − [[FloatVerifyMargin]], and survivors re-verify EXACTLY
    * against the stored doubles via `uvSource` (id, uv — must cover
    * every id in `allKeys`): one candidate-restricted broadcast-semi
    * columnar re-scan, no corpus shuffle, then two broadcast joins of
    * the candidate-sized uv lookup. Output — ids, exact cos, rounding,
    * dedup — is pair-for-pair [[pairsAmong]]'s; the margin-band false
    * candidates die on the exact filter. The candidates are cut; the
    * result is exactReverify's persisted frame. */
  private def pairsAmongF(allKeys: DataFrame, uvSource: DataFrame,
                          threshold: Double, maxBucketSize: Int,
                          broadcastKeyLimit: Long): DataFrame = {
    val (cand, nCand) = EagerCut.counted(allKeys
      .groupBy(col("table"), col("bucket"))
      .agg(graft.plans.TopKAggregate
        .boundedVecMembersF(col("id"),
          col("uv").cast("array<float>"), col("fresh"),
          maxBucketSize + 1)
        .as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
      .select(explode(graft.plans.VectorExpressions
        .cosineCandidatesF(col("members"), threshold - FloatVerifyMargin))
        .as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .dropDuplicates("id_a", "id_b"))
    // Shared exact tail (r16, one implementation across EmbedIndex /
    // SemIndex / batch operators): candidate-restricted (id, uv)
    // lookup, deterministic per-id resolve (lexicographic max — under
    // the unique-doc-id contract an identity; under violation the
    // double path compares per-occurrence vectors, so only determinism
    // is owed, r15 ADVICE), exact double re-filter at the committed
    // threshold. Both intermediates persist inside — without that the
    // "one re-scan" claim depends on the planner's exchange reuse
    // recognizing differently-aliased subplans.
    Similarity.exactReverify(cand, nCand, uvSource, threshold,
      broadcastKeyLimit)
  }

  /** Keep the index current from a stream of (id, vec) rows — the
    * SimHashIndex.maintainFromStream contract verbatim. */
  def maintainFromStream(store: SnapshotStore, table: String,
                         stream: DataFrame, checkpointDir: String,
                         streamId: String = "emb-inbox",
                         onPairs: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    ChainedIndex.pairStream(stream, checkpointDir, onPairs) { (batch, batchId) =>
      appendBatchOnce(store, table, batch, streamId, batchId)
    }
}
