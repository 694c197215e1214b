package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Dedup

/** Persistent MinHash band-key index — INCREMENTAL batch-vs-corpus
  * near-duplicate dedup.
  *
  * The batch operator ([[Dedup.nearDuplicatePairs]]) re-shingles, re-hashes
  * and re-bands the WHOLE corpus on every run; the production mode for a
  * growing corpus deduplicates each NEW crawl batch against everything
  * already ingested without recomputing 100 TB of text. This index
  * persists, per document, the one thing the pair search cannot cheaply
  * re-derive — the distinct sorted shingle hashes (`h_arr`: candidate
  * keys AND verify payload both derive from it) — so an append only
  * tokenizes the BATCH and joins against the committed column.
  *
  * Layout: one snapshot-store table, one row per document:
  * {{{ (id, h_arr: array<long>) }}}
  * The MinHash-LSH band keys are NOT stored (r14, the SimHashIndex r13
  * medicine): they are a pure function of `h_arr` and the committed
  * shingle/minhash parameters, recomputed in-expression wherever needed
  * (`Dedup.lshBandKeys(Dedup.minhashSignature(h_arr, k), k, bands)`, all
  * codegen'd). The old layout's `bks` column — array<struct<band:int,
  * bucket:long>>, ~bands·16 B of NESTED parquet per doc — was the
  * append's dominant scan cost (nested struct decode; the flagship
  * measured the (id, bks) scan at ~10 s vs ~3 s for the flat (id, h_arr)
  * column it duplicates). Now every corpus-side path reads the one flat
  * column the verify needs anyway, and the k multiply-add signature per
  * row rides inside whole-stage codegen. Tables written by older code
  * still carry `bks` and keep working: the delta chain projects every
  * member to the canonical (id, h_arr), so mixed old-fat/new-slim chains
  * read, append and compact cleanly, and the first compaction rewrites
  * the table slim. The shingle/minhash parameters ride in the snapshot
  * metadata (atomic with the rows — appended keys can never mix
  * parameterizations), and appends are [[DeltaChain]] versions: O(batch)
  * parquet per append, periodic compaction, exactly-once via the same
  * batch-id watermark the vector index and catalog ingest use.
  *
  * Pairs, recovery and streaming are the shared [[BandedPairs]]
  * skeleton (its class doc carries the contract, incremental ≡ batch
  * and the cap semantics); this index declares the MinHash regime:
  * `bands` band keys per doc, members capped by id alone, AllPairs
  * candidates restricted to the batch, then the exact Jaccard over the
  * candidates' stored hash sets — the same rational Jaccard as the
  * batch operator, which verifies over the same xxhash64 shingle
  * hashes (DedupIndexSpec pins incremental ≡ batch pair-for-pair).
  *
  * Scale shape of one append (batch b against corpus N):
  *  - batch side: shingle+minhash+band O(b) — the only text processing;
  *  - candidate keys: the index (id, h_arr) columns stream through a
  *    BROADCAST semi-join on the batch's bucket set, band keys recomputed
  *    in-expression — no corpus shuffle, and with the opt-in
  *    `keyProbeMaxKeys` prefilter ([[graft.plans.MinHashKeyHits]]) most
  *    index rows never even reach the explode: a pure in-codegen map of
  *    ≤ bands binary searches per row drops every document that cannot
  *    share a bucket with the batch. Only members of batch-touched
  *    buckets (O(b · bucket occupancy)) reach the one bucket-key
  *    exchange, then the same capped-heap + in-bucket AllPairs as the
  *    batch path;
  *  - verify: candidate-sized joins against the (id, h_arr) column,
  *    corpus side restricted by semi-join before the shingle arrays ride
  *    any join (AQE picks broadcast when the candidate set is small; no
  *    forced broadcast — a degenerate batch can have a large one, same
  *    policy as dropNearDuplicates);
  *  - honest cost floor: the one flat (id, h_arr) column is SCANNED
  *    twice per append (candidate keys + verify; columnar, no corpus
  *    shuffle) plus k multiply-adds per stored hash for the recomputed
  *    signature — the pre-r14 layout instead paid a nested-struct
  *    (id, bks) decode measured at ~10 s against ~3 s for this flat
  *    column at the 5M-doc flagship; encode, the batch bucket-set
  *    distinct, the capped-heap pair gen and the delta commit are all
  *    O(batch).
  *
  *    A bucket-partitioned key layout was CONSIDERED and rejected after
  *    doing the pruning math: a 100k-doc batch probes ~1.6M distinct
  *    (band,bucket) keys, and LSH buckets are uniformly hash-scattered,
  *    so any shard/partition/row-group granularity coarse enough to
  *    avoid a small-file explosion is hit by ~every probe set larger
  *    than a few hundred docs (1.6M scattered probes cover 64 shards,
  *    256 shards, or 640 sorted row groups with probability ≈ 1).
  *    Static pruning therefore only helps single-document lookups, while
  *    costing partitioned tiny-file writes on EVERY delta. The scan
  *    floor is the honest Spark-native price; it amortizes by batching
  *    appends (the floor is per append, not per document), and the
  *    delta chain still keeps a future layout change open.
  *
  * Pair outputs match [[Dedup.nearDuplicatePairs]]: (id_a, id_b,
  * jaccard) with id_a < id_b, jaccard ≥ threshold. Takedown, fold and
  * vacuum are the shared [[ChainedIndex]] lifecycle. */
object DedupIndex extends BandedPairs {

  private val P = "dedup." // metadata key prefix

  /** Default key-probe budget for appends — ON by default, measured at
    * the 5M-doc / 100k-batch flagship: probe 18-19 s vs 44 s without
    * (the no-probe path explodes and broadcast-probes ~80M recomputed
    * key rows; the probe drops non-candidates inside the scan with ≤
    * `bands` binary searches per row). The probe costs one extra
    * BOUNDED driver action per append (the batch's distinct mixed keys,
    * ≤ nBatch·bands rows, take-capped) — a deliberate, spec'd trade
    * (AppendJobCountSpec admits exactly this take; probe ≡ default
    * output pinned in DedupIndexSpec). Pass 0 to restore the strict
    * one-action job budget. A batch whose key bound (nBatch·bands)
    * exceeds the budget keeps the probe as a ~1%-fpp BLOOM filter over
    * the same keys instead of dropping it (a backfill-sized unprobed
    * append pays the full recomputed-key explode: curate_ungated_500k
    * measured 92.5 s unprobed vs 43.2 s bloomed at the 5M flagship);
    * Bloom false positives only widen the exact semi-join input. */
  val DefaultKeyProbeMaxKeys: Int = 4000000

  // Canonical columns: pre-r14 tables carry the stored `bks` key column;
  // projecting every chain member keeps mixed old-fat/new-slim chains
  // unioning cleanly, and the next compaction rewrites the table slim.
  private[store] val chain = new DeltaChain(s"${P}parts", Seq("id", "h_arr"))

  /** Index rows for `df`: the distinct sorted shingle hashes, from which
    * everything else (signature, band keys) is recomputed in-expression —
    * text never enters the store. */
  private def encode(df: DataFrame, textCol: String, idCol: String,
                     shingleN: Int): DataFrame =
    df.select(col(idCol).as("id"),
      Dedup.shingleHashes(col(textCol), shingleN).as("h_arr"))

  /** Encode `corpus` and commit it as a fresh full snapshot (version 1 of
    * a new table, or a chain-resetting rebuild), with the shingle/minhash
    * parameters in the snapshot metadata. Computes NO pairs — this is the
    * bootstrap for a corpus whose internal pairs are already known (run
    * [[Dedup.nearDuplicatePairs]] for those), or an empty-corpus init
    * (`corpus.limit(0)`) when every document will arrive via appends. */
  def build(store: SnapshotStore, table: String, corpus: DataFrame,
            textCol: String, idCol: String, shingleN: Int = 3,
            k: Int = 32, bands: Int = 16): Long =
    commitBuild(store, table, encode(corpus, textCol, idCol, shingleN), Map(
      "shingleN" -> shingleN.toString, "k" -> k.toString,
      "bands" -> bands.toString))

  /** Dedup `batch` against the indexed corpus AND itself, then append its
    * encodings as an O(batch) delta version. Returns the new near-dup
    * pairs — every (id_a, id_b, jaccard ≥ threshold) pair with at least
    * one member in the batch (corpus-internal pairs were returned by the
    * appends that introduced them). EAGER: the result is a
    * self-contained [[EagerCut]] checkpoint — no cache to unpersist, and
    * no lineage into the snapshot dirs a later vacuum may drop.
    *
    * NOT idempotent — a retried call double-appends the batch (and then
    * pairs it against its own first copy). Use [[appendBatchOnce]] from
    * any at-least-once context. */
  def appendBatch(store: SnapshotStore, table: String, batch: DataFrame,
                  textCol: String, idCol: String,
                  threshold: Double = 0.5, maxBucketSize: Int = 1000,
                  compactEvery: Int = 8,
                  broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                  batchCountHint: Option[Long] = None,
                  keyProbeMaxKeys: Int = DefaultKeyProbeMaxKeys)
      : DataFrame =
    appendPairs(store, table, None, compactEvery, broadcastKeyLimit,
        batchCountHint, keyProbeMaxKeys)(encodeBatch(batch, textCol, idCol))(
      committed(_, threshold, maxBucketSize)).get

  /** [[appendBatch]] with the exactly-once batch-id watermark discipline
    * (same as VectorIndex.appendBatchOnce / Mutations.appendBatchOnce):
    * the last applied batchId per stream rides in the snapshot metadata
    * atomically with the appended rows, so a replayed micro-batch is
    * skipped — None — instead of double-appending and self-pairing. */
  def appendBatchOnce(store: SnapshotStore, table: String, batch: DataFrame,
                      textCol: String, idCol: String,
                      streamId: String, batchId: Long,
                      threshold: Double = 0.5, maxBucketSize: Int = 1000,
                      compactEvery: Int = 8,
                      broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                      batchCountHint: Option[Long] = None,
                      keyProbeMaxKeys: Int = DefaultKeyProbeMaxKeys)
      : Option[DataFrame] =
    appendPairs(store, table, Some((streamId, batchId)), compactEvery,
        broadcastKeyLimit, batchCountHint, keyProbeMaxKeys)(
        encodeBatch(batch, textCol, idCol))(
      committed(_, threshold, maxBucketSize))

  /** A batch's encoding under the committed shingle width. */
  private def encodeBatch(batch: DataFrame, textCol: String, idCol: String)
                         (meta: Map[String, String]): DataFrame =
    encode(batch, textCol, idCol, param(meta, "shingleN").toInt)

  /** The regime under the committed minhash parameters. */
  private def committed(meta: Map[String, String], threshold: Double,
                        maxBucketSize: Int): BandedPairs.Regime =
    regime(param(meta, "k").toInt, param(meta, "bands").toInt, threshold,
      maxBucketSize)

  /** The MinHash regime over (id, h_arr) rows: band keys recomputed
    * in-expression from the shingle hashes (signature and keys ride
    * inside whole-stage codegen), the members capped by id alone (a
    * constant score: the heap's (score desc, id asc) tie-break keeps
    * exactly the cap smallest ids), AllPairs candidates. The payload
    * stays out of the bucket: the candidates are cut, and the exact
    * Jaccard reads the hash sets of the candidate docs only — a
    * semi-join keeps that read candidate-sized before the arrays ride
    * any join (no broadcast hint: AQE decides, the batch operator's
    * policy). The MinHash key probe ([[graft.plans.MinHashKeyHits]]):
    * band keys are near-unique 64-bit buckets, so the a-priori bound is
    * tight and no rescue take runs. */
  private[graft] def regime(k: Int, bands: Int, threshold: Double,
                            maxBucketSize: Int): BandedPairs.Regime = {
    import graft.plans.VectorExpressions
    BandedPairs.Regime(
      part = "band",
      keys = h => Dedup.lshBandKeys(Dedup.minhashSignature(h, k), k, bands),
      keysPerDoc = bands, payload = "h_arr", carry = false,
      maxBucketSize = maxBucketSize,
      members = (_, cap) =>
        graft.plans.TopKAggregate.boundedTopK(col("id"), lit(0.0), cap),
      verify = m => VectorExpressions.allPairs(
        transform(m, c => c.getField("neighbor_id"))),
      pairCols = Seq(col("p.id_a"), col("p.id_b")),
      fresh = false,
      exactProbe = arr =>
        VectorExpressions.minhashKeyHits(col("h_arr"), k, bands, arr),
      bloomProbe = bf =>
        VectorExpressions.minhashKeyHitsBloom(col("h_arr"), k, bands, bf),
      finish = { (restricted, sets, _) =>
        // candidate-sized and read 3×: cut, so the verify plans start
        // from a leaf. The candidate docs' hash sets are cut once for
        // both membership joins (r19 A/B: relying on the planner's
        // exchange reuse instead MEASURED WORSE — AQE re-ran the
        // semi-join subtree per consumer).
        val candidates = EagerCut(restricted)
        val sigs = EagerCut(sets.join(
          candidates.select(explode(array(col("id_a"), col("id_b"))).as("id")),
          Seq("id"), "left_semi"))
        EagerCut(Dedup.jaccardPairs(candidates, sigs, threshold))
      })
  }

  /** The recovery twin of [[appendBatchOnce]]'s pair result
    * ([[BandedPairs]] contract); `threshold`/`maxBucketSize` must match
    * the original call (they are per-call, not committed metadata). */
  def pairsForCommitted(store: SnapshotStore, table: String, ids: DataFrame,
                        threshold: Double = 0.5, maxBucketSize: Int = 1000,
                        broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit)
      : DataFrame =
    forCommitted(store, table, ids, broadcastKeyLimit)(
      committed(_, threshold, maxBucketSize))

  /** Keep the index current from a stream of documents
    * ([[BandedPairs]] contract). */
  def maintainFromStream(store: SnapshotStore, table: String,
                         stream: DataFrame, textCol: String, idCol: String,
                         checkpointDir: String,
                         streamId: String = "doc-inbox",
                         threshold: Double = 0.5,
                         onPairs: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    BandedPairs.maintainFromStream(stream, checkpointDir, onPairs) {
      (batch, batchId) =>
        appendBatchOnce(store, table, batch, textCol, idCol, streamId, batchId,
          threshold)
    }
}
