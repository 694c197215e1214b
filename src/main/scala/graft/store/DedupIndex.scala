package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * Incremental ≡ batch (DedupIndexSpec proves it pair-for-pair): for any
  * split of a corpus into batches, the union of every append's pair set
  * equals `nearDuplicatePairs` over the union corpus —
  *  - band keys are a pure per-doc function, so "two docs share a bucket"
  *    is split-independent; the append sees every (corpus member ∪ batch
  *    member) of each batch-touched bucket, which covers every pair whose
  *    younger member is in the batch; pairs between older docs were
  *    emitted by the append that introduced THEIR younger member;
  *  - verify compares the same rational jaccard — on hash sets here vs
  *    shingle strings in batch mode, equal counts modulo xxhash64
  *    collisions (~2⁻⁶⁴ per shingle pair; an honest caveat, not a
  *    theorem — see the ngramJaccardPairs recall note);
  *  - cap semantics: a bucket's members are capped in id order over the
  *    union membership, identical in both modes while the FINAL bucket
  *    size stays ≤ maxBucketSize. A bucket that outgrows the cap later is
  *    dropped whole by batch mode, while incremental already emitted its
  *    early pairs — in the degenerate regime incremental is a superset.
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
  * Contract: document ids must be globally unique across the corpus and
  * all batches (they are join keys and pair members). Pair outputs match
  * [[Dedup.nearDuplicatePairs]]: (id_a, id_b, jaccard) with id_a < id_b,
  * jaccard ≥ threshold, EAGER (persisted + materialized — unpersist when
  * done). */
object DedupIndex {

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

  /** Ceiling on the BLOOM probe's key bound (nBatch·bands): above it
    * the probe is skipped entirely. A Bloom at 1% fpp costs ~9.6 bits
    * per expected key, and the filter rides in the scan expression's
    * task binary — 16.7M keys ≈ 20 MB is the acceptable edge; a batch
    * big enough to exceed it (≥ ~1M docs at 16 bands) is a backfill
    * whose append cost is amortized by its own size, not a trickle
    * that needs the prefilter. Guards the driver and the task binary
    * from a multi-GB sketch on a corpus-sized "batch". */
  val BloomProbeMaxKeys: Long = 1L << 24
  // Canonical columns: pre-r14 tables carry the stored `bks` key column;
  // projecting every chain member keeps mixed old-fat/new-slim chains
  // unioning cleanly, and the next compaction rewrites the table slim.
  private val chain = new DeltaChain(s"${P}parts", Seq("id", "h_arr"))

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
    store.commit(table, encode(corpus, textCol, idCol, shingleN),
      sortKey = Some("id"),
      meta = chain.resetMeta ++ Map(
        s"${P}shingleN" -> shingleN.toString,
        s"${P}k" -> k.toString,
        s"${P}bands" -> bands.toString))

  /** The live index contents (delta-chain union) as of the current
    * version. */
  def load(store: SnapshotStore, table: String): DataFrame = {
    val v = store.currentVersion(table)
    chain.load(store, table, v, store.metaForVersion(table, v))
  }

  /** Dedup `batch` against the indexed corpus AND itself, then append its
    * encodings as an O(batch) delta version. Returns the new near-dup
    * pairs — every (id_a, id_b, jaccard ≥ threshold) pair with at least
    * one member in the batch (corpus-internal pairs were returned by the
    * appends that introduced them). EAGER like nearDuplicatePairs: the
    * result is persisted and materialized; unpersist it when done.
    * Consume-before-vacuum: the frame's lineage reads the pre-append
    * snapshot dirs — materialize it before vacuumIndex/compaction can
    * drop them, or cache eviction makes recomputation FileNotFound.
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
    appendInternal(store, table, batch, textCol, idCol, threshold,
      maxBucketSize, compactEvery, None, broadcastKeyLimit,
      batchCountHint, keyProbeMaxKeys).get

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
    appendInternal(store, table, batch, textCol, idCol, threshold,
      maxBucketSize, compactEvery, Some((streamId, batchId)),
      broadcastKeyLimit, batchCountHint, keyProbeMaxKeys)

  private def appendInternal(store: SnapshotStore, table: String,
                             batch: DataFrame, textCol: String, idCol: String,
                             threshold: Double, maxBucketSize: Int,
                             compactEvery: Int,
                             onceKey: Option[(String, Long)],
                             broadcastKeyLimit: Long,
                             batchCountHint: Option[Long],
                             keyProbeMaxKeys: Int)
      : Option[DataFrame] = {
    var result: Option[DataFrame] = None
    var enc: DataFrame = null
    // Pairs are computed INSIDE the table lock against the pre-append
    // version (its dirs are immutable, so the plan stays valid after the
    // pointer flips) and materialized before the commit — a failure
    // anywhere leaves the index unchanged, so retry reruns the whole
    // batch, never half of it.
    store.transactMeta[Unit](table, sortKey = Some("id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the dedup index before appending (DedupIndex.build; " +
            "corpus.limit(0) for an empty init)")
      val meta = store.metaForVersion(table, v)
      val watermark = onceKey.map { case (sid, bid) =>
        (s"stream.$sid.lastBatchId", bid)
      }
      val replay = watermark.exists { case (key, bid) =>
        bid <= meta.get(key).map(_.toLong).getOrElse(-1L)
      }
      if (replay) Left(())
      else {
        val (shingleN, k, bands) = paramsFrom(meta, table)
        enc = encode(batch, textCol, idCol, shingleN)
          .persist(StorageLevel.MEMORY_AND_DISK) // batch-sized, read 4×
        // One driver action at most for gate sizing: callers that already
        // know the batch size (CurationIngest counts its survivors) pass
        // it through; the fallback is a NARROW count on the persisted
        // encoding (also warms the cache) — never a distinct() exchange
        // (r9 verdict: each blocking action is a separate job whose
        // latency multiplies under host degradation).
        val nBatch = batchCountHint.getOrElse(enc.count())
        // Scan prefilter (ON by default — see DefaultKeyProbeMaxKeys):
        // one extra BOUNDED action collects the batch's band keys; the
        // index scan then keeps only docs whose recomputed keys can hit
        // them — a pure in-codegen map of ≤ bands membership tests per
        // row — before anything explodes through the bucket semi-join.
        // The exact (band, bucket) semi-join still runs on the
        // survivors, so tester false positives never change the output.
        // Batches whose key bound (nBatch·bands) fits the budget get
        // the exact sorted set; bigger (backfill-sized) batches get a
        // ~1%-fpp BLOOM over the same keys instead of losing the probe
        // entirely (measured: an unprobed 500k-doc append pays the full
        // ~80M-row recomputed-key explode — curate_ungated_500k 92.5 s
        // vs ~40 s probed). keyProbeMaxKeys = 0 disables the probe and
        // keeps the strict one-action job budget.
        // Shared decision ladder (LshKeyProbe): exact sorted set within
        // the clamped budget, ~1%-fpp Bloom up to the ceiling, nothing
        // past it. MinHash band keys are near-unique (64-bit buckets),
        // so the a-priori bound is tight and no rescue take is run.
        val probeFilter: Option[org.apache.spark.sql.Column] =
          LshKeyProbe(
            keysOf(enc, k, bands).select(col("band").as("part"), col("bucket")),
            bound = nBatch * bands,
            keyProbeMaxKeys = keyProbeMaxKeys,
            rescueTakeCeiling = 0L,
            exact = arr => graft.plans.VectorExpressions
              .minhashKeyHits(col("h_arr"), k, bands, arr),
            bloom = bf => graft.plans.VectorExpressions
              .minhashKeyHitsBloom(col("h_arr"), k, bands, bf))
        val idxRows = chain.load(store, table, v, meta)
        val idxSrc = probeFilter match {
          case Some(p) => idxRows.filter(p)
          case None => idxRows
        }
        result = Some(pairsVsIndex(
          idxSrc, enc, nBatch, k, bands, threshold,
          maxBucketSize, broadcastKeyLimit))
        Right(chain.next(store, table, v, meta, enc, compactEvery,
          watermark.map { case (key, bid) => Map(key -> bid.toString) }
            .getOrElse(Map.empty)))
      }
    }
    // The commit (inside transactMeta) consumed the encoding; the pair
    // result has its own cache, and its lineage re-derives enc if an
    // executor loses blocks.
    if (enc != null) enc.unpersist(blocking = false)
    result
  }

  /** Key rows recomputed in-expression from the stored shingle hashes —
    * the scan reads only the flat (id, h_arr) columns; signature and
    * band keys ride inside whole-stage codegen. */
  private def keysOf(e: DataFrame, k: Int, bands: Int): DataFrame =
    e.select(col("id"),
        explode(Dedup.lshBandKeys(
          Dedup.minhashSignature(col("h_arr"), k), k, bands)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("id"))

  /** Near-dup pairs of `batchEnc` against `idx` ∪ itself — the same
    * candidate shape as nearDuplicatePairs, with the corpus side entering
    * through a size-gated broadcast bucket filter instead of a full
    * re-band. */
  private def pairsVsIndex(idx: DataFrame, batchEnc: DataFrame,
                           nBatch: Long, k: Int, bands: Int,
                           threshold: Double, maxBucketSize: Int,
                           broadcastKeyLimit: Long): DataFrame = {
    val bKeys = keysOf(batchEnc, k, bands)
    // The batch's bucket set (batch-sized) broadcasts into the corpus
    // keys scan below the gate: index rows stream through the semi-join
    // — no shuffle — and only members of batch-touched buckets survive.
    // Gate sizing costs no driver action: each doc emits exactly `bands`
    // keys, so nBatch × bands bounds the distinct bucket count from
    // above (over-estimating only flips broadcast→shuffle, the safe
    // side — and the byte gate in BroadcastGate caps the width too).
    // No distinct() (r19, guide §2.4): the keys feed a left_semi, which
    // dedups by construction — the distinct's exchange bought nothing
    // (minhash band buckets are near-unique, so the broadcast width is
    // the same bound either way).
    val bBuckets = bKeys.select(col("band"), col("bucket"))
    pairsAmong(
      keysOf(idx, k, bands)
        .join(BroadcastGate(bBuckets, nBatch * bands, broadcastKeyLimit),
          Seq("band", "bucket"), "left_semi")
        .unionByName(bKeys),
      idx.select(col("id"), col("h_arr"))
        .unionByName(batchEnc.select(col("id"), col("h_arr"))),
      batchEnc.select(col("id")), nBatch,
      threshold, maxBucketSize, broadcastKeyLimit)
  }

  /** READ-ONLY recovery twin of [[appendBatchOnce]]'s pair result: the
    * pairs touching `ids` recomputed from the COMMITTED index alone —
    * for replaying a batch whose append already committed (its shingle
    * hashes are read back from the index — band keys recomputed from
    * them in-expression — rather than re-derived from text). Reproduces
    * the original append's pair set
    * exactly (same touched-bucket membership and id-ordered cap, same
    * stored-hash jaccard) PROVIDED no later batch was appended in
    * between — guaranteed under the sequential-batchId streaming
    * discipline. `threshold`/`maxBucketSize` must match the original
    * call (they are per-call, not committed metadata). EAGER like the
    * append result. */
  def pairsForCommitted(store: SnapshotStore, table: String, ids: DataFrame,
                        threshold: Double = 0.5, maxBucketSize: Int = 1000,
                        broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit)
      : DataFrame = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    val (_, k, bands) = paramsFrom(meta, table)
    val idx = chain.load(store, table, v, meta)
    val idRows = ids.select(col("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nIds = idRows.count()
    val batchRows = idx.join(BroadcastGate(idRows, nIds, broadcastKeyLimit),
      Seq("id"), "left_semi")
    // nIds × bands bounds the touched-bucket count — no second action,
    // and no distinct() on a semi-join probe side (r19, guide §2.4).
    val bBuckets = keysOf(batchRows, k, bands)
      .select(col("band"), col("bucket"))
    // Batch rows are ALREADY in idx — membership and signatures both
    // come from the committed columns, no union.
    val allKeys = keysOf(idx, k, bands)
      .join(BroadcastGate(bBuckets, nIds * bands, broadcastKeyLimit),
        Seq("band", "bucket"), "left_semi")
    val out = pairsAmong(allKeys, idx.select(col("id"), col("h_arr")),
      idRows, nIds, threshold, maxBucketSize, broadcastKeyLimit)
    idRows.unpersist(blocking = false)
    out
  }

  /** Candidate generation + exact verify over the touched-bucket
    * membership `allKeys` (band, bucket, id), restricted to pairs
    * touching `newIds`, with shingle-hash signatures looked up in
    * `sigSource` (id, h_arr). Shared by the append path (membership and
    * signatures = corpus ∪ batch) and the replay-recovery path (both
    * read back from the committed index). */
  private def pairsAmong(allKeys: DataFrame, sigSource: DataFrame,
                         newIds: DataFrame, nIds: Long,
                         threshold: Double, maxBucketSize: Int,
                         broadcastKeyLimit: Long): DataFrame = {
    // Union membership of every touched bucket, capped in id order —
    // bit-identical semantics to the batch path over the union corpus
    // (bounded-heap aggregate with a constant score: the (score desc,
    // id asc) tie-break keeps exactly the m+1 smallest ids, without
    // the row_number window's sort of the full touched-key stream).
    val allCand = allKeys
      .groupBy(col("band"), col("bucket"))
      .agg(graft.plans.TopKAggregate
        .boundedTopK(col("id"), lit(0.0), maxBucketSize + 1).as("ch"))
      .select(transform(col("ch"), c => c.getField("neighbor_id")).as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
      .select(explode(graft.plans.VectorExpressions.allPairs(col("members"))).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .dropDuplicates("id_a", "id_b")

    // Keep only pairs touching the batch: corpus-corpus pairs inside a
    // touched bucket were emitted by the append that introduced their
    // younger member. ONE shared broadcast for both membership probes.
    val candidates = BroadcastGate
      .restrictToTouching(allCand, newIds.select(col("id")), nIds,
        broadcastKeyLimit)
      .persist(StorageLevel.MEMORY_AND_DISK) // candidate-sized, read 3×

    // Exact verify on the stored hash sets — the semi-join keeps the
    // h_arr column read candidate-restricted before the arrays ride any
    // join (no broadcast hint: AQE decides, same policy as the batch
    // path's candidate semi-join). r19, guide §2.4: no distinct() on the
    // semi-join's probe side (a semi dedups by construction), and the
    // verify renames sit ABOVE the joins so both builds reuse ONE sigs
    // exchange instead of two.
    val candIds = candidates
      .select(explode(array(col("id_a"), col("id_b"))).as("id"))
    // The persist is load-bearing (r19 A/B): dropping it and relying on
    // the planner's exchange reuse across the two membership joins
    // MEASURED WORSE — append0 24->27, append1 27->32 jobs (AQE re-ran
    // the semi-join subtree per consumer instead of reusing one build).
    val sigs = sigSource
      .join(candIds, Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)

    val verified = candidates
      .join(sigs, col("id_a") === col("id"))
      .select(col("id_a"), col("id_b"), col("h_arr").as("h_a"))
      .join(sigs, col("id_b") === col("id"))
      .withColumn("jaccard",
        size(array_intersect(col("h_a"), col("h_arr"))).cast("double") /
          size(array_union(col("h_a"), col("h_arr"))))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Stays persist + count, not a checkpoint: AppendJobCountSpec pins
    // the LSH appends' count callsite; CurationIngest unpersists it.
    verified.count()
    candidates.unpersist(blocking = false)
    sigs.unpersist(blocking = false)
    verified
  }

  /** Keep the index current from a stream of documents: each micro-batch
    * is deduplicated against the corpus-so-far and appended exactly once;
    * its new pairs go to `onPairs` (the pair DataFrame is unpersisted
    * after the callback returns — materialize inside it). A replayed
    * micro-batch is skipped entirely: its pairs were already delivered. */
  def maintainFromStream(store: SnapshotStore, table: String,
                         stream: DataFrame, textCol: String, idCol: String,
                         checkpointDir: String,
                         streamId: String = "doc-inbox",
                         threshold: Double = 0.5,
                         onPairs: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          appendBatchOnce(store, table, batch, textCol, idCol,
            streamId, batchId, threshold).foreach { pairs =>
            try onPairs(pairs, batchId)
            finally pairs.unpersist(blocking = false)
          }
        }
      }
      .start()

  /** On-demand chain fold into a full snapshot (maintenance-triggered;
    * appends also fold themselves every `compactEvery`). Returns true if
    * a compacting commit happened, false if already compact — IDEMPOTENT,
    * and the commit is the store's atomic version flip, so a crash
    * mid-compaction leaves the old chain fully live. */
  /** TAKEDOWN: delete documents from the minhash index — an O(ids)
    * tombstone commit ([[DeltaChain]] epoch rule). A deleted id's
    * signature goes invisible immediately (it stops pairing against
    * future batches — `dedup_minhash_deleted_oracle` pins serve ≡
    * rebuild-without-docs), and its bytes leave disk at the next fold.
    * Pairs already emitted naturally stand (they were correct when
    * computed — the incremental family's history contract). A
    * re-appended id pairs again from its new rows. Idempotent. */
  def deleteDocs(store: SnapshotStore, table: String, ids: DataFrame): Long =
    store.transactMeta[Nothing](table, sortKey = Some("id"),
        statsCols = Seq("id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the dedup index before deleting (DedupIndex.build)")
      Right(chain.tombNext(v, store.metaForVersion(table, v), ids.toDF("id")))
    }.merge

  /** [[deleteDocs]] under the exactly-once (streamId, batchId)
    * watermark ([[DeltaChain.tombNextOnce]]). True if applied. */
  def deleteDocsOnce(store: SnapshotStore, table: String, ids: DataFrame,
                     streamId: String, batchId: Long): Boolean =
    store.transactMeta[Unit](table, sortKey = Some("id"),
        statsCols = Seq("id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the dedup index before deleting (DedupIndex.build)")
      chain.tombNextOnce(v, store.metaForVersion(table, v), ids.toDF("id"),
        streamId, batchId)
    }.isRight

  def compactIndex(store: SnapshotStore, table: String): Boolean =
    store.transactMeta[Unit](table, sortKey = Some("id")) {
      val v = store.currentVersion(table)
      if (v == 0) Left(())
      else chain.compactNow(store, table, v, store.metaForVersion(table, v))
        .toRight(())
    }.isRight

  /** Drop every version dir NOT referenced by the current delta chain —
    * see VectorIndex.vacuumIndex. */
  def vacuumIndex(store: SnapshotStore, table: String): Unit =
    store.dropVersions(table,
      store.versions(table).toSet -- chain.liveVersions(store, table))

  private def paramsFrom(meta: Map[String, String], table: String)
      : (Int, Int, Int) = {
    def req(key: String): String = meta.getOrElse(P + key,
      throw new IllegalStateException(
        s"$table has no committed dedup-index metadata '$P$key' — " +
          "build the index first (DedupIndex.build)"))
    (req("shingleN").toInt, req("k").toInt, req("bands").toInt)
  }
}
