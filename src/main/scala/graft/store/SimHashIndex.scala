package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

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
  * capped window over the touched-bucket membership, and in-bucket
  * popcount verification (HammingPairs). Appends are O(batch)
  * [[DeltaChain]] versions with the shared exactly-once batch-id
  * watermark.
  *
  * Incremental ≡ batch: the same split-independence argument as
  * DedupIndex — combo keys are a pure per-doc function, the append sees
  * the union membership of every batch-touched bucket, and pairs between
  * older docs were emitted by the append that introduced their younger
  * member; cap semantics match while the final bucket size stays under
  * maxBucketSize (degenerate-regime superset caveat identical).
  * SimHashIndexSpec pins pair-for-pair equality with
  * `Dedup.simhashPairsFromHashes` across batchings. */
object SimHashIndex {

  private val P = "shdedup." // metadata key prefix
  // Canonical columns: tables written before the r13 slimming carry the
  // stored `bks` key column; projecting every chain member keeps a mixed
  // old-base + slim-delta chain unioning cleanly (reads AND appends), and
  // the next compaction rewrites the table slim.
  private val chain = new DeltaChain(s"${P}parts", Seq("id", "sh64"))

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
    store.commit(table, encode(hashed),
      sortKey = Some("id"),
      meta = chain.resetMeta ++ Map(
        s"${P}nBlocks" -> nBlocks.toString,
        s"${P}maxHamming" -> maxHamming.toString,
        s"${P}maxBucketSize" -> maxBucketSize.toString))

  /** The live index contents as of the current version. */
  def load(store: SnapshotStore, table: String): DataFrame = {
    val v = store.currentVersion(table)
    chain.load(store, table, v, store.metaForVersion(table, v))
  }

  /** Dedup `batchHashed` (id, sh64) against the indexed corpus AND
    * itself under the COMMITTED banding parameters, then append its
    * encodings as an O(batch) delta. Returns the new pairs —
    * (id_a, id_b, hamming ≤ committed maxHamming) with at least one
    * member in the batch — EAGER (persisted + materialized; unpersist
    * when done), or None for a replayed (streamId, batchId).
    *
    * Consume-before-vacuum: the pair frame's lineage reads the
    * pre-append snapshot dirs; cache eviction after a vacuum/compaction
    * that dropped them makes recomputation fail. Materialize the result
    * before vacuuming (same contract as FingerprintIndex).
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
      : Option[DataFrame] = {
    var result: Option[DataFrame] = None
    var enc: DataFrame = null
    store.transactMeta[Unit](table, sortKey = Some("id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the simhash index before appending " +
            "(SimHashIndex.build; hashed.limit(0) for an empty init)")
      val meta = store.metaForVersion(table, v)
      val key = s"stream.$streamId.lastBatchId"
      if (batchId <= meta.get(key).map(_.toLong).getOrElse(-1L)) Left(())
      else {
        def req(k: String): Int = meta.getOrElse(P + k,
          throw new IllegalStateException(
            s"$table has no committed simhash-index metadata '$P$k'")).toInt
        val (nBlocks, maxHamming, maxBucketSize) =
          (req("nBlocks"), req("maxHamming"), req("maxBucketSize"))
        enc = encode(batchHashed)
          .persist(StorageLevel.MEMORY_AND_DISK) // batch-sized, read 3×
        // Gate sizing without a distinct() job: hint from the caller, or
        // a narrow count on the persisted encoding (warms the cache).
        val nBatch = batchCountHint.getOrElse(enc.count())
        // Opt-in scan prefilter (the SemIndex zoneProbe / FingerprintIndex
        // bloomProbe trade): one extra BOUNDED action collects the batch's
        // mixed combo keys; the index scan then keeps only docs whose own
        // keys can hit them — a pure in-expression map — instead of
        // exploding every stored key array through the bucket semi-join
        // (C(nBlocks, nBlocks−maxHamming) rows per indexed doc). The exact
        // (band, bucket) semi-join still runs on the survivors, so bucket
        // semantics (and tester false positives) never change the output.
        // Batches whose key bound (nBatch·combosPerDoc) exceeds the budget
        // keep the probe as a ~1%-fpp Bloom over the same keys (r14, the
        // DedupIndex trade) instead of losing it. keyProbeMaxKeys = 0
        // keeps the one-action job budget.
        // Shared decision ladder (LshKeyProbe). combosPerDoc is a
        // per-DOC over-count — near-dup-rich batches share most keys —
        // so a bounded take-and-check past the budget can RESCUE the
        // exact tester the bound alone would demote (r14 ADVICE). The
        // rescue is itself ceilinged at 4× the Bloom bound: past that,
        // even heavy sharing can't plausibly fit, and a true backfill
        // must not pay a wasted cluster-side distinct just to learn it
        // (the zero-job skip the a-priori bound buys).
        val probeFilter: Option[org.apache.spark.sql.Column] =
          LshKeyProbe(
            keysOf(enc, nBlocks, maxHamming)
              .select(col("band").as("part"), col("bucket")),
            bound = nBatch * combosPerDoc(nBlocks, maxHamming),
            keyProbeMaxKeys = keyProbeMaxKeys,
            rescueTakeCeiling = DedupIndex.BloomProbeMaxKeys * 4,
            exact = arr => graft.plans.VectorExpressions
              .simhashKeyHits(col("sh64"), nBlocks, maxHamming, arr),
            bloom = bf => graft.plans.VectorExpressions
              .simhashKeyHitsBloom(col("sh64"), nBlocks, maxHamming, bf))
        val idxRows = chain.load(store, table, v, meta)
        val idxSrc = probeFilter match {
          case Some(p) => idxRows.filter(p)
          case None => idxRows
        }
        result = Some(pairsVsIndex(
          idxSrc, enc, nBatch, nBlocks, maxHamming, maxBucketSize,
          broadcastKeyLimit))
        Right(chain.next(store, table, v, meta, enc, compactEvery,
          Map(key -> batchId.toString)))
      }
    }
    if (enc != null) enc.unpersist(blocking = false)
    result
  }

  /** Key rows recomputed in-expression from the stored hash — the scan
    * reads only (id, sh64). */
  private def keysOf(e: DataFrame, nBlocks: Int, maxHamming: Int): DataFrame =
    e.select(col("id"), col("sh64"),
        explode(graft.plans.VectorExpressions
          .simhashComboKeys(col("sh64"), nBlocks, maxHamming)).as("bk"))
      .select(col("bk.band").as("band"), col("bk.bucket").as("bucket"),
        col("id"), col("sh64"))

  /** Combo keys emitted per document: C(nBlocks, nBlocks−maxHamming) —
    * the pigeonhole block-combination count (Dedup.simhashComboKeys
    * caps it at 4096). Bounds the distinct-bucket count of a batch from
    * above, so the BroadcastGate needs no driver-side count. */
  private def combosPerDoc(nBlocks: Int, maxHamming: Int): Long = {
    val k = math.min(maxHamming, nBlocks - maxHamming)
    (1 to k).foldLeft(1L)((a, i) => a * (nBlocks - k + i) / i)
  }

  /** Pairs of `batchEnc` against `idx` ∪ itself — the batch path's
    * single-shuffle shape with the corpus entering through a size-gated
    * broadcast bucket filter. The hash rides with the key rows, so
    * verification (HammingPairs popcount) happens in-bucket with no
    * extra corpus scan. */
  private def pairsVsIndex(idx: DataFrame, batchEnc: DataFrame,
                           nBatch: Long, nBlocks: Int,
                           maxHamming: Int, maxBucketSize: Int,
                           broadcastKeyLimit: Long): DataFrame = {
    val bKeys = keysOf(batchEnc, nBlocks, maxHamming)
    // nBatch × keysPerDoc bounds the distinct bucket count — gate sized
    // with zero driver actions (over-estimate = safe shuffle fallback).
    // No distinct() on a semi-join probe side (r19, guide §2.4).
    val bBuckets = bKeys.select(col("band"), col("bucket"))
    val cKeys = keysOf(idx, nBlocks, maxHamming)
      .join(BroadcastGate(bBuckets,
          nBatch * combosPerDoc(nBlocks, maxHamming), broadcastKeyLimit),
        Seq("band", "bucket"), "left_semi")
    pairsAmong(cKeys.unionByName(bKeys), batchEnc.select(col("id")),
      nBatch, maxHamming, maxBucketSize, broadcastKeyLimit)
  }

  /** READ-ONLY recovery twin of [[appendBatchOnce]]'s pair result: the
    * pairs touching `ids` recomputed from the COMMITTED index alone —
    * for replaying a batch whose append already committed (the batch's
    * rows are in the index, so its bucket keys and hashes are read back
    * rather than re-unioned). Reproduces the original append's pair set
    * exactly (same touched-bucket membership, same id-ordered cap)
    * PROVIDED no later batch was appended in between — the
    * sequential-batchId streaming discipline guarantees that. EAGER like
    * the append result. */
  def pairsForCommitted(store: SnapshotStore, table: String, ids: DataFrame,
                        broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit)
      : DataFrame = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    val maxHamming = meta(s"${P}maxHamming").toInt
    val maxBucketSize = meta(s"${P}maxBucketSize").toInt
    val nBlocks = meta(s"${P}nBlocks").toInt
    val idx = chain.load(store, table, v, meta)
    val idRows = ids.select(col("id")).distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nIds = idRows.count()
    val batchRows = idx.join(BroadcastGate(idRows, nIds, broadcastKeyLimit),
      Seq("id"), "left_semi")
    // nIds × combos bounds the touched-bucket count — no second action,
    // and no distinct() on a semi-join probe side (r19, guide §2.4).
    val bBuckets = keysOf(batchRows, nBlocks, maxHamming)
      .select(col("band"), col("bucket"))
    // Batch rows are ALREADY in idx — touched-bucket membership comes
    // from one pass over the committed keys, no union.
    val allKeys = keysOf(idx, nBlocks, maxHamming)
      .join(BroadcastGate(bBuckets, nIds * combosPerDoc(nBlocks, maxHamming),
          broadcastKeyLimit),
        Seq("band", "bucket"), "left_semi")
    val out = pairsAmong(allKeys, idRows, nIds, maxHamming, maxBucketSize,
      broadcastKeyLimit)
    idRows.unpersist(blocking = false)
    out
  }

  /** In-bucket pair generation over the touched-bucket membership
    * `allKeys` (band, bucket, id, sh64), restricted to pairs touching
    * `newIds`: id-ordered cap, HammingPairs popcount verification, pair
    * dedup across buckets. Shared by the append path (membership =
    * corpus-semi-join ∪ batch keys) and the replay-recovery path
    * (membership read back from the committed index). */
  private def pairsAmong(allKeys: DataFrame, newIds: DataFrame, nIds: Long,
                         maxHamming: Int, maxBucketSize: Int,
                         broadcastKeyLimit: Long): DataFrame = {
    // Bucket capping as ONE bounded-heap aggregate (id-ordered cap
    // member-for-member identical to the old row_number window, which
    // sorted the entire touched-key stream — 140M rows on a 5M-doc
    // full-keyspace batch — just to discard everything past m+1).
    val allPairs = allKeys
      .groupBy(col("band"), col("bucket"))
      .agg(graft.plans.TopKAggregate
        .boundedMembers(col("id"), col("sh64"), maxBucketSize + 1)
        .as("members"))
      .filter(size(col("members")).between(2, maxBucketSize))
      .select(explode(graft.plans.VectorExpressions
        .hammingPairs(col("members"), maxHamming)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), col("p.hamming"))
      .dropDuplicates("id_a", "id_b")

    // Keep only pairs touching the batch (corpus-internal pairs were
    // emitted by the append that introduced their younger member).
    // ONE shared broadcast for both membership probes.
    val verified = BroadcastGate
      .restrictToTouching(allPairs, newIds.select(col("id")), nIds,
        broadcastKeyLimit)
      .select(col("id_a"), col("id_b"), col("hamming"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Stays persist + count, not a checkpoint: AppendJobCountSpec pins
    // the LSH appends' count callsite; CurationIngest unpersists it.
    verified.count()
    verified
  }

  /** Keep the index current from a stream of (id, sh64) rows: each
    * micro-batch is deduplicated against the corpus-so-far and appended
    * exactly once; its new pairs go to `onPairs` (unpersisted after the
    * callback — materialize inside it). Replayed micro-batches are
    * skipped entirely (same contract as DedupIndex.maintainFromStream). */
  def maintainFromStream(store: SnapshotStore, table: String,
                         stream: DataFrame, checkpointDir: String,
                         streamId: String = "sh-inbox",
                         onPairs: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          appendBatchOnce(store, table, batch, streamId, batchId).foreach { pairs =>
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
  /** TAKEDOWN: delete documents from the simhash index — the
    * [[DedupIndex.deleteDocs]] contract verbatim (O(ids) tombstone,
    * immediate invisibility on every candidate path, physical removal
    * at the next fold, reinsert serves from new rows). Idempotent. */
  def deleteDocs(store: SnapshotStore, table: String, ids: DataFrame): Long =
    store.transactMeta[Nothing](table, sortKey = Some("id"),
        statsCols = Seq("id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the simhash index before deleting " +
            "(SimHashIndex.build)")
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
          s"$table: build the simhash index before deleting " +
            "(SimHashIndex.build)")
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

  /** Drop version dirs outside the live delta chain. */
  def vacuumIndex(store: SnapshotStore, table: String): Unit =
    store.dropVersions(table,
      store.versions(table).toSet -- chain.liveVersions(store, table))
}
