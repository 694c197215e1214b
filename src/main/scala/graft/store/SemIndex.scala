package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.Similarity

/** Persistent k-means-cluster index — INCREMENTAL batch-vs-corpus
  * SemDeDup ([[graft.functions.Similarity.semDedup]]): the SEMANTIC
  * regime joins the incremental dedup index family ([[DedupIndex]]
  * MinHash/Jaccard, [[SimHashIndex]] Hamming, [[EmbedIndex]]
  * hyperplane-LSH cosine). Where EmbedIndex's data-oblivious
  * hyperplanes target near-IDENTICAL vectors, the trained clusters
  * implement the SemDeDup paper's regime: pairing scoped to a learned
  * partition of the embedding space, with eps low enough to catch
  * same-meaning re-encodings.
  *
  * One row per vector: {{{ (cluster_id, id, uv: array<double>) }}}
  * assigned by the centroids TRAINED AT BUILD TIME and committed in the
  * snapshot metadata ([[VectorIndex]]'s matrix codec) — appends assign
  * with the COMMITTED centroids, never retrain: re-clustering per
  * append would silently re-scope past pairings, the same
  * fixed-parameters argument as the other indexes. Centroid refresh is
  * instead an OPERATOR-SCHEDULED epoch flip ([[retrainIfDrifted]],
  * wired into [[maintain]]): exact drift counters trip a full
  * re-train + re-assign committed as one new version. `nClusters` must
  * still be sized for the EXPECTED corpus between refreshes (the
  * SemDeDup scaling lever: N / nClusters bounded by one task's pairing
  * budget).
  *
  * Rows commit SORTED BY cluster_id with cluster_id zone maps
  * ([[ZoneMap]]): a batch touches ≤ batch-size clusters, and the
  * opt-in trickle probe (`zoneProbeMaxClusters`) skips whole index
  * files whose cluster_id zones miss every touched cluster before any
  * footer is opened — the trained-partition twin of the term-zone
  * skipping TextIndex postings get.
  *
  * Append contract (the family's): one columnar scan of the
  * (file-pruned) index, a size-gated broadcast cluster-set semi-join —
  * the corpus never shuffles — a capped window over touched-cluster
  * membership, in-cluster CosinePairs verification, O(batch)
  * [[DeltaChain]] delta under the shared exactly-once batch-id
  * watermark. Incremental ≡ batch: assignment is a pure per-vector
  * function of committed centroids; an append sees the union
  * membership of every batch-touched cluster, so pairs between older
  * vectors were emitted by the append that introduced their younger
  * member (cap caveat as the other indexes: equality holds while final
  * cluster sizes stay under maxClusterSize). SemIndexSpec pins
  * pair-for-pair equality with `Similarity.semDedupPairs` across
  * batchings. */
object SemIndex {

  private val P = "semdedup." // metadata key prefix
  private val chain = new DeltaChain(s"${P}parts")

  /** The degenerate single-cluster "quantizer": any centroid assigns
    * every vector to cluster 0, so no sample/train pass is owed. */
  private def trivialCentroids(dim: Int): Seq[Seq[Double]] =
    Similarity.trivialCentroids(dim)

  private def encode(vecs: DataFrame, centroids: Seq[Seq[Double]]): DataFrame =
    Similarity.semAssign(vecs, "id", "vec", centroids)
      // long cluster key: the zone-map long kind reads INT64 stats
      // directly, and every downstream join/window is width-agnostic
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("id"), col("uv"))

  /** Train centroids on `vecs` (id, vec), assign, and commit as a fresh
    * full snapshot with every structural parameter (including the
    * centroids) in the metadata. Computes NO pairs (run
    * `Similarity.semDedupPairs` for the corpus-internal ones) — or init
    * empty with `vecs.limit(0)` plus `trainOn` for the centroid corpus. */
  def build(store: SnapshotStore, table: String, vecs: DataFrame, dim: Int,
            eps: Double, nClusters: Int = 64, maxClusterSize: Int = 100000,
            seed: Long = 42L, trainOn: Option[DataFrame] = None): Long = {
    // nClusters == 1 needs no training: every vector's nearest-of-one
    // assignment is cluster 0 whatever the centroid, and nothing else
    // reads the centroid value (pairing works on uv) — so the trivial
    // basis vector replaces the sample draw's two driver actions
    // (r19, guide §1.2). Assignments, pairs and retrains are identical.
    val centroids =
      if (nClusters == 1) trivialCentroids(dim)
      else Similarity.trainIvfCentroids(
        trainOn.getOrElse(vecs), "vec", nClusters, seed)
    val enc = encode(vecs, centroids).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // drift accounting for [[retrainIfDrifted]]: rows assigned AT
      // training time vs rows appended since — counters, not scans, so
      // the drift decision survives chain compaction (which erases the
      // build-vs-delta row split the chain shape used to carry)
      val n = enc.count()
      store.commit(table, enc,
        sortKey = Some("cluster_id"),
        meta = chain.resetMeta ++ Map(
          s"${P}dim" -> dim.toString,
          s"${P}eps" -> eps.toString,
          s"${P}nClusters" -> nClusters.toString,
          s"${P}maxClusterSize" -> maxClusterSize.toString,
          s"${P}seed" -> seed.toString,
          s"${P}centroids" -> VectorIndex.encodeMatrix(centroids),
          s"${P}trainedRows" -> n.toString,
          s"${P}appendedSinceTrain" -> "0"),
        statsCols = Seq("cluster_id"))
    } finally enc.unpersist(blocking = false)
  }

  /** The live index contents as of the current version. */
  def load(store: SnapshotStore, table: String): DataFrame = {
    val v = store.currentVersion(table)
    chain.load(store, table, v, store.metaForVersion(table, v))
  }

  /** SemDeDup `batchVecs` (id, vec) against the indexed corpus AND
    * itself under the COMMITTED centroids/eps, then append its
    * assignments as an O(batch) delta. Returns the new pairs —
    * (id_a, id_b, cos) with at least one member in the batch — EAGER
    * (persisted + materialized; unpersist when done), or None for a
    * replayed (streamId, batchId). Consume-before-vacuum contract as
    * the other indexes.
    *
    * `floatExchangeMinDim` is OPT-IN here (default disabled), the
    * opposite of EmbedIndex's gate — measured, not assumed (r16
    * ScaleBench sem_hidim_*, dim 768, order-reversed pairs): the float
    * path lost BOTH paired windows (14.0/18.5 s vs double's
    * 10.9/8.3 s, identical 10,039-pair output). SemDeDup ships the
    * payload ONCE per row (one cluster per vector, not nTables
    * copies), so the halved exchange cannot pay for the candidate
    * re-verify — exactly the structural argument r15 recorded; the
    * machinery stays spec-pinned output-identical for corpora whose
    * measured A/B disagrees. */
  def appendBatchOnce(store: SnapshotStore, table: String,
                      batchVecs: DataFrame,
                      streamId: String, batchId: Long,
                      compactEvery: Int = 8,
                      broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                      batchCountHint: Option[Long] = None,
                      zoneProbeMaxClusters: Int = 0,
                      floatExchangeMinDim: Int = Int.MaxValue)
      : Option[DataFrame] = {
    var result: Option[DataFrame] = None
    var enc: DataFrame = null
    store.transactMeta[Unit](table, sortKey = Some("cluster_id"),
      statsCols = Seq("cluster_id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the semantic index before appending " +
            "(SemIndex.build; vecs.limit(0) + trainOn for an empty init)")
      val meta = store.metaForVersion(table, v)
      val key = s"stream.$streamId.lastBatchId"
      if (batchId <= meta.get(key).map(_.toLong).getOrElse(-1L)) Left(())
      else {
        def req(k: String): String = meta.getOrElse(P + k,
          throw new IllegalStateException(
            s"$table has no committed sem-index metadata '$P$k'"))
        val centroids = VectorIndex.decodeMatrix(req("centroids"))
        enc = encode(batchVecs, centroids)
          .persist(StorageLevel.MEMORY_AND_DISK) // batch-sized, read 3×
        val nBatch = batchCountHint.getOrElse(enc.count())
        // Opt-in trickle fast path (the FingerprintIndex
        // bloomProbeMaxKeys trade): one extra BOUNDED action collects
        // the batch's touched clusters; if they fit, whole chain files
        // outside their cluster_id zones are skipped before any footer
        // opens, and the exact isin filter replaces the semi-join. The
        // default path keeps the one-action budget.
        val touched: Option[Seq[Long]] =
          if (zoneProbeMaxClusters <= 0) None
          else {
            val t = enc.select(col("cluster_id")).distinct()
              .take(zoneProbeMaxClusters + 1)
            if (t.length > zoneProbeMaxClusters) None
            else Some(t.map(_.getLong(0)).toSeq)
          }
        // drift counter for retrainIfDrifted — nBatch is already known,
        // so the accumulation costs zero extra actions
        val drift = Map(s"${P}appendedSinceTrain" ->
          (meta.get(s"${P}appendedSinceTrain").map(_.toLong).getOrElse(0L)
            + nBatch).toString)
        if (nBatch == 0L || touched.exists(_.isEmpty)) {
          // EMPTY batch (known from the count, the hint, or a probe
          // that returned zero touched clusters): no pair can involve
          // it, so skip the index load and the whole pairsVsIndex
          // persist/count pipeline — but still commit the (empty)
          // delta so the batch-id watermark advances exactly-once.
          // Before r12 this case mis-flagged the probe result as
          // pre-filtered and SELF-PAIRED THE FULL INDEX (SemIndexSpec
          // pins both the output and the no-index-scan plan shape).
          result = Some(emptyPairs(enc))
          Right(chain.next(store, table, v, meta, enc, compactEvery,
            drift + (key -> batchId.toString)))
        } else {
          val idxRows = touched match {
            case Some(ids) if ids.nonEmpty =>
              chain.loadPruned(store, table, v, meta,
                  Seq(ZoneMap.LongIn("cluster_id", ids)))
                .filter(col("cluster_id").isin(ids: _*))
            case _ => chain.load(store, table, v, meta)
          }
          // preFiltered only when the probe actually restricted the
          // load — a None probe (disabled, or too many clusters to
          // collect) keeps the gating semi-join.
          result = Some(pairsVsIndex(
            idxRows, enc, nBatch, touched.exists(_.nonEmpty),
            req("eps").toDouble, req("maxClusterSize").toInt,
            broadcastKeyLimit,
            useFloat = EmbedIndex.floatExchangeActive(
              req("dim").toInt, floatExchangeMinDim)))
          Right(chain.next(store, table, v, meta, enc, compactEvery,
            drift + (key -> batchId.toString)))
        }
      }
    }
    if (enc != null) enc.unpersist(blocking = false)
    result
  }

  /** The typed empty (id_a, id_b, cos) result under the EAGER contract
    * (persisted + counted — the caller unpersists like any other pair
    * set). Derived from the batch encoding only: its plan must never
    * reference the index table, which is what lets the empty-batch
    * regression spec assert the short-circuit by plan shape. */
  private def emptyPairs(batchEnc: DataFrame): DataFrame = {
    val e = batchEnc
      .select(col("id").as("id_a"), col("id").as("id_b"),
        lit(0.0d).as("cos"))
      .limit(0)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Stays persist + count, not a checkpoint: SemIndexSpec reads this
    // frame's analyzed plan, which a checkpoint would hide.
    e.count()
    e
  }

  /** Pairs of `batchEnc` against `idx` ∪ itself: the corpus enters
    * through a size-gated broadcast cluster-set semi-join; the unit
    * vector rides with the rows, so verification happens in-cluster
    * with no extra corpus scan. */
  private def pairsVsIndex(idx: DataFrame, batchEnc: DataFrame,
                           nBatch: Long, preFiltered: Boolean,
                           eps: Double, maxClusterSize: Int,
                           broadcastKeyLimit: Long,
                           useFloat: Boolean = false): DataFrame = {
    // nBatch bounds the touched-cluster count (one cluster per vector)
    // — gate sized with zero driver actions. The zone-probe path has
    // already restricted idx to the touched clusters exactly.
    // no distinct() on a semi-join probe side (r19, guide §2.4)
    val cRows =
      if (preFiltered) idx
      else idx.join(
        BroadcastGate(batchEnc.select(col("cluster_id")),
          nBatch, broadcastKeyLimit),
        Seq("cluster_id"), "left_semi")
    // the batch restriction lives INSIDE the pair expression (r15, the
    // EmbedIndex trade): a freshness flag rides through the member cap
    // and CosinePairs skips corpus-corpus pairs before their dot
    // products run — on dense semantic clusters those were ~(corpus/
    // union)² of the in-cluster work, computed only for the old
    // restrictToTouching pass to discard. fresh ⇔ id ∈ batch under the
    // unique-id contract, so output is identical (SemIndexSpec pins
    // incremental ≡ batch pair-for-pair).
    val tagged = cRows.withColumn("fresh", lit(false))
      .unionByName(batchEnc.withColumn("fresh", lit(true)))
    if (useFloat) {
      // dim-gated FLOAT exchange (r16): the cluster exchange ships
      // float unit vectors; candidates re-verify exactly against the
      // same touched-cluster union (a candidate-restricted recompute —
      // the cluster-pruned columnar scan plus the persisted batch).
      // semPairsTouchingF's frame comes back persisted + distinct.
      return Similarity.semPairsTouchingF(tagged, eps, maxClusterSize,
        tagged.select(col("id"), col("uv")), broadcastKeyLimit)
    }
    // No dropDuplicates (r19, guide §2.4): each vector lives in exactly
    // ONE cluster (nearest-of-k assignment), so an unordered pair can
    // only be emitted by the one cluster holding both members — unlike
    // the multi-table LSH indexes there is no cross-table collision to
    // dedup, and the exchange bought nothing (SemIndexSpec pins
    // incremental ≡ batch pair-for-pair).
    val verified = Similarity.semPairsTouching(tagged, eps, maxClusterSize)
      .persist(StorageLevel.MEMORY_AND_DISK)
    // Stays persist + count, not a checkpoint: SemIndexSpec reads this
    // frame's analyzed plan, which a checkpoint would hide.
    verified.count()
    verified
  }

  /** Keep the index current from a stream of (id, vec) rows — the
    * SimHashIndex.maintainFromStream contract verbatim. */
  def maintainFromStream(store: SnapshotStore, table: String,
                         stream: DataFrame, checkpointDir: String,
                         streamId: String = "sem-inbox",
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

  /** TAKEDOWN: delete vectors from the semantic index — the
    * [[DedupIndex.deleteDocs]] contract verbatim (O(ids) tombstone,
    * immediate invisibility on every in-cluster pairing path, physical
    * removal at the next fold/retrain, reinsert serves from new rows).
    * The drift counters are deliberately untouched: they gate RETRAIN
    * urgency, and a deletion only makes the trained centroids slightly
    * conservative — the retrain itself reads the visible rows, so the
    * next epoch flip reflects the deletions exactly. Idempotent. */
  def deleteDocs(store: SnapshotStore, table: String, ids: DataFrame): Long =
    store.transactMeta[Nothing](table, sortKey = Some("id"),
        statsCols = Seq("id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the semantic index before deleting (SemIndex.build)")
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
          s"$table: build the semantic index before deleting (SemIndex.build)")
      chain.tombNextOnce(v, store.metaForVersion(table, v), ids.toDF("id"),
        streamId, batchId)
    }.isRight

  /** On-demand chain fold into a full snapshot — idempotent; the commit
    * is the store's atomic version flip. */
  def compactIndex(store: SnapshotStore, table: String): Boolean =
    store.transactMeta[Unit](table, sortKey = Some("cluster_id"),
      statsCols = Seq("cluster_id")) {
      val v = store.currentVersion(table)
      if (v == 0) Left(())
      else chain.compactNow(store, table, v, store.metaForVersion(table, v))
        .toRight(())
    }.isRight

  /** RETRAIN-AS-A-NEW-VERSION (r12 verdict #5): when the rows appended
    * since the last training exceed `maxAppendFraction` of the index,
    * re-train the centroids on the FULL current contents (committed
    * seed and nClusters), re-assign every row, and commit as a fresh
    * full snapshot — new centroids in the metadata, drift counters
    * reset, stream watermarks preserved (replays still skip).
    *
    * This is the deliberate, versioned answer to the header's
    * "appends never retrain" rule: per-append re-clustering would
    * silently re-scope past pairings, but an OPERATOR-SCHEDULED retrain
    * is an explicit epoch flip — pairs already emitted stay emitted
    * (they were correct under the old scope), and from this version on
    * the index is exactly what [[build]] on today's corpus would have
    * produced, so appends stop assigning against centroids trained on
    * a vanished distribution. Drift is tracked by exact counters
    * (trainedRows at training time, appendedSinceTrain accumulated per
    * append) rather than chain shape, so compaction — which folds the
    * build/delta split away — cannot hide it.
    *
    * One atomic version flip; idempotent (a freshly trained index has
    * appendedSinceTrain = 0 and returns false). Returns true iff a
    * retrain was committed. Pre-counter tables report no drift until
    * their first post-upgrade append seeds the counter. */
  def retrainIfDrifted(store: SnapshotStore, table: String,
                       maxAppendFraction: Double = 0.5): Boolean = {
    require(maxAppendFraction > 0.0,
      s"maxAppendFraction must be positive, got $maxAppendFraction")
    var allCache: DataFrame = null
    try store.transactMeta[Unit](table, sortKey = Some("cluster_id"),
      statsCols = Seq("cluster_id")) {
      val v = store.currentVersion(table)
      if (v == 0) Left(())
      else {
        val meta = store.metaForVersion(table, v)
        val trained = meta.get(s"${P}trainedRows").map(_.toLong).getOrElse(0L)
        val appended =
          meta.get(s"${P}appendedSinceTrain").map(_.toLong).getOrElse(0L)
        val total = trained + appended
        val nClusters = meta.get(s"${P}nClusters").map(_.toInt).getOrElse(0)
        if (appended == 0L || total == 0L ||
            appended.toDouble / total <= maxAppendFraction ||
            total < nClusters) // too few rows to train nClusters lists
          Left(())
        else {
          val seed = meta(s"${P}seed").toLong
          // uv is already unit-norm, so re-encoding from it is exact:
          // unit(uv) = uv, and assignment is a pure function of uv.
          // nClusters == 1 keeps the trivial quantizer (see build) and
          // reads the chain once (assign only) — no train, no persist.
          val rows = chain.load(store, table, v, meta)
            .select(col("id"), col("uv").as("vec"))
          allCache =
            if (nClusters == 1) rows
            else rows.persist(StorageLevel.MEMORY_AND_DISK) // read 2×: train + assign
          val centroids =
            if (nClusters == 1) trivialCentroids(meta(s"${P}dim").toInt)
            else Similarity.trainIvfCentroids(allCache, "vec", nClusters, seed)
          // full-snapshot rewrite from the VISIBLE rows: resets both
          // chain keys — pending tombstones are physically applied here
          // (the retrain-as-fold form of the takedown contract)
          Right((encode(allCache, centroids), meta ++ chain.resetMeta ++ Map(
            s"${P}centroids" -> VectorIndex.encodeMatrix(centroids),
            s"${P}trainedRows" -> total.toString,
            s"${P}appendedSinceTrain" -> "0")))
        }
      }
    }.isRight
    finally if (allCache != null) allCache.unpersist(blocking = false)
  }

  /** Chain + drift maintenance in one idempotent call (the TextIndex
    * [[TextIndex.maintain]] contract): retrain when the append fraction
    * exceeds the policy threshold (a retrain commit IS a full snapshot,
    * so it subsumes compaction), otherwise fold the chain when it
    * exceeds `maxChainLength`; then drop version dirs outside the live
    * chain. Honor consume-before-vacuum: call only after outstanding
    * appends' pair frames are materialized. */
  def maintain(store: SnapshotStore, table: String,
               maxChainLength: Int = 4,
               retrainAppendFraction: Option[Double] = Some(0.5)): Unit = {
    val v = store.currentVersion(table)
    if (v == 0) return
    val retrained =
      retrainAppendFraction.exists(f => retrainIfDrifted(store, table, f))
    if (!retrained) {
      val meta = store.metaForVersion(table, v)
      // pending tombstones fold unconditionally (takedown removal must
      // not wait out maxChainLength; a retrain commit already folded)
      if (chain.chainOf(meta, v).size > maxChainLength ||
          chain.tombsPending(meta)) compactIndex(store, table)
    }
    vacuumIndex(store, table)
  }

  /** Drop version dirs outside the live delta chain. */
  def vacuumIndex(store: SnapshotStore, table: String): Unit =
    store.dropVersions(table,
      store.versions(table).toSet -- chain.liveVersions(store, table))
}
