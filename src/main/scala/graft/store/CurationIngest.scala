package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Dedup, TextFunctions}

/** Near-duplicate regime for [[CurationIngest]] — which persistent index
  * gates the fingerprint survivors. The structural parameters (banding /
  * shingling) are FIXED at [[CurationIngest.init]] time and committed in
  * the index metadata; per-call parameters here must be passed
  * consistently to every ingest (they are code, not metadata — the
  * operator cannot persist a hash function or a threshold policy). */
sealed trait NearDupRegime

/** Hamming-distance gating over a 64-bit SimHash ([[SimHashIndex]]).
  * `hash` maps the text column to the sh64 hash — production
  * [[Dedup.simhash64]]; the md5-portable [[Dedup.simhash64Md5]] for
  * oracle paths — and must be the SAME function at init and every
  * ingest. `expectedCorpus` sizes the pigeonhole banding once for the
  * index's lifetime (see [[SimHashIndex.build]]). */
final case class SimHashRegime(
    hash: Column => Column = Dedup.simhash64(_),
    maxHamming: Int = 6,
    expectedCorpus: Long = 5000000L,
    maxBucketSize: Int = 1000,
    // opt-in append-scan prefilter (SimHashIndex.keyProbeMaxKeys): one
    // extra bounded driver action per ingest batch buys an
    // in-expression index-scan cut — measured 4× on the 5M-doc/100k
    // flagship append; 0 keeps the one-action job budget
    keyProbeMaxKeys: Int = 0) extends NearDupRegime

/** Shingle-Jaccard gating over MinHash-LSH band keys ([[DedupIndex]]). */
final case class MinHashRegime(
    threshold: Double = 0.5,
    shingleN: Int = 3,
    k: Int = 32,
    bands: Int = 16,
    maxBucketSize: Int = 1000,
    // append-scan prefilter (DedupIndex.keyProbeMaxKeys), the MinHash
    // twin of SimHashRegime's: one extra bounded driver action per
    // ingest batch lets the index scan drop every corpus row that
    // cannot share a band bucket with the batch before anything
    // explodes. ON by default — measured 2.4× at the 5M-doc flagship
    // (DedupIndex.DefaultKeyProbeMaxKeys); 0 restores the one-action
    // job budget
    keyProbeMaxKeys: Int = graft.store.DedupIndex.DefaultKeyProbeMaxKeys)
    extends NearDupRegime

/** Embedding-cosine gating over a hyperplane-LSH index ([[EmbedIndex]])
  * — the SEMANTIC near-dup regime (re-worded content token hashes
  * miss). `embed` maps the text column to an embedding vector; default
  * is the hashing-trick embedding (self-contained), production passes a
  * model-computed embedding column through instead. Must be the SAME
  * function at init and every ingest (the same contract as
  * [[SimHashRegime]]'s hash). A degenerate all-zero vector (empty text)
  * produces no pairs — cos is 0 against everything — and the
  * fingerprint stage has already collapsed empty docs to one survivor. */
final case class EmbedRegime(
    embed: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      graft.functions.Featurize.hashEmbedding(_, 64),
    dim: Int = 64,
    threshold: Double = 0.95,
    nTables: Int = 8,
    expectedCorpus: Long = 5000000L,
    maxBucketSize: Int = 2000,
    seed: Long = 42L,
    // opt-in append-scan prefilter (EmbedIndex.keyProbeMaxKeys, r15):
    // drops corpus vectors that cannot share a bucket with the batch
    // BEFORE their wide uv payload enters the key explode. Default 0 —
    // hyperplane bucket spaces are coarse (2^bits per table), so any
    // non-trivial batch touches most buckets and the probe is a
    // measured net cost (EmbedIndex scaladoc); engage only for
    // micro-trickle ingest (nBatch ≪ 2^bits / nTables)
    keyProbeMaxKeys: Int = 0)
    extends NearDupRegime

/** Dedup-on-ingest: the composition of the persistent incremental
  * indexes into ONE operator a curation pipeline calls per micro-batch —
  * fingerprint (exact/reformatting) dedup FIRST, then near-dup gating of
  * only the fingerprint survivors, under the shared exactly-once
  * commit protocol.
  *
  * Running the cheap 16-byte-per-doc fingerprint probe first means an
  * exact duplicate never pays shingling/banding or a band-key index
  * scan — on a crawl batch with the usual 30-50 % exact re-fetch rate
  * that halves the near-dup stage's INPUT (measured: 49.4k of 100k batch docs reach the
  * band-key stage at the 5M-doc flagship, NOTES). Halved input is NOT
  * automatically halved wall-clock: each near-dup append also pays a
  * ~batch-size-independent floor (one columnar scan of the corpus index)
  * plus this operator's second store commit. Measured across FIVE
  * flagship windows (NOTES): the gated path is ~2× slower at 100k-doc
  * batches (median 37 vs 19 s) and near-parity at 500k (38.5 vs
  * 34.5 s) — its wall-time is nearly batch-size-FLAT (constant costs +
  * a halved per-doc stage) while the ungated append grows with the
  * batch, so the wall-clock crossover extrapolates to ~1M-doc batches
  * on the bench host but was not directly measured (one window showed
  * a 1.7× gated win at 500k; it did not reproduce — adjudicated in
  * NOTES). Size micro-batches large if wall-clock is the goal. The
  * composition's durable value is semantic:
  * re-fetches resolve as O(1) fingerprint hits with "exact" lineage
  * instead of surfacing as tens of thousands of spurious J=1.0 LSH
  * pairs that downstream consumers must re-classify.
  *
  * Output: ONE unified lineage frame, one row per batch document:
  * {{{ (id, keep_id, regime) }}}
  *  - `regime = "exact"`: content already seen (whitespace-insensitive
  *    token-sequence match) — keep_id is the content owner (first
  *    arrival; global keep-min under ascending-id arrival);
  *  - `regime = "near"`: content new, but within the near-dup radius of
  *    an earlier-ingested or smaller-id-in-batch survivor — keep_id is
  *    the SMALLEST-id such partner (one-hop resolution: keep_id may
  *    itself be a "near" dup of something older; chain-following —
  *    transitive closure — is deliberately the BATCH operator
  *    `Dedup.clusterKeepMin`'s job, because closure over an unbounded
  *    past is not an O(batch) incremental computation);
  *  - `regime = "new"`: survives both gates — keep_id = id;
  *  - `regime = "contaminated"` (only when a `benchmark` frame is
  *    passed): the document shares a word n-gram with the eval corpus
  *    and was dropped BEFORE either index saw it — keep_id = id, and
  *    nothing of its content is ingested.
  *
  * Partial-failure story (the reason this is an operator and not three
  * calls in a notebook): the two index commits are SEQUENTIAL and each
  * carries its own (streamId, batchId) watermark, so a crash can leave
  * the batch committed to the fingerprint index but not the near-dup
  * index. The operator is IDEMPOTENT under replay of the same
  * (streamId, batchId): a stage whose watermark says "already applied"
  * is recovered READ-ONLY from its committed index
  * ([[FingerprintIndex.resolve]] / `pairsForCommitted`) instead of
  * re-appended, and recovery reproduces the original stage output
  * exactly. Every crash window is therefore safe:
  *  - before the fp commit → replay re-runs both stages live;
  *  - between the commits → replay recovers fp read-only, appends nd;
  *  - after both commits → replay recovers both read-only.
  *  In all three, the returned lineage frame is identical to the
  *  uninterrupted run's (CurationIngestSpec's crash-replay test).
  *  The recovery contract requires replay BEFORE any later batch is
  *  ingested — exactly what the sequential-batchId micro-batch
  *  discipline (foreachBatch + checkpoint) guarantees.
  *
  * Scale shape: stage costs are the per-index append costs (their
  * scaladocs; O(batch) work + one columnar index scan each), composed
  * WITHOUT an extra corpus pass — the only composition overhead is the
  * batch-sized survivor semi-join between the stages and the batch-sized
  * lineage join at the end, both under [[BroadcastGate]].
  *
  * Empty/whitespace-only documents: all share one fingerprint, so at
  * most ONE (the first ever ingested) survives to the near-dup stage;
  * under [[SimHashRegime]] that lone survivor is excluded there (its
  * all-zero vote vector is a degenerate hash) and stays "new".
  *
  * Contract: globally unique ids; one CurationIngest per table-name
  * `prefix`; consume (or materialize) the returned frame before
  * vacuuming either index (same consume-before-vacuum contract as the
  * underlying appends). */
object CurationIngest {

  /** Table names derived from the pipeline prefix. */
  def fpTable(prefix: String): String = s"${prefix}_fp"
  def ndTable(prefix: String): String = s"${prefix}_nd"

  /** Create both indexes EMPTY (idempotent — existing tables are left
    * untouched, so a restarted driver calls this unconditionally).
    * `template` supplies the batch schema; no rows are read. */
  def init(store: SnapshotStore, prefix: String, regime: NearDupRegime,
           template: DataFrame, textCol: String, idCol: String): Unit = {
    val empty = template.limit(0)
    if (!store.exists(fpTable(prefix)))
      FingerprintIndex.build(store, fpTable(prefix), empty, textCol, idCol)
    if (!store.exists(ndTable(prefix))) regime match {
      case r: SimHashRegime =>
        SimHashIndex.build(store, ndTable(prefix),
          empty.select(col(idCol).as("id"), r.hash(col(textCol)).as("sh64")),
          nBlocks = Dedup.simhashAutoBlocks(r.expectedCorpus, r.maxHamming,
            r.maxBucketSize),
          maxHamming = r.maxHamming, maxBucketSize = r.maxBucketSize)
      case r: MinHashRegime =>
        DedupIndex.build(store, ndTable(prefix), empty, textCol, idCol,
          shingleN = r.shingleN, k = r.k, bands = r.bands)
      case r: EmbedRegime =>
        EmbedIndex.build(store, ndTable(prefix),
          empty.select(col(idCol).as("id"), r.embed(col(textCol)).as("vec")),
          r.dim, r.threshold, r.nTables, r.expectedCorpus, r.maxBucketSize,
          r.seed)
    }
  }

  /** Bulk bootstrap for an EXISTING corpus: commit the fingerprint index
    * (keep-min per content) and the near-dup index over the fingerprint
    * SURVIVORS only, computing NO pairs — the pair-free build path of
    * both underlying indexes, for a corpus whose internal duplicates are
    * already resolved (or resolved separately via the batch operators).
    * Subsequent [[ingestBatchOnce]] calls dedup against it incrementally.
    * Use [[init]] instead when everything arrives via appends. */
  def build(store: SnapshotStore, prefix: String, regime: NearDupRegime,
            corpus: DataFrame, textCol: String, idCol: String): Unit = {
    FingerprintIndex.build(store, fpTable(prefix), corpus, textCol, idCol)
    val survivors = corpus.join(
      FingerprintIndex.load(store, fpTable(prefix))
        .select(col("id").as(idCol)),
      Seq(idCol), "left_semi")
    regime match {
      case r: SimHashRegime =>
        SimHashIndex.build(store, ndTable(prefix),
          survivors.filter(size(TextFunctions.tokens(col(textCol))) > 0)
            .select(col(idCol).as("id"), r.hash(col(textCol)).as("sh64")),
          nBlocks = Dedup.simhashAutoBlocks(r.expectedCorpus, r.maxHamming,
            r.maxBucketSize),
          maxHamming = r.maxHamming, maxBucketSize = r.maxBucketSize)
      case r: MinHashRegime =>
        DedupIndex.build(store, ndTable(prefix), survivors, textCol, idCol,
          shingleN = r.shingleN, k = r.k, bands = r.bands)
      case r: EmbedRegime =>
        EmbedIndex.build(store, ndTable(prefix),
          survivors.select(col(idCol).as("id"), r.embed(col(textCol)).as("vec")),
          r.dim, r.threshold, r.nTables, r.expectedCorpus, r.maxBucketSize,
          r.seed)
    }
  }

  /** Ingest one micro-batch through fingerprint → near-dup gating and
    * return the unified lineage frame (id, keep_id, regime) — an EAGER
    * [[EagerCut]] checkpoint: materialized, plan-severed, SELF-CONTAINED
    * (safe to consume even after a vacuum/compaction drops old version
    * dirs) and carrying its measured stats. A local checkpoint's storage
    * is released when the frame is garbage-collected (ContextCleaner);
    * `unpersist` is a harmless no-op. Idempotent: a replayed (streamId,
    * batchId) returns the SAME frame, reconstructed read-only from
    * whichever stages already committed. */
  def ingestBatchOnce(store: SnapshotStore, prefix: String,
                      regime: NearDupRegime, batch: DataFrame,
                      textCol: String, idCol: String,
                      streamId: String, batchId: Long,
                      compactEvery: Int = 8,
                      broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                      benchmark: Option[DataFrame] = None,
                      deconN: Int = 4)
      : DataFrame = {
    val b0 = batch.persist(StorageLevel.MEMORY_AND_DISK)
    // Stage 0 (optional) — benchmark decontamination: docs sharing a
    // word deconN-gram with the eval corpus never enter EITHER index
    // (contaminated content must not be ingested at all); they surface
    // in the lineage as regime = "contaminated", keep_id = id. The gate
    // is read-only and deterministic given the benchmark frame, so it
    // needs no commit and leaves the two-commit crash matrix untouched —
    // the CONTRACT is that a replayed (streamId, batchId) passes the
    // SAME benchmark, so the committed stages see the same clean subset.
    // The contaminated-id count rides the cut (hit-sized; severs the
    // lineage into bench): it only sizes the BroadcastGate below.
    val contaminated: Option[(DataFrame, Long)] = benchmark.map { bench =>
      EagerCut.counted(graft.functions.Dedup
        .benchmarkOverlap(b0, bench, textCol, idCol, deconN, broadcastKeyLimit)
        .select(col(idCol).as("id")))
    }
    val b = contaminated match {
      case None => b0
      case Some((ids, n)) =>
        b0.join(BroadcastGate(ids.select(col("id").as(idCol)), n,
            broadcastKeyLimit), Seq(idCol), "left_anti")
          .persist(StorageLevel.MEMORY_AND_DISK)
    }
    val fpT = fpTable(prefix); val ndT = ndTable(prefix)

    // Stage 1 — exact/reformatting dedup. Replay ⇒ read-only resolution
    // against the committed index (identical frame, see
    // FingerprintIndex.resolve).
    //
    // The stage result is cut (EagerCut), NOT merely cached:
    // a cache dedups EXECUTION but keeps the full logical plan, and this
    // frame feeds every downstream branch (survivor filter, near-dup
    // encode, final lineage join). Spark renders the plan DAG as a TREE
    // (AQE re-renders it on every plan update), so a shared batch-deep
    // subplan under k branches per level costs k^depth string work —
    // measured as MINUTES of pure driver CPU per composed ingest before
    // the cut. The checkpoint replaces the subplan with a leaf over the
    // materialized batch-sized partitions; as a bonus the frames become
    // self-contained (no lineage into snapshot version dirs).
    val fpAppend = FingerprintIndex.appendBatchOnce(store, fpT, b, textCol,
      idCol, streamId, batchId, compactEvery, broadcastKeyLimit)
    // The survivor count rides the checkpoint materialization as an
    // observation (r18): it only sizes the near-dup gates below.
    val fpObs = org.apache.spark.sql.Observation()
    val fpRes = EagerCut(fpAppend
      .getOrElse(FingerprintIndex.resolve(store, fpT, b, textCol, idCol,
        broadcastKeyLimit))
      .observe(fpObs, coalesce(sum(col("is_new").cast("long")), lit(0L))
        .as("nnew")))
    fpAppend.foreach(_.unpersist(blocking = false))

    // Stage 2 — near-dup gating of the fingerprint survivors only (the
    // fingerprint-first saving: exact dups never reach this index).
    val survivorIds = fpRes.filter(col("is_new")).select(col("id"))
    val nSurv = ObservedStats.longMetric(fpObs, survivorIds.count())
    val survivors = b.join(
      BroadcastGate(survivorIds.select(col("id").as(idCol)), nSurv,
        broadcastKeyLimit),
      Seq(idCol), "left_semi")
    // nSurv upper-bounds every near-dup batch (the SimHash path filters
    // empty-token docs below it) — passed as the gate-sizing hint so the
    // index append spends ZERO extra driver actions on sizing (r9
    // verdict item 1: fewer sequential jobs = faster floor AND less
    // variance under host degradation).
    val pairs = regime match {
      case r: SimHashRegime =>
        val hashed = survivors
          .filter(size(TextFunctions.tokens(col(textCol))) > 0)
          .select(col(idCol).as("id"), r.hash(col(textCol)).as("sh64"))
        SimHashIndex.appendBatchOnce(store, ndT, hashed, streamId, batchId,
            compactEvery, broadcastKeyLimit, batchCountHint = Some(nSurv),
            keyProbeMaxKeys = r.keyProbeMaxKeys)
          .getOrElse(SimHashIndex.pairsForCommitted(store, ndT,
            hashed.select(col("id")), broadcastKeyLimit))
      case r: MinHashRegime =>
        DedupIndex.appendBatchOnce(store, ndT, survivors, textCol, idCol,
            streamId, batchId, r.threshold, r.maxBucketSize, compactEvery,
            broadcastKeyLimit, batchCountHint = Some(nSurv),
            keyProbeMaxKeys = r.keyProbeMaxKeys)
          .getOrElse(DedupIndex.pairsForCommitted(store, ndT,
            survivors.select(col(idCol).as("id")), r.threshold,
            r.maxBucketSize, broadcastKeyLimit))
      case r: EmbedRegime =>
        val vecs = survivors.select(col(idCol).as("id"),
          r.embed(col(textCol)).as("vec"))
        EmbedIndex.appendBatchOnce(store, ndT, vecs, streamId, batchId,
            compactEvery, broadcastKeyLimit, batchCountHint = Some(nSurv),
            keyProbeMaxKeys = r.keyProbeMaxKeys)
          .getOrElse(EmbedIndex.pairsForCommitted(store, ndT,
            vecs.select(col("id")), broadcastKeyLimit))
    }

    // Unified lineage. Near keep = smallest-id partner: pairs come
    // ordered (id_a < id_b), so a batch survivor x is "near" iff it
    // appears as id_b — min(id_a) is its one-hop owner. Pair frames are
    // batch-touching by the index contracts, so this group-by is
    // pair-set-sized, not corpus-sized.
    val nearKeep = pairs.groupBy(col("id_b").as("id"))
      .agg(min(col("id_a")).as("near_keep"))
    val gated = fpRes
      .join(BroadcastGate(nearKeep, nSurv, broadcastKeyLimit),
        Seq("id"), "left")
      .select(col("id"),
        when(!col("is_new"), col("keep_id"))
          .when(col("near_keep").isNotNull, col("near_keep"))
          .otherwise(col("id")).as("keep_id"),
        when(!col("is_new"), lit("exact"))
          .when(col("near_keep").isNotNull, lit("near"))
          .otherwise(lit("new")).as("regime"))
    val lineage = EagerCut(contaminated
      .map { case (ids, _) => gated.unionByName(ids.select(col("id"),
        col("id").as("keep_id"), lit("contaminated").as("regime"))) }
      .getOrElse(gated)) // plan-cut + self-contained, see above
    pairs.unpersist(blocking = false)
    if (!(b eq b0)) b.unpersist(blocking = false)
    b0.unpersist(blocking = false)
    lineage
  }

  /** Transitive closure of accumulated one-hop lineage — the periodic
    * COMPACTION that turns [[ingestBatchOnce]]'s one-hop `keep_id` into
    * the canonical owner (the root of the keep chain, always a
    * regime-new/contaminated survivor). Runs over the LINEAGE frame
    * only, never the corpus: closure over an unbounded past is not an
    * O(batch) incremental computation, which is why the ingest operator
    * deliberately emits one hop (scaladoc above) and this op exists as
    * separate maintenance.
    *
    * Input: the union of every ingest's lineage frame —
    * (id, keep_id, …); ids unique, and every non-self keep_id present
    * as an id (true by the operator's contract: a keep is an indexed
    * doc with its own earlier lineage row, or a smaller-id batch
    * survivor in the same frame). A keep_id absent from the frame is
    * treated as a root (its chain cannot be followed further).
    *
    * Semantics — CHAIN closure, not component-min: each dup points to
    * its smallest direct partner, and the closure follows those
    * pointers. This differs from `Dedup.clusterKeepMin`-style connected
    * components when a cluster is connected only through non-descending
    * paths: with pairs (1,4), (2,3), (3,4) arriving in id order, 3's
    * chain is 3→2 (its only smaller partner) even though 3's COMPONENT
    * min is 1 — the chain contract never assigns an owner the document
    * was not transitively compared against, which is the right lineage
    * semantics (CurationIngestSpec pins exactly this divergence). On
    * transitively-closed duplicate sets (cliques, the common near-dup
    * shape) the two coincide.
    *
    * Algorithm: pointer jumping (p ← p∘p) with an eager per-round
    * lineage cut (the connectedComponents discipline — the plan, not
    * the data, is the cost without it). Pointers strictly decrease, so
    * depth-d chains close in ⌈log₂ d⌉ rounds; each round is one
    * lineage-sized hash join whose build side holds only the NON-ROOT
    * rows (the minority at real dup rates). Every other input column
    * rides through unchanged; `keep_id` is replaced by the root. */
  def closeLineage(lineage: DataFrame, maxIter: Int = 30,
                   driverSolveMaxRows: Long =
                     graft.functions.Dedup.DriverSolveMaxEdges): DataFrame = {
    val spark = lineage.sparkSession
    // The emptiness probe rides the initial cut: one job instead of
    // checkpoint + isEmpty.
    val (ptr0, nRows) =
      EagerCut.counted(lineage.select(col("id"), col("keep_id")))
    var ptr = ptr0
    val idType = ptr.schema("id").dataType
    val integralIds = idType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    if (nRows > 0 && nRows <= driverSolveMaxRows && integralIds) {
      // Driver chain-chase fast path (the connectedComponents union-find
      // discipline, r18): the lineage frame is batch-history-sized, not
      // corpus-sized, so at or below the shared gate ONE collect of the
      // checkpointed (id, keep_id) pointers replaces the whole
      // pointer-jump loop. Pointers strictly decrease by the operator
      // contract; a cycle throws the same corrupt-input error the
      // distributed loop's round bound throws. Integral ids round-trip
      // exactly through long; other id types take the loop below.
      // primitive paired-blob collect (r19 — no per-row Row/tuple
      // materialization at the gate ceiling; Dedup.collectLongPairs)
      val blobs = graft.functions.Dedup.collectLongPairs(
        ptr.select(col("id").cast("long"), col("keep_id").cast("long")))
      val nPtr = blobs.iterator.map(_.length / 2).sum
      val keep = new scala.collection.mutable.LongMap[Long]()
      blobs.foreach { blob =>
        var i = 0
        while (i < blob.length) { keep.update(blob(i), blob(i + 1)); i += 2 }
      }
      val root = new scala.collection.mutable.LongMap[Long]()
      def rootOf(x0: Long): Long = root.getOrElse(x0, {
        var x = x0
        val path = scala.collection.mutable.ArrayBuffer.empty[Long]
        while (keep.getOrElse(x, x) != x && !root.contains(x)) {
          path += x
          if (path.length > nPtr)
            throw new IllegalStateException(
              "closeLineage did not converge — the lineage frame has a " +
                "keep_id cycle, which the ingest operator cannot emit " +
                "(pointers strictly decrease); the input is corrupt")
          x = keep(x)
        }
        val r = root.getOrElse(x, x)
        path.foreach(p => root.update(p, r))
        r
      })
      val rows = blobs.iterator.flatMap { blob =>
        Iterator.range(0, blob.length, 2).map { i =>
          org.apache.spark.sql.Row(blob(i), rootOf(blob(i)))
        }
      }.toSeq
      val longSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("keep_id",
          org.apache.spark.sql.types.LongType)))
      val closedPtr = spark.createDataFrame(
          java.util.Arrays.asList(rows: _*), longSchema)
        .select(col("id").cast(idType).as("id"),
          col("keep_id").cast(idType).as("keep_id"))
      val closed = EagerCut(lineage.drop("keep_id").join(closedPtr, Seq("id")))
      ptr.unpersist(blocking = false)
      return closed
    }
    var iter = 0
    var converged = nRows == 0L
    while (!converged && iter < maxIter) {
      // Jump side: keep_id → its own keep, NON-ROOT rows only (a root's
      // jump is the identity, which the coalesce below supplies).
      val jump = ptr.filter(col("id") =!= col("keep_id"))
        .select(col("id").as("keep_id"), col("keep_id").as("jumped"))
      // The changed count rides the round's eager checkpoint as an
      // observation (r18, the connectedComponents discipline): one job
      // per round instead of checkpoint + count.
      val obs = org.apache.spark.sql.Observation()
      val next = EagerCut(ptr
        .join(jump, Seq("keep_id"), "left")
        .select(col("id"),
          coalesce(col("jumped"), col("keep_id")).as("keep_id"),
          col("jumped").isNotNull.as("changed"))
        .observe(obs, coalesce(sum(col("changed").cast("long")), lit(0L))
          .as("nchanged")))
      converged = ObservedStats.longMetric(obs,
        next.filter(col("changed")).count()) == 0L
      // `next` is materialized (eager cut + the count above), so the
      // previous round's checkpoint blocks are dead — release them now
      // instead of pinning ceil(log2 depth) lineage-sized copies in
      // executor storage for the whole op.
      ptr.unpersist(blocking = false)
      ptr = next.select(col("id"), col("keep_id"))
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"closeLineage did not converge in $maxIter rounds — the lineage " +
          "frame has a keep_id cycle, which the ingest operator cannot " +
          "emit (pointers strictly decrease); the input is corrupt")
    // Materialize the joined result, THEN release the final ptr round:
    // returning a lazy frame would pin ptr's checkpoint blocks for as
    // long as the caller holds the result (r10 leaked one lineage-sized
    // cached frame per invocation this way). The returned frame is
    // itself checkpointed — callers holding it long-term should
    // `unpersist()` it when done. NOTE: reliable `checkpoint()` FILES
    // (when a checkpoint dir is set) are not deleted by unpersist and
    // accumulate for the session lifetime; `maintain`'s vacuum step and
    // session teardown are the places to clean the checkpoint dir.
    val closed = EagerCut(lineage.drop("keep_id").join(ptr, Seq("id")))
    ptr.unpersist(blocking = false)
    closed
  }

  /** TAKEDOWN over accumulated lineage — the contract for "a deleted
    * keep-target must not orphan its group" (r18, the lineage half of
    * the index family's tombstone story):
    *
    *  - rows whose `id` is deleted are REMOVED — the document left the
    *    corpus, and a lineage row re-identifying purged content would
    *    defeat the takedown;
    *  - a group whose ROOT survives is untouched;
    *  - a group whose ROOT was deleted PROMOTES its smallest surviving
    *    member: the promoted row becomes its own root with
    *    `regime = "promoted"`, the other survivors re-point to it —
    *    no dangling keep_id remains;
    *  - a group with no survivors disappears entirely.
    *
    * The "promoted" regime is the caller's work list: a promoted doc
    * was DROPPED at its original ingest (only owners' text enters the
    * corpus), so its content must be re-fetched and re-ingested — and
    * the index side cooperates by construction: deleting the old owner
    * freed its fingerprint ([[FingerprintIndex.deleteDocs]]), so the
    * re-ingest resolves NEW under exactly the id the lineage now names
    * as root. Chains are closed first ([[closeLineage]]) so promotion
    * acts on canonical groups; input may be one-hop or already closed.
    *
    * Scale shape: the pointer-jump closure (⌈log₂ depth⌉ lineage-sized
    * joins) + two joins against the DELETE-sized id set + one
    * orphaned-group-sized min aggregate — the corpus never shuffles.
    * Output is EAGER through closeLineage's checkpoint: plan-severed
    * and SELF-CONTAINED; a local checkpoint's storage is released when
    * the frame is garbage-collected (ContextCleaner), and `unpersist`
    * is a harmless no-op. */
  def takedownLineage(lineage: DataFrame,
                      deletedIds: DataFrame): DataFrame = {
    val del = deletedIds.toDF("id").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val closed = closeLineage(lineage)
    // survivors only (deleted members' rows removed)
    val live = closed.join(del, Seq("id"), "left_anti")
    // orphaned groups: root deleted → promote min surviving id
    val promos = live
      .join(del.withColumnRenamed("id", "keep_id"), Seq("keep_id"),
        "left_semi")
      .groupBy(col("keep_id"))
      .agg(min(col("id")).as("_new_root"))
    val out = EagerCut(live
      .join(promos, Seq("keep_id"), "left")
      .withColumn("_promoted", col("_new_root").isNotNull)
      .withColumn("keep_id",
        coalesce(col("_new_root"), col("keep_id")))
      .withColumn("regime",
        when(col("_promoted") && col("id") === col("keep_id"),
          lit("promoted")).otherwise(col("regime")))
      .drop("_new_root", "_promoted"))
    del.unpersist(blocking = false)
    closed.unpersist(blocking = false)
    out
  }

  /** One index table's operational state: committed version, delta-chain
    * fan-in (1 = freshly compacted), live row count, and the last applied
    * batchId per stream (the exactly-once watermarks). */
  final case class IndexTableStats(table: String, version: Long,
                                   chainLength: Int, rows: Long,
                                   lastBatchIds: Map[String, Long])

  /** Operational introspection of the pipeline's two indexes — what an
    * operator dashboards before scheduling compaction/vacuum/
    * [[closeLineage]]: chain fan-in says how overdue compaction is, the
    * watermarks say which micro-batch each index has durably applied (a
    * gap between the two tables = a crash between the commits, repaired
    * by replay), and rows sizes the next append's scan floor.
    * `chainLength` is the read fan-in (data plus pending tombstone
    * members), `rows` the VISIBLE rows. Cost: one count per table;
    * metadata reads are file I/O, no jobs. */
  def stats(store: SnapshotStore, prefix: String): Seq[IndexTableStats] =
    Seq(fpTable(prefix), ndTable(prefix)).map { table =>
      val v = store.currentVersion(table)
      val meta = store.metaForVersion(table, v)
      val (chainLength, rows) =
        if (v == 0) (1, 0L)
        else {
          val chain = ChainedIndex.of(store, table).chain
          (chain.fanIn(meta, v), chain.load(store, table, v, meta).count())
        }
      IndexTableStats(table, v, chainLength, rows, DeltaChain.watermarks(meta))
    }

  /** Thresholds for [[maintain]] — when the operational [[stats]] say a
    * table's delta fan-in has grown past `maxChainLength`, it is folded
    * into a full snapshot (a table with pending tombstones folds
    * whatever its length); `vacuum` then drops the dead version dirs.
    *
    * `vacuum = true` is only safe once every outstanding append's
    * lineage frame has been MATERIALIZED by its consumer (the
    * consume-before-vacuum contract on the whole pipeline): a lazy
    * lineage frame still reads the pre-append snapshot dirs that vacuum
    * deletes. Run with `vacuum = false` from contexts that cannot see
    * their consumers. */
  final case class MaintenancePolicy(maxChainLength: Int = 4,
                                     vacuum: Boolean = true)

  /** What one [[maintain]] invocation did: the tables it folded, whether
    * it vacuumed, and the operational stats before/after (chain fan-in
    * back to 1 for every folded table). */
  final case class MaintenanceReport(compacted: Seq[String], vacuumed: Boolean,
                                     before: Seq[IndexTableStats],
                                     after: Seq[IndexTableStats])

  /** The scheduled-maintenance entry point that CONSUMES [[stats]] — the
    * missing wiring between the pipeline's introspection and its upkeep
    * operators: read both index tables' operational stats, fold any
    * chain at/past `policy.maxChainLength` or with pending tombstones
    * into a full snapshot (amortizing read fan-in the way the
    * per-append compactEvery does, but on an operator's schedule
    * instead of a fixed stride), then chain-aware-vacuum the dead dirs.
    * ([[closeLineage]] stays a separate call: lineage frames live with
    * the ingest's consumer, not in the store — close them where they
    * are accumulated.)
    *
    * Safety: each fold is one atomic version flip (idempotent — a
    * re-run on a compact table is a no-op), vacuum only ever drops dirs
    * outside the live chain, and a crash ANYWHERE between steps leaves
    * every table readable — the next maintain run simply finishes the
    * remaining work. Appends interleaved with maintain serialize under
    * the per-table lock. */
  def maintain(store: SnapshotStore, prefix: String,
               policy: MaintenancePolicy = MaintenancePolicy())
      : MaintenanceReport = {
    val before = stats(store, prefix)
    val compacted = indexes(store, prefix).filter { case (table, index) =>
      // the shared fold policy one member earlier: "at/past
      // maxChainLength" is "past maxChainLength - 1"
      index.foldDue(store, table, policy.maxChainLength - 1) &&
        index.compactIndex(store, table)
    }.map(_._1)
    if (policy.vacuum) vacuum(store, prefix)
    MaintenanceReport(compacted, policy.vacuum, before, stats(store, prefix))
  }

  /** Chain-aware vacuum of both indexes (after the lineage frames of
    * every outstanding append have been consumed — see the
    * consume-before-vacuum contract). */
  def vacuum(store: SnapshotStore, prefix: String): Unit =
    indexes(store, prefix).foreach { case (table, index) =>
      index.vacuumIndex(store, table)
    }

  /** The built index tables, resolved through the marker registry. */
  private def indexes(store: SnapshotStore, prefix: String)
      : Seq[(String, ChainedIndex)] =
    Seq(fpTable(prefix), ndTable(prefix)).filter(store.exists)
      .map(t => t -> ChainedIndex.of(store, t))

  /** Keep the pipeline current from a document stream: each micro-batch
    * runs the full fingerprint → near-dup gate exactly once; its lineage
    * frame goes to `onLineage` (unpersisted after the callback —
    * materialize inside it). Replay safety comes from ingestBatchOnce's
    * idempotence: a restarted query re-delivers the last uncommitted
    * micro-batch and every stage recovers or appends as needed. */
  def maintainFromStream(store: SnapshotStore, prefix: String,
                         regime: NearDupRegime, stream: DataFrame,
                         textCol: String, idCol: String,
                         checkpointDir: String,
                         streamId: String = "curate-inbox",
                         onLineage: (DataFrame, Long) => Unit = (_, _) => ())
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val lineage = ingestBatchOnce(store, prefix, regime, batch,
            textCol, idCol, streamId, batchId)
          try onLineage(lineage, batchId)
          finally lineage.unpersist(blocking = false)
        }
      }
      .start()
}
