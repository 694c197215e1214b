package graft.store

import org.apache.spark.sql.DataFrame

import graft.functions.Similarity

/** Persistent IVFPQ vector index over the snapshot store — build once,
  * query many, append in O(batch).
  *
  * `sim_ivfpq_topk` retrains its quantizers and re-encodes the corpus on
  * every invocation; at corpus scale those are the expensive parts (one
  * full scan + a driver k-means), while a query batch only needs the
  * encoded lists. Persisting the encoded table turns every later batch
  * into probe-join-only work — the index amortization every production
  * ANN service relies on.
  *
  * Layout: the index is an ordinary store table of
  * (neighbor_id, list_id, codes), snapshot-versioned and sorted within
  * partitions by list_id (row-group stats prune probed lists the way
  * SORTKEY pruned point lookups). The trained parameters — IVF centroids
  * and PQ codebooks — ride in the snapshot METADATA, committed atomically
  * with the data, so an index version is self-contained. Readers resolve
  * ONE version number and take both data and parameters from it, so new
  * codes can never pair with old codebooks.
  *
  * Appends are DELTA versions: the new version directory holds only the
  * encoded batch, and its metadata records the parent version dirs that
  * complete the index (`ivfpq.parts`). N appends therefore cost
  * O(sum of batch sizes), not N full corpus rewrites. Once the chain
  * reaches `compactEvery` members, the next append folds everything into
  * a fresh full snapshot, bounding read fan-in; `vacuumIndex` then drops
  * the dirs outside the live chain. Rebuilds (`build`) are full snapshots
  * — retrain when the data distribution drifts.
  *
  * Takedown, fold and vacuum are the shared [[ChainedIndex]] lifecycle;
  * a takedown keeps the trained centroids/codebooks (they describe the
  * space, not the rows). */
object VectorIndex extends ChainedIndex {

  private val P = "ivfpq." // metadata key prefix
  private[store] val chain = new DeltaChain(s"${P}parts", tombIdCol = "neighbor_id")
  override protected val foldSortKey = "list_id"

  /** Encoding scheme tag. "residual" = IVFADC (codes quantize v − list
    * centroid; scores are cdot + ADC). Indexes built before the residual
    * change carry no tag and CANNOT be scored by this code — mixing raw
    * codes with residual scoring silently corrupts every result, so
    * `query`/`append` refuse and direct the caller to rebuild. */
  private val Scheme = "residual"

  private def requireScheme(meta: Map[String, String], table: String): Unit = {
    val found = meta.getOrElse(s"${P}scheme", "raw")
    if (found != Scheme)
      throw new IllegalStateException(
        s"$table was encoded with scheme '$found' but this library scores " +
          s"'$Scheme' codes — rebuild the index (VectorIndex.build)")
  }

  override private[store] def checkCompatible(meta: Map[String, String],
                                             table: String): Unit =
    requireScheme(meta, table)

  /** Train quantizers, encode the corpus, commit as the next version of
    * `indexTable` (a full snapshot — empty delta chain). Returns the
    * committed version.
    *
    * `corpusTag` is an optional content-version identifier of the corpus
    * the index was BUILT from (e.g. a hash of the source file listing).
    * It rides in the snapshot metadata — atomic with the codes — and
    * survives later appends (store.commit carries meta forward), so a
    * caller can detect that its corpus has drifted from what the index
    * describes and rebuild instead of serving stale codes. Appended
    * vectors deliberately do NOT move the tag: the tag names the
    * training/build corpus, not the index contents. */
  def build(store: SnapshotStore, indexTable: String, corpus: DataFrame,
            idCol: String, vecCol: String, dim: Int,
            nLists: Int = 64, m: Int = 16, kCodes: Int = 16,
            seed: Long = 42L, corpusTag: Option[String] = None): Long = {
    // shared sample draw for both quantizers when the draw sizes agree
    // (Similarity.ivfPqTopK's r19 recipe — bit-identical, one less
    // two-action sampling pass over the corpus)
    val (centroids, codebooks) =
      if (math.max(4096, 32 * kCodes) == 4096) {
        val sample = Similarity.sampleUnitVectors(corpus, vecCol, 4096)
        val cents = Similarity.trainIvfCentroidsFromSample(sample, nLists, seed)
        (cents, Similarity.trainPqCodebooksFromSample(sample, dim, m, kCodes,
          seed, residualOf = Some(cents)))
      } else {
        val cents = Similarity.trainIvfCentroids(corpus, vecCol, nLists, seed)
        (cents, Similarity.trainPqCodebooks(corpus, vecCol, dim, m, kCodes,
          seed, residualOf = Some(cents)))
      }
    val encoded = Similarity.ivfPqEncode(corpus, idCol, vecCol, centroids, codebooks)
    commitBuild(store, indexTable, encoded, Map(
      "dim" -> dim.toString,
      "nLists" -> nLists.toString,
      "m" -> m.toString,
      "kCodes" -> kCodes.toString,
      "scheme" -> Scheme,
      "centroids" -> encodeMatrix(centroids),
      "codebooks" -> encodeCube(codebooks))
      ++ corpusTag.map("corpusTag" -> _))
  }

  /** The corpus content tag recorded when the current index version's
    * lineage was built (None for indexes built without one). */
  def corpusTagOf(store: SnapshotStore, indexTable: String): Option[String] =
    store.metaForVersion(indexTable, store.currentVersion(indexTable))
      .get(s"${P}corpusTag")

  /** Append new vectors to an existing index: encode them with the
    * CURRENT version's trained parameters (no retrain — centroids/codebooks
    * describe the space, not the rows) and commit ONLY the encoded batch
    * as a delta version linking the previous chain. Parameters and chain
    * are read INSIDE the transaction, so a concurrent rebuild cannot swap
    * codebooks between encode and commit; appends serialize under the
    * table lock like every store mutation. Every `compactEvery` chain
    * members the append folds the chain into a full snapshot instead. */
  def append(store: SnapshotStore, indexTable: String, newVectors: DataFrame,
             idCol: String, vecCol: String, compactEvery: Int = 8): Long =
    appendEncoded(store, indexTable, newVectors, idCol, vecCol, None,
      compactEvery).get

  /** Exactly-once streaming append: the same batch-id watermark discipline
    * as the catalog ingest (Mutations.appendBatchOnce) — the last applied
    * batchId rides in the snapshot metadata atomically with the data, so a
    * replayed micro-batch (foreachBatch is at-least-once on restart) is
    * skipped instead of double-appending its vectors. Returns true if
    * applied, false if skipped as a replay. */
  def appendBatchOnce(store: SnapshotStore, indexTable: String,
                      batch: DataFrame, idCol: String, vecCol: String,
                      streamId: String, batchId: Long,
                      compactEvery: Int = 8): Boolean =
    appendEncoded(store, indexTable, batch, idCol, vecCol,
      Some((streamId, batchId)), compactEvery).isDefined

  /** The encoded batch is written once, by the commit: nothing to cache. */
  private def appendEncoded(store: SnapshotStore, indexTable: String,
                            batch: DataFrame, idCol: String, vecCol: String,
                            once: Option[(String, Long)],
                            compactEvery: Int): Option[Long] =
    appendTx(store, indexTable, once, compactEvery, persist = false) { meta =>
      val (centroids, codebooks, _) = trained(meta)
      Similarity.ivfPqEncode(batch, idCol, vecCol, centroids, codebooks)
    } { (_, _, encoded) => ((), encoded, Map.empty) }.map(_._2)

  /** Keep an index current from a stream of vectors: each micro-batch
    * encodes with the live parameters and appends exactly once. Caller
    * stops the query. */
  def maintainFromStream(store: SnapshotStore, indexTable: String,
                         stream: DataFrame, idCol: String, vecCol: String,
                         checkpointDir: String,
                         streamId: String = "vector-inbox")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          appendBatchOnce(store, indexTable, batch, idCol, vecCol,
            streamId, batchId); ()
        }
      }
      .start()

  /** Top-k over the latest committed index version: probe + ADC only — no
    * training, no vector scan.
    *
    * The version is resolved ONCE and both the chain data and the trained
    * parameters are read from it: two independent "latest" reads could
    * straddle a concurrent rebuild and pair one version's PQ codes with
    * another version's codebooks, silently corrupting every ADC score.
    * Version dirs and their meta are immutable, so the single resolution
    * is a consistent lock-free read. */
  def query(store: SnapshotStore, indexTable: String, queries: DataFrame,
            queryIdCol: String, queryVecCol: String,
            k: Int = 10, nProbe: Int = 8): DataFrame =
    queryInternal(store, indexTable, queries, queryIdCol, queryVecCol,
      k, nProbe, roundScore = true)

  /** `roundScore = false` keeps the raw ADC for the refine path — see
    * Similarity.topKPerQuery: the coverage fallback must compare the ADC
    * estimate and the exact dot in ONE unrounded ordering. Score column
    * naming contract across the family: a pure-ADC result ("query"/
    * unrefined pqTopK/ivfPqTopK) names its score "adc" — it IS an
    * estimate, not a cosine; every refined result names it "sim". */
  private def queryInternal(store: SnapshotStore, indexTable: String,
                            queries: DataFrame, queryIdCol: String,
                            queryVecCol: String, k: Int, nProbe: Int,
                            roundScore: Boolean): DataFrame = {
    val v = store.currentVersion(indexTable)
    val meta = store.metaForVersion(indexTable, v)
    requireScheme(meta, indexTable)
    val (centroids, codebooks, kCodes) = trained(meta)
    Similarity.ivfPqScore(chain.load(store, indexTable, v, meta), queries,
      queryIdCol, queryVecCol, centroids, codebooks, k, nProbe, kCodes,
      roundScore)
  }

  /** `query` + exact re-rank (FAISS-style refine): the index's ADC pass
    * shortlists k·refine candidates per query, then the TRUE dot is
    * computed against `corpus` (the original vector table — the index
    * stores only codes, that's its memory win) restricted to the
    * shortlist via broadcast join, and the exact top-k is returned.
    * Within tight clusters ADC noise exceeds the neighbor gaps, so pure
    * code ordering cannot deliver exact-k — codes shortlist, the re-rank
    * ranks. Output matches ivfTopK: (query_id, neighbor_id, sim, rank).
    *
    * Corpus coverage: `corpus` should hold the vector for every index
    * entry, INCLUDING batches added via append/appendBatchOnce after the
    * build — the index stores only codes, so the re-rank can only be
    * exact where the caller supplies the vector. A shortlisted neighbor
    * missing from `corpus` is NOT silently dropped (the failure mode of a
    * plain inner re-join): it stays in the result ranked by its ADC
    * estimate (see Similarity.refineExact), so the query still returns k
    * neighbors and degrades to ADC ordering exactly where coverage ends.
    *
    * `refine` defaults to 128 — from the measured flagship recall curve
    * (see Similarity.ivfPqTopK: refine=32 served 64% recall@10 at the
    * production setting, refine=128 served 100%); the served default
    * must not silently ship a shallow shortlist. */
  def queryRefined(store: SnapshotStore, indexTable: String,
                   corpus: DataFrame, idCol: String, vecCol: String,
                   queries: DataFrame, queryIdCol: String, queryVecCol: String,
                   k: Int = 10, nProbe: Int = 8, refine: Int = 128): DataFrame = {
    val shortlist = queryInternal(store, indexTable, queries, queryIdCol,
      queryVecCol, math.max(k, k * refine), nProbe, roundScore = false)
    Similarity.refineExact(shortlist,
      corpus.select(org.apache.spark.sql.functions.col(idCol).as("neighbor_id"),
        Similarity.unitVector(
          org.apache.spark.sql.functions.col(vecCol)).as("uv")),
      queries, queryIdCol, queryVecCol, k)
  }

  /** Trained parameters recorded in a version's metadata:
    * (centroids, codebooks, kCodes). */
  private def trained(meta: Map[String, String])
      : (Seq[Seq[Double]], Seq[Seq[Seq[Double]]], Int) =
    (decodeMatrix(param(meta, "centroids")),
      decodeCube(param(meta, "codebooks")), param(meta, "kCodes").toInt)

  // ---- metadata (de)serialization: single-line, Double.toString
  // round-trips bit-exactly; ',' components / ';' vectors / '|' subspaces.
  private[graft] def encodeMatrix(mx: Seq[Seq[Double]]): String =
    mx.map(_.mkString(",")).mkString(";")
  private[graft] def decodeMatrix(s: String): Seq[Seq[Double]] =
    s.split(";", -1).toSeq.map(_.split(",", -1).toSeq.map(_.toDouble))
  private[graft] def encodeCube(cube: Seq[Seq[Seq[Double]]]): String =
    cube.map(encodeMatrix).mkString("|")
  private[graft] def decodeCube(s: String): Seq[Seq[Seq[Double]]] =
    s.split("\\|", -1).toSeq.map(decodeMatrix)
}
