package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.TextFunctions

/** Persistent fingerprint index — INCREMENTAL exact/reformatting dedup,
  * the cheap front half of dedup-on-ingest (run before the near-dup
  * band-key index: an exact duplicate never needs MinHash verification).
  *
  * One row per DISTINCT fingerprint, carrying the surviving document id:
  * {{{ (fp: long, id: long) }}}
  * where fp = [[TextFunctions.fingerprint]] (xxhash64 of the token
  * sequence — whitespace-insensitive, order-sensitive). The index IS the
  * deduplicated corpus keyed by content: its row count equals the number
  * of distinct texts ever ingested.
  *
  * Append semantics are FIRST-ARRIVAL keep: a batch document whose
  * fingerprint is already indexed is a duplicate of the indexed owner;
  * within a batch the min id per fingerprint survives. When batches
  * arrive in ascending-id order (the normal ingest pattern) this equals
  * the batch operator's global keep-min ([[graft.functions.Dedup
  * .fingerprintGroups]]) — FingerprintIndexSpec pins that equivalence,
  * and the `dedup_incr_fp_oracle` query pins it to DuckDB truth.
  *
  * Scale shape of one append (batch b against corpus N):
  *  - encode: one xxhash64 over the batch tokens — O(b), no corpus CPU;
  *  - collision probe: the batch's fingerprint set (distinct, b-sized)
  *    BROADCASTS (size-gated, [[BroadcastGate]] — a backfill-sized batch
  *    falls back to a plain join and AQE picks the side) into the index
  *    (fp, id) scan — index rows stream
  *    through the hash join, no corpus shuffle; only colliding rows
  *    (≤ b) come back;
  *  - commit: the batch's new-survivor rows as an O(b) [[DeltaChain]]
  *    delta, compacted every `compactEvery` appends, exactly-once via
  *    the shared batch-id watermark discipline.
  *  Honest floor: one columnar scan of the 16-byte index rows per
  *  append — the same amortize-by-batching price as [[DedupIndex]],
  *  ~50× cheaper per row because there are no band keys or shingle
  *  hashes to read.
  *
  * Contract: ids globally unique; fingerprint collisions of distinct
  * token sequences are the usual 2⁻⁶⁴ non-event (same caveat as
  * fingerprintGroups). */
object FingerprintIndex {

  private val P = "fpdedup." // metadata key prefix
  private val chain = new DeltaChain(s"${P}parts")

  private def encode(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      TextFunctions.fingerprint(col(textCol)).as("fp"))

  /** Commit `corpus` (deduplicated keep-min by fingerprint) as version 1
    * of a new index, or a chain-resetting rebuild. Use `corpus.limit(0)`
    * for an empty init when everything arrives via appends. */
  def build(store: SnapshotStore, table: String, corpus: DataFrame,
            textCol: String, idCol: String): Long = {
    val survivors = encode(corpus, textCol, idCol)
      .groupBy(col("fp")).agg(min(col("id")).as("id"))
    store.commit(table, survivors.select(col("fp"), col("id")),
      sortKey = Some("fp"), meta = chain.resetMeta,
      bloomCols = Seq("fp"))
  }

  /** The live index (delta-chain union) as of the current version. */
  def load(store: SnapshotStore, table: String): DataFrame = {
    val v = store.currentVersion(table)
    chain.load(store, table, v, store.metaForVersion(table, v))
  }

  /** The live index reduced to the files that MIGHT contain one of
    * `fps`, probed through the per-file parquet bloom sketches every
    * index commit writes ([[BloomSkip]]) — fingerprints are
    * hash-uniform, so this is the only file-level pruning that can work
    * on them (zone min/max spans the whole domain). Chain members whose
    * every file rejects every probe drop out entirely; files without
    * sketches (pre-bloom commits) are kept. Correctness: the collision
    * probe only cares about index rows whose fp is IN the batch, and a
    * bloom never rejects a present value — the reduced frame contains
    * every row the full scan's semi-join could match. */
  private def bloomPrunedIndex(store: SnapshotStore, table: String, v: Long,
                               meta: Map[String, String],
                               fps: Array[Long]): DataFrame = {
    val spark = store.session
    val frames = chain.chainOf(meta, v).flatMap { cv =>
      val dir = store.versionDirOf(table, cv)
      val (kept, _) = BloomSkip.filesMaybeContaining(dir, "fp", fps)
      if (kept.isEmpty) None
      else Some(cv -> (store.recordedSchema(table, cv) match {
        case Some(sch) => spark.read.schema(sch).parquet(kept.map(_.toString): _*)
        case None      => spark.read.parquet(kept.map(_.toString): _*)
      }))
    }
    // the surviving member frames keep their version pairing so the
    // tombstone visibility rule (DeltaChain.assemble) applies exactly
    // as on the unpruned chain read — a sketch can only skip files
    if (frames.nonEmpty) chain.assemble(store, table, meta, frames)
    else {
      val sch = store.recordedSchema(table, v)
        .getOrElse(store.loadVersion(table, v).schema)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    }
  }

  /** READ-ONLY dedup resolution of `batch` against the live index and
    * itself — exactly what [[appendBatchOnce]] would return, computed
    * without committing anything: (id, keep_id, is_new) with keep_id the
    * index owner of the content if indexed, else the batch keep-min.
    *
    * Two uses: a dry-run "what would this batch dedup to" probe, and
    * REPLAY RECOVERY — after a batch's append has committed, resolving
    * the same batch reproduces the original append's return frame
    * exactly (every batch fingerprint is now indexed and its owner is
    * the keep the append assigned), PROVIDED no later batch was appended
    * in between — guaranteed under the sequential-batchId streaming
    * discipline appendBatchOnce is built for. NOT eager (plain lazy
    * frame — persist it yourself if read more than once). */
  def resolve(store: SnapshotStore, table: String, batch: DataFrame,
              textCol: String, idCol: String,
              broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
              bloomProbeMaxKeys: Int = 0)
      : DataFrame = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    val enc = encode(batch, textCol, idCol)
    // Batch row count bounds the distinct-fingerprint count from above —
    // a NARROW count (one xxhash64 pass), no distinct() exchange.
    val nKeys = enc.count()
    val idx =
      if (bloomProbeMaxKeys > 0 && nKeys <= bloomProbeMaxKeys) {
        val fps = enc.select(col("fp")).distinct().collect().map(_.getLong(0))
        bloomPrunedIndex(store, table, v, meta, fps)
      } else chain.load(store, table, v, meta)
    resolveAgainst(idx, enc, nKeys, broadcastKeyLimit)
  }

  /** The shared dedup-resolution plan: batch-internal keep-min per
    * fingerprint, index owners fetched through a size-gated broadcast
    * collision probe (the corpus side never shuffles below the gate),
    * keep = indexed owner else batch keep-min. `nKeys` drives
    * [[BroadcastGate]] and may be an UPPER BOUND on the batch's distinct
    * fingerprints (the batch row count) — over-estimating only flips a
    * gated broadcast to the safe shuffle fallback. */
  private def resolveAgainst(idx: DataFrame, enc: DataFrame, nKeys: Long,
                             broadcastKeyLimit: Long): DataFrame = {
    def gate(df: DataFrame): DataFrame =
      BroadcastGate(df, nKeys, broadcastKeyLimit)
    val batchKeep = gate(
      enc.groupBy(col("fp")).agg(min(col("id")).as("batch_keep")))
    // The collision probe semi-joins the SAME gated frame the keep join
    // uses (the extra batch_keep column is inert in a semi-join), so the
    // planner's exchange reuse builds ONE broadcast instead of two.
    val owners = idx
      .join(batchKeep, Seq("fp"), "left_semi")
      .select(col("fp"), col("id").as("owner_id"))
    enc
      .join(batchKeep, Seq("fp"))
      .join(gate(owners), Seq("fp"), "left")
      .select(col("id"),
        coalesce(col("owner_id"), col("batch_keep")).as("keep_id"))
      .withColumn("is_new", col("id") === col("keep_id"))
  }

  /** Dedup `batch` against the indexed corpus and itself, append the new
    * survivors, and return one row per batch document:
    * {{{ (id, keep_id, is_new) }}}
    * where keep_id is the surviving owner of the document's content
    * (itself iff is_new) — the lineage a curation pipeline records for
    * every dropped duplicate. EAGER: persisted + materialized before the
    * commit; unpersist when done. Exactly-once via (streamId, batchId):
    * a replayed batch returns None.
    *
    * Consume-before-vacuum: the returned frame's LINEAGE reads the
    * pre-append snapshot dirs, so if cached blocks are evicted AFTER
    * `vacuumIndex`/compaction has dropped those dirs, recomputation
    * fails (FileNotFound). Materialize (write/collect/checkpoint) the
    * result before vacuuming the table.
    *
    * `bloomProbeMaxKeys` > 0 turns on the TRICKLE-append fast path for
    * batches at or under that many rows: the batch's distinct
    * fingerprints are collected (one extra driver action + a
    * batch-sized distinct — the deliberate price) and the collision
    * probe reads only the index files whose bloom sketches might
    * contain one of them ([[bloomPrunedIndex]]) instead of streaming
    * the whole index. O(files) sketch probes replace the O(corpus)
    * scan — the right trade for small batches against a large index;
    * leave 0 (default) for backfill-sized batches, where the
    * broadcast-join scan is the better plan and the append keeps its
    * one-blocking-action budget (AppendJobCountSpec). */
  def appendBatchOnce(store: SnapshotStore, table: String, batch: DataFrame,
                      textCol: String, idCol: String,
                      streamId: String, batchId: Long,
                      compactEvery: Int = 8,
                      broadcastKeyLimit: Long = BroadcastGate.DefaultKeyLimit,
                      batchCountHint: Option[Long] = None,
                      bloomProbeMaxKeys: Int = 0)
      : Option[DataFrame] = {
    var result: Option[DataFrame] = None
    var enc: DataFrame = null
    store.transactMeta[Unit](table, sortKey = Some("fp"),
        bloomCols = Seq("fp")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the fingerprint index before appending " +
            "(FingerprintIndex.build; corpus.limit(0) for an empty init)")
      val meta = store.metaForVersion(table, v)
      val key = s"stream.$streamId.lastBatchId"
      if (batchId <= meta.get(key).map(_.toLong).getOrElse(-1L)) Left(())
      else {
        enc = encode(batch, textCol, idCol)
          .persist(StorageLevel.MEMORY_AND_DISK) // batch-sized, read 4×
        // Collision probe + keep resolution (size-gated broadcasts —
        // the corpus side never shuffles below the gate). Gate sizing is
        // the caller's hint or a NARROW count on the persisted encoding
        // (warms the cache) — never a distinct() exchange; the batch row
        // count upper-bounds the distinct-fp count, which is the safe
        // direction for the gate.
        val nKeys = batchCountHint.getOrElse(enc.count())
        val idx =
          if (bloomProbeMaxKeys > 0 && nKeys <= bloomProbeMaxKeys) {
            val fps = enc.select(col("fp")).distinct()
              .collect().map(_.getLong(0))
            bloomPrunedIndex(store, table, v, meta, fps)
          } else chain.load(store, table, v, meta)
        // No separate materializing count (r18): the commit below writes
        // newSurvivors, which joins against this cached frame — the
        // write action itself populates the cache (filter + projection
        // over an InMemoryRelation materialize full cached batches), so
        // the returned frame is eager by the time the transact returns,
        // one job earlier. It stays a cache, not a checkpoint: a
        // checkpoint would spend its own job on top of the commit's.
        val resolved =
          resolveAgainst(idx, enc, nKeys, broadcastKeyLimit)
            .persist(StorageLevel.MEMORY_AND_DISK)
        result = Some(resolved)
        val newSurvivors = enc
          .join(resolved.filter(col("is_new")).select(col("id")), Seq("id"))
          .select(col("fp"), col("id"))
        Right(chain.next(store, table, v, meta, newSurvivors,
          compactEvery, Map(key -> batchId.toString)))
      }
    }
    // The commit (inside transactMeta) consumed the encoding; the result
    // has its own cache and re-derives enc from `batch` on block loss.
    if (enc != null) enc.unpersist(blocking = false)
    result
  }

  /** TAKEDOWN: delete documents from the fingerprint index — an O(ids)
    * tombstone commit ([[DeltaChain]] epoch rule). A deleted id's
    * fingerprint row goes invisible immediately: the content stops
    * blocking future ingest (a re-ingest of the same text becomes a
    * fresh survivor under its new id — the takedown semantics: the
    * CONTENT left the corpus), and the bytes leave disk at the next
    * fold. Contract note: ids that were resolved as DUPLICATES were
    * never stored here (the index keeps owners only), so deleting an
    * owner removes the fingerprint outright rather than promoting a
    * dropped duplicate — lineage of past resolutions is the caller's
    * record (CurationIngest keeps one). Idempotent. */
  def deleteDocs(store: SnapshotStore, table: String, ids: DataFrame): Long =
    store.transactMeta[Nothing](table, sortKey = Some("id"),
        statsCols = Seq("id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the fingerprint index before deleting " +
            "(FingerprintIndex.build)")
      Right(chain.tombNext(v, store.metaForVersion(table, v), ids.toDF("id")))
    }.merge

  /** [[deleteDocs]] under the exactly-once (streamId, batchId)
    * watermark ([[DeltaChain.tombNextOnce]]'s correctness rationale:
    * a redelivered delete batch would out-epoch rows re-ingested
    * since). Returns true if applied, false on replay. */
  def deleteDocsOnce(store: SnapshotStore, table: String, ids: DataFrame,
                     streamId: String, batchId: Long): Boolean =
    store.transactMeta[Unit](table, sortKey = Some("id"),
        statsCols = Seq("id")) {
      val v = store.currentVersion(table)
      if (v == 0)
        throw new IllegalStateException(
          s"$table: build the fingerprint index before deleting " +
            "(FingerprintIndex.build)")
      chain.tombNextOnce(v, store.metaForVersion(table, v), ids.toDF("id"),
        streamId, batchId)
    }.isRight

  /** On-demand chain fold into a full snapshot (maintenance-triggered;
    * appends also fold themselves every `compactEvery`). Returns true if
    * a compacting commit happened, false if already compact — IDEMPOTENT,
    * and the commit is the store's atomic version flip, so a crash
    * mid-compaction leaves the old chain fully live. */
  def compactIndex(store: SnapshotStore, table: String): Boolean =
    store.transactMeta[Unit](table, sortKey = Some("fp"),
        bloomCols = Seq("fp")) {
      val v = store.currentVersion(table)
      if (v == 0) Left(())
      else chain.compactNow(store, table, v, store.metaForVersion(table, v))
        .toRight(())
    }.isRight

  /** Drop version dirs outside the live delta chain (see
    * VectorIndex.vacuumIndex). */
  def vacuumIndex(store: SnapshotStore, table: String): Unit =
    store.dropVersions(table,
      store.versions(table).toSet -- chain.liveVersions(store, table))
}
