package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.util.sketch.BloomFilter

/** The banded-pair skeleton of the three LSH near-duplicate indexes —
  * [[DedupIndex]] (MinHash/Jaccard), [[SimHashIndex]] (Hamming) and
  * [[EmbedIndex]] (hyperplane/cosine) — and of their batch operators
  * (`Dedup.nearDuplicatePairs`, `Dedup.simhashPairsFromHashes`,
  * `Similarity.embeddingNearDupPairs`), written once. A regime
  * ([[BandedPairs.Regime]]) declares its key column and expression, its
  * keys-per-doc bound, its payload, its verifier, its restriction mode
  * and its probe testers; the candidate, verify and recovery paths are
  * this trait's.
  *
  * One append (`vsIndex`, batch b against corpus N): the batch's keys
  * feed the [[LshKeyProbe]] scan prefilter, the committed rows stream
  * through a [[BroadcastGate]] semi-join on the batch's bucket set
  * (keys recomputed in-expression from the stored payload — no corpus
  * shuffle, no stored key column), the survivors union with the batch
  * keys, and the one in-bucket stage ([[BandedPairs.inBucket]]) caps,
  * verifies and dedups; pairs that touch no batch member are dropped
  * (inside the verifier under the `fresh` flag, or by
  * [[BroadcastGate.restrictToTouching]]) and the result is cut.
  * Gate sizing costs no driver action: n docs emit at most
  * n · keysPerDoc distinct keys (an over-estimate only flips broadcast
  * to shuffle, the safe side), and a semi-join's probe side is never
  * `distinct()`ed — it dedups by construction.
  *
  * Contract of every index pair entry point:
  *  - document ids are globally unique across the corpus and all
  *    batches (they are join keys and pair members);
  *  - an append returns every verified pair with at least one member in
  *    the batch, (id_a, id_b, score) with id_a < id_b, EAGER: a
  *    self-contained [[EagerCut]] checkpoint, except the embedding
  *    float path, which returns `Similarity.exactReverify`'s persisted
  *    frame (unpersist it when done, and read it before a vacuum drops
  *    the snapshot dirs its lineage reads);
  *  - incremental ≡ batch: band keys are a pure per-doc function of
  *    committed parameters, so "two docs share a bucket" is
  *    split-independent; an append sees every (corpus ∪ batch) member
  *    of each batch-touched bucket, which covers every pair whose
  *    younger member is in the batch, and pairs between older docs were
  *    emitted by the append that introduced their younger member. For
  *    any split of a corpus into batches the union of the appends' pair
  *    sets equals the batch operator's over the union corpus (the index
  *    specs pin it pair-for-pair);
  *  - cap semantics: a bucket's members are capped in id order (the
  *    bounded heap keeps the maxBucketSize + 1 smallest ids), and a
  *    bucket that reaches maxBucketSize + 1 is dropped whole. Both modes
  *    agree while the FINAL bucket size stays ≤ maxBucketSize; a bucket
  *    that outgrows the cap later is dropped whole by the batch
  *    operator, while the appends already emitted its early pairs — in
  *    that degenerate regime incremental is a superset;
  *  - `forCommitted` is the READ-ONLY recovery twin of an exactly-once
  *    append: the pairs touching `ids`, recomputed from the committed
  *    index alone (the batch's rows are already in it, so its keys and
  *    payload are read back rather than re-derived). It reproduces the
  *    original append's pair set exactly PROVIDED no later batch was
  *    appended in between, which the sequential-batchId streaming
  *    discipline guarantees; per-call parameters must match the
  *    original call;
  *  - `maintainFromStream` appends each micro-batch exactly once and
  *    hands its pairs to `onPairs`; a replayed micro-batch is skipped
  *    entirely, its pairs were already delivered. */
private[store] trait BandedPairs extends ChainedIndex {
  import BandedPairs.Regime

  /** The exactly-once append with its pair result: the batch's
    * encoding commits as a delta ([[ChainedIndex.appendTx]]) and the
    * pairs are computed against the pre-append version. Gate sizing
    * costs at most one narrow count on the persisted encoding — callers
    * that know the batch size (CurationIngest counts its survivors)
    * pass `batchCountHint` and spend none. */
  protected final def appendPairs(store: SnapshotStore, table: String,
                                  once: Option[(String, Long)],
                                  compactEvery: Int, broadcastKeyLimit: Long,
                                  batchCountHint: Option[Long],
                                  keyProbeMaxKeys: Int)
                                 (encode: Map[String, String] => DataFrame)
                                 (regime: Map[String, String] => Regime)
      : Option[DataFrame] =
    appendTx(store, table, once, compactEvery)(encode) { (v, meta, enc) =>
      val r = regime(meta)
      val nBatch = batchCountHint.getOrElse(enc.count())
      (vsIndex(r, chain.load(store, table, v, meta), enc, nBatch,
        keyProbeMaxKeys, broadcastKeyLimit), enc, Map.empty)
    }.map(_._1)

  /** Pairs of the batch encoding `enc` against the committed rows ∪
    * itself (the class doc's append shape). `load` is read after the
    * probe's bounded action. */
  private def vsIndex(r: Regime, load: => DataFrame, enc: DataFrame,
                      nBatch: Long, keyProbeMaxKeys: Int,
                      broadcastKeyLimit: Long): DataFrame = {
    val bound = nBatch * r.keysPerDoc
    val bKeys = r.keyRows(enc)
    val probe = LshKeyProbe(bKeys.select(col(r.part).as("part"), col("bucket")),
      bound, keyProbeMaxKeys, r.probeRescue, r.exactProbe, r.bloomProbe)
    val rows = load
    val idx = probe.fold(rows)(p => rows.filter(p))
    val cKeys = r.keyRows(idx)
      .join(BroadcastGate(bKeys.select(col(r.part), col("bucket")), bound,
        broadcastKeyLimit), Seq(r.part, "bucket"), "left_semi")
    val keys =
      if (r.fresh) cKeys.withColumn("fresh", lit(false))
        .unionByName(bKeys.withColumn("fresh", lit(true)))
      else cKeys.unionByName(bKeys)
    pairsOf(r, keys, enc.select(col("id")), nBatch,
      idx.select(col("id"), col(r.payload))
        .unionByName(enc.select(col("id"), col(r.payload))),
      broadcastKeyLimit)
  }

  /** The recovery twin of [[appendPairs]] (class doc): the pairs
    * touching `ids`, from the committed index alone. */
  protected final def forCommitted(store: SnapshotStore, table: String,
                                   ids: DataFrame, broadcastKeyLimit: Long)
                                  (regime: Map[String, String] => Regime)
      : DataFrame = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    val r = regime(meta)
    val idx = chain.load(store, table, v, meta)
    val (idRows, nIds) = EagerCut.counted(ids.select(col("id")).distinct())
    val batchRows = idx.join(BroadcastGate(idRows, nIds, broadcastKeyLimit),
      Seq("id"), "left_semi")
    val keys = r.keyRows(idx)
      .join(BroadcastGate(r.keyRows(batchRows).select(col(r.part), col("bucket")),
        nIds * r.keysPerDoc, broadcastKeyLimit),
        Seq(r.part, "bucket"), "left_semi")
    // every row comes from the committed index here: freshness is batch
    // membership, tagged through one gated outer join
    val tagged =
      if (!r.fresh) keys
      else keys
        .join(BroadcastGate(idRows.select(col("id"), lit(true).as("fresh_f")),
          nIds, broadcastKeyLimit), Seq("id"), "left_outer")
        .withColumn("fresh", coalesce(col("fresh_f"), lit(false)))
        .drop("fresh_f")
    pairsOf(r, tagged, idRows, nIds, idx.select(col("id"), col(r.payload)),
      broadcastKeyLimit)
  }

  /** The in-bucket stage over touched-bucket key rows, restricted to
    * pairs touching `newIds` (`nIds` of them), then the regime's
    * finish; `payload` (id, payload) covers every member. */
  private def pairsOf(r: Regime, keys: DataFrame, newIds: DataFrame,
                      nIds: Long, payload: DataFrame,
                      broadcastKeyLimit: Long): DataFrame = {
    val pairs = BandedPairs.inBucket(r, keys,
      if (r.fresh) col("fresh") else lit(true))
    r.finish(
      if (r.fresh) pairs
      else BroadcastGate.restrictToTouching(pairs, newIds, nIds,
        broadcastKeyLimit),
      payload, broadcastKeyLimit)
  }
}

private[graft] object BandedPairs {

  /** One near-dup regime under fixed parameters — all an index or a
    * batch operator declares:
    *  - `part`/`keys`: the key-part column ("band" or "table") and the
    *    array<struct<part, bucket>> key expression of a payload column;
    *  - `keysPerDoc`: bounds n docs' distinct keys by n · keysPerDoc;
    *  - `payload`: the stored per-doc column the keys derive from, and
    *    `carry`: whether it rides the key rows into the bucket (false:
    *    the verify looks it up for the candidates only);
    *  - `members`: the bucket-member aggregate, given the fresh flag and
    *    the cap; `verify`: the array of pairs `p` of one bucket's
    *    members; `pairCols`: the columns selected from `p`;
    *  - `fresh`: the restriction mode — true skips corpus-corpus pairs
    *    inside the verifier, false restricts the pairs afterwards
    *    ([[BroadcastGate.restrictToTouching]]);
    *  - `finish`: (restricted pairs, (id, payload) source, broadcast
    *    limit) to the eager result;
    *  - `exactProbe`/`bloomProbe`/`probeRescue`: the [[LshKeyProbe]]
    *    testers over the payload column and the rescue-take ceiling. */
  private[graft] final case class Regime(
      part: String,
      keys: Column => Column,
      keysPerDoc: Long,
      payload: String,
      carry: Boolean,
      maxBucketSize: Int,
      members: (Column, Int) => Column,
      verify: Column => Column,
      pairCols: Seq[Column],
      fresh: Boolean,
      exactProbe: Array[Long] => Column,
      bloomProbe: BloomFilter => Column,
      probeRescue: Long = 0L,
      finish: (DataFrame, DataFrame, Long) => DataFrame = (p, _, _) => EagerCut(p)) {

    /** Key rows (part, bucket, id[, payload]) of `rows` (id, payload),
      * the keys recomputed in-expression from `keySrc`. */
    private[graft] def keyRows(rows: DataFrame,
                               keySrc: Column = col(payload)): DataFrame = {
      val carried = if (carry) Seq(col(payload)) else Nil
      rows.select((col("id") +: carried) :+ explode(keys(keySrc)).as("bk"): _*)
        .select(Seq(col(s"bk.$part").as(part), col("bk.bucket").as("bucket"),
          col("id")) ++ carried: _*)
    }
  }

  /** The one in-bucket stage: a bounded-heap cap at maxBucketSize + 1
    * per (part, bucket) — map-side partials bound every group before
    * the one exchange, and nothing sorts the key stream — then the size
    * filter (a bucket at the cap is dropped whole), the verifier's
    * explode and the cross-bucket dedup (a pair can share several
    * buckets). `fresh` is the flag the members carry; `lit(true)` over
    * a whole corpus. */
  private[graft] def inBucket(r: Regime, keyRows: DataFrame,
                              fresh: Column): DataFrame =
    keyRows.groupBy(col(r.part), col("bucket"))
      .agg(r.members(fresh, r.maxBucketSize + 1).as("members"))
      .filter(size(col("members")).between(2, r.maxBucketSize))
      .select(explode(r.verify(col("members"))).as("p"))
      .select(r.pairCols: _*)
      .dropDuplicates("id_a", "id_b")

  /** Stream wiring of the pair-returning indexes: each non-empty
    * micro-batch goes through `appendOnce` exactly once (None = a
    * replayed batch, whose pairs were already delivered) and its pairs
    * to `onPairs`, unpersisted after the callback returns — materialize
    * inside it. Caller stops the query. */
  private[store] def maintainFromStream(stream: DataFrame, checkpointDir: String,
                                        onPairs: (DataFrame, Long) => Unit)
                                       (appendOnce: (DataFrame, Long) => Option[DataFrame])
      : StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) appendOnce(batch, batchId).foreach { pairs =>
          try onPairs(pairs, batchId)
          finally pairs.unpersist(blocking = false)
        }
      }
      .start()
}
