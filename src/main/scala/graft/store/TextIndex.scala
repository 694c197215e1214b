package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{Retrieval, TextFunctions}

/** Persistent BM25 text-retrieval index over the snapshot store — build
  * once, query many, append in O(batch). The text-side sibling of
  * [[VectorIndex]] (reference analog: none — its text columns stop at
  * SQL LIKE filters, `lambda/lambda_function.py:520-700`).
  *
  * UNIFIED SOURCE (r17): every serving path here also accepts a
  * [[PhraseIndex]] pos-vb-v2 positional table — its rows are a strict
  * superset of the postings layout — read through a slim projection
  * whose chain never names the position column, so parquet column
  * pruning keeps the payload out of BM25 scans structurally. A corpus
  * that wants both phrase and ranked retrieval builds ONE store
  * (PhraseIndex.build) and maintains one append path and one champion
  * cycle; TextIndex.build remains the slimmer postings-only layout for
  * corpora that will never pay for positions at rest. Writes split by
  * layout: positional tables delegate append/fold/vacuum to
  * PhraseIndex (the owner of the fat rows), postings tables use this
  * object's own chain. TextIndexSpec pins unified ≡ standalone
  * score-for-score across the exact, champion, and MaxScore paths.
  *
  * `Retrieval.bm25TopK` re-tokenizes the corpus on every invocation; at
  * corpus scale that tokenize+explode scan IS the cost (172 s of 177 s
  * in the 5M-doc flagship sweep), while a query batch only needs the
  * postings rows for its own terms. Persisting the postings turns every
  * later query batch into probe-only work — the inverted-index
  * amortization every production text engine (Lucene et al.) relies on.
  *
  * Layout: an ordinary store table of
  * {{{ (term: string, neighbor_id, dl: int, tf: long) }}}
  * — one row per (term, containing doc): term frequency and the doc's
  * token length. Committed sorted within partitions by `term`, so a
  * query-term probe prunes row groups through parquet min/max stats the
  * way SORTKEY pruned point lookups. The corpus-level BM25 statistics —
  * doc count and total token count (avgdl's exact numerator) — ride in
  * the snapshot METADATA, committed atomically with the postings, so an
  * index version is self-contained: readers resolve ONE version and take
  * postings + stats from it, and appended rows can never pair with stale
  * stats. df (docs-per-term) is deliberately NOT stored: scoring only
  * needs df for the query's own terms, and counting it from the probed
  * hit rows is a candidate-sized aggregate on data the query already
  * read — a stored df table would add a per-append vocabulary merge for
  * nothing.
  *
  * Appends are [[DeltaChain]] delta versions (O(batch) write, compacted
  * every `compactEvery`); the metadata stats accumulate exactly
  * (integer adds). One blocking action per append (the batch stats
  * aggregate — it must be exact, it changes scores) + the commit write,
  * the same job budget as the dedup indexes (AppendJobCountSpec).
  *
  * Contract: ids globally unique across build+appends (the curation
  * pipeline's exactly-once ingest provides this) — re-appending an id
  * double-counts its terms. Common-term probes read that term's full
  * postings list (BM25's idf makes them rank-irrelevant but not
  * read-free); block-max/impact-sorted pruning is the engine answer at
  * web scale and out of scope here. */
/** Driver-built (term → value) lookup row for the MaxScore path —
  * query-term-sized, broadcast into the scoring joins. */
private[store] case class UbRow(term: String, value: Double)

object TextIndex {

  private val P = "text." // metadata key prefix (standalone postings)
  private val chain = new DeltaChain(s"${P}parts", tombIdCol = "neighbor_id")

  // ---- unified positional source (r17) ----------------------------
  //
  // A [[PhraseIndex]] pos-vb-v2 table carries (term, doc_id, tf, dl)
  // beside its position payload — a strict superset of the postings
  // layout — so every TextIndex SERVING path also accepts such a table
  // and reads it through the slim projection below. The read chain's
  // canonical columns EXCLUDE `posns`, so parquet column pruning keeps
  // the position bytes out of every BM25 scan structurally (the
  // projection sits under the chain union, not above it). Writes are
  // the split: postings-layout tables append/fold through this
  // object's own chain; positional tables DELEGATE append/fold/vacuum
  // to PhraseIndex (folding through the slim chain would silently drop
  // the positions from the store). The champion cache is TextIndex's
  // own derived table either way — same layout, same text.champ.* keys.

  private val PosP = "phrase." // the positional table's key prefix
  private val posChain = new DeltaChain(s"${PosP}parts",
    Seq("term", "doc_id", "tf", "dl"), // READ-ONLY: never fold through it
    tombIdCol = "doc_id")

  /** Authoritative layout tag, written by EVERY build (both layouts).
    * Load-bearing across IN-PLACE layout migrations: SnapshotStore
    * commits merge metadata over the previous version's, so after
    * "PhraseIndex.build over a former postings table" (or the reverse)
    * BOTH prefixes' keys coexist — sniffing either one would misread
    * the table (r17 review). The current build always overwrites this
    * one key, so it alone says which layout the LATEST rows carry. */
  private[store] val LayoutKey = "graft.text.layout"
  private[store] val LayoutPostings = "postings"
  private[store] val LayoutPositional = "pos-vb-v2"

  /** Is this table a unified positional store? Decided by the
    * authoritative layout key; pre-r17 tables (no key, necessarily
    * single-layout) fall back to the phrase-tokenizer sniff. The
    * layout/tokenizer contract is then enforced by
    * PhraseIndex.requireCompatible — pre-v2 positional tables refuse
    * with the rebuild contract. */
  private def isPositional(meta: Map[String, String]): Boolean =
    meta.get(LayoutKey) match {
      case Some(l) => l == LayoutPositional
      case None =>
        val phrase = meta.contains(s"${PosP}tokenizer")
        // a pre-key table carrying BOTH prefixes' tokenizer tags is an
        // in-place migration committed by code without the layout key —
        // which of the two chains holds the latest rows is UNKNOWABLE
        // from metadata, and guessing wrong serves a stale corpus
        // silently. Refuse; one rebuild stamps the key (r17 review).
        if (phrase && meta.contains(s"${P}tokenizer"))
          throw new IllegalStateException(
            "table carries both postings and positional metadata with " +
              "no authoritative layout key — rebuild the index " +
              "(TextIndex.build or PhraseIndex.build) to stamp one")
        phrase
    }

  /** Key prefix of the SOURCE table's stats/content metadata. */
  private def srcP(meta: Map[String, String]): String =
    if (isPositional(meta)) PosP else P

  /** The source's content counter under the CURRENT layout's prefix —
    * never the other prefix's carried-forward leftover (a migration
    * build bumps its counter past BOTH prefixes' values, see
    * [[crossLayoutContent]], so stale champion caches can never read
    * as fresh across a layout change). */
  private def contentOf(meta: Map[String, String]): Option[String] =
    meta.get(s"${srcP(meta)}contentVersion")

  /** The max content counter across BOTH layout prefixes — what a
    * (re)build must bump past so its counter strictly exceeds anything
    * a champion cache could have been refreshed against, including
    * across an in-place layout migration. */
  private[store] def crossLayoutContent(meta: Map[String, String]): Long =
    math.max(meta.getOrElse(s"${P}contentVersion", "0").toLong,
      meta.getOrElse(s"${PosP}contentVersion", "0").toLong)

  private def srcChain(meta: Map[String, String]): DeltaChain =
    if (isPositional(meta)) posChain else chain

  /** Postings-shaped view of positional rows (column rename + the
    * postings layout's types; cheap casts, exact: dl is a token count,
    * tf a position count). */
  private def asPostings(df: DataFrame): DataFrame =
    df.select(col("term"), col("doc_id").as("neighbor_id"),
      col("dl").cast("int").as("dl"), col("tf").cast("long").as("tf"))

  /** Mode-aware layout/tokenizer gate for every read/serve path. */
  private def requireReadable(meta: Map[String, String], table: String): Unit =
    if (isPositional(meta)) PhraseIndex.requireCompatible(meta, table)
    else requireTokenizer(meta, table)

  /** The live postings-shaped rows of version `v` — chain union,
    * projected when the source is positional. */
  private def srcLoad(store: SnapshotStore, table: String, v: Long,
                      meta: Map[String, String]): DataFrame =
    if (isPositional(meta)) asPostings(posChain.load(store, table, v, meta))
    else chain.load(store, table, v, meta)

  /** Zone-pruned postings-shaped chain read (each member pruned by its
    * own sidecar — both layouts commit term/tf/dl zones). */
  private def srcLoadPruned(store: SnapshotStore, table: String, v: Long,
                            meta: Map[String, String],
                            preds: Seq[ZoneMap.ZonePred],
                            keepFile: (String, Map[String, ZoneMap.Zone]) => Boolean =
                              ZoneMap.KeepAll): DataFrame =
    if (isPositional(meta))
      asPostings(posChain.loadPruned(store, table, v, meta, preds, keepFile))
    else chain.loadPruned(store, table, v, meta, preds, keepFile)

  /** Tokenization contract tag: case-folded whitespace tokens
    * (`TextFunctions.tokens(lower(text))` — the exact recipe
    * `Retrieval.bm25TopK` uses). An index built under a different recipe
    * cannot be queried by this code: term strings would not line up and
    * every score would be silently wrong, so mismatches refuse. */
  private val Tokenizer = "ws-lower"

  private def requireTokenizer(meta: Map[String, String], table: String): Unit = {
    val found = meta.getOrElse(s"${P}tokenizer", "unknown")
    if (found != Tokenizer)
      throw new IllegalStateException(
        s"$table was tokenized with scheme '$found' but this library " +
          s"queries '$Tokenizer' postings — rebuild the index (TextIndex.build)")
  }

  /** IN-TRANSACTION guard for the postings-layout write paths: the
    * layout-delegation decision (append/appendBatchOnce/deleteDocs →
    * PhraseIndex) reads metadata OUTSIDE the table lock, and the
    * tokenizer check alone would still pass after a concurrent
    * in-place postings→positional migration (`text.tokenizer` is
    * carried forward by the commit's meta merge) — a racing writer
    * could then commit slim postings rows onto the stale text.parts
    * chain of a now-positional table, invisible to all serving (r17
    * review). Re-checking the authoritative layout key under the lock
    * turns that silent loss into a retryable refusal; single-writer
    * deployments never hit it. */
  private def requireStillPostings(meta: Map[String, String],
                                   table: String): Unit = {
    if (isPositional(meta))
      throw new IllegalStateException(
        s"$table migrated to the positional layout concurrently — retry " +
          "(the operation will delegate to the positional writer)")
    requireTokenizer(meta, table)
  }

  /** (id, toks) — the shared tokenization. */
  private def tokenized(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("neighbor_id"),
      TextFunctions.tokens(lower(col(textCol))).as("toks"))

  /** Postings rows of a tokenized batch: explode → per-(term, doc) count.
    * Empty-token docs contribute no postings (no terms — correct: they
    * can never match) but DO count in the metadata stats.
    *
    * The explode output is RANGE-partitioned on (term, neighbor_id)
    * before the aggregation: range partitioning on a subset of the
    * grouping keys satisfies the aggregate's clustering requirement, so
    * the groupBy reuses the range exchange (ONE shuffle either way —
    * TextIndexSpec pins the exchange count) and the committed files end
    * up owning disjoint term ranges. That file layout is what makes the
    * per-file term zones ([[ZoneMap]], harvested at commit) selective:
    * hash-partitioned files would each span the whole vocabulary and a
    * term probe could never skip one. */
  private def postingsOf(tok: DataFrame): DataFrame =
    tok.select(col("neighbor_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .repartitionByRange(col("term"), col("neighbor_id"))
      .groupBy(col("term"), col("neighbor_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))

  /** Term-range layout for compaction folds (chain unions lose the
    * per-version range layout; re-establish it when folding). */
  private val termLayout: DataFrame => DataFrame =
    _.repartitionByRange(col("term"), col("neighbor_id"))

  /** (nDocs, sumDl) of a tokenized frame — ONE aggregate action. */
  private def statsOf(tok: DataFrame): (Long, Long) = {
    val r = tok.agg(count(lit(1)).as("n"),
      sum(size(col("toks")).cast("long")).as("sdl")).collect()(0)
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  /** Tokenize + index `corpus`, commit as the next version of
    * `indexTable` (a full snapshot — empty delta chain). Returns the
    * committed version. Use `corpus.limit(0)` for an empty init when
    * everything arrives via appends.
    *
    * `corpusTag` (optional): content-version identifier of the build
    * corpus, rides in the metadata atomically with the postings and
    * survives appends — same drift-detection contract as
    * [[VectorIndex.build]]. */
  def build(store: SnapshotStore, indexTable: String, corpus: DataFrame,
            textCol: String, idCol: String,
            corpusTag: Option[String] = None): Long = {
    // Single-pass stats (r18): nDocs/sumDl ride the postings write as an
    // ObservedStats observation instead of a separate aggregate action.
    // The observed frame stays PERSISTED here (unlike PhraseIndex's
    // hash-partitioned writer): postingsOf range-partitions, and the
    // RangePartitioner's sampling job re-evaluates the child — without
    // the cache the CollectMetrics node would count every row twice
    // (sampling pass + shuffle pass; measured as doubled nDocs in
    // TextIndexSpec). With the cache the sampling pass materializes the
    // observed rows once, the shuffle pass reads the cache above the
    // metrics node, and the separate stats job is still gone.
    val (tok0, obs) = ObservedStats.attach(
      tokenized(corpus, textCol, idCol), size(col("toks")))
    val tok = tok0.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // content counter: bumped past any previous build's — under
      // EITHER layout prefix (commit meta merges over the old
      // version's, so a rebuild, including an in-place migration from
      // the positional layout, must not collide with a champion
      // refresh of the replaced content)
      val prevContent = if (store.exists(indexTable))
        crossLayoutContent(
          store.metaForVersion(indexTable, store.currentVersion(indexTable)))
      else 0L
      store.commit(indexTable, postingsOf(tok), sortKey = Some("term"),
        statsCols = Seq("term", "tf", "dl"),
        meta = chain.resetMeta ++ Map(
          LayoutKey -> LayoutPostings,
          s"${P}tokenizer" -> Tokenizer,
          s"${P}contentVersion" -> (prevContent + 1).toString)
          ++ corpusTag.map(t => s"${P}corpusTag" -> t),
        metaDeferred = () => {
          val (nDocs, sumDl) = ObservedStats.result(obs, statsOf(tok))
          Map(s"${P}nDocs" -> nDocs.toString, s"${P}sumDl" -> sumDl.toString)
        })
    } finally tok.unpersist(blocking = false)
  }

  /** The corpus content tag recorded at build (None if none given) —
    * read under the CURRENT layout's prefix, so a tag carried forward
    * from a build in the OTHER layout never masks drift after an
    * in-place migration (r17 review). */
  def corpusTagOf(store: SnapshotStore, indexTable: String): Option[String] = {
    val meta = store.metaForVersion(indexTable, store.currentVersion(indexTable))
    meta.get(s"${srcP(meta)}corpusTag")
  }

  /** The live postings-SHAPED rows (delta-chain union) as of the
    * current version — for a unified positional table, the slim
    * (term, neighbor_id, dl, tf) projection of it. */
  def load(store: SnapshotStore, indexTable: String): DataFrame = {
    val v = store.currentVersion(indexTable)
    val meta = store.metaForVersion(indexTable, v)
    if (v > 0) requireReadable(meta, indexTable)
    srcLoad(store, indexTable, v, meta)
  }

  /** Corpus-level BM25 statistics of the current version:
    * (nDocs, avgdl). Metadata reads only — zero jobs. */
  def stats(store: SnapshotStore, indexTable: String): (Long, Double) = {
    val meta = store.metaForVersion(indexTable, store.currentVersion(indexTable))
    val pfx = srcP(meta)
    val n = meta.getOrElse(s"${pfx}nDocs", "0").toLong
    val sdl = meta.getOrElse(s"${pfx}sumDl", "0").toLong
    (n, if (n == 0) 0.0 else sdl.toDouble / n)
  }

  /** Append new documents: tokenize the batch, commit ONLY its postings
    * as a delta version, and fold the batch's (docs, tokens) into the
    * metadata stats — read and accumulated INSIDE the transaction, so
    * concurrent appends serialize under the table lock and the stats
    * can never drop a batch. Every `compactEvery` chain members the
    * append folds the chain into a full snapshot instead. */
  def append(store: SnapshotStore, indexTable: String, newDocs: DataFrame,
             textCol: String, idCol: String, compactEvery: Int = 8): Long = {
    // unified positional table: the append must encode positions or the
    // store would silently degrade — delegate to the one writer that
    // owns the layout (same tokenizer contract, same O(batch) shape)
    if (isPositional(store.metaForVersion(indexTable,
        store.currentVersion(indexTable))))
      return PhraseIndex.append(store, indexTable, newDocs, textCol, idCol,
        compactEvery)
    store.transactMetaDeferred[Nothing](indexTable, sortKey = Some("term"),
        statsCols = Seq("term", "tf", "dl")) {
      val v = store.currentVersion(indexTable)
      requireBuilt(v, indexTable)
      val meta = store.metaForVersion(indexTable, v)
      requireStillPostings(meta, indexTable)
      Right(deltaFor(store, indexTable, v, meta, newDocs, textCol, idCol,
        compactEvery, Map.empty))
    }.merge
  }

  /** Exactly-once streaming append — the shared batch-id watermark
    * discipline (see VectorIndex.appendBatchOnce): a replayed
    * micro-batch is skipped instead of double-counting its terms.
    * Returns true if applied, false if skipped as a replay. */
  def appendBatchOnce(store: SnapshotStore, indexTable: String,
                      batch: DataFrame, textCol: String, idCol: String,
                      streamId: String, batchId: Long,
                      compactEvery: Int = 8): Boolean = {
    if (isPositional(store.metaForVersion(indexTable,
        store.currentVersion(indexTable))))
      return PhraseIndex.appendBatchOnce(store, indexTable, batch, textCol,
        idCol, streamId, batchId, compactEvery)
    val metaKey = s"stream.$streamId.lastBatchId"
    store.transactMetaDeferred[Unit](indexTable, sortKey = Some("term"),
        statsCols = Seq("term", "tf", "dl")) {
      val v = store.currentVersion(indexTable)
      requireBuilt(v, indexTable)
      val meta = store.metaForVersion(indexTable, v)
      val last = meta.get(metaKey).map(_.toLong).getOrElse(-1L)
      if (batchId <= last) Left(())
      else {
        requireStillPostings(meta, indexTable)
        Right(deltaFor(store, indexTable, v, meta, batch, textCol, idCol,
          compactEvery, Map(metaKey -> batchId.toString)))
      }
    }.isRight
  }

  /** TAKEDOWN: delete documents from the index without a rebuild — an
    * O(ids) tombstone commit under the [[DeltaChain]] epoch rule (class
    * scaladoc there): every serving path (exact probe, champions via
    * the staleness fallback, MaxScore, block-max file-skip) stops
    * returning the deleted docs immediately, and the bytes physically
    * leave disk at the next fold ([[maintain]] folds a chain with
    * pending tombstones unconditionally). The index-family analog of
    * the base table's M5 hard delete (reference: `DELETE FROM … WHERE
    * s_no`, sql/ddl_create_tables.sql:61-66) — previously the only
    * correct response to a takedown was a full rebuild of every index.
    *
    * `ids` is a single-column frame of document ids (the id type the
    * index was built with). Semantics = rebuild-without-docs: the
    * corpus stats (nDocs, sumDl — every BM25 idf and dl normalization)
    * are adjusted EXACTLY by one visible-row scan inside the
    * transaction, counting each deleted doc once from its postings —
    * so scores after the delete equal a fresh build over the surviving
    * corpus (`retrieve_bm25_deleted` pins it to DuckDB truth).
    * Idempotent: re-deleting an id (or deleting an unknown one) finds
    * no visible rows and adjusts nothing. Deleting a doc whose text
    * tokenized to ZERO tokens leaves nDocs counting it (it has no
    * postings row to witness it) — such a doc can never match a query,
    * and its nDocs slot is reclaimed at the next rebuild.
    *
    * The content counter bumps, so champion/MaxScore caches go STALE
    * and fall back to the exact (tombstone-filtered) probe until the
    * next [[refreshChampions]] — which rebuilds from the visible rows
    * (the incremental merge refuses an anchor older than a pending
    * tombstone, see [[championMergeDelta]]). A reinserted id serves
    * again from its new rows (epoch rule). Returns the committed
    * tombstone version. */
  def deleteDocs(store: SnapshotStore, indexTable: String,
                 ids: DataFrame): Long = {
    if (isPositional(store.metaForVersion(indexTable,
        store.currentVersion(indexTable))))
      return PhraseIndex.deleteDocs(store, indexTable, ids)
    deleteInternal(store, indexTable, ids, None)
    store.currentVersion(indexTable)
  }

  /** [[deleteDocs]] under the exactly-once (streamId, batchId)
    * watermark — the takedown-QUEUE form (see
    * [[DeltaChain.tombNextOnce]]: replay protection is a correctness
    * matter for deletes — a redelivered old delete batch would land at
    * a higher epoch and hide rows re-ingested since). Returns true if
    * applied, false if skipped as a replay. */
  def deleteDocsOnce(store: SnapshotStore, indexTable: String,
                     ids: DataFrame, streamId: String,
                     batchId: Long): Boolean = {
    if (isPositional(store.metaForVersion(indexTable,
        store.currentVersion(indexTable))))
      return PhraseIndex.deleteDocsOnce(store, indexTable, ids, streamId,
        batchId)
    deleteInternal(store, indexTable, ids, Some((streamId, batchId)))
  }

  private def deleteInternal(store: SnapshotStore, indexTable: String,
                             ids: DataFrame,
                             once: Option[(String, Long)]): Boolean = {
    val tombs = ids.toDF("neighbor_id")
    store.transactMetaDeferred[Unit](indexTable, sortKey = Some("neighbor_id"),
        statsCols = Seq("neighbor_id")) {
      val v = store.currentVersion(indexTable)
      requireBuilt(v, indexTable)
      val meta = store.metaForVersion(indexTable, v)
      val replay = once.exists { case (sid, bid) =>
        bid <= meta.get(s"stream.$sid.lastBatchId")
          .map(_.toLong).getOrElse(-1L)
      }
      if (replay) Left(())
      else {
        requireStillPostings(meta, indexTable)
        // ONE visible-row scan feeds the per-doc deleted-TERM sets that
        // ride in the tombstone member (the champion delete-merge's
        // O(tombstone bytes) touched-term discovery) AND — r19, guide
        // §1.2 — the exact stats delta, riding the tombstone write as a
        // CollectMetrics observation instead of a separate persisted
        // aggregate action (PhraseIndex.deleteInternal's recipe). Same
        // arithmetic as the old distinct-(id, dl) aggregate: Σ over docs
        // of (count, sum) over that doc's distinct dl values.
        val perDoc = chain.load(store, indexTable, v, meta)
          .join(tombs, Seq("neighbor_id"))
          .groupBy(col("neighbor_id"))
          .agg(collect_set(col("term")).as("terms"),
            countDistinct(col("dl")).as("_ndl"),
            coalesce(sum_distinct(col("dl").cast("long")), lit(0L)).as("_sdl"))
        val obs = org.apache.spark.sql.Observation()
        val observed = perDoc.observe(obs,
          coalesce(sum(col("_ndl")), lit(0L)).as("n"),
          coalesce(sum(col("_sdl")), lit(0L)).as("sdl"))
        val tombRows = tombs
          .join(observed.select(col("neighbor_id"), col("terms")),
            Seq("neighbor_id"), "left")
          .select(col("neighbor_id"),
            coalesce(col("terms"), array().cast("array<string>"))
              .as("terms"))
        val (rows, commitMeta) = chain.tombNext(v, meta, tombRows,
          once.map { case (sid, bid) =>
            Map(s"stream.$sid.lastBatchId" -> bid.toString)
          }.getOrElse(Map.empty))
        Right((rows, commitMeta, () => {
          val (dDocs, dDl) = ObservedStats.result(obs, {
            // eager fallback (collapsed plan / timeout): the pre-r19
            // separate aggregate over the same visible-row scan
            val r = chain.load(store, indexTable, v, meta)
              .join(tombs, Seq("neighbor_id"))
              .select(col("neighbor_id"), col("dl")).distinct()
              .agg(count(lit(1)),
                coalesce(sum(col("dl").cast("long")), lit(0L)))
              .head()
            (r.getLong(0), r.getLong(1))
          })
          Map(
            s"${P}nDocs" ->
              (meta.getOrElse(s"${P}nDocs", "0").toLong - dDocs).toString,
            s"${P}sumDl" ->
              (meta.getOrElse(s"${P}sumDl", "0").toLong - dDl).toString,
            s"${P}contentVersion" ->
              (meta.getOrElse(s"${P}contentVersion", "0").toLong + 1).toString)
        }))
      }
    }.isRight
  }

  /** Keep the index current from a document stream (see
    * VectorIndex.maintainFromStream). Caller stops the query.
    *
    * `maintainEvery` > 0 runs [[maintain]] after every Nth applied
    * batch (chain fold + champion refresh at `championM` + vacuum) —
    * without it a long-lived stream grows an ever-longer delta chain
    * and, if champions are in use, leaves them permanently stale (each
    * append bumps the postings version). Maintenance failures are
    * logged and swallowed: the appended data is already committed, and
    * a derived structure left stale is the documented safe state. */
  def maintainFromStream(store: SnapshotStore, indexTable: String,
                         stream: DataFrame, textCol: String, idCol: String,
                         checkpointDir: String,
                         streamId: String = "text-inbox",
                         maintainEvery: Int = 0,
                         maxChainLength: Int = 4,
                         championM: Option[Int] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val applied = new java.util.concurrent.atomic.AtomicLong(0L)
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val didApply = appendBatchOnce(store, indexTable, batch, textCol,
            idCol, streamId, batchId)
          if (didApply && maintainEvery > 0 &&
              applied.incrementAndGet() % maintainEvery == 0) {
            try maintain(store, indexTable, maxChainLength, championM)
            catch { case e: Exception =>
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"$indexTable stream maintenance failed (will retry " +
                  s"next cycle): ${e.getMessage}")
            }
          }
        }
      }
      .start()
  }

  private def requireBuilt(v: Long, table: String): Unit =
    if (v == 0)
      throw new IllegalStateException(
        s"$table: build the text index before appending/querying " +
          "(TextIndex.build; corpus.limit(0) for an empty init)")

  /** Delta rows + accumulated stats for one append — shared by append
    * and appendBatchOnce. Runs inside the table transaction.
    *
    * Single-pass stats (r18): the batch's (docs, tokens) ride the delta
    * write as an ObservedStats observation (see [[build]]) — the
    * deferred thunk folds them into the accumulated metadata after the
    * write, so an append costs ONE tokenize pass and zero persists. */
  private def deltaFor(store: SnapshotStore, table: String, v: Long,
                       meta: Map[String, String], newDocs: DataFrame,
                       textCol: String, idCol: String,
                       compactEvery: Int, extraMeta: Map[String, String])
      : (DataFrame, Map[String, String], () => Map[String, String]) = {
    // Persisted for the same reason as [[build]]: postingsOf
    // range-partitions, and without the cache the RangePartitioner's
    // sampling pass would run the metrics node twice (doubled stats).
    // The deferred thunk runs after the commit's write — the one place
    // that can both read the observation and release the cache.
    val (tok0, obs) = ObservedStats.attach(
      tokenized(newDocs, textCol, idCol), size(col("toks")))
    val tok = tok0.persist(StorageLevel.MEMORY_AND_DISK)
    // appends bump the CONTENT counter; pure compaction/vacuum do not —
    // champion freshness rides on content, not the version number
    val content = meta.getOrElse(s"${P}contentVersion", "0").toLong + 1
    val (rows, nextMeta) =
      chain.next(store, table, v, meta, postingsOf(tok), compactEvery,
        extraMeta + (s"${P}contentVersion" -> content.toString),
        layout = termLayout)
    (rows, nextMeta, () => {
      try {
        val (bDocs, bDl) = ObservedStats.result(obs, statsOf(tok))
        Map(
          s"${P}nDocs" -> (meta.getOrElse(s"${P}nDocs", "0").toLong + bDocs).toString,
          s"${P}sumDl" -> (meta.getOrElse(s"${P}sumDl", "0").toLong + bDl).toString)
      } finally tok.unpersist(blocking = false)
    })
  }

  /** BM25 top-k over the latest committed index version: term probe +
    * candidate-sized scoring only — no corpus tokenization.
    *
    * The version is resolved ONCE and postings + stats both come from it
    * (two independent "latest" reads could straddle a concurrent append
    * and score new postings against old avgdl). `queries` must be small
    * (its term set is collected AND broadcast): the collected term list
    * becomes an `IN` predicate that pushes down to the parquet postings
    * scan, where the term sort order turns row-group min/max stats into
    * real pruning — the broadcast-join form would filter post-scan.
    *
    * Ranking parity: feeds the probed postings into the same
    * `Retrieval.bm25Score` tail as the scan path over the same exact
    * stats (sumDl/nDocs ≡ avg over int sizes — both exact in a Double),
    * so indexed ≡ unindexed score-for-score, not just rank-for-rank
    * (RetrievalSpec pins exact equality; `retrieve_bm25_indexed` pins
    * the ranking to DuckDB truth).
    *
    * Returns (query_id, neighbor_id, score, rank), rank 1..k,
    * (score desc, id asc). */
  def query(store: SnapshotStore, indexTable: String, queries: DataFrame,
            queryIdCol: String, queryTextCol: String,
            k: Int = 10, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val v = store.currentVersion(indexTable)
    requireBuilt(v, indexTable)
    val meta = store.metaForVersion(indexTable, v)
    requireReadable(meta, indexTable)
    val pfx = srcP(meta)
    val nDocs = meta.getOrElse(s"${pfx}nDocs", "0").toLong
    val sumDl = meta.getOrElse(s"${pfx}sumDl", "0").toLong
    val avgdl = if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs
    val qIdType = queries.schema(queryIdCol).dataType
    val postings = srcLoad(store, indexTable, v, meta)
    if (nDocs == 0L || avgdl <= 0.0)
      // empty index (or all-empty docs): nothing can match
      return Retrieval.emptyRanked(queries.sparkSession, qIdType,
        postings.schema("neighbor_id").dataType)
    // ONE bounded collect of the (query_id, term) pairs feeds BOTH the
    // term probe (zone preds + pushed isin) and the scoring tail's
    // query side, rebuilt as a LocalRelation (r19, guide §1.2 — the
    // queryMaxScore one-collect discipline): the query subtree is
    // evaluated once instead of once per consumer.
    val qPairs = queries
      .select(col(queryIdCol).as("query_id"),
        explode(array_distinct(TF.tokens(lower(col(queryTextCol))))).as("term"))
      .collect()
    if (qPairs.isEmpty)
      return Retrieval.emptyRanked(queries.sparkSession, qIdType,
        postings.schema("neighbor_id").dataType)
    val terms = qPairs.map(_.getString(1)).distinct.toSeq
    val qSide = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(qPairs: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", qIdType),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType))))
    // Two pruning layers share the term probe: the zone map drops whole
    // chain files whose [min,max] term range misses every query term
    // (term-sorted layout → tight zones; no footer is even opened), and
    // the residual isin prunes row groups inside the survivors. Results
    // ≡ the plain isin over the full chain (DeltaChain.loadPruned
    // contract); RetrievalSpec pins indexed ≡ scan score-for-score.
    val hits = srcLoadPruned(store, indexTable, v, meta,
      Seq(ZoneMap.stringIn("term", terms)))
    Retrieval.bm25Score(hits, queries, queryIdCol, queryTextCol,
      nDocs, avgdl, k, k1, b, qSideOpt = Some(qSide))
  }

  // ---- champion lists: top-docs pruning for common-term probes ----

  /** Clamp bound for the packed champion ordering: dl is clamped to
    * 2^21-1 (~2M tokens) inside the selection key AND the stored
    * champion rows, on BOTH engines (the oracle uses
    * `least(dl, 2097151)`) — exact for any real document, and it keeps
    * tf*2^21 - dl integer-exact in a Double (max 2^42 < 2^53). */
  private val DlClamp = (1 << 21) - 1
  private val ChampC = (DlClamp + 1).toDouble // 2^21 as the pack radix

  private def champTable(indexTable: String) = s"${indexTable}__champ"

  /** Rebuild the champion acceleration table for the CURRENT postings
    * version: per term, the top-`m` postings under the deterministic
    * impact proxy (tf desc, min(dl, 2^21-1) asc, neighbor_id asc) — a
    * monotone stand-in for the per-term BM25 contribution (score rises
    * with tf, falls with dl) that is pure integer math, so the DuckDB
    * oracle replicates the selection EXACTLY — plus the term's TRUE df,
    * denormalized onto each champion row.
    *
    * Champions are a DERIVED, rebuildable cache, deliberately NOT
    * maintained by appends: an append bumps the postings version, the
    * version tag recorded here goes stale, and [[queryChampions]]
    * detects the mismatch and falls back to the exact probe until the
    * next refresh (the [[maintain]] policy's job). That one rule removes
    * every crash/concurrency hazard a write-path champion merge would
    * carry — a half-written refresh is just "stale", never wrong.
    *
    * Scale shape: ONE pass over the postings chain; the per-term top-m
    * is the bounded k-heap aggregate (map-side slices reduce to ≤ m rows
    * per term BEFORE the exchange), never a per-term window sort — the
    * stop-word term whose postings list is 20% of the corpus would
    * otherwise sort in a single task. df rides in the same aggregate for
    * free. The champion table is committed term-sorted with term zones,
    * so a query-term probe prunes files exactly like the postings probe.
    *
    * INCREMENTAL refresh (r15): when the previous champion table is
    * reusable — same `m`, carries the bounds columns, and the postings
    * version it was built for is still a PREFIX of the current delta
    * chain (no compaction in between) — only the postings appended
    * since then are aggregated and merged into it, instead of
    * re-scanning the full postings chain. The merge is EXACT, not
    * approximate ([[TextIndexSpec]] pins merge ≡ rebuild row-for-row):
    *  - per-term top-m is mergeable: postings are append-only (ids are
    *    globally unique by the index contract), so any posting in the
    *    union's top-m is either in the old top-m or in the delta;
    *  - df is additive over disjoint postings; max_tf / min_dl are
    *    monotone under union;
    *  - the packed selection order is recomputed from the STORED
    *    champion (tf, dl) — dl was stored clamped, and the pack clamps,
    *    so old rows re-rank exactly as they ranked at selection time.
    * A compaction between refreshes collapses the chain to one full
    * snapshot, the delta is no longer recoverable, and the refresh
    * falls back to the full rebuild — stale-safety is unchanged either
    * way (`text.champ.mode` in the committed metadata records which
    * path ran, for observability and the spec).
    *
    * DELETE-MERGE (r18): when TOMBSTONES landed since the anchor (a
    * takedown — the append-only premise above is broken: the old top-m
    * may hold now-hidden docs and the stored df overstates), the
    * refresh no longer falls back to the full rebuild. It re-selects
    * exactly the TOUCHED terms — the deleted docs' terms plus any
    * appended delta's terms, an over-approximation by construction —
    * from the VISIBLE postings (zone-pruned `term IN`; takedowns
    * touching more than [[TouchedZoneCap]] terms demote to the rebuild,
    * whose read they would match anyway), each recomputed term
    * therefore identical to what a rebuild would select, while
    * UNTOUCHED terms provably keep their anchor-time entries (no delta
    * row and no hidden row carries them, so their visible postings are
    * unchanged). Touched terms whose every posting vanished commit a
    * df = 0 MARKER row that wins the last-writer-wins resolution and
    * is filtered at every read — without it an older member's stale
    * entry would resurrect deleted docs. Cost: one slim (term, id)
    * chain scan to find the touched terms + a touched-restricted
    * re-selection — O(touched vocab), not O(vocab); the win grows with
    * vocabulary (bm25_bigvocab_delete_merge measures it at a 500k-term
    * vocabulary, where a takedown touches a few thousand terms).
    *
    * DELTA-CHAINED champion commits (r16 — closing r15's recorded
    * "honest scale note"): a merge-mode refresh no longer rewrites the
    * full O(vocab·m) champion table; it commits ONLY the merged rows of
    * the delta-TOUCHED terms as a new champion chain member
    * (`text.champ.parts`, committed oldest → newest). Chain semantics
    * are LAST-WRITER-WINS PER TERM, not union: every member carries the
    * COMPLETE merged top-m + stats for each term it holds, so the
    * newest member holding a term owns it and untouched terms resolve
    * from older members ([[resolveChamps]]). Refresh write cost is now
    * O(touched-vocab·m) — proportional to the delta, not the
    * vocabulary. What chaining costs is serve-side read fan-in: every
    * champion probe reads ≤ chainLen members (term-zone-pruned, so
    * probe rows stay ≤ |query terms|·m·chainLen) plus one
    * candidate-sized resolve exchange; [[maintain]] bounds chainLen by
    * folding the champion chain ([[compactChampions]]) and a refresh
    * self-folds past `champCompactEvery` members, the postings chain's
    * own discipline. Rebuild-mode refreshes commit a full snapshot
    * (empty parts), resetting the chain.
    *
    * Returns the committed champion-table version. */
  def refreshChampions(store: SnapshotStore, indexTable: String,
                       m: Int = 1024, champCompactEvery: Int = 8): Long = {
    require(m > 0, s"champion list size must be positive, got $m")
    val v = store.currentVersion(indexTable)
    requireBuilt(v, indexTable)
    val meta = store.metaForVersion(indexTable, v)
    requireReadable(meta, indexTable)
    val ct = champTable(indexTable)
    // The champion chain parts are read and committed under the champion
    // table's lock (the DeltaChain discipline: a chain read taken before
    // locking is invalidated by a concurrent commit).
    var dAgg: DataFrame = null // persisted delta aggregate (read 2×)
    var touchedP: DataFrame = null // persisted touched terms (read 3×)
    try {
      store.transactMeta[Nothing](ct, sortKey = Some("term"),
          statsCols = Seq("term")) {
        val cv = store.currentVersion(ct)
        val cmeta = store.metaForVersion(ct, cv)
        val freshMeta = Map(
          s"${P}champ.forVersion" -> v.toString,
          s"${P}champ.m" -> m.toString,
          s"${P}tokenizer" -> Tokenizer)
          // the freshness tag (see freshAt): champions stay valid across
          // pure compactions, which rewrite representation, never rows.
          // The champion table's own keys are text.champ.* whatever the
          // source layout; the content value comes from whichever
          // counter the source maintains.
          .++(contentOf(meta).map(c => s"${P}champ.forContent" -> c))
        def chained(touchedRows: DataFrame, touchedTerms: DataFrame,
                    mode: String): (DataFrame, Map[String, String]) = {
          val chainNow = champChainOf(cmeta, cv)
          if (chainNow.length >= champCompactEvery) {
            // self-fold: touched rows ∪ resolved untouched rest (marker
            // rows dropped — a fold is a full snapshot, so a vanished
            // term is simply absent), committed with empty parts
            val untouched = resolveChamps(champMembers(store, ct, cv, Nil))
              .filter(col("df") > 0)
              .join(touchedTerms, Seq("term"), "left_anti")
            (champLayout(touchedRows.filter(col("df") > 0)
              .unionByName(untouched)),
              freshMeta ++ Map(s"${P}champ.mode" -> mode, ChampParts -> ""))
          } else
            (touchedRows, freshMeta ++ Map(s"${P}champ.mode" -> mode,
              ChampParts -> chainNow.mkString(",")))
        }
        Right(championRefreshPlan(store, indexTable, ct, v, meta, m) match {
          case ChampAppendMerge(delta) =>
            dAgg = champSelect(delta, m)
              .persist(StorageLevel.MEMORY_AND_DISK)
            val (touchedRows, touchedTerms) =
              mergeChampions(store, ct, cv, dAgg, m)
            chained(touchedRows, touchedTerms, "merge")
          case ChampDeleteMerge(touched0) =>
            touchedP = touched0.persist(StorageLevel.MEMORY_AND_DISK)
            val local = touchedP.limit(TouchedZoneCap + 1).collect()
            if (local.length > TouchedZoneCap) {
              // jumbo takedown (touched > TouchedZoneCap terms): the
              // touched-restricted re-selection would read most of the
              // postings anyway without the zone skip (measured at the
              // bigvocab flagship: 67k touched of 500k vocab made the
              // semi-join variant's read ≈ the rebuild's while still
              // paying the touched-term discovery scan) — the rebuild
              // reads the same data once and leaves the clean full
              // snapshot. Demote.
              (champLayout(unpackChamps(champSelect(
                srcLoad(store, indexTable, v, meta), m))),
                freshMeta ++ Map(s"${P}champ.mode" -> "rebuild",
                  ChampParts -> ""))
            } else {
              // zone-pruned term-restricted re-selection of exactly the
              // touched terms from the visible postings
              val visTouched = srcLoadPruned(store, indexTable, v, meta,
                Seq(ZoneMap.stringIn("term",
                  local.map(_.getString(0)).toSeq)))
              dAgg = champSelect(visTouched, m)
                .persist(StorageLevel.MEMORY_AND_DISK)
              val rows = unpackChamps(dAgg)
              // touched terms with NO surviving postings get a MARKER
              // row (df = 0): it wins the last-writer-wins resolution
              // for the term and every reader filters df > 0, so the
              // vanished term serves nothing — without it the term's
              // stale entry in an older member would resurrect deleted
              // docs
              val idType = rows.schema("neighbor_id").dataType
              val markers = touchedP
                .join(dAgg.select(col("term")), Seq("term"), "left_anti")
                .select(col("term"), lit(0L).as("df"), lit(0L).as("max_tf"),
                  lit(0).as("min_dl"),
                  lit(null).cast(idType).as("neighbor_id"),
                  lit(0).as("dl"), lit(0L).as("tf"))
              chained(rows.unionByName(markers), touchedP, "delete-merge")
            }
          case ChampRebuild =>
            (champLayout(unpackChamps(champSelect(
              srcLoad(store, indexTable, v, meta), m))),
              freshMeta ++ Map(s"${P}champ.mode" -> "rebuild",
                ChampParts -> ""))
        })
      }.merge
    } finally {
      if (dAgg != null) dAgg.unpersist(blocking = false)
      if (touchedP != null) touchedP.unpersist(blocking = false)
    }
  }

  /** Touched-term sets at/below this collect to the driver and the
    * delete-merge re-selects them through a zone-pruned `term IN (…)`
    * scan (20k terms ≈ a few hundred KB of strings); a takedown
    * touching MORE terms demotes to the full rebuild — measured at the
    * bigvocab flagship, the over-cap variant's read matched the
    * rebuild's while still paying the touched-discovery scan, so past
    * this point the rebuild's clean full snapshot wins outright. */
  private val TouchedZoneCap = 20000

  // ---- champion delta chain (last-writer-wins per term) -----------

  private val ChampParts = s"${P}champ.parts"

  /** Champion chain members of champion-table version `cv`, committed
    * oldest → newest (the DeltaChain parts convention; pre-chain
    * tables — no parts key — resolve to the single member `cv`). */
  private def champChainOf(cmeta: Map[String, String], cv: Long): Seq[Long] =
    cmeta.get(ChampParts).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.toLong)).getOrElse(Seq.empty) :+ cv

  /** Term-zone-pruned scans of every chain member, oldest → newest. */
  private def champMembers(store: SnapshotStore, ct: String, cv: Long,
                           preds: Seq[ZoneMap.ZonePred]): Seq[DataFrame] =
    champChainOf(store.metaForVersion(ct, cv), cv)
      .map(mv => ZoneMap.prunedScanAt(store, ct, mv, preds))

  /** Resolve champion chain members under last-writer-wins-per-term: a
    * member carries the complete merged rows for every term it holds,
    * so the term's owner is the NEWEST member holding it. One unordered
    * per-term max-ordinal window — no sort; probe-side inputs are
    * query-term-sized, fold-side inputs are the vocab·m·chainLen rows a
    * fold must read anyway. */
  private def resolveChamps(members: Seq[DataFrame]): DataFrame =
    if (members.lengthCompare(1) == 0) members.head
    else {
      val tagged = members.zipWithIndex
        .map { case (df, i) => df.withColumn("_ord", lit(i)) }
        .reduce(_ unionByName _)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("term"))
      tagged.withColumn("_mx", max(col("_ord")).over(w))
        .filter(col("_ord") === col("_mx")).drop("_ord", "_mx")
    }

  /** The resolved champion rows serving version `cv`, optionally
    * term-pruned (each member pruned by its own zone sidecar). df = 0
    * MARKER rows (a delete-merge's vanished-term tombstones — they win
    * the per-term resolution so an older member's stale entry cannot
    * resurrect deleted docs) are filtered AFTER the resolve; real
    * champion rows always have df ≥ 1. */
  private def champRowsAt(store: SnapshotStore, ct: String, cv: Long,
                          preds: Seq[ZoneMap.ZonePred] = Nil): DataFrame =
    resolveChamps(champMembers(store, ct, cv, preds))
      .filter(col("df") > 0)

  /** The CURRENT resolved champion table — the external read surface
    * (specs, diagnostics): chain members resolved last-writer-wins per
    * term. Requires a committed champion table. */
  def loadChampions(store: SnapshotStore, indexTable: String): DataFrame = {
    val ct = champTable(indexTable)
    val cv = store.currentVersion(ct)
    require(cv > 0, s"$ct: no committed champion table " +
      "(TextIndex.refreshChampions)")
    champRowsAt(store, ct, cv)
  }

  /** Term-range layout for champion folds/rebuilds (chain unions and
    * resolve exchanges lose it; deltas inherit the aggregate's hash
    * layout — their per-file term zones are weaker until the next fold,
    * which is the same trade the postings deltas make). */
  private val champLayout: DataFrame => DataFrame =
    _.repartitionByRange(col("term"))

  /** Fold the champion delta chain into one full snapshot (resolved
    * rows, empty parts, term-range layout) — representation only, never
    * rows, so freshness metadata is carried forward untouched by the
    * commit merge. Idempotent: false when already a single member. */
  def compactChampions(store: SnapshotStore, indexTable: String): Boolean = {
    val ct = champTable(indexTable)
    store.transactMeta[Unit](ct, sortKey = Some("term"),
        statsCols = Seq("term")) {
      val cv = store.currentVersion(ct)
      if (cv == 0) Left(())
      else {
        val cmeta = store.metaForVersion(ct, cv)
        if (champChainOf(cmeta, cv).length <= 1) Left(())
        else Right((champLayout(champRowsAt(store, ct, cv)),
          Map(ChampParts -> "")))
      }
    }.isRight
  }

  /** Champion freshness against postings version `v` — fresh iff the
    * champion table was refreshed against the postings CONTENT now
    * current. Content is a monotone `text.contentVersion` counter that
    * build initializes (past any replaced build's) and every append
    * bumps, but pure compaction/vacuum do NOT: folding the chain
    * rewrites the representation, never the rows, so champions keep
    * serving across maintenance folds instead of being rebuilt every
    * cycle (r15; the tag was previously the version number, which a
    * fold bumps). Pre-content-tag tables/champions fall back to the
    * version-number comparison — conservative, never wrong. */
  private def freshAt(store: SnapshotStore, indexTable: String, v: Long,
                      ct: String, cv: Long): Boolean =
    cv > 0 && {
      val cmeta = store.metaForVersion(ct, cv)
      (cmeta.get(s"${P}champ.forContent"),
        contentOf(store.metaForVersion(indexTable, v))) match {
        case (Some(fc), Some(pc)) => fc == pc
        case _ => cmeta.get(s"${P}champ.forVersion").contains(v.toString)
      }
    }

  /** Per-term champion aggregate over postings-shaped rows
    * (term, neighbor_id, dl, tf): one pass, bounded k-heap per term
    * (never a per-term window sort), df + score-bound stats riding in
    * the same aggregate. */
  private def champSelect(postings: DataFrame, m: Int): DataFrame =
    postings
      .groupBy(col("term"))
      .agg(graft.plans.TopKAggregate
             .boundedTopK(col("neighbor_id"), packedImpact, m).as("ch"),
           count(lit(1)).as("df"),
           // per-term score-bound stats for [[queryMaxScore]]: the BM25
           // per-posting contribution is increasing in tf and decreasing
           // in dl, so impact(max_tf, min_dl) dominates every posting of
           // the term under ANY (k1, b, avgdl) — harvested here because
           // this is the one postings pass the maintenance cycle already
           // pays, and staleness inherits the champion freshness rule
           // (forVersion) for free
           max(col("tf")).as("max_tf"),
           min(col("dl")).as("min_dl"))

  /** packed = tf*2^21 - min(dl, 2^21-1): (score desc, id asc) in the
    * heap ≡ (tf desc, clamped dl asc, id asc). Integer-exact double. */
  private def packedImpact: org.apache.spark.sql.Column =
    col("tf").cast("double") * ChampC -
      least(col("dl"), lit(DlClamp)).cast("double")

  /** Unpack a [[champSelect]]-shaped frame (term, df, max_tf, min_dl,
    * ch) into champion-table rows. Exact: packed+2^21-1 < 2^53 and
    * /2^21 only shifts the exponent, so tf = floor((packed+2^21-1)/2^21)
    * and dl = tf*2^21 - packed recover the selection inputs. */
  private def unpackChamps(agg: DataFrame): DataFrame =
    agg
      .select(col("term"), col("df"), col("max_tf"), col("min_dl"),
        explode(col("ch")).as("c"))
      .withColumn("tf",
        floor((col("c.score") + DlClamp.toDouble) / ChampC).cast("long"))
      .select(col("term"), col("df"), col("max_tf"), col("min_dl"),
        col("c.neighbor_id").as("neighbor_id"),
        (col("tf") * ChampC.toLong - col("c.score").cast("long"))
          .cast("int").as("dl"),
        col("tf"))

  /** The postings rows appended since the current champion table was
    * refreshed, when the incremental merge is sound: Some(deltaRows)
    * iff the champion table exists at the SAME m with the bounds
    * columns and some live chain member ANCHORS the refreshed content —
    * its rows (chain union) equal what the champions were built on and
    * the rest of the current chain is exactly the appended delta.
    *
    * The anchor is found by CONTENT, not version number: equal
    * `text.contentVersion` ⇒ equal rows (appends bump the counter,
    * folds preserve rows AND counter), so a chain member carrying the
    * champion's `forContent` anchors the merge even after fold+vacuum
    * cycles replaced the version the refresh actually read — without
    * this, the first refresh after every maintain fold fell back to
    * the full rebuild and the steady merge+fold+vacuum cycle never
    * materialized (r15 review). At most one chain member can match
    * (content is strictly increasing across a chain's members).
    * Pre-content champions fall back to the recorded forVersion.
    * None ⇒ full rebuild. Metadata + schema reads only, zero jobs. */
  /** How the next champion refresh should run (decided by
    * [[championRefreshPlan]]). */
  private sealed trait ChampPlan
  /** No reusable anchor — full rebuild over the visible postings. */
  private case object ChampRebuild extends ChampPlan
  /** Append-only since the anchor: the classic incremental merge over
    * the delta members' rows. */
  private final case class ChampAppendMerge(delta: DataFrame) extends ChampPlan
  /** Tombstones landed since the anchor: re-select exactly the TOUCHED
    * terms (the deleted docs' terms ∪ any appended delta's terms) from
    * the visible postings — `touched` is a single-column (term) frame. */
  private final case class ChampDeleteMerge(touched: DataFrame) extends ChampPlan

  private def championRefreshPlan(store: SnapshotStore, indexTable: String,
                                  ct: String, v: Long,
                                  meta: Map[String, String], m: Int)
      : ChampPlan = {
    val cv = store.currentVersion(ct)
    if (cv == 0) return ChampRebuild
    val cmeta = store.metaForVersion(ct, cv)
    if (!cmeta.get(s"${P}champ.m").contains(m.toString)) return ChampRebuild
    // pre-bounds champion tables (no max_tf/min_dl) can't merge
    val cCols = store.loadVersion(ct, cv).schema.fieldNames.toSet
    if (!cCols.contains("max_tf") || !cCols.contains("min_dl"))
      return ChampRebuild
    val sc = srcChain(meta)
    val positional = isPositional(meta)
    val idName = if (positional) "doc_id" else "neighbor_id"
    val newChain = sc.chainOf(meta, v)
    val newSet = newChain.toSet
    val tombsNow = sc.tombVersionsOf(meta)
    def anchors(v0: Long): Boolean = v0 < v &&
      store.versions(indexTable).contains(v0) &&
      sc.chainOf(store.metaForVersion(indexTable, v0), v0).toSet
        .subsetOf(newSet)
    // anchor candidates include the pending tombstone members: a
    // refresh run after a delete recorded the DELETE's content value,
    // which no data member carries — the tombstone member does.
    val anchorCands = newChain ++ tombsNow
    val anchor: Option[Long] = cmeta.get(s"${P}champ.forContent") match {
      case Some(fc) =>
        // every live chain member is on disk; an on-disk anchor whose
        // chain is inside the current one is necessarily a member, so
        // scanning the members covers the forVersion case too
        anchorCands.find(m0 => contentOf(store.metaForVersion(indexTable, m0))
          .contains(fc) && anchors(m0))
      case None =>
        cmeta.get(s"${P}champ.forVersion").map(_.toLong)
          .filter(v0 => v0 > 0 && anchors(v0))
    }
    anchor match {
      case None => ChampRebuild
      case Some(v0) =>
        val oldChain =
          sc.chainOf(store.metaForVersion(indexTable, v0), v0).toSet
        val deltaMembers = newChain.filterNot(oldChain)
        val newTombs = tombsNow.filter(_ > v0)
        if (newTombs.isEmpty) {
          // APPEND-ONLY since the anchor: the classic merge. Soundness
          // ("any posting in the union's top-m is in the old top-m or
          // the delta") needs exactly this append-only property —
          // tombstones at or before the anchor were already applied to
          // the rows the champions were refreshed against (content
          // equality ⇒ equal VISIBLE rows; deletes bump the counter
          // like appends), and delta members postdate every tombstone,
          // so none of their rows are hidden.
          if (deltaMembers.isEmpty) ChampRebuild
          else {
            val union = deltaMembers.map(store.loadVersion(indexTable, _))
              .reduce(_ unionByName _)
            ChampAppendMerge(if (positional) asPostings(union) else union)
          }
        } else {
          // DELETE-MERGE (r18): tombstones landed since the anchor.
          // The old top-m may hold now-hidden rows and the stored df
          // overstates, so touched terms are re-selected FROM THE
          // VISIBLE POSTINGS — per-term identical to a full rebuild by
          // construction — while untouched terms provably keep their
          // anchor-time entries: a term is untouched iff no delta row
          // and no newly-hidden row carries it, so its visible postings
          // set is unchanged since the anchor. Touched is an
          // over-approximation by design (extra terms are just
          // recomputed to the same rows). Discovery is O(tombstone
          // bytes): the text delete paths record each deleted doc's
          // term SET in the tombstone member, so the touched terms are
          // read straight off the tombstones — a payload-less tomb
          // (committed by the generic Graft path or older code) falls
          // back to a slim (term, id) chain scan for ITS ids, correct
          // either way.
          val tombMembers = newTombs.map(store.loadVersion(indexTable, _))
          val (withTerms, plain) =
            tombMembers.partition(_.columns.contains("terms"))
          val fromPayload = withTerms
            .map(_.select(explode(col("terms")).as("term")))
          val fromScan =
            if (plain.isEmpty) Nil
            else {
              val tombIds = plain
                .map(_.select(col(idName).as("_graft_did")))
                .reduce(_ unionByName _).distinct()
              Seq(sc.chainOf(meta, v)
                .map(mv => store.loadVersion(indexTable, mv)
                  .select(col("term"), col(idName)))
                .reduce(_ unionByName _)
                .join(tombIds, col(idName) === col("_graft_did"), "left_semi")
                .select(col("term")))
            }
          val deltaTerms =
            if (deltaMembers.isEmpty) Nil
            else Seq(deltaMembers
              .map(store.loadVersion(indexTable, _).select(col("term")))
              .reduce(_ unionByName _))
          ChampDeleteMerge(
            (fromPayload ++ fromScan ++ deltaTerms)
              .reduce(_ unionByName _).distinct())
        }
    }
  }

  /** Merge the delta's per-term champions into the previous champion
    * chain: delta-touched terms re-select top-m over (resolved old
    * champion rows ∪ delta top-m rows) and sum/extremize their stats.
    * Returns (the merged rows for the TOUCHED terms — the champion
    * chain delta member, complete per touched term — and the touched
    * term frame). `dAgg` is the [[champSelect]] of the delta postings,
    * persisted by the caller (read 2×: rows + touched terms). The
    * touched-term semi-join sits BELOW the resolve window — sound
    * (the per-term resolve never looks across terms) and it keeps the
    * window input touched-sized instead of vocab-sized.
    *
    * Selection and stats ride ONE aggregate over the tagged union
    * (r16, second pass): every union row carries its side's
    * denormalized (df, max_tf, min_dl), old rows constant per term and
    * delta rows from dAgg, so df splits on the source tag (additive
    * over disjoint postings) while the bounds are plain max/min
    * (monotone under union — no tag needed). The earlier shape
    * (separate stats aggregate + two joins) read the old slice twice
    * and cost three extra stages per refresh — visible at sf0.1 where
    * the merge is job-count-bound. */
  private def mergeChampions(store: SnapshotStore, ct: String, cv: Long,
                             dAgg: DataFrame, m: Int)
      : (DataFrame, DataFrame) = {
    val dRows = unpackChamps(dAgg)
    val touched = dAgg.select(col("term"))
    // df = 0 markers excluded: a vanished-then-re-added term merges as
    // new (no old rows — coalesce(o_df, 0) below), never against the
    // marker's null id
    val oldTouched = resolveChamps(champMembers(store, ct, cv, Nil)
      .map(_.join(touched, Seq("term"), "left_semi")))
      .filter(col("df") > 0)
    // stored dl is clamped and packedImpact clamps, so old rows re-rank
    // exactly as at their original selection
    val union = oldTouched.withColumn("_src", lit("o"))
      .unionByName(dRows.withColumn("_src", lit("d")))
    val merged = union
      .groupBy(col("term"))
      .agg(
        graft.plans.TopKAggregate
          .boundedTopK(col("neighbor_id"), packedImpact, m).as("ch"),
        max(when(col("_src") === "o", col("df"))).as("o_df"),
        max(when(col("_src") === "d", col("df"))).as("d_df"),
        max(col("max_tf")).as("max_tf"),
        min(col("min_dl")).as("min_dl"))
      // every touched term has delta rows (touched = dAgg's terms), so
      // d_df is never null; a term new to the index has no old rows
      .select(col("term"),
        (col("d_df") + coalesce(col("o_df"), lit(0L))).as("df"),
        col("max_tf"), col("min_dl"), col("ch"))
    (unpackChamps(merged), touched)
  }

  /** True iff the champion table exists and was refreshed against the
    * CURRENT postings version (metadata reads only — zero jobs). */
  def championsFresh(store: SnapshotStore, indexTable: String): Boolean = {
    val ct = champTable(indexTable)
    freshAt(store, indexTable, store.currentVersion(indexTable),
      ct, store.currentVersion(ct))
  }

  /** BM25 top-k via the champion lists: probe ≤ m rows per query term
    * instead of the term's full postings list — the common-term read
    * cost [[query]]'s scaladoc concedes is exactly what this path
    * removes (a near-stopword's postings list is corpus-sized; its
    * champion list is m rows).
    *
    * APPROXIMATE by design, like the IVF/PQ ANN paths: a doc outside
    * every query term's champion list cannot be returned. That makes
    * this a SHORT-QUERY (keyword search) structure — a few-term query's
    * best matches are high-tf on those very terms and sit inside their
    * champion lists (flagship: ~full overlap with the exact path at
    * m=1024 on 5M docs, 9× less read). A full-DOCUMENT query is the
    * opposite shape: its best match (a near-duplicate) matches hundreds
    * of terms weakly and leads on none of them — measured recall 0% at
    * the flagship — so document-similarity lookups belong on the exact
    * [[query]] path or the MinHash pipeline, not here. Scoring uses each
    * term's TRUE stored df (so idf is exact) and the clamped dl (§
    * [[DlClamp]] — identity for real documents). When m ≥ every query
    * term's df the champion lists ARE the full postings and the result
    * equals [[query]] score-for-score (TextIndexSpec pins it); flagship
    * recall at production m is measured in ScaleBench.
    *
    * Staleness: if the champion table predates the current postings
    * version (appends since the last refresh), falls back to the exact
    * [[query]] when `fallbackToExact` (correct, slower — refresh via
    * [[maintain]]), else refuses. */
  def queryChampions(store: SnapshotStore, indexTable: String,
                     queries: DataFrame, queryIdCol: String,
                     queryTextCol: String, k: Int = 10,
                     k1: Double = 1.2, b: Double = 0.75,
                     fallbackToExact: Boolean = true): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val v = store.currentVersion(indexTable)
    requireBuilt(v, indexTable)
    val meta = store.metaForVersion(indexTable, v)
    requireReadable(meta, indexTable)
    val ct = champTable(indexTable)
    val cv = store.currentVersion(ct)
    val fresh = freshAt(store, indexTable, v, ct, cv)
    if (!fresh) {
      if (fallbackToExact)
        return query(store, indexTable, queries, queryIdCol, queryTextCol,
          k, k1, b)
      throw new IllegalStateException(
        s"$indexTable champions are stale or missing (postings v$v) — " +
          "TextIndex.refreshChampions, or query with fallbackToExact")
    }
    val pfx = srcP(meta)
    val nDocs = meta.getOrElse(s"${pfx}nDocs", "0").toLong
    val sumDl = meta.getOrElse(s"${pfx}sumDl", "0").toLong
    val avgdl = if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs
    val qIdType = queries.schema(queryIdCol).dataType
    if (nDocs == 0L || avgdl <= 0.0)
      return Retrieval.emptyRanked(queries.sparkSession, qIdType,
        store.loadVersion(ct, cv).schema("neighbor_id").dataType)
    // one bounded (query_id, term) collect feeds probe + query side
    // (see [[query]] — the r19 one-collect discipline)
    val qPairs = queries
      .select(col(queryIdCol).as("query_id"),
        explode(array_distinct(TF.tokens(lower(col(queryTextCol))))).as("term"))
      .collect()
    if (qPairs.isEmpty)
      return Retrieval.emptyRanked(queries.sparkSession, qIdType,
        store.loadVersion(ct, cv).schema("neighbor_id").dataType)
    val terms = qPairs.map(_.getString(1)).distinct.toSeq
    val qSide = queries.sparkSession.createDataFrame(
      java.util.Arrays.asList(qPairs: _*),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", qIdType),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType))))
    val hits = champRowsAt(store, ct, cv,
      Seq(ZoneMap.stringIn("term", terms)))
    Retrieval.bm25ScoreWithDf(hits, queries, queryIdCol, queryTextCol,
      nDocs, avgdl, k, k1, b, qSideOpt = Some(qSide))
  }

  // ---- MaxScore-bounded exact top-k -------------------------------

  /** EXACT BM25 top-k with MaxScore pruning (Turtle & Flood, IPM'95;
    * the batch re-expression of the block-max family): identical
    * output to [[query]] — score-for-score, tie-for-tie — while
    * reading the big common-term postings lists candidate-restricted
    * instead of in full.
    *
    * Float-summation caveat (measured r18, 5M-doc flagship): the
    * exactness is MATHEMATICAL. The two paths assemble a doc's
    * per-term contributions through different plans, so their double
    * sums can differ in the last ulps, and two docs whose TRUE scores
    * are equal (e.g. an exact duplicate of the query's source doc vs
    * a near-duplicate with identical query-term tf/dl) may order
    * differently across the paths — observed once in 30 flagship rows
    * as an adjacent-rank swap between such twins, both orderings
    * valid under the (score desc, id asc) contract evaluated on each
    * path's own sums. Within one path results are deterministic; the
    * equality specs/oracles hold wherever adjacent score gaps exceed
    * double-summation noise (every engineered corpus; sf0.01 gaps are
    * ~11 orders above it). A bit-identical cross-plan guarantee would
    * require canonically-ordered (non-codegen) summation in the hot
    * scoring tail — the wrong trade at corpus scale.
    *
    * The pruning rests on two bounds, both conservative:
    *
    *  1. A per-term score CEILING. refreshChampions harvests each
    *     term's full-postings max(tf) and min(dl) next to its true df;
    *     the BM25 contribution is increasing in tf and decreasing in
    *     dl, so ub(t) = idf(t)·(k1+1)·impact(max_tf, min_dl) dominates
    *     every posting of t (a multiplicative 1+1e-9 guard absorbs
    *     float monotonicity noise).
    *  2. A per-query score FLOOR θ̂. Champion rows are true postings
    *     rows scored with true df, so a doc's champion-only score
    *     under-states its real score, and the k-th best champion score
    *     (minus 1e-5 slack for the 6-dp output rounding) is a valid
    *     lower bound on the true k-th best score.
    *
    * Per query, terms sorted by ub ascending split at θ̂: the maximal
    * prefix whose cumulative ub stays BELOW θ̂ is non-essential — a doc
    * matching only those terms scores < θ̂ ≤ θ and can never reach the
    * top k, ties included. Only essential terms' postings are read in
    * full (chain files whose term zones hold no essential term are
    * never opened — the file-skip the term zones already implement,
    * now driven by the score bound); non-essential postings are read
    * semi-joined to the candidate docs, so the heavy lists contribute
    * candidate-sized rows to the scoring joins instead of
    * postings-sized ones. Candidates = docs with ≥ 1 essential hit;
    * every true top-k doc is one (its score reaches θ), its rows all
    * survive (essential in full, non-essential via the candidate
    * restriction), and non-candidates are excluded from the heap
    * before their understated sums could rank — hence exactness
    * (TextIndexSpec pins bounded ≡ unbounded on an adversarial zipf
    * corpus; `retrieve_bm25_maxscore` carries the same DuckDB rank
    * oracle as the unbounded probe).
    *
    * 3. A per-FILE score bound (r14, the block-max analog — Ding &
    *    Suel SIGIR'11 re-expressed over the file-zone sidecar). Every
    *    postings commit harvests per-file max(tf)/min(dl) zones next
    *    to the term range; a chain file F is skipped when, for EVERY
    *    query q, max over t ∈ q ∩ zone(F) of
    *    [ub(t, F) + Σ_{t' ∈ q, t' ≠ t} ub(t')] < θ̂(q), where ub(t, F)
    *    tightens the term ceiling with F's own stats
    *    (impact(min(max_tf_t, max_tf_F), max(min_dl_t, min_dl_F))).
    *    Soundness: a doc with ANY postings row in F scores at most
    *    that bound for the q it matches — one witness term's row is
    *    in F (use ub(t,F)), the rest are bounded globally — so every
    *    doc scoring ≥ θ̂ has ALL its rows in surviving files: top-k
    *    scores stay exact to the last tie, and docs that lose rows
    *    were below θ̂ with or without them (understating a loser
    *    never promotes it). Applied to BOTH the essential read (full
    *    scan — this is where whole delta files of short-doc appends
    *    drop out) and the candidate-restricted non-essential read.
    *    Old sidecars without tf/dl zones keep every file (the
    *    pre-r14 behavior, conservative).
    *
    * MaxScore is an OPTIMIZATION of the exact path, never a semantic
    * switch: stale/missing champions (or a pre-bounds champion table)
    * fall back to [[query]] silently — correct, just reads more.
    *
    * The bounded path's result is EAGER, a `localCheckpoint`:
    * materialized, plan-severed and SELF-CONTAINED — it holds no cached
    * plan (and so none of the query's broadcasts), reads no version dir
    * (safe across a later vacuum), its storage is released when the
    * frame is garbage-collected (ContextCleaner), and `unpersist` is a
    * harmless no-op. The fallbacks return [[query]]'s lazy frame. */
  def queryMaxScore(store: SnapshotStore, indexTable: String,
                    queries: DataFrame, queryIdCol: String,
                    queryTextCol: String, k: Int = 10,
                    k1: Double = 1.2, b: Double = 0.75): DataFrame =
    queryMaxScoreWithIo(store, indexTable, queries, queryIdCol,
      queryTextCol, k, k1, b)._1

  /** [[queryMaxScore]] plus its file-IO accounting — the observability
    * hook TextIndexSpec asserts the per-file score skip on. Returns
    * (result, Some((filesReadWithBounds, filesReadTermZonesOnly)))
    * when the MaxScore candidate path ran, (result, None) when it
    * delegated to the exact probe (stale champions, no pruning
    * opportunity, empty index…). The counts re-evaluate the same pure
    * file-selection over the driver-held sidecars — no extra job. */
  private[graft] def queryMaxScoreWithIo(
      store: SnapshotStore, indexTable: String,
      queries: DataFrame, queryIdCol: String,
      queryTextCol: String, k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): (DataFrame, Option[(Int, Int)]) = {
    import graft.functions.{TextFunctions => TF}
    import org.apache.spark.sql.expressions.Window
    val v = store.currentVersion(indexTable)
    requireBuilt(v, indexTable)
    val meta = store.metaForVersion(indexTable, v)
    requireReadable(meta, indexTable)
    val ct = champTable(indexTable)
    val cv = store.currentVersion(ct)
    val fresh = freshAt(store, indexTable, v, ct, cv)
    if (!fresh || !store.loadVersion(ct, cv).columns.contains("max_tf"))
      return (query(store, indexTable, queries, queryIdCol, queryTextCol,
        k, k1, b), None)
    val pfx = srcP(meta)
    val nDocs = meta.getOrElse(s"${pfx}nDocs", "0").toLong
    val sumDl = meta.getOrElse(s"${pfx}sumDl", "0").toLong
    val avgdl = if (nDocs == 0) 0.0 else sumDl.toDouble / nDocs
    val qIdType = queries.schema(queryIdCol).dataType
    val postingsIdType = store.loadVersion(ct, cv).schema("neighbor_id").dataType
    if (nDocs == 0L || avgdl <= 0.0)
      return (Retrieval.emptyRanked(queries.sparkSession, qIdType,
        postingsIdType), None)
    // ONE bounded collect of the (query_id, term) pairs feeds the term
    // probe, the essential-split window's query side, and both scoring
    // tails' qSide (r19, extending the r18 one-collect discipline): the
    // query subtree — often a filtered corpus read — is evaluated once,
    // not once per consumer.
    val qPairRows = queries
      .select(col(queryIdCol).as("query_id"),
        explode(array_distinct(TF.tokens(lower(col(queryTextCol))))).as("term"))
      .collect()
    val terms = qPairRows.map(_.getString(1)).distinct.toSeq
    if (terms.isEmpty)
      return (Retrieval.emptyRanked(queries.sparkSession, qIdType,
        postingsIdType), None)
    val spark = queries.sparkSession
    val qPairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", qIdType),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType)))
    val qSide = spark.createDataFrame(
      java.util.Arrays.asList(qPairRows: _*), qPairSchema)

    // One champion probe feeds both bounds (term zones prune each chain
    // member's files exactly like a postings probe; resolved champion
    // rows are ≤ m per term). The per-term stats RIDE the θ̂ scoring
    // action as a CollectMetrics observation (r19, the ObservedStats
    // discipline): df/max_tf/min_dl are constant per term on champion
    // rows, so collect_set(struct(…)) resolves to exactly one struct
    // per term (≤ |query terms| — the same bound as the old separate
    // groupBy/first collect, whose action and the champHits persist
    // both go away). Eager fallback on collapsed plans/timeouts.
    val statsObs = org.apache.spark.sql.Observation()
    val champHits = champRowsAt(store, ct, cv,
        Seq(ZoneMap.stringIn("term", terms)))
      .observe(statsObs, collect_set(struct(col("term"), col("df"),
        col("max_tf"), col("min_dl"))).as("ts"))
    locally {
      // per-query floor θ̂: k-th best champion-only score, minus slack.
      // Collected once — after the r19 driver-side essential split below
      // its ONLY consumer is this map, so the old persist+broadcast-join
      // materialization was a pure extra job.
      val thetaOf: Map[Any, Double] = Retrieval.bm25ScoreWithDf(champHits,
          queries, queryIdCol, queryTextCol, nDocs, avgdl, k, k1, b,
          qSideOpt = Some(qSide))
        .filter(col("rank") === k)
        .select(col("query_id"), (col("score") - 1e-5).as("theta"))
        .collect()
        .map(r => r.get(0) -> r.getDouble(1)).toMap
      // per-term ceiling ub(t) from the stored full-postings stats —
      // observed above; the fallback recomputes the old eager aggregate
      // over a re-derived probe (trivial on the collapsed-plan inputs
      // that trigger it).
      val stats: Seq[(String, Long, Long, Int)] =
        ObservedStats.structSet(statsObs).map(_.map(r =>
          (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3))))
        .getOrElse {
          champRowsAt(store, ct, cv, Seq(ZoneMap.stringIn("term", terms)))
            .groupBy(col("term"))
            .agg(first(col("df")).as("df"), first(col("max_tf")).as("max_tf"),
              first(col("min_dl")).as("min_dl"))
            .collect().toSeq
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
        }
        // one row per term, the fallback's first() on the driver: a
        // repeated term (stats that ever stop being constant per term)
        // would fan out the dfLookup join and double-count its BM25
        // contribution
        .distinctBy(_._1)
      val ub: Map[String, Double] = stats.map { case (t, dfL, maxTfL, minDlI) =>
        val df = dfL.toDouble
        val maxTf = maxTfL.toDouble
        val minDl = minDlI.toDouble
        val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
        val impact = maxTf / (maxTf + (minDl * (b / avgdl) + (1 - b)) * k1)
        t -> idf * (k1 + 1) * impact * (1.0 + 1e-9)
      }.toMap
      // essential split per (query, term): ascending-ub prefix below θ̂.
      // Computed ON THE DRIVER (r19): every input — the collected
      // (query_id, term) pairs, ub, θ̂ — is already driver-local, so the
      // old Spark form (two broadcast joins + a window + a fourth
      // collect) spent ~5 scheduler round trips re-deriving a list this
      // loop builds in microseconds. Arithmetic is identical: the same
      // ascending (ub, term) order drives the same left-to-right
      // double prefix sum the window computed.
      val taggedRows: Array[(Any, String, Boolean)] = qPairRows
        .map(r => (r.get(0), r.getString(1)))
        .groupBy(_._1).iterator.flatMap { case (qid, pairs) =>
          val sorted = pairs.map { case (_, t) =>
            (t, ub.getOrElse(t, 0.0))
          }.sortBy { case (t, u) => (u, t) }
          val theta = thetaOf.get(qid)
          var cum = 0.0
          sorted.map { case (t, u) =>
            cum += u
            (qid, t, theta.forall(cum >= _))
          }
        }.toArray
      val essTerms = taggedRows.collect { case (_, t, true) => t }
        .distinct.toSeq
      val nonEssTerms = terms.diff(essTerms)
      if (nonEssTerms.isEmpty) {
        // nothing prunes (θ̂ absent, or every term essential for some
        // query): the candidate machinery would only add joins on top
        // of the exact probe's plan — delegate instead of paying it
        return (query(store, indexTable, queries, queryIdCol, queryTextCol,
          k, k1, b), None)
      }
      val pairSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("query_id", qIdType),
        org.apache.spark.sql.types.StructField("term",
          org.apache.spark.sql.types.StringType)))
      val essentialPairs = spark.createDataFrame(
        java.util.Arrays.asList(taggedRows.collect { case (q, t, true) =>
          org.apache.spark.sql.Row(q, t) }: _*),
        pairSchema)

      // ---- per-file score skip (scaladoc §3) -----------------------
      // Driver-held inputs: per-query term lists (from the SAME tagged
      // collect as the essential split — all terms, not just essential),
      // θ̂, and the per-term stats; everything else comes from each
      // file's zone sidecar.
      val termsOf: Seq[(Any, Seq[String])] = taggedRows
        .map { case (q, t, _) => (q, t) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toSeq
      val termStats: Map[String, (Long, Long, Int)] = stats.map {
        case (t, df, maxTf, minDl) => t -> (df, maxTf, minDl) }.toMap
      // ub(t) tightened by file F's zones: tf ≤ min(max_tf_t, max_tf_F),
      // dl ≥ max(min_dl_t, min_dl_F); impact is ↑tf ↓dl, so this bounds
      // every posting of t inside F. Terms absent from the index bound 0.
      def ubInFile(t: String, fMaxTf: Long, fMinDl: Long): Double =
        termStats.get(t).fold(0.0) { case (df, maxTf, minDl) =>
          val tf = math.min(maxTf, fMaxTf).toDouble
          val dl = math.max(minDl.toLong, fMinDl).toDouble
          val idf = math.log(1.0 + (nDocs.toDouble - df + 0.5) / (df + 0.5))
          val impact = tf / (tf + (dl * (b / avgdl) + (1 - b)) * k1)
          idf * (k1 + 1) * impact * (1.0 + 1e-9)
        }
      val keepFile: (String, Map[String, ZoneMap.Zone]) => Boolean =
        (_, zones) => {
          val tz = zones.get("term")
          val fMaxTf = zones.get("tf").filter(_.kind == "long")
            .map(_.maxLong).getOrElse(Long.MaxValue)
          val fMinDl = zones.get("dl").filter(_.kind == "long")
            .map(_.minLong).getOrElse(0L)
          if (fMaxTf == Long.MaxValue && fMinDl == 0L) true // no bounds zone
          else termsOf.exists { case (qid, qts) =>
            // witness terms: q's terms this file can hold rows for
            val inZone = qts.filter(t => tz.forall(ZoneMap.stringInZone(_, t)))
            inZone.nonEmpty && (thetaOf.get(qid) match {
              case None => true // no floor for q → cannot skip for q
              case Some(th) =>
                val total = qts.iterator.map(t => ub.getOrElse(t, 0.0)).sum
                inZone.exists(t => ubInFile(t, fMaxTf, fMinDl) +
                  (total - ub.getOrElse(t, 0.0)) >= th)
            })
          }
        }
      val essPreds = Seq(ZoneMap.stringIn("term", essTerms))
      val nonEssPreds = Seq(ZoneMap.stringIn("term", nonEssTerms))
      // IO accounting for the spec: same pure selection, sidecar-only
      val io = srcChain(meta).chainOf(meta, v).map { m =>
        val eb = ZoneMap.selectedFilesAt(store, indexTable, m, essPreds,
          keepFile)._1.size
        val e0 = ZoneMap.selectedFilesAt(store, indexTable, m, essPreds)._1.size
        val nb = ZoneMap.selectedFilesAt(store, indexTable, m, nonEssPreds,
          keepFile)._1.size
        val n0 = ZoneMap.selectedFilesAt(store, indexTable, m, nonEssPreds)._1.size
        (eb + nb, e0 + n0)
      }.reduce((a, c) => (a._1 + c._1, a._2 + c._2))

      val essHits = srcLoadPruned(store, indexTable, v, meta,
        essPreds, keepFile)
      // candidates: docs with ≥1 hit on a term essential FOR that query.
      // Deliberately NOT deduplicated: both consumers are semi-joins
      // (duplicate build rows are free there), and a dropDuplicates
      // here would shuffle the candidate fan-out just to shrink frames
      // the joins never materialize.
      val candidates = essHits
        .join(broadcast(essentialPairs), Seq("term"))
        .select(col("query_id"), col("neighbor_id"))
        .persist(StorageLevel.MEMORY_AND_DISK) // read 2×: semi + restrict
      val nonEssHits = srcLoadPruned(store, indexTable, v, meta,
          nonEssPreds, keepFile)
        .join(candidates.select(col("neighbor_id")), Seq("neighbor_id"),
          "left_semi")
      val hits = essHits.unionByName(nonEssHits)
      // TRUE df from the champion stats (candidate-restricted hit rows
      // would under-count common terms and silently inflate their idf)
      val dfLookup = spark.createDataFrame(
        stats.map { case (t, df, _, _) => UbRow(t, df.toDouble) })
        .toDF("term", "df")
      val ranked = Retrieval.bm25ScoreWithDf(
        hits.join(broadcast(dfLookup), Seq("term")),
        queries, queryIdCol, queryTextCol, nDocs, avgdl, k, k1, b,
        restrictTo = Some(candidates), qSideOpt = Some(qSide))
        .localCheckpoint() // EAGER: helper caches release on return
      candidates.unpersist(blocking = false)
      (ranked, Some(io))
    }
  }

  /** Chain + champion maintenance in one idempotent call: refresh the
    * champion table when `championM` is set and the current one is
    * stale/missing (BEFORE any fold — the incremental merge reads the
    * delta chain, and content-version freshness keeps the refreshed
    * champions valid across the fold), then fold the delta chain when
    * it exceeds `maxChainLength` members, then drop version dirs
    * outside the live chain. Safe to call at any time — every step is
    * a no-op when already satisfied, and each commits through the
    * store's atomic version flip. */
  def maintain(store: SnapshotStore, indexTable: String,
               maxChainLength: Int = 4,
               championM: Option[Int] = None): Unit = {
    val v = store.currentVersion(indexTable)
    if (v == 0) return
    val meta0 = store.metaForVersion(indexTable, v)
    val members = srcChain(meta0).chainOf(meta0, v)
    // Champion refresh FIRST (r15): the incremental merge needs the
    // delta chain intact (a fold collapses it and forces the full
    // rebuild), and under content-version freshness the fold below no
    // longer stales what the refresh just committed — so the steady
    // maintenance cycle is merge + fold + vacuum, with a full champion
    // rebuild only on m changes or pre-content-tag tables.
    championM.foreach { m =>
      if (!championsFresh(store, indexTable))
        refreshChampions(store, indexTable, m)
    }
    // pending tombstones fold unconditionally — physical removal of
    // taken-down documents must not wait out maxChainLength
    if (members.size > maxChainLength || srcChain(meta0).tombsPending(meta0))
      compactIndex(store, indexTable)
    vacuumIndex(store, indexTable)
    // champion chain fold + chain-aware vacuum: merge-mode refreshes
    // are touched-term delta commits (r16), so the champion table has
    // its own chain to bound and its live members to keep
    val ct = champTable(indexTable)
    val ccv = store.currentVersion(ct)
    if (ccv > 0) {
      if (champChainOf(store.metaForVersion(ct, ccv), ccv)
            .length > maxChainLength)
        compactChampions(store, indexTable)
      val cvNow = store.currentVersion(ct)
      store.dropVersions(ct, store.versions(ct).toSet --
        champChainOf(store.metaForVersion(ct, cvNow), cvNow).toSet)
    }
  }

  /** On-demand chain fold into a full snapshot (maintenance-triggered;
    * appends also fold themselves every `compactEvery`). Returns true if
    * a compacting commit happened, false if already compact — IDEMPOTENT,
    * and the commit is the store's atomic version flip, so a crash
    * mid-compaction leaves the old chain fully live. */
  def compactIndex(store: SnapshotStore, indexTable: String): Boolean = {
    // a unified positional table folds through PhraseIndex — folding
    // through this object's slim read chain would drop the positions
    if (isPositional(store.metaForVersion(indexTable,
        store.currentVersion(indexTable))))
      return PhraseIndex.compactIndex(store, indexTable)
    store.transactMeta[Unit](indexTable, sortKey = Some("term"),
          statsCols = Seq("term", "tf", "dl")) {
      val v = store.currentVersion(indexTable)
      if (v == 0) Left(())
      else chain.compactNow(store, indexTable, v,
        store.metaForVersion(indexTable, v), layout = termLayout).toRight(())
    }.isRight
  }

  /** Drop version dirs outside the live delta chain (see
    * VectorIndex.vacuumIndex). */
  def vacuumIndex(store: SnapshotStore, indexTable: String): Unit = {
    if (isPositional(store.metaForVersion(indexTable,
        store.currentVersion(indexTable))))
      return PhraseIndex.vacuumIndex(store, indexTable)
    store.dropVersions(indexTable,
      store.versions(indexTable).toSet -- chain.liveVersions(store, indexTable))
  }
}
