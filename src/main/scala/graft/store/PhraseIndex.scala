package graft.store

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Persistent POSITIONAL postings index — exact phrase (and, by
  * extension, proximity) retrieval over the corpus, the capability a
  * term-frequency index cannot express: BM25 ranks "machine learning"
  * and "learning machine(s)" identically, a phrase query must not.
  *
  * Since r17 this is also THE unified text store: a pos-vb-v2 table
  * carries (term, doc_id, tf, dl) — a strict superset of the BM25
  * postings layout — so [[TextIndex]]'s every serving path (exact
  * probe, champions, MaxScore, block-max) reads it through a slim
  * column projection in which parquet column pruning never touches the
  * position payload. One build, one append path, one champion/
  * maintenance cycle serves BOTH phrase and ranked retrieval, where
  * r16 maintained two term-sorted stores (the standalone postings
  * layout remains fully readable/servable — TextIndex.build still
  * writes it for corpora that will never run a phrase query and don't
  * want positions at rest). (Reference analog: none — this is
  * extension surface; construction follows the standard positional
  * inverted index, e.g. Manning et al., IIR §2.4.)
  *
  * Layout (pos-vb-v2, r16): one row per (term, document):
  * {{{ (term: string, doc_id: long, posns: binary, tf: int, dl: long) }}}
  * `posns` = the 0-based token positions of `term` in the document,
  * DELTA-VARINT encoded ([[graft.plans.DeltaVarintPositions]] — sorted
  * gaps as LEB128 varints; token gaps are small, so most cost one byte
  * where the v1 `array<int>` paid four plus parquet's per-element
  * repetition overhead — this is what pulls the index back from
  * "double a postings index at rest"), decoded inside
  * [[graft.plans.PhraseTf]] so the compact form is also what crosses
  * the (query, doc) exchange. `tf` (the position count) is denormalized
  * next to it: consumers and file-zone stats read the count without
  * touching the payload. Tokenization is the library-wide contract
  * (`TextFunctions.tokens(lower(text))` — recorded in the metadata like
  * TextIndex's tag, and queries tokenize their phrases with the same
  * expression, so index and query can never disagree on boundaries).
  * Rows are committed sorted by `term`: a query's pushed `term IN (…)`
  * filter prunes row groups exactly like TextIndex's term-sorted
  * postings.
  *
  * Why there is no MaxScore/θ̂ per-file skip here (the honest negative,
  * examined r16): for BM25 postings, dropping a sub-θ̂ doc's rows only
  * UNDERSTATES that doc's score — sound. For a phrase, dropping ANY
  * (term, doc) row zeroes the doc's phrase_tf (a missing slot is "no
  * match"), and worse, the ranked path's idf uses df_phrase COUNTED
  * FROM THE MATCH SET — skipping files would change df and shift every
  * surviving score, so no file-level skip can keep the output exact.
  * The only sound pruning lever is CONTAINMENT pre-filtering
  * ([[matchTail]], OPT-IN): a slim (term, doc_id) pass — parquet
  * column pruning never touches the position payload — finds the docs
  * holding ALL phrase slots, and only those docs' full positional rows
  * cross the verify exchange. Matches require every slot present, so
  * candidates ⊇ matches and the match set (hence df, hence every
  * score) is EXACTLY preserved. Measured r16 at the flagship, it is
  * OFF by default — the honest negative, the EmbedIndex key-probe
  * precedent: on the uniform 5M corpus (tf ≈ 1, payload = one varint
  * byte) the slim pass just re-reads the same bytes (4.9 s vs 2.2 s
  * direct), and even on the 1M zipf corpus (head-term tf 5-10, the
  * payload case it targets) finding the candidates costs a df-sized
  * slim exchange that the direct path pays only once anyway (23.6 s
  * vs 7.0 s with the original distinct-count formulation; the bitmask
  * aggregate now halves the slim exchanges, but the structural
  * objection stands). It can pay only where per-row payloads dwarf
  * the 16-byte slim row — tf ≫ 10 with long documents — so the
  * machinery stays, spec-pinned output-identical, for that opt-in.
  *
  * One query batch (Q phrases, k terms each) costs: one phrase
  * tokenization of the Q-row frame, ONE bounded driver action
  * collecting the ≤ Q·k distinct phrase terms (the documented
  * small-query-batch contract shared with TextIndex.queryMaxScore) for
  * the pushed scan filter, a broadcast join of the (query, slot, term)
  * rows into the pruned postings scan, and one hash exchange grouping
  * the ≤ Q·k surviving rows per (query, doc) where
  * [[graft.plans.PhraseTf]] verifies position adjacency in-expression
  * (binary-search probes of the slot position lists). The corpus never
  * shuffles; only postings of the phrases' terms leave the scan.
  *
  * Appends are O(batch) [[DeltaChain]] deltas under the shared
  * exactly-once (streamId, batchId) watermark; positions are per-doc
  * facts (no cross-batch resolution), so the append is the simplest of
  * the index family — encode and chain. [[Graft.maintainAll]] folds and
  * vacuums it via the `phrase.parts` marker. Unique-doc-id contract as
  * every index: re-ingesting a doc id yields duplicate (term, doc) rows
  * and phrase_tf degrades to 0 for affected docs (PhraseTf rejects
  * duplicate slots) rather than silently double-counting. */
object PhraseIndex {

  private val P = "phrase." // metadata key prefix
  private val Tokenizer = "ws-lower-v1" // TextIndex's contract tag
  /** Row-layout tag: delta-varint positions + denormalized tf + per-row
    * dl + corpus stats in metadata. A table carrying another tag (the
    * pre-dl original, the r15 `pos-dl-v1` int-array layout) must be
    * rebuilt — the guard turns what would be an opaque type/column
    * failure (or a silent mis-decode) into the same "rebuild the
    * index" contract the tokenizer check gives. */
  private val Layout = "pos-vb-v2"
  private val chain = new DeltaChain(s"${P}parts",
    Seq("term", "doc_id", "posns", "tf", "dl"), tombIdCol = "doc_id")

  /** Containment-candidate sets at/below this collect to the driver
    * (one slim pass, local-relation broadcast — see [[matchTail]]);
    * a set PAST the cap drops the prefilter outright and matching
    * proceeds on the direct plan ([[matchTail]]'s rationale: poor
    * selectivity means the semi-join could not pay anyway).
    * 200k (query_id, doc_id) rows ≈ a few MB. */
  private val LocalCandCap = 200000

  /** Shared with [[TextIndex]] (r17 unification): a pos-vb-v2 table is
    * a strict superset of the BM25 postings layout, so TextIndex serves
    * postings/champions/MaxScore from it through a slim projection and
    * must enforce the same layout/tokenizer contract on load. */
  private[store] def requireCompatible(meta: Map[String, String], table: String): Unit = {
    // the authoritative layout key wins over any carried-forward
    // phrase.* metadata: after an in-place TextIndex.build over a
    // former positional table, the latest rows are postings-shaped and
    // phrase serving must refuse, not mis-read (r17 review)
    meta.get(TextIndex.LayoutKey).filter(_ != TextIndex.LayoutPositional)
      .foreach { l =>
        throw new IllegalStateException(
          s"$table's latest build is '$l'-layout — it carries no " +
            "positions; rebuild the index (PhraseIndex.build) for " +
            "phrase serving")
      }
    val tok = meta.getOrElse(s"${P}tokenizer", "unknown")
    if (tok != Tokenizer)
      throw new IllegalStateException(
        s"$table was tokenized with scheme '$tok', this library uses " +
          s"'$Tokenizer' — rebuild the index (PhraseIndex.build)")
    val lay = meta.getOrElse(s"${P}layout", "pre-dl")
    if (lay != Layout)
      throw new IllegalStateException(
        s"$table carries row layout '$lay', this library reads/writes " +
          s"'$Layout' — rebuild the index (PhraseIndex.build)")
  }

  /** The tokenized frame both the stats action and the positional
    * encode read — persist it (read 2×), the TextIndex.build recipe. */
  private def tokenized(docs: DataFrame, textCol: String,
                        idCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      TextFunctions.tokens(lower(col(textCol))).as("toks"))

  /** Positional rows of a tokenized frame: term → sorted 0-based token
    * positions, one row per (term, doc), with the document length
    * (total token count — constant per doc, carried per row exactly
    * like TextIndex's postings) so ranked queries score without a
    * corpus join. `preGroupFilter` lets the scan path drop non-query
    * terms BEFORE the group — one pipeline for both paths, so they
    * cannot drift apart. */
  private def posRowsOf(tok: DataFrame,
                        preGroupFilter: Option[Column] = None): DataFrame = {
    val exploded = tok
      .select(col("doc_id"), size(col("toks")).cast("long").as("dl"),
        posexplode(col("toks")).as(Seq("pos", "term")))
    // Deliberately HASH-partitioned (the groupBy's own exchange), NOT
    // repartitionByRange like TextIndex.postingsOf — a range layout
    // here was built and MEASURED AGAINST at the r17 flagship, paired
    // windows, fresh stores: the RangePartitioner's sampling job
    // re-evaluates this explode pipeline (build 168.0 s vs 109.2 s at
    // 5M docs; 39.1 vs 9.7 s on the 1M zipf corpus), and clustering a
    // zipf corpus's head terms into few files CONCENTRATES the heavy
    // position payloads — phrase serving lost parallelism
    // (phrase_zipf_query 16.9 s vs 4.9 s; bm25_exact_zipf_batch 20.0
    // vs 9.8 s). The trade-away: file-level term zones stay weak (each
    // file spans the vocabulary) and range's at-rest size win was 10%
    // (2.18 vs 2.42 GB); term row-group pruning via the commit-time
    // sortWithinPartitions carries the probes either way — every BM25
    // serving twin stayed in band on the hash layout (bm25_index_query
    // 4.9 s vs range's 6.2 s).
    preGroupFilter.fold(exploded)(exploded.filter)
      .groupBy(col("term"), col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("plist"),
        max(col("dl")).as("dl"))
      .select(col("term"), col("doc_id"),
        graft.plans.TextExpressions.deltaVarintPositions(col("plist"))
          .as("posns"),
        size(col("plist")).as("tf"), col("dl"))
  }


  /** (nDocs, sumDl) of a tokenized frame — ONE aggregate action, the
    * TextIndex stats recipe (avgdl's exact numerator rides in the
    * metadata and ACCUMULATES across appends). */
  private def statsOf(tok: DataFrame): (Long, Long) = {
    val r = tok.select(size(col("toks")).cast("long").as("dl"))
      .agg(count(lit(1)), coalesce(sum(col("dl")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Encode `docs` and commit as a fresh full snapshot (or a
    * chain-resetting rebuild); `docs.limit(0)` for an empty init.
    *
    * Single-pass stats (r18): nDocs/sumDl ride the positional write as
    * an [[ObservedStats]] observation instead of a separate aggregate
    * action over a persisted tokenized copy — one tokenize pass over
    * the corpus where there were two, and no MEMORY_AND_DISK
    * materialization of the tokenized frame. */
  def build(store: SnapshotStore, table: String, docs: DataFrame,
            textCol: String, idCol: String,
            corpusTag: Option[String] = None): Long = {
    val (tok, obs) = ObservedStats.attach(
      tokenized(docs, textCol, idCol), size(col("toks")))
    // content counter (r17, the TextIndex.build convention): bumped
    // past any replaced build's — under EITHER layout prefix, so a
    // champion cache refreshed against the old content can never
    // read as fresh for the new, including across an in-place
    // migration from the postings layout
    val prevContent = if (store.exists(table))
      TextIndex.crossLayoutContent(
        store.metaForVersion(table, store.currentVersion(table)))
    else 0L
    store.commit(table, posRowsOf(tok),
      sortKey = Some("term"), statsCols = Seq("term", "tf", "dl"),
      meta = chain.resetMeta ++ Map(
        TextIndex.LayoutKey -> TextIndex.LayoutPositional,
        s"${P}tokenizer" -> Tokenizer,
        s"${P}layout" -> Layout,
        s"${P}contentVersion" -> (prevContent + 1).toString)
        // content-version identifier of the build corpus — the same
        // drift-detection contract as TextIndex/VectorIndex.build
        ++ corpusTag.map(t => s"${P}corpusTag" -> t),
      metaDeferred = () => {
        val (nDocs, sumDl) = ObservedStats.result(obs,
          statsOf(tokenized(docs, textCol, idCol)))
        Map(s"${P}nDocs" -> nDocs.toString, s"${P}sumDl" -> sumDl.toString)
      })
  }

  /** The live index contents (delta-chain union) as of the current
    * version. Refuses foreign tokenizer/layout tags (the canonical
    * column projection would otherwise die on a missing `tf` column
    * with an opaque AnalysisException — r16 review). */
  def load(store: SnapshotStore, table: String): DataFrame = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    if (v > 0) requireCompatible(meta, table)
    chain.load(store, table, v, meta)
  }

  /** Delta rows + accumulated stats for one append — runs inside the
    * table transaction (shared by [[append]] and [[appendBatchOnce]]).
    * Appends bump the content counter; folds/vacuums never do, so a
    * champion cache built over this table survives maintenance. */
  private def deltaFor(store: SnapshotStore, table: String, v: Long,
                       meta: Map[String, String], docs: DataFrame,
                       textCol: String, idCol: String, compactEvery: Int,
                       extraMeta: Map[String, String])
      : (DataFrame, Map[String, String], () => Map[String, String]) = {
    // Single-pass stats (r18): the batch's (docs, tokens) ride the delta
    // write as an ObservedStats observation (see build) — the deferred
    // thunk folds them into the accumulated metadata after the write.
    val (tok, obs) = ObservedStats.attach(
      tokenized(docs, textCol, idCol), size(col("toks")))
    val (rows, nextMeta) =
      chain.next(store, table, v, meta, posRowsOf(tok), compactEvery,
        extraMeta + (s"${P}contentVersion" ->
          (meta.getOrElse(s"${P}contentVersion", "0").toLong + 1).toString))
    (rows, nextMeta, () => {
      val (bDocs, bDl) = ObservedStats.result(obs,
        statsOf(tokenized(docs, textCol, idCol)))
      Map(
        s"${P}nDocs" -> (meta.getOrElse(s"${P}nDocs", "0").toLong + bDocs).toString,
        s"${P}sumDl" -> (meta.getOrElse(s"${P}sumDl", "0").toLong + bDl).toString)
    })
  }

  private def requireBuilt(v: Long, table: String): Unit =
    if (v == 0)
      throw new IllegalStateException(
        s"$table: build the phrase index before appending " +
          "(PhraseIndex.build; docs.limit(0) for an empty init)")

  /** Append new documents as an O(batch) delta (the plain,
    * non-watermarked form — TextIndex.append parity; streaming ingest
    * uses [[appendBatchOnce]]). Returns the committed version. */
  def append(store: SnapshotStore, table: String, docs: DataFrame,
             textCol: String, idCol: String, compactEvery: Int = 8): Long =
    store.transactMetaDeferred[Nothing](table, sortKey = Some("term"),
        statsCols = Seq("term", "tf", "dl")) {
      val v = store.currentVersion(table)
      requireBuilt(v, table)
      val meta = store.metaForVersion(table, v)
      requireCompatible(meta, table)
      Right(deltaFor(store, table, v, meta, docs, textCol, idCol,
        compactEvery, Map.empty))
    }.merge

  /** Append `docs` as an O(batch) delta — exactly-once via
    * (streamId, batchId); a replayed batch returns false. */
  def appendBatchOnce(store: SnapshotStore, table: String, docs: DataFrame,
                      textCol: String, idCol: String,
                      streamId: String, batchId: Long,
                      compactEvery: Int = 8): Boolean =
    store.transactMetaDeferred[Unit](table, sortKey = Some("term"),
        statsCols = Seq("term", "tf", "dl")) {
      val v = store.currentVersion(table)
      requireBuilt(v, table)
      val meta = store.metaForVersion(table, v)
      requireCompatible(meta, table)
      val key = s"stream.$streamId.lastBatchId"
      if (batchId <= meta.get(key).map(_.toLong).getOrElse(-1L)) Left(())
      else Right(deltaFor(store, table, v, meta, docs, textCol, idCol,
        compactEvery, Map(key -> batchId.toString)))
    }.isRight

  /** TAKEDOWN: delete documents from the positional store — the
    * [[TextIndex.deleteDocs]] contract verbatim (that method delegates
    * here for unified positional tables): O(ids) tombstone commit,
    * every phrase AND ranked/BM25 serving path stops returning the
    * deleted docs immediately (the visibility filter sits under the
    * chain union both layouts read through), corpus stats adjusted
    * exactly (phrase_tf's df and BM25's idf equal a fresh build over
    * the survivors), content bumped so champion caches refuse
    * staleness, physical removal at the next fold. Same empty-token
    * caveat and idempotence as the TextIndex form. */
  def deleteDocs(store: SnapshotStore, table: String,
                 ids: DataFrame): Long = {
    deleteInternal(store, table, ids, None)
    store.currentVersion(table)
  }

  /** [[deleteDocs]] under the exactly-once (streamId, batchId)
    * watermark ([[DeltaChain.tombNextOnce]]'s correctness rationale).
    * Returns true if applied, false if skipped as a replay. */
  def deleteDocsOnce(store: SnapshotStore, table: String, ids: DataFrame,
                     streamId: String, batchId: Long): Boolean =
    deleteInternal(store, table, ids, Some((streamId, batchId)))

  private def deleteInternal(store: SnapshotStore, table: String,
                             ids: DataFrame,
                             once: Option[(String, Long)]): Boolean = {
    val tombs = ids.toDF("doc_id")
    store.transactMetaDeferred[Unit](table, sortKey = Some("doc_id"),
        statsCols = Seq("doc_id")) {
      val v = store.currentVersion(table)
      requireBuilt(v, table)
      val meta = store.metaForVersion(table, v)
      val replay = once.exists { case (sid, bid) =>
        bid <= meta.get(s"stream.$sid.lastBatchId")
          .map(_.toLong).getOrElse(-1L)
      }
      if (replay) Left(())
      else {
        requireCompatible(meta, table)
        // ONE visible-row scan feeds the per-doc deleted-term payload
        // (the champion delete-merge's O(tombstone) discovery) AND —
        // r19, guide §1.2 — the exact stats delta, which RIDES the
        // tombstone write as a CollectMetrics observation instead of a
        // separate persisted aggregate action: per doc, the distinct-dl
        // count/sum aggregate next to the term set, summed while the
        // write streams the rows. Same arithmetic as the old
        // distinct-(doc_id,dl) aggregate: Σ over docs of
        // (count, sum) over that doc's distinct dl values.
        val perDoc = chain.load(store, table, v, meta)
          .join(tombs, Seq("doc_id"))
          .groupBy(col("doc_id"))
          .agg(collect_set(col("term")).as("terms"),
            countDistinct(col("dl")).as("_ndl"),
            coalesce(sum_distinct(col("dl").cast("long")), lit(0L)).as("_sdl"))
        val obs = org.apache.spark.sql.Observation()
        val observed = perDoc.observe(obs,
          coalesce(sum(col("_ndl")), lit(0L)).as("n"),
          coalesce(sum(col("_sdl")), lit(0L)).as("sdl"))
        val tombRows = tombs
          .join(observed.select(col("doc_id"), col("terms")),
            Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("terms"), array().cast("array<string>")).as("terms"))
        val (rows, commitMeta) = chain.tombNext(v, meta, tombRows,
          once.map { case (sid, bid) =>
            Map(s"stream.$sid.lastBatchId" -> bid.toString)
          }.getOrElse(Map.empty))
        Right((rows, commitMeta, () => {
          val (dDocs, dDl) = ObservedStats.result(obs, {
            // eager fallback (collapsed plan / timeout): the pre-r19
            // separate aggregate over the same visible-row scan
            val r = chain.load(store, table, v, meta)
              .join(tombs, Seq("doc_id"))
              .select(col("doc_id"), col("dl")).distinct()
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

  /** Keep the index current from a stream of document rows — the
    * index family's maintainFromStream contract verbatim: file inbox →
    * foreachBatch → [[appendBatchOnce]] under the exactly-once
    * (streamId, batchId) watermark, so a replayed micro-batch is a
    * no-op. */
  def maintainFromStream(store: SnapshotStore, table: String,
                         stream: DataFrame, textCol: String, idCol: String,
                         checkpointDir: String,
                         streamId: String = "phrase-inbox")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          appendBatchOnce(store, table, batch, textCol, idCol,
            streamId, batchId)
          ()
        }
      }
      .start()

  /** Phrase matches of a query batch against the indexed corpus:
    * one row per (query, matching document) —
    * {{{ (query_id, doc_id, phrase_tf, dl) }}}
    * with phrase_tf ≥ 1 the number of occurrences (overlapping
    * occurrences count — "a b a" occurs twice in "a b a b a") and dl
    * the matched document's token count (what [[phraseQueryRanked]]
    * scores with). `slop` = 0 (default) is the EXACT phrase; slop s is
    * ordered proximity — each phrase term within s extra tokens after
    * the previous match ("new york" slop 1 matches "new in york"), the
    * [[graft.plans.PhraseTf]] chain contract. Phrases tokenize under
    * the committed contract; an empty phrase (whitespace-only) matches
    * nothing. Plan shape in the class scaladoc; `phrases` is a SMALL
    * batch (the bounded driver action collects its distinct terms). */
  def phraseQuery(store: SnapshotStore, table: String, phrases: DataFrame,
                  queryIdCol: String, phraseCol: String,
                  slop: Int = 0, prefilter: Boolean = false): DataFrame = {
    val v = store.currentVersion(table)
    require(v > 0, s"$table: no committed phrase index")
    val meta = store.metaForVersion(table, v)
    requireCompatible(meta, table)
    val (slots, termFilter, terms, maxK) = slotsOf(phrases, queryIdCol, phraseCol)
    // Zone-pruned chain read (r19, guide §6 — the TextIndex.query
    // discipline applied here too): rows commit term-sorted with term
    // zones, so whole chain files outside the query terms' [min,max]
    // ranges are skipped before any footer opens. EXACT: a dropped file
    // holds no query-term row, so it can contribute neither a slot match
    // nor a df_phrase row (phrase df counts MATCHES, which need every
    // slot present); the residual isin filter still applies either way.
    val src =
      if (terms.isEmpty) chain.load(store, table, v, meta)
      else chain.loadPruned(store, table, v, meta,
        Seq(ZoneMap.stringIn("term", terms)))
    matchTail(src.filter(termFilter), slots, slop, prefilter, maxK)
  }

  /** One-shot phrase/proximity matching WITHOUT an index — the
    * scan-path twin of [[phraseQuery]] (the retrieve_bm25 vs
    * bm25_index convention): positional rows are derived from `docs`
    * per invocation through the SAME [[posRowsOf]] pipeline the index
    * build uses, with the query-term filter applied between the
    * position explode and the (term, doc) group so only the phrases'
    * terms ever aggregate. Same output, same truth
    * (`retrieve_phrase_scan` carries the identical DuckDB oracle);
    * use the index when the corpus outlives the query batch. */
  def phraseScan(docs: DataFrame, textCol: String, idCol: String,
                 phrases: DataFrame, queryIdCol: String, phraseCol: String,
                 slop: Int = 0): DataFrame = {
    val (slots, termFilter, _, maxK) = slotsOf(phrases, queryIdCol, phraseCol)
    // no containment prefilter on the scan path: the positional rows
    // are derived per-invocation (not a columnar table), so the slim
    // pass could not column-prune anything — it would just run the
    // derive pipeline twice
    matchTail(posRowsOf(tokenized(docs, textCol, idCol), Some(termFilter)),
      slots, slop, prefilter = false, maxK)
  }

  /** (query, slot, term) rows — one per phrase token, slot = position
    * IN THE PHRASE (duplicate phrase terms keep distinct slots, which
    * is what makes repeated-term phrases verify correctly) — plus the
    * term filter for the positional source. ONE bounded driver action
    * (the small-query-batch contract shared with
    * TextIndex.queryMaxScore) collects the ≤ Q·k slot triples, and
    * everything downstream — the pushed term filter, the duplicate-id
    * guard, the broadcast slot frame, the per-query k counts, the
    * prefilter's probe — derives from the collected rows as LOCAL
    * relations: the phrase-batch subtree (often a filtered corpus
    * read) is evaluated once, not once per broadcast build, and the
    * guard costs no extra job. An all-whitespace batch has no slot
    * rows; lit(false) keeps the NORMAL plan (and so the caller-derived
    * column types) instead of a hand-built empty frame whose schema
    * could diverge from it. */
  private def slotsOf(phrases: DataFrame, queryIdCol: String,
                      phraseCol: String)
      : (DataFrame, Column, Seq[String], Int) = {
    val spark = phrases.sparkSession
    val qidType = phrases.schema(queryIdCol).dataType
    val slotRows = phrases.select(col(queryIdCol).as("query_id"),
        posexplode(TextFunctions.tokens(lower(col(phraseCol))))
          .as(Seq("idx", "term")))
      .select(col("query_id"), col("idx").cast("int").as("idx"), col("term"))
      .collect()
    // Duplicate query ids would merge two phrases' (idx, term) slots
    // under one query; PhraseTf then sees duplicate idx values and
    // returns 0, so every match for that query would vanish SILENTLY.
    // Fail loudly instead (r15 ADVICE) — detected on the collected
    // rows: a repeated (query_id, idx) pair can only come from two
    // phrases sharing an id.
    val dupIds = slotRows.groupBy(r => (r.get(0), r.getInt(1)))
      .collect { case (k, rs) if rs.length > 1 => k._1 }.toSeq.distinct
    if (dupIds.nonEmpty)
      throw new IllegalArgumentException(
        s"phrase batch carries duplicate $queryIdCol values " +
          s"(e.g. ${dupIds.take(3).mkString(", ")}) — one phrase per " +
          "query id; duplicates would silently match nothing")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("query_id", qidType),
      org.apache.spark.sql.types.StructField("idx",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType)))
    val slots = spark.createDataFrame(
      java.util.Arrays.asList(slotRows: _*), schema)
    val terms = slotRows.map(_.getString(2)).distinct.toIndexedSeq
    val termFilter =
      if (terms.isEmpty) lit(false) else col("term").isin(terms: _*)
    val maxK = if (slotRows.isEmpty) 0
      else slotRows.groupBy(_.get(0)).valuesIterator.map(_.length).max
    (slots, termFilter, terms, maxK)
  }

  /** Containment candidates of a phrase batch: the (query_id, doc_id)
    * pairs whose document holds EVERY slot of that query's phrase — a
    * NECESSARY condition for a match (PhraseTf returns 0 on any missing
    * slot), so candidates ⊇ matches and restricting the fat positional
    * rows to them preserves the match set (hence df, hence every
    * ranked score) exactly. Computed from the (term, doc_id) projection
    * only: parquet column pruning keeps the position payload out of
    * this pass entirely. Coverage is a slot BITMASK folded with one
    * single-phase bit_or aggregate (a count-distinct plans as a
    * two-exchange distinct aggregate — double the slim shuffle for
    * nothing); caller guarantees every slot idx < 63 ([[matchTail]]
    * skips the prefilter for longer phrases — it is an optimization,
    * never a semantic switch). */
  private[graft] def containmentCandidates(posRows: DataFrame,
                                           slots: DataFrame,
                                           ks: DataFrame): DataFrame =
    posRows.select(col("term"), col("doc_id"))
      .join(broadcast(slots.select(col("term"), col("query_id"), col("idx"))),
        Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(bit_or(expr("shiftleft(1L, idx)")).as("mask"))
      .join(broadcast(ks), Seq("query_id"))
      // full-coverage mask as ~(-1 << k): overflow-free for every
      // k ≤ 63, where the naive (1 << k) - 1 throws under ANSI at 63
      .filter(col("mask") === expr("~ shiftleft(-1L, k)"))
      .select(col("query_id"), col("doc_id"))

  /** The shared match pipeline over positional (term, doc_id, posns,
    * tf, dl) rows: broadcast the slots in, group per (query, doc),
    * verify the position chain in-expression.
    *
    * `prefilter` (OPT-IN — measured net-negative on both flagship
    * corpus shapes, class scaladoc) adds the containment pre-pass: a
    * slim (term, doc_id) aggregate finds the all-slots candidates,
    * which broadcast back as a semi-join on the fat rows, so only
    * candidate docs' position payloads cross the (query, doc) group
    * exchange. The candidate set is COLLECTED when it fits
    * [[LocalCandCap]] (the overwhelmingly common case — it is the
    * conjunction of all phrase terms) so the slim pass runs exactly
    * once and the broadcast builds from a local relation; a candidate
    * set PAST the cap drops the prefilter outright — poor selectivity
    * means the semi-join would keep most fat rows anyway, so the
    * pre-pass cannot pay, and matching proceeds on the direct plan.
    * Results are IDENTICAL with the prefilter off (a >63-slot phrase
    * also skips it silently — the coverage bitmask is a long). */
  private def matchTail(posRows: DataFrame, slots: DataFrame,
                        slop: Int, prefilter: Boolean,
                        maxK: Int): DataFrame = {
    val ks = slots.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("int").as("k"))
    val fat = posRows.join(broadcast(slots), Seq("term"))
    val src =
      if (!prefilter || maxK > 63) fat
      else {
        // one bounded action (limit+collect) — no persist: nothing
        // reuses the frame's blocks (the semi-join builds from the
        // collected local rows; the over-cap path discards it)
        val cand = containmentCandidates(posRows, slots, ks)
        val local = cand.limit(LocalCandCap + 1).collect()
        if (local.length > LocalCandCap) fat
        else fat.join(
          broadcast(posRows.sparkSession.createDataFrame(
            java.util.Arrays.asList(local: _*), cand.schema)),
          Seq("query_id", "doc_id"), "left_semi")
      }
    src
      .groupBy(col("query_id"), col("doc_id"))
      .agg(collect_list(struct(col("idx"), col("posns"))).as("members"),
        max(col("dl")).as("dl"))
      .join(broadcast(ks), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        graft.plans.TextExpressions
          .phraseTf(col("members"), col("k"), slop).as("phrase_tf"),
        col("dl"))
      .filter(col("phrase_tf") >= 1)
  }

  /** BM25-RANKED phrase retrieval (Lucene's sloppy-phrase scoring
    * shape): every [[phraseQuery]] match scored as if the phrase were a
    * single term —
    * {{{ idf(df_phrase) · ptf·(k1+1) / (ptf + k1·(1−b + b·dl/avgdl)) }}}
    * with ptf the phrase occurrence count, df_phrase the number of
    * matching documents (exact, counted from the match set), and
    * (nDocs, avgdl) the committed corpus stats that accumulate across
    * appends. The arithmetic mirrors
    * [[graft.functions.Retrieval]]'s BM25 contribution term-for-term,
    * so the rank projection carries an engine-stable DuckDB oracle
    * (`retrieve_phrase_ranked`) by the same double-precision argument.
    * Per-query ranking is the shared bounded top-k heap — no window —
    * and everything after the match set is match-set-sized. The match
    * set is read twice (the df aggregate and the scoring join), so it
    * is persisted and the result materialized EAGERLY — the returned
    * (query_id, doc_id, score, rank) frame (rank 1..k, score rounded
    * for display; compare RANKS across engines, not raw doubles) is a
    * `localCheckpoint`: plan-severed and SELF-CONTAINED — no cached
    * plan or broadcast stays pinned, no version dir is read again (safe
    * across a later vacuum), its storage is released when the frame is
    * garbage-collected (ContextCleaner), and `unpersist` is a harmless
    * no-op. */
  def phraseQueryRanked(store: SnapshotStore, table: String,
                        phrases: DataFrame, queryIdCol: String,
                        phraseCol: String, k: Int = 10, slop: Int = 0,
                        k1: Double = 1.2, b: Double = 0.75,
                        prefilter: Boolean = false): DataFrame = {
    val v = store.currentVersion(table)
    require(v > 0, s"$table: no committed phrase index")
    val meta = store.metaForVersion(table, v)
    requireCompatible(meta, table)
    val nDocs = meta.getOrElse(s"${P}nDocs", "0").toLong
    val avgdl =
      if (nDocs > 0) meta.getOrElse(s"${P}sumDl", "0").toDouble / nDocs
      else 1.0 // empty index: no matches exist, the value is never used
    val m = phraseQuery(store, table, phrases, queryIdCol, phraseCol, slop,
        prefilter)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfPerQuery = m.groupBy(col("query_id"))
      .agg(count(lit(1)).cast("double").as("df"))
    val out = m.join(broadcast(dfPerQuery), Seq("query_id"))
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("score",
        col("idf") * col("phrase_tf").cast("double") * (k1 + 1) /
          (col("phrase_tf").cast("double") +
            (col("dl") * (b / avgdl) + (1 - b)) * k1))
      .groupBy(col("query_id"))
      .agg(graft.plans.TopKAggregate
        .boundedTopK(col("doc_id"), col("score"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.neighbor_id").as("doc_id"),
        round(col("col.score"), 6).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
      .localCheckpoint()
    m.unpersist(blocking = false)
    out
  }

  /** On-demand chain fold (maintenance; appends also self-fold every
    * `compactEvery`) — idempotent, atomic version flip. */
  def compactIndex(store: SnapshotStore, table: String): Boolean =
    store.transactMeta[Unit](table, sortKey = Some("term"),
        statsCols = Seq("term", "tf", "dl")) {
      val v = store.currentVersion(table)
      if (v == 0) Left(())
      else {
        val meta = store.metaForVersion(table, v)
        // a pre-v2 table must surface the rebuild contract here too —
        // maintenance runs before any query on upgrade (r16 review)
        requireCompatible(meta, table)
        chain.compactNow(store, table, v, meta).toRight(())
      }
    }.isRight

  /** Drop version dirs outside the live delta chain. Layout-gated like
    * every other entry point (r17 review): on a table whose LATEST
    * build is postings-layout, the carried-forward `phrase.parts`
    * chain is STALE — computing "live" from it would vacuum the
    * postings chain's own members (data loss), so refuse instead. */
  def vacuumIndex(store: SnapshotStore, table: String): Unit = {
    val v = store.currentVersion(table)
    if (v == 0) return
    requireCompatible(store.metaForVersion(table, v), table)
    store.dropVersions(table,
      store.versions(table).toSet -- chain.liveVersions(store, table))
  }
}
