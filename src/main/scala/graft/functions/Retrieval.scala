package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.plans.TopKAggregate

/** Sparse (inverted-index) retrieval over hashed bag-of-token features —
  * the text-side counterpart of the dense ANN family (reference analog:
  * none — its text columns stop at SQL LIKE filters,
  * `lambda/lambda_function.py:520-700`; this is the builder prompt's
  * similarity-search extension applied to sparse vectors).
  *
  * Scale design: the corpus postings table (one row per non-zero feature)
  * is the natural distributed inverted index — it never collects, never
  * re-shuffles on an id, and joins to the (small, broadcast) query
  * postings on the feature key alone. Scoring is a two-phase aggregate:
  * map-side partial sums of per-feature products, one exchange keyed on
  * (query_id, neighbor_id) — candidate-pair-sized, not corpus-sized —
  * then the per-query ranking is the same bounded top-k heap aggregate
  * the dense paths use (no corpus-sized window sort anywhere).
  *
  * Scores are integer dot products of signed counts (exact in a Double up
  * to 2^53), so the whole path — tokenize → hash → signed count → join →
  * dot → top-k — is pinned end-to-end by a DuckDB oracle from raw text
  * (`retrieve_sparse`).
  */
object Retrieval {

  /** Top-k corpus documents per query by sparse dot product.
    *
    * `corpus` and `queries` are sparse feature tables with columns
    * (idCol, bucketCol, weightCol) — e.g. `Featurize.hashFeaturesSparse`
    * output. `queries` must be small (its postings are broadcast).
    *
    * Join semantics: only (query, doc) pairs sharing ≥1 feature are
    * scored — a doc with no common feature is absent even if some scored
    * dot is negative (signed-count hashing admits negative weights).
    * That is the standard inverted-index retrieval contract: absence
    * means "no evidence", not "score 0".
    *
    * Returns (query_id, neighbor_id, dot, rank), rank 1..k per query,
    * ordered (dot desc, neighbor_id asc) — the same deterministic
    * tie-break contract as the dense similarity family. */
  def sparseDotTopK(corpus: DataFrame, corpusIdCol: String,
                    queries: DataFrame, queryIdCol: String,
                    bucketCol: String = "bucket", weightCol: String = "weight",
                    k: Int = 10): DataFrame = {
    val c = corpus.select(col(corpusIdCol).as("neighbor_id"),
      col(bucketCol).as("bucket"), col(weightCol).cast("long").as("w_c"))
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(bucketCol).as("bucket"), col(weightCol).cast("long").as("w_q"))
    val scored = c.join(broadcast(q), Seq("bucket"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("w_c") * col("w_q")).as("dot"))
    scored
      .groupBy(col("query_id"))
      .agg(TopKAggregate.boundedTopK(
        col("neighbor_id"), col("dot").cast("double"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.neighbor_id").as("neighbor_id"),
        // integer dot rode the heap as an exact Double; surface it typed
        col("col.score").cast("long").as("dot"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** BM25 ranked retrieval (Robertson/Spärck Jones; the Okapi scorer
    * Lucene and every production text index default to).
    *
    *   score(q, d) = Σ_{t ∈ q∩d} idf(t) · tf·(k1+1) /
    *                 (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * `corpus` is (idCol, textCol); `queries` (queryIdCol, queryTextCol)
    * must be small — its TERM SET is broadcast, which is what keeps the
    * whole plan candidate-sized at any corpus scale:
    *  - the exploded corpus postings are semi-joined against the
    *    broadcast query terms BEFORE any aggregation, so tf counting,
    *    df counting, and scoring only ever touch rows for terms a query
    *    actually contains (|terms| · corpus-hit rows, not |vocab|);
    *  - doc length and N/avgdl are one map + one scalar aggregate over
    *    the corpus scan (no shuffle);
    *  - per-query ranking is the shared bounded top-k heap aggregate.
    * Tokens are case-folded (IR convention — unlike the hashing-trick
    * family, which matches its oracle's raw-token recipe).
    *
    * Scores are floats (ln), so the score VALUES carry no cross-engine
    * oracle — RetrievalSpec pins them to an independent JVM
    * implementation of the formula. The RANKING does: measured
    * adjacent-rank score gaps (≥ 4e-4 over ranks 1..12 at sf0.01) dwarf
    * double-summation noise, so the ids+rank projection is
    * DuckDB-oracle-checked (`retrieve_bm25_oracle`).
    *
    * Corpus scans — the dominant cost at 100 TB. The formula needs two
    * things from the full corpus: the scalar stats (N, avgdl) and the
    * query-term postings. With `corpusStats` supplied (the production
    * path: corpora maintain a stats table; any change to it is one cheap
    * aggregate per ingest batch) the plan is LAZY and tokenizes the
    * corpus exactly ONCE — the postings scan. Without it, this method
    * must derive the stats itself: it persists the tokenized corpus
    * (MEMORY_AND_DISK — spills, never OOMs), runs the stats aggregate as
    * a construction-time action (EAGER contract, like
    * Dedup.nearDuplicatePairs: a failure surfaces here, not at the
    * caller's action), materializes the candidate-sized result, and
    * releases the corpus cache before returning — so the corpus is still
    * tokenized once, at the price of one transient corpus-sized
    * spillable cache. That eager result is a `localCheckpoint`:
    * materialized, plan-severed and SELF-CONTAINED — it pins no cached
    * plan (and so none of the broadcasts the query built), its storage
    * is released when the frame is garbage-collected (ContextCleaner),
    * and `unpersist` is a harmless no-op. An empty corpus returns an
    * empty, correctly-typed result instead of failing on the null avgdl
    * aggregate.
    *
    * The query side is collected to the driver as (query_id, term)
    * pairs and broadcast into both joins, so it is size-gated BEFORE
    * any corpus work: past the rows a forced broadcast of the pairs
    * admits (`BroadcastGate.maxRows` at the default key limit), the
    * call fails fast naming that bound — split the query batch.
    *
    * Returns (query_id, neighbor_id, score, rank), rank 1..k,
    * (score desc, id asc). */
  def bm25TopK(corpus: DataFrame, corpusIdCol: String, textCol: String,
               queries: DataFrame, queryIdCol: String, queryTextCol: String,
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
               corpusStats: Option[(Long, Double)] = None): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    import org.apache.spark.sql.types.{StringType, StructField, StructType}
    import org.apache.spark.storage.StorageLevel
    import graft.store.BroadcastGate
    val spark = corpus.sparkSession
    val corpusIdType = corpus.schema(corpusIdCol).dataType

    // ONE bounded collect of the (query_id, term) pairs (r19, the
    // index paths' one-collect discipline): the queries subtree — often
    // itself a filtered corpus read — was evaluated twice (the distinct
    // term broadcast + the scoring tail's qSide); both sides now rebuild
    // as LocalRelations from the collected pairs. The term set must be
    // exactly-deduplicated either way (qTerms feeds an INNER join, where
    // a duplicate term would double tf), which the local distinct does.
    // The pairs are broadcast below, so the collect stops one row past
    // the broadcast ceiling and refuses — before the corpus is touched.
    val qIdType = queries.schema(queryIdCol).dataType
    val pairSchema = StructType(Seq(StructField("query_id", qIdType),
      StructField("term", StringType)))
    val maxPairs = BroadcastGate.maxRows(pairSchema, BroadcastGate.DefaultKeyLimit)
    val qPairs = queries
      .select(col(queryIdCol).as("query_id"),
        explode(array_distinct(TF.tokens(lower(col(queryTextCol))))).as("term"))
      .limit(maxPairs.toInt + 1)
      .collect()
    require(qPairs.length <= maxPairs,
      s"bm25TopK: the query batch yields more than $maxPairs (query_id, " +
        "term) pairs, the BroadcastGate ceiling (DefaultKeyLimit " +
        s"${BroadcastGate.DefaultKeyLimit} rows, DefaultByteLimit " +
        s"${BroadcastGate.DefaultByteLimit} bytes) they are broadcast " +
        "under; split the query batch")
    if (qPairs.isEmpty)
      return emptyRanked(spark, qIdType, corpusIdType)

    val docsTokRaw = corpus.select(col(corpusIdCol).as("neighbor_id"),
      TF.tokens(lower(col(textCol))).as("toks"))
    val docsTok =
      if (corpusStats.isDefined) docsTokRaw
      else docsTokRaw.persist(StorageLevel.MEMORY_AND_DISK)

    val (nDocs, avgdl) = corpusStats.getOrElse {
      // scalar corpus stats: one aggregate over the (cached) tokenization
      val stats = docsTok.agg(
        count(lit(1)).as("n_docs"), avg(size(col("toks"))).as("avgdl")).collect()(0)
      (stats.getLong(0), if (stats.isNullAt(1)) 0.0 else stats.getDouble(1))
    }
    if (nDocs == 0L || avgdl <= 0.0) {
      // empty corpus (or all-empty docs): no postings can exist — return
      // the typed empty result rather than dividing by a null aggregate
      docsTok.unpersist(blocking = false)
      return emptyRanked(spark, qIdType, corpusIdType)
    }

    val qSide = spark.createDataFrame(
      java.util.Arrays.asList(qPairs: _*), pairSchema)
    import spark.implicits._
    val qTerms = qPairs.map(_.getString(1)).distinct.toSeq.toDF("term")

    // postings restricted to query terms — tf per (doc, term), a
    // candidate-sized aggregation
    val hits = docsTok
      .select(col("neighbor_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(qTerms), Seq("term"))
      .groupBy(col("term"), col("neighbor_id"), col("dl"))
      .agg(count(lit(1)).cast("double").as("tf"))

    val ranked = bm25Score(hits, queries, queryIdCol, queryTextCol,
      nDocs, avgdl, k, k1, b, qSideOpt = Some(qSide))

    if (corpusStats.isDefined) ranked // lazy: stats given, single corpus scan
    else {
      // EAGER: checkpoint the (Q·k)-row result, then free the corpus
      // cache — the result the caller composes is a leaf over its own
      // small blocks, never the corpus (or this plan) again.
      val out = ranked.localCheckpoint()
      docsTok.unpersist(blocking = false)
      out
    }
  }

  /** The BM25 scoring tail shared by [[bm25TopK]] (which derives `hits`
    * from a corpus scan) and `TextIndex.query` (which reads `hits` from
    * the persistent postings table): df per term → idf → per-(doc,term)
    * contribution → per-query sum → bounded top-k heap.
    *
    * `hits` columns: (term, neighbor_id, dl, tf) — one row per (query
    * term, matching doc), ALREADY restricted to the query-term set (df
    * is counted from these rows: restricting to query terms loses
    * nothing because only those terms are scored). Every aggregate and
    * join here is candidate-sized — this tail never sees corpus-sized
    * data, which is exactly why the postings-index path can reuse it
    * verbatim: both producers feed the same (term, doc) hit rows, so
    * indexed and unindexed ranking agree score-for-score (the sums run
    * over identical values; RetrievalSpec pins exact equality). */
  private[graft] def bm25Score(hits: DataFrame,
                               queries: DataFrame, queryIdCol: String,
                               queryTextCol: String,
                               nDocs: Long, avgdl: Double,
                               k: Int, k1: Double, b: Double,
                               qSideOpt: Option[DataFrame] = None)
      : DataFrame = {
    val dfPerTerm = hits.groupBy(col("term"))
      .agg(count(lit(1)).cast("double").as("df"))
    bm25ScoreWithDf(hits.join(broadcast(dfPerTerm), Seq("term")),
      queries, queryIdCol, queryTextCol, nDocs, avgdl, k, k1, b,
      qSideOpt = qSideOpt)
  }

  /** The scoring tail below the df attach — split out so the
    * champion-pruned path (`TextIndex.queryChampions`), whose hit rows
    * CARRY the true per-term df as a stored column, can reuse the exact
    * idf/contribution/top-k pipeline. `hitsWithDf` columns:
    * (term, neighbor_id, dl, tf, df) with df already correct for each
    * term — for the full paths that means df counted from the complete
    * hit rows; for the champion path the stored full-corpus df (counting
    * the champion rows instead would cap df at m and silently inflate
    * every common term's idf). */
  private[graft] def bm25ScoreWithDf(hitsWithDf: DataFrame,
                                     queries: DataFrame, queryIdCol: String,
                                     queryTextCol: String,
                                     nDocs: Long, avgdl: Double,
                                     k: Int, k1: Double, b: Double,
                                     restrictTo: Option[DataFrame] = None,
                                     qSideOpt: Option[DataFrame] = None)
      : DataFrame = {
    import graft.functions.{TextFunctions => TF}
    val perTerm = hitsWithDf
      .withColumn("df", col("df").cast("double"))
      .withColumn("idf", log(lit(1.0) +
        (lit(nDocs.toDouble) - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("contrib", col("idf") * col("tf").cast("double") * (k1 + 1) /
        (col("tf").cast("double") + (col("dl") * (b / avgdl) + (1 - b)) * k1))
    // fan out per query: (query_id, its term multiset) — tf weighting of
    // repeated query terms is 1 per distinct term (standard BM25 query
    // side at these lengths). Index-path callers that already collected
    // the (query_id, term) pairs for their term probe pass them back as
    // a LocalRelation (r19, guide §1.2 — the queryMaxScore one-collect
    // discipline): the query subtree is then evaluated once, not again
    // by this broadcast build.
    val qSide = qSideOpt.getOrElse(
      queries.select(col(queryIdCol).as("query_id"),
        explode(array_distinct(TF.tokens(lower(col(queryTextCol))))).as("term")))
    val joined = perTerm.join(broadcast(qSide), Seq("term"))
    // MaxScore path (TextIndex.queryMaxScore): only proven-candidate
    // (query, doc) pairs may be scored — non-candidates carry partial
    // hit rows there, and an understated sum must never reach the heap.
    // Restricting BEFORE the aggregate keeps it candidate-sized.
    val scoped = restrictTo match {
      case Some(cand) =>
        joined.join(cand.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id"), "left_semi")
      case None => joined
    }
    val scored = scoped
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("contrib")).as("score"))
    scored
      .groupBy(col("query_id"))
      .agg(TopKAggregate.boundedTopK(col("neighbor_id"), col("score"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.neighbor_id").as("neighbor_id"),
        round(col("col.score"), 6).as("score"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** The typed empty (query_id, neighbor_id, score, rank) result — shared
    * by the empty-corpus/empty-query early exits of both BM25 paths. */
  private[graft] def emptyRanked(spark: org.apache.spark.sql.SparkSession,
                                 queryIdType: org.apache.spark.sql.types.DataType,
                                 neighborIdType: org.apache.spark.sql.types.DataType)
      : DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("query_id", queryIdType),
      StructField("neighbor_id", neighborIdType),
      StructField("score", DoubleType),
      StructField("rank", IntegerType)))
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }
}
