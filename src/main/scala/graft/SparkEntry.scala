package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{EventQueries, ExtensionQueries, RelationalQueries, StorageQueries}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator from SURVEY.md §2 (or an extension
  * op); `oracleSql` gives the DuckDB-equivalent SQL over the same parquet
  * tables. Column names are aliased identically on both sides — the driver
  * sorts columns by name before hashing.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    RelationalQueries.q1Pricing(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p1_filter"      -> (RelationalQueries.p1Filter _),
    "p2_project"     -> (RelationalQueries.p2Project _),
    "p4_point"       -> (RelationalQueries.p4PointLookup _),
    "p5_conj"        -> (RelationalQueries.p5Conjunction _),
    "p6_like"        -> (RelationalQueries.p6Like _),
    "p7_semi"        -> (RelationalQueries.p7SemiJoin _),
    "j1_anti"        -> (RelationalQueries.j1AntiJoin _),
    "j2_inner"       -> (RelationalQueries.j2InnerJoin _),
    "j3_salted"      -> (RelationalQueries.j3SaltedJoin _),
    "a1_minmaxcount" -> (RelationalQueries.a1MinMaxCount _),
    "a3_coalescemax" -> (RelationalQueries.a3CoalesceMax _),
    "a5_groupcount"  -> (RelationalQueries.a5GroupCount _),
    "a6_groupcount2" -> (RelationalQueries.a6GroupCount2 _),
    "a6_pivot"       -> (RelationalQueries.a6Pivot _),
    "a7_groupsum"    -> (RelationalQueries.a7GroupSum _),
    "a8_rollup"      -> (RelationalQueries.a8Rollup _),
    "o3_topk"        -> (RelationalQueries.o3TopK _),
    "m1_nextkey"     -> (RelationalQueries.m1NextKey _),
    "m3_update"      -> (RelationalQueries.m3UpdateProjection _),
    "m5_delete"      -> (RelationalQueries.m5Delete _),
    "m8_distinct"    -> (RelationalQueries.m8Distinct _),
    "p3_streq"       -> (RelationalQueries.p3StringEq _),
    "s6_page"        -> (RelationalQueries.s6Page _),
    "store_prune_range" -> (StorageQueries.storePruneRange _),
    "store_prune_time"  -> (StorageQueries.storePruneTime _),
    "store_zorder_rect" -> (StorageQueries.storeZorderRect _),
    "w1_rownumber"   -> (RelationalQueries.w1RowNumber _),
    "w2_runningsum"  -> (RelationalQueries.w2RunningSum _),
    "w3_topkgroup"   -> (RelationalQueries.w3TopKPerGroup _),
    "sql_joinagg"    -> (RelationalQueries.sqlJoinAgg _),
    // the graft_* SQL surface (GraftFunctions): the registered native
    // expressions driven from spark.sql, gated by the same DuckDB oracle
    // as the Column-API text_stats
    "sql_textfns"    -> ((s, dir) => {
      GraftFunctions.register(s) // no-op on Sessions.local sessions
      Tables.documents(s, dir).createOrReplaceTempView("graft_docs")
      s.sql("SELECT doc_id, graft_token_count(text) AS n_tokens, " +
        "graft_digit_count(text) AS n_digits, " +
        "graft_digit_ratio(text) AS digit_ratio FROM graft_docs")
    }),
    "u1_union"       -> (RelationalQueries.u1Union _),
    "f7_dategroup"   -> (RelationalQueries.f7DateGroup _),
    "q1_pricing"     -> (RelationalQueries.q1Pricing _),
    "q3_revenue"     -> (RelationalQueries.q3Revenue _),
    // events: windows / sessions / JSON (SURVEY §2.7 analogs)
    "events_hourly"    -> (EventQueries.hourlyAgg _),
    "events_sessions"  -> (EventQueries.sessions _),
    "events_json"      -> (EventQueries.jsonExtract _),
    "events_typestats" -> (EventQueries.typeStats _),
    "events_asof"      -> (EventQueries.asofPurchase _),
    "events_rangejoin" -> (EventQueries.rangeJoinIncidents _),
    "events_distinct"  -> (EventQueries.distinctUsers _),
    "events_quantiles" -> (EventQueries.quantiles _),
    // no oracle by design (GK sketch values are engine-specific);
    // SketchSpec pins it: exact-equal at lossless accuracy, rank-bounded
    // in the high-cardinality regime the exact query's contract excludes.
    "events_quantiles_approx" -> ((s, d) => EventQueries.quantilesApprox(s, d)),
    "events_sliding"   -> (EventQueries.slidingActivity _),
    "events_funnel"    -> ((s, d) => EventQueries.funnel(s, d,
      horizonUs = 7L * 86400L * 1000000L)),
    // k=4 steps, tighter 3-day horizon: exercises the chained
    // conditional-min generalization past the 3-step default.
    "events_funnel4"   -> ((s, d) => EventQueries.funnel(s, d,
      steps = Seq("signup", "view", "click", "purchase"),
      horizonUs = 3L * 86400L * 1000000L)),
    "events_retention" -> (EventQueries.retention _),
    // training-data extension ops (text / dedup / similarity)
    "text_stats"          -> (ExtensionQueries.textStats _),
    "text_triage"         -> (ExtensionQueries.textTriage _),
    "text_repetition"     -> (ExtensionQueries.textRepetition _),
    "decon_docs"          -> ((s, d) => ExtensionQueries.deconDocs(s, d)),
    "decon_docs_table"    -> ((s, d) => ExtensionQueries.deconDocsTable(s, d)),
    "mix_temperature"     -> (ExtensionQueries.mixTemperature _),
    "mix_sampled"         -> (ExtensionQueries.mixSampled _),
    "curate_filtered"     -> (ExtensionQueries.curateFiltered _),
    "curate_scored"       -> (ExtensionQueries.curateScored _),
    "quality_train"       -> (ExtensionQueries.qualityTrain _),
    "text_linededup"      -> (ExtensionQueries.textLineDedup _),
    "text_spandedup"      -> (ExtensionQueries.textSpanDedup _),
    "quality_lm"          -> (ExtensionQueries.qualityLm _),
    "quality_lm_stored"   -> (ExtensionQueries.qualityLmStored _),
    "mix_dsir"            -> (ExtensionQueries.mixDsir _),
    "pii_scrub"           -> (ExtensionQueries.piiScrub _),
    "split_leakage_safe"  -> (ExtensionQueries.splitLeakageSafe _),
    "cap_per_source"      -> ((s, d) => ExtensionQueries.capPerSource(s, d)),
    "chunk_docs"          -> ((s, d) => ExtensionQueries.chunkDocs(s, d)),
    "vocab_topk"          -> ((s, d) => ExtensionQueries.vocabTopK(s, d)),
    "embed_docs"          -> ((s, d) => ExtensionQueries.embedDocs(s, d)),
    "retrieve_sparse"     -> ((s, d) => ExtensionQueries.retrieveSparse(s, d)),
    "retrieve_bm25"       -> ((s, d) => ExtensionQueries.retrieveBm25(s, d)),
    "retrieve_bm25_oracle" -> (ExtensionQueries.retrieveBm25Oracle _),
    "retrieve_bm25_indexed" -> ((s, d) => ExtensionQueries.retrieveBm25Indexed(s, d)),
    "retrieve_bm25_postings" -> ((s, d) => ExtensionQueries.retrieveBm25Postings(s, d)),
    "retrieve_phrase"       -> (ExtensionQueries.retrievePhrase _),
    "retrieve_phrase_incr"  -> (ExtensionQueries.retrievePhraseIncr _),
    "retrieve_proximity"    -> (ExtensionQueries.retrieveProximity _),
    "retrieve_phrase_ranked" -> (ExtensionQueries.retrievePhraseRanked _),
    "retrieve_phrase_scan"   -> (ExtensionQueries.retrievePhraseScan _),
    "retrieve_bm25_champ" -> ((s, d) => ExtensionQueries.retrieveBm25Champ(s, d)),
    "retrieve_bm25_merged" -> ((s, d) => ExtensionQueries.retrieveBm25ChampMerged(s, d)),
    "retrieve_bm25_maintained" -> ((s, d) => ExtensionQueries.retrieveBm25Maintained(s, d)),
    "retrieve_bm25_maxscore" -> ((s, d) => ExtensionQueries.retrieveBm25MaxScore(s, d)),
    "dedup_jaccard_pairs" -> (ExtensionQueries.dedupJaccardPairs _),
    "dedup_components"    -> (ExtensionQueries.dedupComponents _),
    "dedup_cluster_keep"  -> (ExtensionQueries.dedupClusterKeep _),
    "dedup_cluster_keepbest" -> (ExtensionQueries.dedupClusterKeepBest _),
    "dedup_exact_keepbest"   -> (ExtensionQueries.dedupExactKeepBest _),
    "curate_docs"         -> (ExtensionQueries.curateDocs _),
    "sample_stratified"   -> (ExtensionQueries.sampleStratified _),
    "pack_shards"         -> ((s, d) => ExtensionQueries.packShards(s, d)),
    "dedup_exact"         -> (ExtensionQueries.dedupExact _),
    "dedup_exact_keep"    -> (ExtensionQueries.dedupExactKeep _),
    "dedup_fingerprint"   -> (ExtensionQueries.dedupFingerprint _),
    "dedup_minhash_pairs" -> (ExtensionQueries.dedupMinhashPairs _),
    "dedup_minhash_oracle" -> (ExtensionQueries.dedupMinhashOracle _),
    "dedup_incr_oracle"   -> (ExtensionQueries.dedupIncrOracle _),
    "dedup_incr_fp_oracle" -> (ExtensionQueries.dedupIncrFpOracle _),
    "dedup_incr_fp_bloom"  -> (ExtensionQueries.dedupIncrFpBloom _),
    "dedup_embed_oracle"  -> (ExtensionQueries.dedupEmbedOracle _),
    "semdedup_oracle"     -> (ExtensionQueries.semDedupOracle _),
    "sem_dedup"           -> (ExtensionQueries.semDedupQuery _),
    "dedup_simhash_pairs" -> (ExtensionQueries.dedupSimhashPairs _),
    "dedup_simhash_oracle" -> (ExtensionQueries.dedupSimhashOracle _),
    "dedup_simhash_incr_oracle" -> (ExtensionQueries.dedupSimhashIncrOracle _),
    "dedup_embed_incr_oracle" -> (ExtensionQueries.dedupEmbedIncrOracle _),
    "dedup_embed_float_oracle" -> (ExtensionQueries.dedupEmbedFloatOracle _),
    "semdedup_incr_oracle" -> (ExtensionQueries.semDedupIncrOracle _),
    "decon_fuzzy"         -> (ExtensionQueries.deconFuzzy _),
    "corpus_report"       -> (ExtensionQueries.corpusReport _),
    "mix_epochs"          -> ((sp, dd) => ExtensionQueries.mixEpochs(sp, dd)),
    "curate_ingest_oracle" -> (ExtensionQueries.curateIngestOracle _),
    "curate_lineage_oracle" -> (ExtensionQueries.curateLineageOracle _),
    "text_triage_oracle"  -> (ExtensionQueries.textTriageOracle _),
    "dedup_embed_pairs"   -> (ExtensionQueries.dedupEmbeddingPairs _),
    "sim_brute_topk"      -> (ExtensionQueries.simBruteTopK _),
    "sim_brute_oracle"    -> (ExtensionQueries.simBruteOracle _),
    "sim_ann_oracle"      -> (ExtensionQueries.simAnnOracle _),
    "sim_ivf_oracle"      -> (ExtensionQueries.simIvfOracle _),
    "sim_ivfpq_oracle"    -> (ExtensionQueries.simIvfPqOracle _),
    "sim_pq_oracle"       -> (ExtensionQueries.simPqOracle _),
    "sim_ann_topk"        -> (ExtensionQueries.simAnnTopK _),
    "sim_ivf_topk"        -> (ExtensionQueries.simIvfTopK _),
    "sim_pq_topk"         -> (ExtensionQueries.simPqTopK _),
    "sim_ivfpq_topk"      -> (ExtensionQueries.simIvfPqTopK _),
    "sim_index_topk"      -> (ExtensionQueries.simIndexTopK _),
    "sim_ann_recall"      -> (ExtensionQueries.simAnnRecall _),
    // takedown (r18): delete -> serve == rebuild-without-docs, per family
    "retrieve_bm25_deleted" -> ((s, d) => ExtensionQueries.retrieveBm25Deleted(s, d)),
    "retrieve_phrase_deleted" -> (ExtensionQueries.retrievePhraseDeleted _),
    "dedup_incr_fp_deleted" -> (ExtensionQueries.dedupIncrFpDeleted _),
    "dedup_minhash_deleted" -> (ExtensionQueries.dedupMinhashDeleted _),
    "dedup_simhash_deleted" -> (ExtensionQueries.dedupSimhashDeleted _),
    "dedup_embed_deleted" -> (ExtensionQueries.dedupEmbedDeleted _),
    "semdedup_deleted"    -> (ExtensionQueries.semDedupDeleted _),
    "sim_index_deleted"   -> (ExtensionQueries.simIndexDeleted _),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "p1_filter" ->
      "SELECT * FROM orders WHERE o_orderstatus = 'F'",
    "p2_project" ->
      "SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey < 100",
    "p4_point" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderkey = 7",
    "p5_conj" ->
      "SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders WHERE o_orderstatus = 'O' AND o_totalprice > 100000.0",
    "p6_like" ->
      "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE upper(c_mktsegment) LIKE '%BUILD%'",
    "p7_semi" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')",
    "j1_anti" ->
      "SELECT o_orderkey, o_custkey FROM orders WHERE NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey AND c_acctbal < 0)",
    "j2_inner" ->
      "SELECT r_name, count(*) AS n_customers, CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal FROM customer JOIN nation ON c_nationkey = n_nationkey JOIN region ON n_regionkey = r_regionkey GROUP BY r_name",
    "j3_salted" ->
      "SELECT o_orderpriority, count(*) AS n_items, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY o_orderpriority",
    "a1_minmaxcount" ->
      "SELECT min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok, count(*) AS cnt FROM lineitem",
    "a3_coalescemax" ->
      "SELECT coalesce(max(o_orderkey), 0) AS mx FROM orders WHERE o_orderkey < 0",
    "a5_groupcount" ->
      "SELECT l_returnflag, count(*) AS cnt FROM lineitem GROUP BY l_returnflag",
    "a6_groupcount2" ->
      "SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem GROUP BY l_returnflag, l_linestatus",
    "a6_pivot" ->
      "SELECT o_orderpriority, count(*) FILTER (WHERE o_orderstatus = 'O') AS \"O\", count(*) FILTER (WHERE o_orderstatus = 'F') AS \"F\", count(*) FILTER (WHERE o_orderstatus = 'P') AS \"P\" FROM orders GROUP BY o_orderpriority",
    "a7_groupsum" ->
      "SELECT o_orderpriority, count(*) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price FROM orders GROUP BY o_orderpriority",
    "a8_rollup" ->
      ("SELECT o_orderpriority, o_orderstatus, GROUPING(o_orderpriority, o_orderstatus) AS gid, " +
        "count(*) AS n_orders, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_price " +
        "FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)"),
    "o3_topk" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100",
    "m1_nextkey" ->
      "SELECT coalesce(max(c_custkey), 0) + 1 AS next_key FROM customer",
    "m3_update" ->
      "SELECT c_custkey, c_name, CASE WHEN c_custkey = 1 THEN 0.0 ELSE c_acctbal END AS c_acctbal FROM customer",
    "m5_delete" ->
      "SELECT c_custkey, c_name FROM customer WHERE NOT c_custkey = 5",
    "m8_distinct" ->
      "SELECT DISTINCT o_custkey, o_orderstatus FROM orders",
    "p3_streq" ->
      "SELECT c_custkey, c_name, c_acctbal FROM customer WHERE c_name = 'Customer#000000042'",
    "s6_page" ->
      "SELECT o_orderkey, o_custkey, o_orderstatus FROM orders WHERE o_orderkey > 500 ORDER BY o_orderkey ASC LIMIT 100",
    // zone-map pruned scans: the oracle filters the FULL table — pruning
    // may only skip files, never change an answer
    "store_prune_range" ->
      ("SELECT l_returnflag, count(*) AS cnt, " +
        "CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents " +
        "FROM lineitem WHERE l_orderkey BETWEEN 1200 AND 4200 GROUP BY 1"),
    "store_prune_time" ->
      ("SELECT event_type, count(*) AS cnt, " +
        "CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents " +
        "FROM events WHERE epoch_ns(ts) // 1000 " +
        "BETWEEN 1704844800000000 AND 1705103999999999 GROUP BY 1"),
    "store_zorder_rect" ->
      ("SELECT l_returnflag, count(*) AS cnt, " +
        "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents " +
        "FROM lineitem WHERE l_partkey BETWEEN 100 AND 600 " +
        "AND l_suppkey BETWEEN 5 AND 60 GROUP BY 1"),
    "w1_rownumber" ->
      "SELECT o_orderkey, o_custkey, row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC) AS rn FROM orders WHERE o_custkey < 50",
    "w2_runningsum" ->
      "SELECT o_orderkey, o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0 AS running_total FROM orders WHERE o_custkey < 100",
    "w3_topkgroup" ->
      "SELECT * FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk FROM orders) WHERE rk <= 5",
    "sql_joinagg" ->
      "SELECT n_name, count(*) AS n_customers, CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_acctbal FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name",
    // sql_textfns drives the graft_* registered functions from spark.sql;
    // the truth is the same tokenization/digit contract as text_stats.
    "sql_textfns" ->
      "SELECT doc_id, CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0 ELSE len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')) END AS n_tokens, length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits, CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio FROM documents",
    "u1_union" ->
      "SELECT o_orderkey, 'HI' AS bucket FROM orders WHERE o_totalprice > 200000.0 UNION ALL SELECT o_orderkey, 'LO' AS bucket FROM orders WHERE o_totalprice < 10000.0",
    "f7_dategroup" ->
      "SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_date, count(*) AS n FROM orders GROUP BY strftime(o_orderdate, '%Y-%m-%d')",
    "q1_pricing" ->
      "SELECT l_returnflag, l_linestatus, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_e4, CAST((sum(CAST(l_quantity AS BIGINT)) * 1000000) // count(*) AS BIGINT) AS avg_qty_e6, CAST((sum(CAST(round(l_discount * 100) AS BIGINT)) * 10000) // count(*) AS BIGINT) AS avg_disc_e6, count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' GROUP BY l_returnflag, l_linestatus",
    "q3_revenue" ->
      "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date, o_orderpriority, CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DOUBLE) / 10000.0 AS revenue FROM lineitem JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey WHERE c_mktsegment = 'BUILDING' GROUP BY o_orderkey, strftime(o_orderdate, '%Y-%m-%d'), o_orderpriority",
    "events_hourly" ->
      "SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type, count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value FROM events GROUP BY 1, 2",
    "events_sessions" ->
      "WITH e AS (SELECT user_id, event_id, value, epoch_ns(ts) // 1000 AS ts_us FROM events), g AS (SELECT *, CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) > 1800000000 THEN 1 ELSE 0 END AS new_session FROM e), s AS (SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq FROM g) SELECT user_id, session_seq, min(ts_us) AS session_start_us, count(*) AS n_events, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS session_value_cents FROM s GROUP BY user_id, session_seq",
    "events_json" ->
      "SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k FROM events",
    "events_distinct" ->
      "SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n_events FROM events GROUP BY event_type",
    // Rank-based percentiles (percentile_disc semantics): value at rank
    // ceil(q*n) in cents order — integer rank arithmetic on both engines,
    // no interpolation floats in the hashed output.
    "events_quantiles" ->
      ("WITH e AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "w AS (SELECT event_type, cents, row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM e) " +
        "SELECT event_type, CAST(max(n) AS BIGINT) AS n, " +
        "max(CASE WHEN rn = (n + 1) // 2 THEN cents END) AS p50_cents, " +
        "max(CASE WHEN rn = (9 * n + 9) // 10 THEN cents END) AS p90_cents, " +
        "max(CASE WHEN rn = (99 * n + 99) // 100 THEN cents END) AS p99_cents " +
        "FROM w GROUP BY event_type"),
    // Sliding windows: Spark's window(ts, 10 min, 5 min) puts each event
    // in the two epoch-aligned 5-minute starts covering it — reconstructed
    // here as floor-to-5-min UNION ALL its 5-minute-earlier twin.
    "events_sliding" ->
      ("WITH b AS (SELECT make_timestamp((epoch_us(ts) // 300000000) * 300000000) AS s0, event_type, " +
        "CAST(round(value * 100) AS BIGINT) AS cents FROM events), " +
        "u AS (SELECT s0 AS s, event_type, cents FROM b " +
        "UNION ALL SELECT s0 - INTERVAL 5 MINUTE, event_type, cents FROM b) " +
        "SELECT strftime(s, '%Y-%m-%d %H:%M:%S') AS win_start, event_type, count(*) AS n, " +
        "CAST(sum(cents) AS BIGINT) AS value_cents FROM u GROUP BY 1, 2"),
    "events_typestats" ->
      "SELECT event_type, count(*) AS n, CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS total_value, min(CAST(round(value * 100) AS BIGINT)) AS min_cents, max(CAST(round(value * 100) AS BIGINT)) AS max_cents FROM events GROUP BY event_type",
    // Ordered funnel (view → click → purchase, 7-day per-step horizon):
    // step i's first qualifying event strictly after step i-1's and within
    // 7 days of it. Chained conditional-min CTEs mirror the Spark chained
    // window minima; all comparisons on integer µs.
    "events_funnel" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events), " +
        "s1 AS (SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts_us END) AS t0 FROM e GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'click' AND e.ts_us > s1.t0 AND e.ts_us <= s1.t0 + 604800000000 THEN e.ts_us END) AS t1 " +
        "FROM e JOIN s1 USING (user_id) GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'purchase' AND e.ts_us > s2.t1 AND e.ts_us <= s2.t1 + 604800000000 THEN e.ts_us END) AS t2 " +
        "FROM e JOIN s2 USING (user_id) GROUP BY e.user_id) " +
        "SELECT '1_view' AS step, count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS users FROM s1 " +
        "UNION ALL SELECT '2_click', count(CASE WHEN t1 IS NOT NULL THEN 1 END) FROM s2 " +
        "UNION ALL SELECT '3_purchase', count(CASE WHEN t2 IS NOT NULL THEN 1 END) FROM s3"),
    // 4-step funnel (signup → view → click → purchase), 3-day horizon:
    // the same chained conditional-min CTE recipe, one more link.
    "events_funnel4" ->
      ("WITH e AS (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events), " +
        "s1 AS (SELECT user_id, min(CASE WHEN event_type = 'signup' THEN ts_us END) AS t0 FROM e GROUP BY user_id), " +
        "s2 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'view' AND e.ts_us > s1.t0 AND e.ts_us <= s1.t0 + 259200000000 THEN e.ts_us END) AS t1 " +
        "FROM e JOIN s1 USING (user_id) GROUP BY e.user_id), " +
        "s3 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'click' AND e.ts_us > s2.t1 AND e.ts_us <= s2.t1 + 259200000000 THEN e.ts_us END) AS t2 " +
        "FROM e JOIN s2 USING (user_id) GROUP BY e.user_id), " +
        "s4 AS (SELECT e.user_id, min(CASE WHEN e.event_type = 'purchase' AND e.ts_us > s3.t2 AND e.ts_us <= s3.t2 + 259200000000 THEN e.ts_us END) AS t3 " +
        "FROM e JOIN s3 USING (user_id) GROUP BY e.user_id) " +
        "SELECT '1_signup' AS step, count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS users FROM s1 " +
        "UNION ALL SELECT '2_view', count(CASE WHEN t1 IS NOT NULL THEN 1 END) FROM s2 " +
        "UNION ALL SELECT '3_click', count(CASE WHEN t2 IS NOT NULL THEN 1 END) FROM s3 " +
        "UNION ALL SELECT '4_purchase', count(CASE WHEN t3 IS NOT NULL THEN 1 END) FROM s4"),
    // Weekly retention triangle. Monday-aligned week index is pure integer
    // math — (epoch_day - 4) div 7 — identical in both engines (all
    // operands positive, so floor vs truncate division agree).
    "events_retention" ->
      ("WITH e AS (SELECT user_id, ((epoch_ns(ts) // 1000) // 86400000000 - 4) // 7 AS week FROM events), " +
        "u AS (SELECT DISTINCT user_id, week FROM e), " +
        "c AS (SELECT user_id, week, min(week) OVER (PARTITION BY user_id) AS cohort_w FROM u) " +
        "SELECT CAST(DATE '1970-01-05' + CAST(cohort_w * 7 AS INTEGER) AS VARCHAR) AS cohort_week, " +
        "week - cohort_w AS week_offset, count(*) AS n_users FROM c GROUP BY 1, 2"),
    "text_stats" ->
      "SELECT doc_id, length(text) AS n_chars, CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0 ELSE len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')) END AS n_tokens, length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digits, CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio FROM documents",
    // Gopher repetition counts: per doc, 2-gram total/top and 3-gram
    // total/duplicate window counts (1-indexed windows i → tk[i]..tk[i+n-1];
    // docs with fewer than n tokens have zero windows, restored by the
    // LEFT JOIN + coalesce). All-integer — ratios stay caller-side.
    "text_repetition" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), " +
        "i -> tk[i] || ' ' || tk[i+1])) AS g FROM d WHERE len(tk) >= 2), " +
        "c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2), " +
        "a2 AS (SELECT doc_id, sum(c) AS t2, max(c) AS m2 FROM c2 GROUP BY 1), " +
        "g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1), " +
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM d WHERE len(tk) >= 3), " +
        "c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2), " +
        "a3 AS (SELECT doc_id, sum(c) AS t3, sum(c) - count(*) AS d3 FROM c3 GROUP BY 1) " +
        "SELECT d.doc_id, CAST(coalesce(t2, 0) AS BIGINT) AS ng2_total, " +
        "CAST(coalesce(m2, 0) AS BIGINT) AS ng2_top, " +
        "CAST(coalesce(t3, 0) AS BIGINT) AS ng3_total, " +
        "CAST(coalesce(d3, 0) AS BIGINT) AS ng3_dup " +
        "FROM d LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)"),
    // Benchmark decontamination: distinct word 4-grams of the
    // doc_id % 23 == 0 eval slice vs every other document's distinct
    // 4-grams; short docs (< 4 tokens) contribute their whole-token
    // joined shingle, mirroring WordShingles' edge semantics.
    "decon_docs" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(1, len(tk) - 2), " +
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) END AS sh FROM d), " +
        "b AS (SELECT DISTINCT unnest(sh) AS sh FROM g WHERE doc_id % 23 = 0), " +
        "s AS (SELECT doc_id, unnest(sh) AS sh FROM g WHERE doc_id % 23 <> 0) " +
        "SELECT s.doc_id, count(*) AS n_hits FROM s JOIN b USING (sh) GROUP BY 1"),
    // Production-shaped decon: benchmark = the doc_id % 23 hold-out as
    // a separate table, corpus = ALL documents (leaked copies flag with
    // full overlap — the canonical decon scenario). The oracle derives
    // the hold-out with the same modulus; contents are identical to the
    // parquet hold-out the Spark side wrote once.
    "decon_docs_table" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(1, len(tk) - 2), " +
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) END AS sh FROM d), " +
        "b AS (SELECT DISTINCT unnest(sh) AS sh FROM g WHERE doc_id % 23 = 0), " +
        "s AS (SELECT doc_id, unnest(sh) AS sh FROM g) " +
        "SELECT s.doc_id, count(*) AS n_hits FROM s JOIN b USING (sh) GROUP BY 1"),
    // Temperature-2 mixture weights: every float is a chain of
    // individually correctly-rounded IEEE ops (sqrt ÷ sqrt; ×100000 then
    // floor), so both engines produce bit-identical doubles — the
    // cross-group normalizer (an order-dependent float sum) is
    // deliberately caller-side. n_tokens reuses text_stats' exact
    // integer token count.
    "mix_temperature" ->
      ("WITH g AS (SELECT lang, count(*) AS n_docs, " +
        "SUM(CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN 0 " +
        "ELSE len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+')) END) AS n_tokens FROM documents GROUP BY 1), " +
        "m AS (SELECT max(n_docs) AS max_docs FROM g) " +
        "SELECT lang, CAST(n_docs AS BIGINT) AS n_docs, CAST(n_tokens AS BIGINT) AS n_tokens, " +
        "sqrt(n_docs) / sqrt(max_docs) AS w_rel, " +
        "CAST(floor(100000 * sqrt(n_docs) / sqrt(max_docs)) AS BIGINT) AS quota_100k " +
        "FROM g, m"),
    // The quota MATERIALIZED: keep doc iff mixHash(doc_id) < quota div
    // 1000, where mixHash is the two-round multiplicative hash onto
    // [0,100) (ExtensionQueries.mixHashBucket — every intermediate
    // bounded below 2^63 so neither engine hits its overflow behavior;
    // % and * are same-precedence left-assoc in BOTH engines), then
    // per-language sampled accounting — an integer filter chain and
    // integer counts, so the whole sample is oracle-checkable.
    "mix_sampled" ->
      ("WITH g AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), " +
        "m AS (SELECT max(n_docs) AS max_docs FROM g), " +
        "q AS (SELECT lang, CAST(floor(100000 * sqrt(n_docs) / sqrt(max_docs)) AS BIGINT) AS quota_100k FROM g, m) " +
        "SELECT d.lang, q.quota_100k, count(*) AS n_sampled, " +
        "CAST(SUM(CASE WHEN length(regexp_replace(d.text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN 0 " +
        "ELSE len(string_split_regex(regexp_replace(d.text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+')) END) AS BIGINT) AS tokens_sampled " +
        "FROM documents d JOIN q USING (lang) " +
        "WHERE d.doc_id % 2147483647 * 2654435761 % 100000007 * 97003 % 100000007 % 100 " +
        "< q.quota_100k // 1000 GROUP BY 1, 2"),
    // Token chunking: chunk i of a doc covers tokens [i·48, i·48+64);
    // chunk count = ceil(max(n − 16, 1) / 48) — integer arithmetic and
    // token slicing identical on both engines (list slices clamp).
    "chunk_docs" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "d2 AS (SELECT doc_id, tk, len(tk) AS n FROM d WHERE len(tk) > 0), " +
        "c AS (SELECT doc_id, tk, CAST((greatest(n - 16, 1) + 47) // 48 AS INTEGER) AS n_chunks FROM d2), " +
        "e AS (SELECT doc_id, tk, CAST(unnest(range(n_chunks)) AS INTEGER) AS chunk_id FROM c) " +
        "SELECT doc_id, chunk_id, len(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS n_chunk_tokens, " +
        "array_to_string(tk[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text FROM e"),
    // Case-folded token frequency top-100; freq ties break on the token
    // string so the LIMIT is a total order.
    "vocab_topk" ->
      ("WITH d AS (SELECT CASE WHEN length(regexp_replace(lower(text), " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "t AS (SELECT unnest(tk) AS token FROM d) " +
        "SELECT token, count(*) AS freq FROM t GROUP BY token " +
        "ORDER BY freq DESC, token ASC LIMIT 100"),
    // Feature-hashed sparse embeddings (Featurize.hashFeaturesSparse):
    // per token, md5 nibbles give bucket = (nib1·16 + nib2) mod 64 and
    // sign = parity of nib3; weights are signed counts, zeros dropped.
    "embed_docs" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "m AS (SELECT doc_id, md5(unnest(tk)) AS h FROM d WHERE len(tk) > 0), " +
        "b AS (SELECT doc_id, CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 " +
        "+ (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS INTEGER) AS bucket, " +
        "CASE WHEN ((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) % 2) = 1 " +
        "THEN 1 ELSE -1 END AS s FROM m) " +
        "SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight " +
        "FROM b GROUP BY doc_id, bucket HAVING sum(s) != 0"),
    // Sparse inverted-index retrieval over the hashed features: integer
    // dot products, (dot desc, id asc) rank — exact in both engines.
    "retrieve_sparse" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "m AS (SELECT doc_id, md5(unnest(tk)) AS h FROM d WHERE len(tk) > 0), " +
        "b AS (SELECT doc_id, CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 " +
        "+ (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS INTEGER) AS bucket, " +
        "CASE WHEN ((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) % 2) = 1 " +
        "THEN 1 ELSE -1 END AS s FROM m), " +
        "sp AS (SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight " +
        "FROM b GROUP BY doc_id, bucket HAVING sum(s) != 0), " +
        "q AS (SELECT doc_id, bucket, weight FROM sp WHERE doc_id < 3), " +
        "p AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id, " +
        "sum(q.weight * c.weight) AS dot FROM sp c JOIN q ON c.bucket = q.bucket " +
        "GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, CAST(dot AS BIGINT) AS dot, " +
        "CAST(row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) AS INTEGER) AS rank " +
        "FROM p QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, neighbor_id ASC) <= 10"),
    // Exact n-gram Jaccard join, tau = 4/5: FULL-corpus brute force via
    // the same inverted-index formulation (integer threshold compare —
    // no float boundary, no id restriction needed).
    "dedup_jaccard_pairs" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(1, len(tk) - 1), " +
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM d), " +
        "s AS (SELECT doc_id, unnest(sh) AS sh FROM g), " +
        "z AS (SELECT doc_id, len(sh) AS sz FROM g), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2) " +
        "SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter_count, " +
        "CAST(za.sz + zb.sz - inter AS BIGINT) AS union_count " +
        "FROM p JOIN z za ON za.doc_id = p.id_a JOIN z zb ON zb.doc_id = p.id_b " +
        "WHERE inter * 5 >= 4 * (za.sz + zb.sz - inter)"),
    // Duplicate clusters: the same jaccard pair list closed transitively
    // by a recursive CTE; component id = min reachable doc id.
    "dedup_components" ->
      ("WITH RECURSIVE d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(1, len(tk) - 1), " +
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM d), " +
        "s AS (SELECT doc_id, unnest(sh) AS sh FROM g), " +
        "z AS (SELECT doc_id, len(sh) AS sz FROM g), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "jac AS (SELECT id_a, id_b FROM p JOIN z za ON za.doc_id = p.id_a " +
        "JOIN z zb ON zb.doc_id = p.id_b " +
        "WHERE inter * 5 >= 4 * (za.sz + zb.sz - inter)), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM jac UNION SELECT id_b, id_a FROM jac), " +
        "reach AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a) " +
        "SELECT a AS doc_id, CAST(least(a, min(b)) AS BIGINT) AS component_id " +
        "FROM reach GROUP BY a"),
    // Transitive cluster dedup: every doc except non-min component
    // members of the same closure.
    "dedup_cluster_keep" ->
      ("WITH RECURSIVE d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(1, len(tk) - 1), " +
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM d), " +
        "s AS (SELECT doc_id, unnest(sh) AS sh FROM g), " +
        "z AS (SELECT doc_id, len(sh) AS sz FROM g), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "jac AS (SELECT id_a, id_b FROM p JOIN z za ON za.doc_id = p.id_a " +
        "JOIN z zb ON zb.doc_id = p.id_b " +
        "WHERE inter * 5 >= 4 * (za.sz + zb.sz - inter)), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM jac UNION SELECT id_b, id_a FROM jac), " +
        "reach AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id " +
        "FROM reach GROUP BY a) " +
        "SELECT doc_id FROM documents WHERE doc_id NOT IN " +
        "(SELECT doc_id FROM comp WHERE doc_id != component_id)"),
    // Quality-aware cluster dedup: same recursive closure, survivor =
    // argmax(n_chars, tie min doc_id) per component instead of min id.
    "dedup_cluster_keepbest" ->
      ("WITH RECURSIVE d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
        "ELSE list_distinct(list_transform(range(1, len(tk) - 1), " +
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM d), " +
        "s AS (SELECT doc_id, unnest(sh) AS sh FROM g), " +
        "z AS (SELECT doc_id, len(sh) AS sz FROM g), " +
        "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter " +
        "FROM s a JOIN s b ON a.sh = b.sh AND a.doc_id < b.doc_id GROUP BY 1, 2), " +
        "jac AS (SELECT id_a, id_b FROM p JOIN z za ON za.doc_id = p.id_a " +
        "JOIN z zb ON zb.doc_id = p.id_b " +
        "WHERE inter * 5 >= 4 * (za.sz + zb.sz - inter)), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM jac UNION SELECT id_b, id_a FROM jac), " +
        "reach AS (SELECT a, b FROM edges " +
        "UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "comp AS (SELECT a AS doc_id, least(a, min(b)) AS component_id " +
        "FROM reach GROUP BY a), " +
        "best AS (SELECT component_id, keep_id FROM (" +
        "SELECT c.component_id, c.doc_id AS keep_id, " +
        "row_number() OVER (PARTITION BY c.component_id " +
        "ORDER BY dd.n_chars DESC, c.doc_id ASC) AS rn " +
        "FROM comp c JOIN documents dd ON dd.doc_id = c.doc_id) WHERE rn = 1) " +
        "SELECT doc_id FROM documents WHERE doc_id NOT IN " +
        "(SELECT c.doc_id FROM comp c JOIN best b ON c.component_id = b.component_id " +
        "AND c.doc_id != b.keep_id)"),
    // Exact dedup with quality-aware survivor selection: keep the
    // argmax by (doc_id % 7) per identical text, tie → min id; dup
    // groups planted by re-keying every doc_id % 5 == 0 text at +100000.
    "dedup_exact_keepbest" ->
      ("WITH u AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents " +
        "WHERE doc_id % 5 = 0) " +
        "SELECT keep_id, CAST(cnt AS BIGINT) AS dup_count FROM (" +
        "SELECT doc_id AS keep_id, count(*) OVER (PARTITION BY text) AS cnt, " +
        "row_number() OVER (PARTITION BY text " +
        "ORDER BY (doc_id % 7) DESC, doc_id ASC) AS rn FROM u) " +
        "WHERE rn = 1 AND cnt >= 2"),
    "events_asof" ->
      "WITH e AS (SELECT user_id, event_id, event_type, value, epoch_ns(ts) // 1000 AS ts_us FROM events), c AS (SELECT user_id, ts_us, event_id FROM e WHERE event_type = 'click'), p AS (SELECT user_id, ts_us, max(CAST(round(value * 100) AS BIGINT)) AS purchase_cents FROM e WHERE event_type = 'purchase' GROUP BY user_id, ts_us) SELECT c.event_id, c.user_id, c.ts_us, p.purchase_cents AS asof_purchase_cents FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts_us >= p.ts_us",
    "events_rangejoin" ->
      "WITH e AS (SELECT event_id, event_type, epoch_ns(ts) // 1000 AS ts_us FROM events), w AS (SELECT event_id AS window_id, ts_us - 300000000 AS ws, ts_us + 300000000 AS we FROM e WHERE event_type = 'error') SELECT w.window_id, count(*) AS n_events FROM w JOIN e ON e.ts_us BETWEEN w.ws AND w.we GROUP BY w.window_id",
    "curate_docs" ->
      "WITH kept AS (SELECT * FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))), t AS (SELECT doc_id, lang, source, CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0 ELSE len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')) END AS n_tokens, CASE WHEN length(text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / length(text) END AS digit_ratio FROM kept) SELECT lang, source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM t WHERE n_tokens BETWEEN 5 AND 5000 AND digit_ratio < 0.3 GROUP BY lang, source",
    "sample_stratified" ->
      "SELECT lang, count(*) AS n_sampled, CAST(sum(n_chars) AS BIGINT) AS sampled_chars FROM documents WHERE doc_id % 10 < (CASE WHEN lang = 'en' THEN 5 ELSE 2 END) GROUP BY lang",
    "pack_shards" ->
      "WITH t AS (SELECT doc_id, source, CAST(CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g')) = 0 THEN 0 ELSE len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\r\\f\\x0B]+|[ \\t\\n\\r\\f\\x0B]+$', '', 'g'), '[ \\t\\n\\r\\f\\x0B]+')) END AS BIGINT) AS n_tokens FROM documents), c AS (SELECT *, CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id ASC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens FROM t) SELECT doc_id, source, n_tokens, cum_tokens, CAST((cum_tokens - n_tokens) // 512 AS BIGINT) AS shard_id FROM c",
    "dedup_exact" ->
      "SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS dup_count FROM documents GROUP BY md5(text)",
    "dedup_exact_keep" ->
      "SELECT doc_id, n_chars FROM documents WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))",
    // Whitespace-insensitive fingerprint groups over the corpus + planted
    // tab-indented variants (ids +10000 of doc_id < 50). Hash-agnostic
    // compare: groups are keyed on the token SEQUENCE (md5 here, xxhash64
    // in Spark — same partition of the corpus), only survivor + size are
    // emitted. Every variant folds into its original (dup_count 2).
    "dedup_fingerprint" ->
      ("WITH u AS (SELECT doc_id, text FROM documents UNION ALL " +
        "SELECT doc_id + 10000 AS doc_id, replace(text, ' ', chr(9) || ' ') AS text " +
        "FROM documents WHERE doc_id < 50), " +
        "t AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM u) " +
        "SELECT min(doc_id) AS keep_id, count(*) AS dup_count FROM t " +
        "GROUP BY md5(array_to_string(tk, ' '))"),
    "retrieve_bm25_oracle" -> Bm25RankSql,
    // The persistent-index path (build on even ids + one append of the
    // odd ids, then probe) must produce the identical ranking — same
    // truth as the scan path. _indexed serves from the UNIFIED
    // positional store (r17: PhraseIndex build + a positional append);
    // _postings keeps the standalone postings layout pinned to the
    // same oracle.
    "retrieve_bm25_indexed" -> Bm25RankSql,
    "retrieve_bm25_postings" -> Bm25RankSql,
    // Takedown rows (r18): the oracle recomputes the query over the
    // corpus WITHOUT the tombstone-deleted docs — literal
    // rebuild-without-docs truth for the served post-delete state
    // (corpus stats, df, and ranking must all shift exactly).
    "retrieve_bm25_deleted" -> Bm25DeletedSql,
    "retrieve_phrase_deleted" -> PhraseDeletedSql,
    "dedup_incr_fp_deleted" -> FpDeletedSql,
    "dedup_minhash_deleted" -> MinhashDeletedSql,
    "dedup_simhash_deleted" -> SimhashDeletedSql,
    "dedup_embed_deleted" -> EmbedDeletedSql,
    "semdedup_deleted" -> EmbedDeletedSql,
    "sim_index_deleted" -> SimIndexDeletedSql,
    // Exact-phrase retrieval (positional index): phrase_tf for a 3-token
    // phrase equals its count in the document's trigram list — the same
    // tokenization CTE as every text oracle, adjacency via the trigram
    // construction instead of positions. The _incr row runs the
    // identical truth against a built+appended index chain.
    "retrieve_phrase" -> PhraseSql,
    "retrieve_phrase_incr" -> PhraseSql,
    "retrieve_phrase_scan" -> PhraseSql,
    // BM25-ranked phrase retrieval: the phrase scored as ONE term
    // (ptf = trigram count, df = matching-doc count per query, corpus
    // stats over all docs) — rank projection; same engine-stability
    // argument as Bm25RankSql (identical arithmetic shape, integer
    // tie-break by doc_id).
    "retrieve_phrase_ranked" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(lower(text), " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "stats AS (SELECT count(*)::DOUBLE AS n, avg(len(tk))::DOUBLE AS avgdl FROM d), " +
        "g AS (SELECT doc_id, len(tk) AS dl, CASE WHEN len(tk) < 3 THEN []::VARCHAR[] " +
        "ELSE list_transform(range(1, len(tk) - 1), " +
        "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS gr FROM d), " +
        "q AS (SELECT doc_id AS query_id, array_to_string(tk[1:3], ' ') AS ph " +
        "FROM d WHERE doc_id IN (0, 10, 42) AND len(tk) >= 3), " +
        "mh AS (SELECT * FROM (SELECT q.query_id, g.doc_id, " +
        "len(list_filter(g.gr, x -> x = q.ph)) AS ptf, g.dl " +
        "FROM q CROSS JOIN g) WHERE ptf >= 1), " +
        "dfq AS (SELECT query_id, count(*)::DOUBLE AS df FROM mh GROUP BY query_id), " +
        "scored AS (SELECT h.query_id, h.doc_id, " +
        "ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * h.ptf * 2.2 / " +
        "(h.ptf + (h.dl * (0.75 / s.avgdl) + 0.25) * 1.2) AS score " +
        "FROM mh h CROSS JOIN stats s JOIN dfq f ON h.query_id = f.query_id), " +
        "ranked AS (SELECT query_id, doc_id, row_number() OVER " +
        "(PARTITION BY query_id ORDER BY score DESC, doc_id) AS rank FROM scored) " +
        "SELECT query_id, doc_id, rank FROM ranked WHERE rank <= 10"),
    // Ordered proximity (slop 2, 2-term): count positions of term A
    // with a B-position in (p, p+3] — nested position-list lambdas.
    "retrieve_proximity" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(lower(text), " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "q AS (SELECT doc_id AS query_id, tk[1] AS ta, tk[3] AS tb " +
        "FROM d WHERE doc_id IN (0, 10, 42) AND len(tk) >= 3), " +
        "m AS (SELECT q.query_id, d.doc_id, " +
        "len(list_filter(" +
        "list_filter(range(1, len(d.tk) + 1), i -> d.tk[i] = q.ta), " +
        "p -> len(list_filter(" +
        "list_filter(range(1, len(d.tk) + 1), j -> d.tk[j] = q.tb), " +
        "qq -> qq > p AND qq <= p + 3)) > 0)) AS tf " +
        "FROM q CROSS JOIN d) " +
        "SELECT query_id, doc_id, CAST(tf AS BIGINT) AS phrase_tf " +
        "FROM m WHERE tf >= 1"),
    "retrieve_bm25_champ" -> Bm25ChampRankSql,
    // the r15 incremental champion merge is EXACT (merge ≡ rebuild), so
    // the merged-table query carries the identical from-scratch oracle —
    // and the query refuses to answer unless the merge path really ran
    "retrieve_bm25_merged" -> Bm25ChampRankSql,
    // the full unified-store maintenance cycle (r17: positional append →
    // maintainAll's champion merge + positional fold + vacuum →
    // STRICT champion serve) must land on the same from-scratch
    // selection — the fixture refuses unless the merge and the fold
    // really ran
    "retrieve_bm25_maintained" -> Bm25ChampRankSql,
    // MaxScore pruning is EXACT (per-term ceilings + champion floor,
    // essential-only full reads): identical ranking, identical oracle.
    "retrieve_bm25_maxscore" -> Bm25RankSql,
    "dedup_minhash_oracle" -> MinhashBruteForceSql,
    // The SAME truth pins the incremental batch-vs-corpus path: three
    // appends over the identical restricted corpus must union to the
    // one-shot batch result (equivalence is DedupIndexSpec's theorem;
    // this row pins the union to external brute force).
    "dedup_incr_oracle" -> MinhashBruteForceSql,
    // Incremental fingerprint dedup: with ascending-id appends the
    // first-arrival owner equals the global keep-min, so the truth is a
    // window-min over the whitespace-normalized token key (md5 here,
    // xxhash64 in the engine — hash-agnostic, groups agree iff token
    // sequences agree; same construction as dedup_fingerprint).
    "dedup_incr_fp_oracle" ->
      ("WITH u AS (SELECT doc_id, text FROM documents WHERE doc_id < 500 UNION ALL " +
        "SELECT doc_id + 10000 AS doc_id, replace(text, ' ', chr(9) || ' ') AS text " +
        "FROM documents WHERE doc_id < 50), " +
        "t AS (SELECT doc_id, md5(array_to_string(CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END, ' ')) AS grp FROM u) " +
        "SELECT doc_id, min(doc_id) OVER (PARTITION BY grp) AS keep_id FROM t"),
    // the bloom-probe twin runs the SAME appends through the sketch-pruned
    // collision probe — identical truth by construction
    "dedup_incr_fp_bloom" ->
      ("WITH u AS (SELECT doc_id, text FROM documents WHERE doc_id < 500 UNION ALL " +
        "SELECT doc_id + 10000 AS doc_id, replace(text, ' ', chr(9) || ' ') AS text " +
        "FROM documents WHERE doc_id < 50), " +
        "t AS (SELECT doc_id, md5(array_to_string(CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END, ' ')) AS grp FROM u) " +
        "SELECT doc_id, min(doc_id) OVER (PARTITION BY grp) AS keep_id FROM t"),
    // Same planted-duplicate union both engines build; at threshold 0.99
    // the only qualifying pair is the plant (rest of the corpus is
    // isotropic, max cos ≈ 0.48) — exact recall + zero false positives.
    "dedup_embed_oracle" ->
      ("WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300 " +
        "UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id = 0) " +
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b ON a.vec_id < b.vec_id " +
        "WHERE list_inner_product(a.embedding, b.embedding) / " +
        "(sqrt(list_inner_product(a.embedding, a.embedding)) * sqrt(list_inner_product(b.embedding, b.embedding))) >= 0.99"),
    // SemDeDup survivorship at exact settings (nClusters=1 → in-cluster
    // pairing covers the whole sub-corpus, trainer-independent): the
    // same planted-copy union, pairs by brute force, components closed
    // by a recursive CTE, survivor = component min id.
    "semdedup_oracle" ->
      ("WITH RECURSIVE v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300 " +
        "UNION ALL SELECT vec_id + 10000 AS vec_id, embedding FROM embeddings WHERE vec_id = 0), " +
        "p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b ON a.vec_id < b.vec_id " +
        "WHERE list_inner_product(a.embedding, b.embedding) / " +
        "(sqrt(list_inner_product(a.embedding, a.embedding)) * sqrt(list_inner_product(b.embedding, b.embedding))) >= 0.99), " +
        "edges AS (SELECT id_a AS a, id_b AS b FROM p UNION SELECT id_b, id_a FROM p), " +
        "reach AS (SELECT a, b FROM edges UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a), " +
        "comp AS (SELECT a AS id, least(a, min(b)) AS keep FROM reach GROUP BY a) " +
        "SELECT v.vec_id, CAST(COALESCE(c.keep, v.vec_id) AS BIGINT) AS keep_id, " +
        "COALESCE(c.keep, v.vec_id) = v.vec_id AS kept " +
        "FROM v LEFT JOIN comp c ON v.vec_id = c.id"),
    // Epoch-mixing materializer: parity-capped integer epochs per lang
    // (exact ceil-div), each doc replicated epoch 1..epochs(lang).
    "mix_epochs" ->
      ("WITH g AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1), m AS (SELECT max(n_docs) AS max_docs FROM g), e AS (SELECT lang, least(4, (max_docs + n_docs - 1) // n_docs) AS epochs FROM g, m) SELECT doc_id, lang, CAST(x AS BIGINT) AS epoch FROM (SELECT d.doc_id, d.lang, unnest(range(1, e.epochs + 1)) AS x FROM documents d JOIN e USING (lang))"),
    // Corpus health report: same md5 exact-dup window + fused token
    // count recomputed in SQL; every metric an exact integer.
    "corpus_report" ->
      ("WITH h AS (SELECT lang, source, text, len(CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') END) AS ntok, count(*) OVER (PARTITION BY md5(text)) AS grp_n FROM documents) SELECT lang, source, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS n_tokens, CAST(sum(length(text)) AS BIGINT) AS n_chars, CAST(sum(CASE WHEN ntok < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_short, CAST(sum(CASE WHEN grp_n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs FROM h GROUP BY 1, 2"),
    // Fuzzy decontamination: disjoint-id union (train 2k / bench 2k+1),
    // the exact-Jaccard rule end-to-end (distinct 3-gram shingles,
    // integer cross-multiplied threshold), cross-side pairs decoded
    // back to (doc_id, bench_id) with the integer evidence.
    "decon_fuzzy" ->
      ("WITH u AS (SELECT doc_id * 2 AS jid, text AS t FROM documents UNION ALL SELECT (doc_id + 20000) * 2 AS jid, text || ' edited' AS t FROM documents WHERE doc_id % 23 = 0 UNION ALL SELECT doc_id * 2 + 1 AS jid, text AS t FROM documents WHERE doc_id % 23 = 0), d AS (SELECT jid, CASE WHEN length(regexp_replace(t, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] ELSE string_split_regex(regexp_replace(t, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), '[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM u), g AS (SELECT jid, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] ELSE list_distinct(list_transform(range(1, len(tk) - 1), i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END AS sh FROM d), s AS (SELECT jid, unnest(sh) AS sh FROM g), z AS (SELECT jid, len(sh) AS sz FROM g), p AS (SELECT a.jid AS id_a, b.jid AS id_b, count(*) AS inter FROM s a JOIN s b ON a.sh = b.sh AND a.jid < b.jid GROUP BY 1, 2), q AS (SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter_count, CAST(za.sz + zb.sz - inter AS BIGINT) AS union_count FROM p JOIN z za ON za.jid = p.id_a JOIN z zb ON zb.jid = p.id_b WHERE inter * 5 >= 4 * (za.sz + zb.sz - inter) AND (id_a % 2) != (id_b % 2)) SELECT CAST((CASE WHEN id_a % 2 = 0 THEN id_a ELSE id_b END) // 2 AS BIGINT) AS doc_id, CAST((CASE WHEN id_a % 2 = 1 THEN id_a ELSE id_b END) // 2 AS BIGINT) AS bench_id, inter_count, union_count FROM q"),
    // Incremental embed dedup: brute-force cosine truth over corpus ∪
    // batch, restricted to pairs TOUCHING the batch (b >= 300 suffices:
    // ids are ordered a < b and every batch id sorts after the corpus).
    "dedup_embed_incr_oracle" -> EmbedIncrBruteSql,
    // The float-exchange path FORCED on the same fixture (dim 64 sits
    // below the default gate): float heap + candidate margin + exact
    // double re-verify against the identical brute-force truth.
    "dedup_embed_float_oracle" -> EmbedIncrBruteSql,
    // The SAME brute-force truth pins the incremental SEMANTIC index
    // (SemIndex at nClusters=1 — one cluster makes in-cluster pairing
    // exhaustive and trainer-independent): identical fixture, identical
    // pairs-touching-the-batch contract.
    "semdedup_incr_oracle" -> EmbedIncrBruteSql,
    // Full-corpus exact top-10 in double precision (embeddings widened to
    // DOUBLE like Spark's unitVector); adjacent-rank cosine gaps ~2e-4
    // make the ordering insensitive to summation order. The SAME truth
    // pins the exhaustive-settings IVF and IVFPQ queries: probing every
    // list (and, for PQ, re-ranking a corpus-covering shortlist) must
    // reproduce brute force exactly — the approximate production paths
    // only narrow nProbe/refine from there.
    "sim_brute_oracle" -> ExactTopKSql,
    "sim_ann_oracle" -> ExactTopKSql,
    "sim_ivf_oracle" -> ExactTopKSql,
    "sim_ivfpq_oracle" -> ExactTopKSql,
    // The persisted-index path (encode → snapshot commit → reload → probe
    // → ADC → exact refine) at exhaustive settings must also reproduce
    // brute force — same truth as the in-memory sim_* oracles.
    "sim_index_topk" -> ExactTopKSql,
    // PQ with a corpus-covering refined shortlist: codes decide nothing,
    // the exact re-rank must reproduce brute force.
    "sim_pq_oracle" -> ExactTopKSql,
    "dedup_simhash_oracle" -> SimhashBruteForceSql,
    // Same truth pins the incremental simhash-index path: two appends
    // over the identical restricted corpus must union to the one-shot
    // result (equivalence is SimHashIndexSpec's theorem; this row pins
    // the union to external brute force).
    "dedup_simhash_incr_oracle" -> SimhashBruteForceSql,
    // Composed dedup-on-ingest (CurationIngest): fingerprint window-min
    // first (ascending arrival ⇒ first-arrival ≡ global keep-min), then
    // brute-force Hamming ≤ 6 among the fingerprint SURVIVORS only —
    // near keep = smallest-id partner (the operator's one-hop lineage).
    // Corpus = doc_id < 300 ∪ planted tab variants (+10000 of < 50),
    // empty-token docs excluded; simhash leaf = the md5-nibble portable
    // hash (see SimhashBruteForceSql).
    "curate_ingest_oracle" -> CurateIngestSql,
    // Same one-hop truth, closed by a recursive-CTE chain chase (the
    // root is the chase's min — pointers strictly decrease).
    "curate_lineage_oracle" -> CurateLineageSql,
    "curate_filtered" -> CurateFilteredSql,
    "curate_scored" -> CurateScoredSql,
    // In-engine perceptron training replayed in SQL: labels from the
    // fixture-weight margin, then BOTH gradient rounds as aggregates —
    // iteration 1 under w=0 (every doc violates, so g1 is the full
    // label-weighted feature sum), iteration 2 over the violators of
    // the w1 margins — and the corpus scored under the learned w2.
    // The bias trains as pseudo-bucket -1 with weight 1 on every doc
    // (exactly the engine's featsWithBias row). Integer arithmetic
    // throughout is what makes a TRAINING RUN oracle-able at all.
    "quality_train" ->
      ("WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
        "m AS (SELECT doc_id, md5(unnest(tk)) AS h FROM d WHERE len(tk) > 0), " +
        "b AS (SELECT doc_id, CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 " +
        "+ (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS INTEGER) AS bucket, " +
        "CASE WHEN ((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) % 2) = 1 " +
        "THEN 1 ELSE -1 END AS s FROM m), " +
        "sp AS (SELECT doc_id, bucket, CAST(sum(s) AS BIGINT) AS weight " +
        "FROM b GROUP BY doc_id, bucket HAVING sum(s) != 0), " +
        "spb AS (SELECT doc_id, bucket, weight FROM sp " +
        "UNION ALL SELECT doc_id, -1 AS bucket, CAST(1 AS BIGINT) AS weight FROM documents), " +
        "fw AS (SELECT CAST(r.range AS INTEGER) AS bucket, " +
        "CAST((r.range * 37 + 11) % 21 - 10 AS BIGINT) AS w FROM range(64) r), " +
        "lab AS (SELECT doc.doc_id, CASE WHEN COALESCE(fm.m, 0) >= 0 THEN 1 ELSE -1 END AS y " +
        "FROM documents doc LEFT JOIN (SELECT sp.doc_id, sum(sp.weight * fw.w) AS m " +
        "FROM sp JOIN fw USING (bucket) GROUP BY sp.doc_id) fm ON doc.doc_id = fm.doc_id), " +
        "g1 AS (SELECT bucket, sum(y * weight) AS g FROM spb JOIN lab USING (doc_id) GROUP BY bucket), " +
        "m2 AS (SELECT spb.doc_id, sum(spb.weight * COALESCE(g1.g, 0)) AS marg " +
        "FROM spb LEFT JOIN g1 USING (bucket) GROUP BY spb.doc_id), " +
        "g2 AS (SELECT bucket, sum(y * weight) AS g FROM spb JOIN lab USING (doc_id) " +
        "JOIN m2 USING (doc_id) WHERE y * marg <= 0 GROUP BY bucket), " +
        "w2 AS (SELECT bucket, sum(g) AS w FROM " +
        "(SELECT bucket, g FROM g1 UNION ALL SELECT bucket, g FROM g2) u GROUP BY bucket), " +
        "fin AS (SELECT spb.doc_id, sum(spb.weight * COALESCE(w2.w, 0)) AS margin_trained " +
        "FROM spb LEFT JOIN w2 USING (bucket) GROUP BY spb.doc_id) " +
        "SELECT doc_id, CAST(margin_trained AS BIGINT) AS margin_trained, " +
        "margin_trained >= 0 AS keep FROM fin"),
    // Corpus-frequency line removal: the multi-line layout is CONSTRUCTED
    // identically on both engines (testdata docs carry no newlines), then
    // the full rule recomputed — split on chr(10), corpus df per exact
    // line string, keep df ≤ 2, ordered re-assembly, '' when every line
    // dropped (string_agg over zero rows is NULL, coalesced to match the
    // operator's empty-string contract).
    "text_linededup" ->
      ("WITH lined AS (SELECT doc_id, substr(text, 1, 60) || chr(10) || " +
        "CASE doc_id % 5 WHEN 0 THEN 'subscribe to our newsletter' " +
        "WHEN 1 THEN 'all rights reserved' " +
        "WHEN 2 THEN 'footer ' || CAST(doc_id % 10 AS VARCHAR) " +
        "WHEN 3 THEN 'unique line ' || CAST(doc_id AS VARCHAR) " +
        "ELSE '' END || chr(10) || substr(text, 61, 80) AS t FROM documents), " +
        "lines AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line, " +
        "generate_subscripts(string_split(t, chr(10)), 1) AS pos, " +
        "len(string_split(t, chr(10))) AS n_lines FROM lined), " +
        "df AS (SELECT line, count(*) AS c FROM lines GROUP BY 1), " +
        "kept AS (SELECT l.doc_id, l.pos, l.line FROM lines l JOIN df USING (line) WHERE c <= 2), " +
        "agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_clean, " +
        "count(*) AS n_kept FROM kept GROUP BY 1), " +
        "tot AS (SELECT doc_id, max(n_lines) AS n_lines FROM lines GROUP BY 1) " +
        "SELECT t.doc_id, COALESCE(a.text_clean, '') AS text_clean, " +
        "CAST(t.n_lines - COALESCE(a.n_kept, 0) AS INTEGER) AS n_dropped " +
        "FROM tot t LEFT JOIN agg a USING (doc_id)"),
    // Span-level dedup: the banner-planted layout is constructed
    // identically on both engines, then the full rule recomputed — all
    // 8-token windows, DISTINCT-DOC df per exact gram string, coverage
    // union over frequent windows (df > 2), ordered re-assembly of the
    // surviving tokens ('' when everything is covered — exact-dup
    // groups past maxDf strip their whole text, by design).
    "text_spandedup" ->
      ("WITH p AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN " +
        "'alpha beta gamma delta epsilon zeta eta theta ' || text ELSE text END AS t FROM documents), " +
        "d AS (SELECT doc_id, CASE WHEN length(regexp_replace(t, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(t, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM p), " +
        "g0 AS (SELECT doc_id, tk, unnest(range(greatest(len(tk) - 7, 0))) AS gpos FROM d), " +
        "g AS (SELECT doc_id, gpos, array_to_string(tk[CAST(gpos + 1 AS INTEGER):CAST(gpos + 8 AS INTEGER)], ' ') AS gram FROM g0), " +
        "df AS (SELECT gram, count(DISTINCT doc_id) AS c FROM g GROUP BY 1), " +
        "fr AS (SELECT gram FROM df WHERE c > 2), " +
        "cov0 AS (SELECT g.doc_id, g.gpos + unnest(range(8)) AS tpos FROM g JOIN fr USING (gram)), " +
        "cov AS (SELECT DISTINCT doc_id, tpos FROM cov0), " +
        "toks AS (SELECT doc_id, unnest(tk) AS tok, generate_subscripts(tk, 1) - 1 AS tpos FROM d), " +
        "kept AS (SELECT t.doc_id, t.tpos, t.tok FROM toks t LEFT JOIN cov c " +
        "ON t.doc_id = c.doc_id AND t.tpos = c.tpos WHERE c.doc_id IS NULL), " +
        "agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS text_clean, " +
        "count(*) AS n_kept FROM kept GROUP BY 1), " +
        "tot AS (SELECT doc_id, len(tk) AS n FROM d) " +
        "SELECT t.doc_id, COALESCE(a.text_clean, '') AS text_clean, " +
        "CAST(t.n - COALESCE(a.n_kept, 0) AS INTEGER) AS n_dropped " +
        "FROM tot t LEFT JOIN agg a USING (doc_id)"),
    // Statistical LM quality filter: bigram model TRAINED IN SQL on the
    // same doc_id%7<3 split, all integer math — flog2 via
    // length(bin(c))-1 (both engines print binary without leading
    // zeros), qlp = flog2(c_bigram) - flog2(c_head_unigram), unseen or
    // minCount-pruned pairs score the -30 penalty, keep iff
    // score >= -12 * n_bigrams (integer cross-multiplication, no
    // division). doc_id%11=7 docs are replaced by 8 doc-unique
    // gibberish tokens on BOTH engines — the planted high-perplexity
    // tail.
    "quality_lm" -> QualityLmSql,
    // quality_lm through the persistent model store: train -> commit ->
    // reopen -> load -> score produces the identical integers, so it
    // carries the identical oracle (redundant-twin, headline-excluded).
    "quality_lm_stored" -> QualityLmSql,
    // DSIR importance resampling: the weight table (quantized integer
    // log-likelihood ratio per md5 hash bucket, Laplace +1, quantized
    // normalization constant K) and the per-doc scores are recomputed
    // from raw text in SQL — bucket = first md5 byte mod 64, the
    // library-wide hashing-trick recipe (see embed_docs). keep is the
    // cross-multiplied −3/8 mean-per-token threshold (inside the arms’
    // separation gap at this scale).
    "mix_dsir" ->
      ("WITH p AS (SELECT doc_id, CASE WHEN doc_id % 4 = 1 THEN " +
        "text || repeat(' quark lepton boson hadron meson', 8) " +
        "ELSE text END AS t FROM documents), " +
        "d AS (SELECT doc_id, CASE WHEN length(regexp_replace(t, " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(t, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM p), " +
        "m AS (SELECT doc_id, md5(unnest(tk)) AS h FROM d WHERE len(tk) > 0), " +
        "b AS (SELECT doc_id, CAST(((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 " +
        "+ (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS INTEGER) AS bucket FROM m), " +
        "ct AS (SELECT bucket, count(*) AS c FROM b WHERE doc_id % 8 = 1 GROUP BY 1), " +
        "cr AS (SELECT bucket, count(*) AS c FROM b GROUP BY 1), " +
        "tt AS (SELECT count(*) AS n FROM b WHERE doc_id % 8 = 1), " +
        "tr AS (SELECT count(*) AS n FROM b), " +
        "kk AS (SELECT (length(bin(tr.n + 1)) - 1) - (length(bin(tt.n + 1)) - 1) AS k FROM tr, tt), " +
        "w AS (SELECT sp.bucket, (length(bin(COALESCE(ct.c, 0) + 1)) - 1) " +
        "- (length(bin(COALESCE(cr.c, 0) + 1)) - 1) + kk.k AS w " +
        "FROM (SELECT CAST(unnest(range(64)) AS INTEGER) AS bucket) sp " +
        "LEFT JOIN ct USING (bucket) LEFT JOIN cr USING (bucket), kk), " +
        "sc AS (SELECT b.doc_id, sum(w.w) AS s FROM b JOIN w USING (bucket) GROUP BY 1) " +
        "SELECT d.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS dsir_score, " +
        "CAST(len(d.tk) AS INTEGER) AS n_tokens, " +
        "COALESCE(sc.s, 0) * 8 >= -3 * len(d.tk) AS keep " +
        "FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id"),
    // PII audit + redaction: the corpus is PII-planted identically on
    // both engines, the pattern strings are shared VERBATIM with
    // graft.plans.PiiOps (common java.util.regex ∩ RE2 subset — no
    // lookaround, no backreferences), counts run per-pattern on the
    // original text, and the rewrite applies the fixed email → SSN →
    // phone → IP chain.
    "pii_scrub" ->
      ("WITH p AS (SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR) || " +
        "'@mail.example.com' || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' call 5' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || '-123-4567' ELSE '' END || " +
        "CASE WHEN doc_id % 4 = 0 THEN ' ssn 123-45-6789' ELSE '' END || " +
        "' ip 10.' || CAST(doc_id % 200 AS VARCHAR) || '.0.1' AS t FROM documents) " +
        "SELECT doc_id, " +
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace(t, " +
        "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
        "'\\b\\d{3}-\\d{2}-\\d{4}\\b', '<SSN>', 'g'), " +
        "'\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b', '<PHONE>', 'g'), " +
        "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g') AS text_redacted, " +
        "CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INTEGER) AS n_email, " +
        "CAST(len(regexp_extract_all(t, '\\b\\d{3}-\\d{2}-\\d{4}\\b')) AS INTEGER) AS n_ssn, " +
        "CAST(len(regexp_extract_all(t, '\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b')) AS INTEGER) AS n_phone, " +
        "CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS INTEGER) AS n_ip " +
        "FROM p"),
    // Per-source cap: the k-heap aggregate's (score desc = bucket asc,
    // id asc) order is exactly row_number over (bucket, doc_id) — the
    // oracle recomputes it with the window the operator deliberately
    // avoids (fine at oracle scale, a straggler at corpus scale).
    "cap_per_source" ->
      ("SELECT doc_id, source, CAST(rk AS INTEGER) AS rk FROM " +
        "(SELECT doc_id, source, row_number() OVER (PARTITION BY source ORDER BY " +
        "doc_id % 2147483647 * 2654435761 % 100000007 * 97003 % 100000007 % 100, doc_id) AS rk " +
        "FROM documents) t WHERE rk <= 10"),
    // Leakage-safe split: split is a pure function of the exact-dup
    // cluster owner (min doc_id over identical text — md5 keys the
    // window on both engines), bucketed by the same two-round
    // multiplicative hash mix_sampled pins.
    "split_leakage_safe" ->
      ("WITH k AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep_id FROM documents), " +
        "b AS (SELECT doc_id, keep_id, keep_id % 2147483647 * 2654435761 % 100000007 * 97003 % 100000007 % 100 AS bkt FROM k) " +
        "SELECT doc_id, keep_id, CASE WHEN bkt < 80 THEN 'train' WHEN bkt < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM b"),
    // Integer triage signals + argmax language label (ties resolved by the
    // lexicographically greater lang code via (score, lang) struct max —
    // the exact semantics of TextFunctions.langId's array_max).
    "text_triage_oracle" ->
      ("WITH d AS (SELECT doc_id, text, CASE WHEN length(regexp_replace(lower(text), " +
        "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
        "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+') END AS ltk FROM documents), " +
        "h AS (SELECT doc_id, " +
        "CASE WHEN length(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN 0 " +
        "ELSE len(string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
        "'[ \\t\\n\\x0B\\f\\r]+')) END AS n_tokens, " +
        "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9 \\t\\n\\r\\f\\x0B]')) AS n_subwords, " +
        "len(list_filter(ltk, t -> list_contains(['der','die','das','und','ist','nicht','ein','eine','mit','auf'], t))) AS hits_de, " +
        "len(list_filter(ltk, t -> list_contains(['the','and','of','to','in','is','that','it','for','with'], t))) AS hits_en, " +
        "len(list_filter(ltk, t -> list_contains(['el','la','los','las','que','y','en','un','una','por'], t))) AS hits_es, " +
        "len(list_filter(ltk, t -> list_contains(['le','la','les','et','des','est','une','dans','pour','du'], t))) AS hits_fr " +
        "FROM d) " +
        "SELECT doc_id, n_tokens, n_subwords, hits_de, hits_en, hits_es, hits_fr, " +
        "CASE WHEN greatest(hits_en, hits_es, hits_fr, hits_de) = 0 THEN 'und' " +
        "ELSE list_max([{'score': hits_de, 'lang': 'de'}, {'score': hits_en, 'lang': 'en'}, " +
        "{'score': hits_es, 'lang': 'es'}, {'score': hits_fr, 'lang': 'fr'}])['lang'] END AS lang_pred FROM h"),
  )

  // Brute-force 3-gram Jaccard over the doc_id<300 restriction: tokenizer
  // (full-whitespace-class trim + split) and shingling (distinct word
  // 3-grams, whole text if <3 tokens) mirror TextFunctions.tokens /
  // Dedup.shingles exactly. Pair ids only — integer-exact both engines.
  // Shared by the one-shot batch path (dedup_minhash_oracle) and the
  // incremental index path (dedup_incr_oracle).
  /** The composed curation funnel: hold out the eval slice, exact-dedup
    * (min doc_id per text), drop eval-4-gram-contaminated docs, apply
    * the integer Gopher repetition gates and the curate_docs quality
    * gates, account per (lang, source). Every fragment reuses an
    * already-pinned oracle recipe (dedup_exact_keep, decon_docs,
    * text_repetition, curate_docs). */
  private val EmbedIncrBruteSql: String =
    "WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 350 " +
      "UNION ALL SELECT vec_id + 10300 AS vec_id, embedding FROM embeddings WHERE vec_id = 0) " +
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b ON a.vec_id < b.vec_id " +
      "WHERE b.vec_id >= 300 AND list_inner_product(a.embedding, b.embedding) / " +
      "(sqrt(list_inner_product(a.embedding, a.embedding)) * sqrt(list_inner_product(b.embedding, b.embedding))) >= 0.99"

  private val QualityLmSql: String =
    "WITH p AS (SELECT doc_id, CASE WHEN doc_id % 11 = 7 THEN " +
      "'zq'||doc_id||'x0 zq'||doc_id||'x1 zq'||doc_id||'x2 zq'||doc_id||'x3 zq'||doc_id||'x4 zq'||doc_id||'x5 zq'||doc_id||'x6 zq'||doc_id||'x7' " +
      "ELSE text END AS t FROM documents), " +
      "d AS (SELECT doc_id, CASE WHEN length(regexp_replace(t, " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(t, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM p), " +
      "g0 AS (SELECT doc_id, tk, unnest(range(len(tk) - 1)) AS i FROM d WHERE len(tk) >= 2), " +
      "g AS (SELECT doc_id, tk[CAST(i + 1 AS INTEGER)] AS u, " +
      "tk[CAST(i + 1 AS INTEGER)] || ' ' || tk[CAST(i + 2 AS INTEGER)] AS gram FROM g0), " +
      "bc AS (SELECT u, gram, count(*) AS c FROM g WHERE doc_id % 7 < 3 GROUP BY 1, 2 HAVING count(*) > 1), " +
      "u0 AS (SELECT unnest(tk) AS u FROM d WHERE doc_id % 7 < 3), " +
      "uc AS (SELECT u, count(*) AS cu FROM u0 GROUP BY 1), " +
      "model AS (SELECT gram, (length(bin(c)) - 1) - (length(bin(cu)) - 1) AS qlp FROM bc JOIN uc USING (u)), " +
      "sc AS (SELECT g.doc_id, sum(COALESCE(m.qlp, -30)) AS s, count(*) AS n " +
      "FROM g LEFT JOIN model m USING (gram) GROUP BY 1) " +
      "SELECT d.doc_id, CAST(COALESCE(sc.s, 0) AS BIGINT) AS lm_score, " +
      "CAST(COALESCE(sc.n, 0) AS INTEGER) AS n_bigrams, " +
      "COALESCE(sc.s, 0) >= -12 * COALESCE(sc.n, 0) AS keep " +
      "FROM d LEFT JOIN sc ON d.doc_id = sc.doc_id"

  private val CurateFilteredSql: String = curateFunnelSql(withMargin = false)

  /** [[CurateFilteredSql]] plus the learned linear-classifier gate
    * (`curate_scored`): the margin CTE recomputes Featurize.qualityMargin
    * exactly — per token, bucket = (first md5 byte) mod 64 via the two
    * leading hex nibbles, sign = parity of nibble 3 (the embed_docs
    * recipe), fixture weight w(b) = ((b·37+11) mod 21) − 10, bias 3 —
    * and the output adds margin_sum so the VALUES are pinned, not just
    * the keep decisions. */
  private val CurateScoredSql: String = curateFunnelSql(withMargin = true)

  private def curateFunnelSql(withMargin: Boolean): String = {
    val ws = "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$'"
    val cls = "'[ \\t\\n\\x0B\\f\\r]+'"
    val marginCtes = if (!withMargin) "" else
      "mt AS (SELECT doc_id, md5(unnest(tk)) AS h FROM dtok), " +
        "mf AS (SELECT doc_id, " +
        "((strpos('0123456789abcdef', substr(h, 1, 1)) - 1) * 16 " +
        "+ (strpos('0123456789abcdef', substr(h, 2, 1)) - 1)) % 64 AS bucket, " +
        "CASE WHEN ((strpos('0123456789abcdef', substr(h, 3, 1)) - 1) % 2) = 1 " +
        "THEN 1 ELSE -1 END AS sg FROM mt), " +
        "marg AS (SELECT doc_id, 3 + sum(sg * (((bucket * 37 + 11) % 21) - 10)) " +
        "AS margin FROM mf GROUP BY 1), "
    val marginSel =
      if (!withMargin) "" else ", coalesce(m.margin, 3) AS margin"
    val marginJoin = if (!withMargin) "" else " LEFT JOIN marg m USING (doc_id)"
    val marginGate = if (!withMargin) "" else " AND margin >= 0"
    val marginOut =
      if (!withMargin) "" else ", CAST(sum(margin) AS BIGINT) AS margin_sum"
    "WITH train AS (SELECT * FROM documents WHERE doc_id % 23 <> 0), " +
      "kept AS (SELECT * FROM train WHERE doc_id IN (SELECT min(doc_id) FROM train GROUP BY md5(text))), " +
      s"dtok AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, $ws, '', 'g')) = 0 THEN []::VARCHAR[] " +
      s"ELSE string_split_regex(regexp_replace(text, $ws, '', 'g'), $cls) END AS tk FROM documents), " +
      "g4 AS (SELECT doc_id, CASE WHEN len(tk) < 4 THEN [array_to_string(tk, ' ')] " +
      "ELSE list_distinct(list_transform(range(1, len(tk) - 2), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3])) END AS sh FROM dtok), " +
      "bench AS (SELECT DISTINCT unnest(sh) AS sh FROM g4 WHERE doc_id % 23 = 0), " +
      "tr4 AS (SELECT doc_id, unnest(sh) AS sh FROM g4 WHERE doc_id % 23 <> 0), " +
      "cont AS (SELECT DISTINCT tr4.doc_id FROM tr4 JOIN bench USING (sh)), " +
      "ktok AS (SELECT doc_id, tk FROM dtok WHERE doc_id IN (SELECT doc_id FROM kept)), " +
      "g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)), " +
      "i -> tk[i] || ' ' || tk[i+1])) AS g FROM ktok WHERE len(tk) >= 2), " +
      "c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2), " +
      "a2 AS (SELECT doc_id, sum(c) AS t2, max(c) AS m2 FROM c2 GROUP BY 1), " +
      "g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(tk) - 1), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g FROM ktok WHERE len(tk) >= 3), " +
      "c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2), " +
      "a3 AS (SELECT doc_id, sum(c) AS t3, sum(c) - count(*) AS d3 FROM c3 GROUP BY 1), " +
      marginCtes +
      "q AS (SELECT k.doc_id, k.lang, k.source, " +
      s"CASE WHEN length(regexp_replace(k.text, $ws, '', 'g')) = 0 THEN 0 " +
      s"ELSE len(string_split_regex(regexp_replace(k.text, $ws, '', 'g'), $cls)) END AS n_tokens, " +
      "CASE WHEN length(k.text) = 0 THEN 0.0 ELSE CAST(length(regexp_replace(k.text, '[^0-9]', '', 'g')) AS DOUBLE) / length(k.text) END AS digit_ratio, " +
      "coalesce(t2, 0) AS t2, coalesce(m2, 0) AS m2, coalesce(t3, 0) AS t3, coalesce(d3, 0) AS d3" +
      marginSel + " " +
      "FROM kept k LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id)" +
      marginJoin + ") " +
      "SELECT lang, source, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens" +
      marginOut + " " +
      "FROM q WHERE doc_id NOT IN (SELECT doc_id FROM cont) " +
      "AND m2 * 5 <= t2 AND d3 * 50 <= t3 * 9 " +
      "AND n_tokens BETWEEN 5 AND 5000 AND digit_ratio < 0.3" +
      marginGate + " " +
      "GROUP BY 1, 2"
  }

  private val MinhashBruteForceSql: String =
    "WITH docs AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents WHERE doc_id < 300), " +
      "sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
      "ELSE list_distinct(list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))) END AS sh FROM docs) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.5"

  // Brute-force 64-bit Hamming over doc_id < 300, recomputing the
  // md5-nibble simhash from raw text (see ExtensionQueries
  // .dedupSimhashOracle): per token, bit j of the first 16 md5 hex
  // nibbles votes +1/-1 on simhash bit j (MSB-first packing, vote >= 0
  // sets the bit) — bit-identical to Dedup.simhash64Md5. Pairs at
  // Hamming <= 6; empty-token docs excluded on both sides. Shared by
  // the one-shot batch path (dedup_simhash_oracle) and the incremental
  // index path (dedup_simhash_incr_oracle).
  private val SimhashBruteForceSql: String =
    "WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents WHERE doc_id < 300), " +
      "d2 AS (SELECT doc_id, tk FROM d WHERE len(tk) > 0), " +
      "tok AS (SELECT doc_id, unnest(tk) AS t FROM d2), " +
      "bits AS (SELECT doc_id, r.range AS j, CASE WHEN ((strpos('0123456789abcdef', " +
      "substr(md5(t), CAST(r.range // 4 AS INTEGER) + 1, 1)) - 1) " +
      "& (1 << CAST(3 - (r.range % 4) AS INTEGER))) != 0 THEN 1 ELSE -1 END AS v " +
      "FROM tok, range(64) r), " +
      "votes AS (SELECT doc_id, j, sum(v) AS s FROM bits GROUP BY doc_id, j), " +
      "sh AS (SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN (CASE WHEN j = 0 " +
      "THEN -9223372036854775807 - 1 ELSE (1::BIGINT << CAST(63 - j AS INTEGER)) END) " +
      "ELSE 0 END) AS BIGINT) AS sh64 FROM votes GROUP BY doc_id) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.sh64, b.sh64)) <= 6"

  // Okapi BM25 (k1=1.2, b=0.75) over the case-folded whitespace tokens,
  // three lowest-id docs as queries, ids+rank only: measured
  // adjacent-rank score gaps (≥ 4e-4 across ranks 1..12 at sf0.01) are
  // ~11 orders of magnitude above double-summation noise, so the
  // ORDERING is engine-stable even though the ln-sum score values are
  // not hashable — same double-precision argument as ExactTopKSql.
  // Ties (exact duplicate docs) order by neighbor_id on both engines.
  // Phrase occurrences via the trigram list (phrases are exactly 3
  // tokens in the fixture): tk[1:3] of docs 0/10/42 are the phrases,
  // and a 3-token phrase's tf in a doc = the count of equal entries in
  // the doc's (non-distinct) trigram list — overlap-counting, like the
  // index's position adjacency.
  private val PhraseSql: String =
    "WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(lower(text), " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
      "g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN []::VARCHAR[] " +
      "ELSE list_transform(range(1, len(tk) - 1), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS gr FROM d), " +
      "q AS (SELECT doc_id AS query_id, array_to_string(tk[1:3], ' ') AS ph " +
      "FROM d WHERE doc_id IN (0, 10, 42) AND len(tk) >= 3), " +
      "m AS (SELECT q.query_id, g.doc_id, " +
      "len(list_filter(g.gr, x -> x = q.ph)) AS tf FROM q CROSS JOIN g) " +
      "SELECT query_id, doc_id, CAST(tf AS BIGINT) AS phrase_tf FROM m WHERE tf >= 1"

  // ---- takedown oracles (r18): rebuild-without-docs truth ----------
  // The deleted sets mirror the engine sides exactly:
  //   text rows:   doc_id % 7 = 3 AND len(tk) > 0 (non-empty guard —
  //                the deleteDocs stats caveat)
  //   fp row:      unique-fingerprint docs with doc_id % 31 = 5
  //   minhash/simhash rows: doc_id % 17 = 2
  //   embed/sem rows:       the planted second copy (id 10301)
  //   vector row:  vec_id % 13 = 4 (queries keep reading the FULL
  //                table — query text/vectors are corpus-independent)

  private val Bm25DeletedSql: String =
    "WITH d0 AS (SELECT doc_id, CASE WHEN length(regexp_replace(lower(text), " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
      "d AS (SELECT * FROM d0 WHERE NOT (doc_id % 7 = 3 AND len(tk) > 0)), " +
      "stats AS (SELECT count(*)::DOUBLE AS n, avg(len(tk))::DOUBLE AS avgdl FROM d), " +
      "qterm AS (SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS term FROM d0 WHERE doc_id < 3), " +
      "post AS (SELECT doc_id AS neighbor_id, len(tk) AS dl, unnest(tk) AS term FROM d), " +
      "hits AS (SELECT term, neighbor_id, dl, count(*)::DOUBLE AS tf FROM post " +
      "WHERE term IN (SELECT DISTINCT term FROM qterm) GROUP BY 1, 2, 3), " +
      "dft AS (SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY term), " +
      "contrib AS (SELECT h.term, h.neighbor_id, " +
      "ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * h.tf * 2.2 / " +
      "(h.tf + (h.dl * (0.75 / s.avgdl) + 0.25) * 1.2) AS c " +
      "FROM hits h CROSS JOIN stats s JOIN dft f ON h.term = f.term), " +
      "scored AS (SELECT q.query_id, c.neighbor_id, sum(c.c) AS score " +
      "FROM qterm q JOIN contrib c ON q.term = c.term GROUP BY 1, 2), " +
      "ranked AS (SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
      "SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10"

  private val PhraseDeletedSql: String =
    "WITH d0 AS (SELECT doc_id, CASE WHEN length(regexp_replace(lower(text), " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
      "d AS (SELECT * FROM d0 WHERE NOT (doc_id % 7 = 3 AND len(tk) > 0)), " +
      "g AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN []::VARCHAR[] " +
      "ELSE list_transform(range(1, len(tk) - 1), " +
      "i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END AS gr FROM d), " +
      "q AS (SELECT doc_id AS query_id, array_to_string(tk[1:3], ' ') AS ph " +
      "FROM d0 WHERE doc_id IN (0, 10, 42) AND len(tk) >= 3), " +
      "m AS (SELECT q.query_id, g.doc_id, " +
      "len(list_filter(g.gr, x -> x = q.ph)) AS tf FROM q CROSS JOIN g) " +
      "SELECT query_id, doc_id, CAST(tf AS BIGINT) AS phrase_tf FROM m WHERE tf >= 1"

  private val FpDeletedSql: String =
    "WITH d0 AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents WHERE doc_id < 500), " +
      "g AS (SELECT doc_id, " +
      "min(doc_id) OVER (PARTITION BY md5(array_to_string(tk, ' '))) AS keep0, " +
      "count(*) OVER (PARTITION BY md5(array_to_string(tk, ' '))) AS gsz FROM d0) " +
      "SELECT doc_id + 20000 AS id, " +
      "CASE WHEN gsz = 1 AND doc_id % 31 = 5 THEN doc_id + 20000 ELSE keep0 END AS keep_id " +
      "FROM g"

  private val MinhashDeletedSql: String =
    "WITH docs AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents WHERE doc_id < 300 AND doc_id % 17 != 2), " +
      "sh AS (SELECT doc_id, CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')] " +
      "ELSE list_distinct(list_transform(range(1, len(tk) - 1), i -> array_to_string(tk[i:i+2], ' '))) END AS sh FROM docs) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(list_distinct(a.sh || b.sh)) >= 0.5"

  private val SimhashDeletedSql: String =
    "WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents WHERE doc_id < 300 AND doc_id % 17 != 2), " +
      "d2 AS (SELECT doc_id, tk FROM d WHERE len(tk) > 0), " +
      "tok AS (SELECT doc_id, unnest(tk) AS t FROM d2), " +
      "bits AS (SELECT doc_id, r.range AS j, CASE WHEN ((strpos('0123456789abcdef', " +
      "substr(md5(t), CAST(r.range // 4 AS INTEGER) + 1, 1)) - 1) " +
      "& (1 << CAST(3 - (r.range % 4) AS INTEGER))) != 0 THEN 1 ELSE -1 END AS v " +
      "FROM tok, range(64) r), " +
      "votes AS (SELECT doc_id, j, sum(v) AS s FROM bits GROUP BY doc_id, j), " +
      "sh AS (SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN (CASE WHEN j = 0 " +
      "THEN -9223372036854775807 - 1 ELSE (1::BIGINT << CAST(63 - j AS INTEGER)) END) " +
      "ELSE 0 END) AS BIGINT) AS sh64 FROM votes GROUP BY doc_id) " +
      "SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.sh64, b.sh64)) <= 6"

  // survivors (vec_id<300) ∪ the appended copy 10300; the deleted copy
  // 10301 appears on neither side. Pairs touching the batch = b is 10300.
  private val EmbedDeletedSql: String =
    "WITH v AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300 " +
      "UNION ALL SELECT vec_id + 10300 AS vec_id, embedding FROM embeddings WHERE vec_id = 0) " +
      "SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM v a JOIN v b ON a.vec_id < b.vec_id " +
      "WHERE b.vec_id = 10300 AND list_inner_product(a.embedding, b.embedding) / " +
      "(sqrt(list_inner_product(a.embedding, a.embedding)) * sqrt(list_inner_product(b.embedding, b.embedding))) >= 0.99"

  private val SimIndexDeletedSql: String =
    "WITH u0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "u AS (SELECT * FROM u0 WHERE vec_id % 13 != 4), " +
      "q AS (SELECT vec_id AS query_id, e AS qe FROM u0 WHERE vec_id < 5), " +
      "scored AS (SELECT q.query_id, u.vec_id AS neighbor_id, " +
      "CASE WHEN sqrt(list_inner_product(u.e, u.e)) = 0 OR sqrt(list_inner_product(q.qe, q.qe)) = 0 THEN 0.0 " +
      "ELSE list_inner_product(u.e, q.qe) / (sqrt(list_inner_product(u.e, u.e)) * sqrt(list_inner_product(q.qe, q.qe))) END AS sim " +
      "FROM u CROSS JOIN q), " +
      "ranked AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM scored) " +
      "SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10"

  private val Bm25RankSql: String =
    "WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(lower(text), " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
      "stats AS (SELECT count(*)::DOUBLE AS n, avg(len(tk))::DOUBLE AS avgdl FROM d), " +
      "qterm AS (SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS term FROM d WHERE doc_id < 3), " +
      "post AS (SELECT doc_id AS neighbor_id, len(tk) AS dl, unnest(tk) AS term FROM d), " +
      "hits AS (SELECT term, neighbor_id, dl, count(*)::DOUBLE AS tf FROM post " +
      "WHERE term IN (SELECT DISTINCT term FROM qterm) GROUP BY 1, 2, 3), " +
      "dft AS (SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY term), " +
      "contrib AS (SELECT h.term, h.neighbor_id, " +
      "ln(1 + (s.n - f.df + 0.5) / (f.df + 0.5)) * h.tf * 2.2 / " +
      "(h.tf + (h.dl * (0.75 / s.avgdl) + 0.25) * 1.2) AS c " +
      "FROM hits h CROSS JOIN stats s JOIN dft f ON h.term = f.term), " +
      "scored AS (SELECT q.query_id, c.neighbor_id, sum(c.c) AS score " +
      "FROM qterm q JOIN contrib c ON q.term = c.term GROUP BY 1, 2), " +
      "ranked AS (SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
      "SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10"

  // Champion-list BM25 (m=3): same tokenization/stats/formula as
  // Bm25RankSql, but candidates come from each term's top-3 postings
  // under the deterministic impact proxy (tf desc, least(dl, 2^21-1)
  // asc, id asc) — pure integer ordering, replicated exactly — and df
  // is the term's TRUE document frequency counted over the FULL
  // postings (not the champion rows). dl in the contribution is the
  // clamped value both engines store. Approximate vs plain BM25 by
  // design; bit-identical across engines because every choice point is
  // integer-deterministic.
  private val Bm25ChampRankSql: String =
    "WITH d AS (SELECT doc_id, CASE WHEN length(regexp_replace(lower(text), " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(lower(text), '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM documents), " +
      "stats AS (SELECT count(*)::DOUBLE AS n, avg(len(tk))::DOUBLE AS avgdl FROM d), " +
      "qterm AS (SELECT doc_id AS query_id, unnest(list_distinct(tk)) AS term FROM d WHERE doc_id < 3), " +
      "post AS (SELECT doc_id AS neighbor_id, len(tk) AS dl, unnest(tk) AS term FROM d), " +
      "tfpost AS (SELECT term, neighbor_id, dl, count(*) AS tf FROM post GROUP BY 1, 2, 3), " +
      "dft AS (SELECT term, count(*)::DOUBLE AS df FROM tfpost GROUP BY term), " +
      "champ AS (SELECT term, neighbor_id, dl, tf FROM (SELECT term, neighbor_id, dl, tf, " +
      "row_number() OVER (PARTITION BY term ORDER BY tf DESC, least(dl, 2097151) ASC, neighbor_id ASC) AS rn " +
      "FROM tfpost) z WHERE rn <= 3), " +
      "hits AS (SELECT c.term, c.neighbor_id, least(c.dl, 2097151) AS dl, c.tf::DOUBLE AS tf, f.df " +
      "FROM champ c JOIN dft f USING (term) " +
      "WHERE c.term IN (SELECT DISTINCT term FROM qterm)), " +
      "contrib AS (SELECT h.term, h.neighbor_id, " +
      "ln(1 + (s.n - h.df + 0.5) / (h.df + 0.5)) * h.tf * 2.2 / " +
      "(h.tf + (h.dl * (0.75 / s.avgdl) + 0.25) * 1.2) AS c " +
      "FROM hits h CROSS JOIN stats s), " +
      "scored AS (SELECT q.query_id, c.neighbor_id, sum(c.c) AS score " +
      "FROM qterm q JOIN contrib c ON q.term = c.term GROUP BY 1, 2), " +
      "ranked AS (SELECT query_id, neighbor_id, row_number() OVER " +
      "(PARTITION BY query_id ORDER BY score DESC, neighbor_id) AS rank FROM scored) " +
      "SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10"

  // Composite truth for the composed dedup-on-ingest operator: the
  // variant-augmented corpus (doc_id < 300 ∪ tab-reformatting copies of
  // doc_id < 50 at +10000; empty-token docs dropped) first folds under
  // the whitespace-normalized token key (window-min = keep), then the
  // md5-nibble simhash (identical construction to SimhashBruteForceSql)
  // brute-forces Hamming ≤ 6 pairs among the fold SURVIVORS; a
  // survivor's keep is its smallest-id partner if any, else itself.
  private val CurateIngestCtes: String =
    "u AS (SELECT doc_id, text FROM documents WHERE doc_id < 300 " +
      "UNION ALL SELECT doc_id + 10000 AS doc_id, replace(text, ' ', chr(9) || ' ') AS text " +
      "FROM documents WHERE doc_id < 50), " +
      "d AS (SELECT doc_id, CASE WHEN length(regexp_replace(text, " +
      "'^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g')) = 0 THEN []::VARCHAR[] " +
      "ELSE string_split_regex(regexp_replace(text, '^[ \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+$', '', 'g'), " +
      "'[ \\t\\n\\x0B\\f\\r]+') END AS tk FROM u), " +
      "d2 AS (SELECT doc_id, tk FROM d WHERE len(tk) > 0), " +
      "f AS (SELECT doc_id, tk, min(doc_id) OVER (PARTITION BY " +
      "md5(array_to_string(tk, ' '))) AS fp_keep FROM d2), " +
      "s AS (SELECT doc_id, tk FROM f WHERE doc_id = fp_keep), " +
      "tok AS (SELECT doc_id, unnest(tk) AS t FROM s), " +
      "bits AS (SELECT doc_id, r.range AS j, CASE WHEN ((strpos('0123456789abcdef', " +
      "substr(md5(t), CAST(r.range // 4 AS INTEGER) + 1, 1)) - 1) " +
      "& (1 << CAST(3 - (r.range % 4) AS INTEGER))) != 0 THEN 1 ELSE -1 END AS v " +
      "FROM tok, range(64) r), " +
      "votes AS (SELECT doc_id, j, sum(v) AS s FROM bits GROUP BY doc_id, j), " +
      "sh AS (SELECT doc_id, CAST(sum(CASE WHEN s >= 0 THEN (CASE WHEN j = 0 " +
      "THEN -9223372036854775807 - 1 ELSE (1::BIGINT << CAST(63 - j AS INTEGER)) END) " +
      "ELSE 0 END) AS BIGINT) AS sh64 FROM votes GROUP BY doc_id), " +
      "pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b FROM sh a JOIN sh b " +
      "ON a.doc_id < b.doc_id WHERE bit_count(xor(a.sh64, b.sh64)) <= 6), " +
      "near AS (SELECT id_b AS doc_id, min(id_a) AS near_keep FROM pairs GROUP BY id_b), " +
      "onehop AS (SELECT f.doc_id, " +
      "CASE WHEN f.doc_id != f.fp_keep THEN f.fp_keep " +
      "WHEN n.near_keep IS NOT NULL THEN n.near_keep " +
      "ELSE f.doc_id END AS keep_id, " +
      "CASE WHEN f.doc_id != f.fp_keep THEN 'exact' " +
      "WHEN n.near_keep IS NOT NULL THEN 'near' " +
      "ELSE 'new' END AS regime " +
      "FROM f LEFT JOIN near n ON n.doc_id = f.doc_id)"

  private val CurateIngestSql: String =
    "WITH " + CurateIngestCtes +
      " SELECT doc_id, keep_id, regime FROM onehop"

  // Transitive closure of the one-hop lineage: chase each keep chain to
  // its root (pointers strictly decrease, so the root is the MIN value
  // the chase visits). The CHAIN contract — not component-min; see
  // CurationIngest.closeLineage's scaladoc for the divergence case.
  private val CurateLineageSql: String =
    "WITH RECURSIVE " + CurateIngestCtes + ", " +
      "chase(doc_id, cur, regime) AS (" +
      "SELECT doc_id, keep_id, regime FROM onehop " +
      "UNION " +
      "SELECT c.doc_id, o.keep_id, c.regime FROM chase c " +
      "JOIN onehop o ON o.doc_id = c.cur) " +
      "SELECT doc_id, min(cur) AS keep_id, min(regime) AS regime " +
      "FROM chase GROUP BY doc_id"

  private val ExactTopKSql: String =
    "WITH u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e FROM embeddings), " +
      "q AS (SELECT vec_id AS query_id, e AS qe FROM u WHERE vec_id < 5), " +
      "scored AS (SELECT q.query_id, u.vec_id AS neighbor_id, " +
      "CASE WHEN sqrt(list_inner_product(u.e, u.e)) = 0 OR sqrt(list_inner_product(q.qe, q.qe)) = 0 THEN 0.0 " +
      "ELSE list_inner_product(u.e, q.qe) / (sqrt(list_inner_product(u.e, u.e)) * sqrt(list_inner_product(q.qe, q.qe))) END AS sim " +
      "FROM u CROSS JOIN q), " +
      "ranked AS (SELECT query_id, neighbor_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank FROM scored) " +
      "SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 10"
}
