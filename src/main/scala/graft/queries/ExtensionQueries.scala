package graft.queries

import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Dedup, Similarity, TextFunctions => TF}
import graft.plans.{TextExpressions => TX}
import graft.store.{DedupIndex, EmbedIndex, FingerprintIndex, PhraseIndex,
  SemIndex, SimHashIndex, SnapshotStore, TextIndex, VectorIndex}

/** Training-data-pipeline queries over `documents` / `embeddings`
  * (builder prompt extension ops). Entries registered in SparkEntry;
  * SQL-expressible ones carry DuckDB oracles, the rest are rows-only
  * checks backed by ScalaTest assertions on known inputs.
  */
object ExtensionQueries {

  /** The local testdata tables are single-row-group parquet files, which
    * Spark cannot split — a compute-heavy operator would run as ONE task.
    * Spread to the session's parallelism before per-row-expensive stages.
    * (On a real many-file corpus the scan already has enough partitions
    * and this round-robin is skipped.) */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // queryExecution.toRdd reads the physical scan's partition count
    // without df.rdd's extra InternalRow→Row conversion stage.
    if (df.queryExecution.toRdd.getNumPartitions >= target / 2) df
    else df.repartition(target)
  }

  private[graft] def docs(s: SparkSession, d: String): DataFrame =
    spread(Tables.documents(s, d))
  private[graft] def embs(s: SparkSession, d: String): DataFrame =
    spread(Tables.embeddings(s, d))

  // ---- text analysis ---------------------------------------------------

  /** Per-document text statistics (counts are exact ints; ratios are
    * int/int divisions — deterministic doubles on every engine). Empty
    * text is guarded on BOTH sides (Spark ANSI division-by-zero; DuckDB
    * `string_split_regex('')` yields `['']`). */
  def textStats(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    docs(s, d).select(
      col("doc_id"),
      length(t).as("n_chars"),
      TF.tokenCount(t).as("n_tokens"),
      TF.digitCount(t).as("n_digits"),
      TF.digitRatio(t).as("digit_ratio"))
  }

  /** Language ID + quality scoring + token accounting — the full text
    * triage row a filtering pipeline computes in one scan. Heuristic
    * columns (no cross-engine oracle); asserted in ScalaTest. */
  def textTriage(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    docs(s, d).select(
      col("doc_id"),
      col("lang").as("lang_label"),
      TF.langId(t).as("lang_pred"),
      TF.qualityScore(t).as("quality"),
      TF.tokenCount(t).as("n_tokens"),
      TF.subwordCount(t).as("n_subwords"),
      TF.stopwordRatio(t).as("stopword_ratio"),
      TF.fingerprint(t).as("fp64"))
  }

  /** Gopher-family repetition filters (Rae et al. 2021 §A1.1): per
    * document, the 2-gram total/top counts and the 3-gram total/duplicate
    * counts. The published thresholds are ratios of these integers
    * (top-2-gram fraction ≤ 0.2, duplicate-3-gram fraction ≤ 0.18…);
    * emitting raw counts keeps thresholds exact on any engine and the
    * DuckDB oracle hashable (no float division anywhere).
    *
    * Scale shape: every column is a pure function of ONE row's text, so
    * the plan is a zero-exchange map stage ([[graft.plans.NgramRepetition]]
    * counts windows in place over the text bytes, no token array ever
    * materialized) — the explode + groupBy(doc, gram) formulation this
    * replaces would shuffle corpus·windows rows into a mostly-unique-key
    * aggregate. PlanSpec asserts no Exchange. */
  def textRepetition(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"),
        TX.ngramRepetition(col("text"), 2).as("r2"),
        TX.ngramRepetition(col("text"), 3).as("r3"))
      .select(
        col("doc_id"),
        col("r2.total").cast("long").as("ng2_total"),
        col("r2.top").cast("long").as("ng2_top"),
        col("r3.total").cast("long").as("ng3_total"),
        (col("r3.total") - col("r3.distinct")).cast("long").as("ng3_dup"))

  /** Benchmark decontamination (GPT-3 appx C / PaLM-style): flag every
    * training document sharing a word n-gram with the eval set, with the
    * distinct-overlapping-n-gram count as evidence. The eval set here is
    * the deterministic `doc_id % benchMod == 0` slice standing in for a
    * held-out benchmark table; production passes a real one. Published
    * runs use 8–13-grams on web text; this corpus's ~50-token synthetic
    * docs get the proportionally tight n=4 (n=3 flags 77 % of the corpus
    * — filtration, not decontamination; n=5 only the planted dups).
    *
    * Plumbing only — the operator is [[graft.functions.Dedup.benchmarkOverlap]]
    * (broadcast-gated semi-join; per-doc shingles are DISTINCT via
    * [[graft.plans.WordShingles]], so `count(*)` after the semi-join IS
    * the distinct-overlap count). */
  def deconDocs(s: SparkSession, d: String, n: Int = 4,
                benchMod: Int = 23): DataFrame = {
    val t = docs(s, d)
    Dedup.benchmarkOverlap(
      t.filter(col("doc_id") % benchMod =!= 0),
      t.filter(col("doc_id") % benchMod === 0),
      "text", "doc_id", n)
  }

  /** [[deconDocs]] in the PRODUCTION query shape: the benchmark is a
    * SEPARATE table (a hold-out slice written once to parquet and read
    * back), so the corpus parquet is scanned exactly ONCE — the
    * modulus fixture above derives both sides from the corpus scan,
    * forcing 3 corpus reads the real pipeline never pays (the bench
    * number should reflect the production plan, r9 verdict item 5).
    * The corpus deliberately RETAINS the rows the hold-out was carved
    * from: a training set genuinely containing leaked benchmark copies
    * is the canonical decontamination scenario, and those rows flag
    * with full overlap — deterministic and oracle-pinned. */
  def deconDocsTable(s: SparkSession, d: String, n: Int = 4,
                     benchMod: Int = 23): DataFrame = {
    // Cache key carries the SOURCE's mtime (regenerating the dataset at
    // the same path invalidates the hold-out), completeness is judged by
    // Spark's _SUCCESS marker (a crashed first write leaves no marker),
    // and publication is an atomic rename (concurrent sessions race to
    // an identical result; losers fall through to the winner's copy).
    val src = new java.io.File(s"$d/documents.parquet")
    val key = s"${d.replaceAll("[^A-Za-z0-9.]", "_")}_${src.lastModified()}"
    val dir = new java.io.File("/tmp/graft_bench_tables", key)
    val f = new java.io.File(dir, "benchmark.parquet")
    if (!new java.io.File(f, "_SUCCESS").exists()) {
      dir.mkdirs()
      val tmp = new java.io.File(dir, s".tmp-${System.nanoTime()}")
      docs(s, d).filter(col("doc_id") % benchMod === 0)
        .write.mode("overwrite").parquet(tmp.getPath)
      def del(p: java.io.File): Unit = {
        Option(p.listFiles).foreach(_.foreach(del)); p.delete(): Unit
      }
      try java.nio.file.Files.move(tmp.toPath, f.toPath,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        // A concurrent session published the identical hold-out first.
        // On Linux, renaming a directory onto an existing NON-EMPTY
        // directory fails with ENOTEMPTY → DirectoryNotEmptyException
        // (a FileSystemException, not FileAlreadyExistsException), so
        // catch the whole FileSystemException family — but only swallow
        // when the winner's copy is genuinely complete (_SUCCESS
        // present); anything else is a real publish failure.
        case e: java.nio.file.FileSystemException =>
          if (!new java.io.File(f, "_SUCCESS").exists()) { del(tmp); throw e }
      } finally del(tmp) // loser's staging dir must never leak
    }
    Dedup.benchmarkOverlap(docs(s, d), s.read.parquet(f.getPath),
      "text", "doc_id", n)
  }

  /** Temperature-weighted corpus mixing (multilingual-sampling style:
    * upweight low-resource groups by flattening the size distribution
    * with exponent α = 1/2, i.e. temperature 2): per language, the doc
    * and token counts plus the sampling weight RELATIVE to the largest
    * group and an integer per-100k quota.
    *
    * Weights are emitted relative to the max group, not normalized over
    * all groups, deliberately: the normalizer is a cross-group float SUM
    * whose value depends on addition order — unhashable cross-engine —
    * while `sqrt(n_i)/sqrt(n_max)` and `floor(100000·sqrt(n_i)/sqrt(n_max))`
    * are chains of individually correctly-rounded IEEE ops (sqrt, one
    * multiply, one divide, floor), bit-identical on any engine. The
    * caller normalizes in one pass over the (group-count-sized) result.
    *
    * Scale shape: one two-phase hash aggregate over the group key; the
    * max joins back as a broadcast 1-row frame against the GROUP rows
    * (≤ #langs — never event-volume). */
  def mixTemperature(s: SparkSession, d: String): DataFrame = {
    val g = docs(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TF.tokenCount(col("text")).cast("long")).as("n_tokens"))
    g.crossJoin(broadcast(g.agg(max(col("n_docs")).as("max_docs"))))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        (sqrt(col("n_docs")) / sqrt(col("max_docs"))).as("w_rel"),
        floor(lit(100000) * sqrt(col("n_docs")) / sqrt(col("max_docs")))
          .cast("long").as("quota_100k"))
  }

  /** The UPSAMPLING side of a data recipe, materialized: low-resource
    * groups repeat for multiple training epochs while the head group
    * runs once (the "N epochs of wiki" recipe line). Integer end to
    * end: epochs(lang) = least(maxEpochs, ceil(max_docs / n_docs)) via
    * the exact DIV ceil-div — no float weights anywhere — and the
    * materialization is one broadcast join + a row-local sequence
    * explode, so the output is produced at scan speed at any corpus
    * size. Emits (doc_id, lang, epoch 1..epochs(lang)). */
  def mixEpochs(s: SparkSession, d: String, maxEpochs: Int = 4): DataFrame = {
    val g = docs(s, d).groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val e = g.crossJoin(broadcast(g.agg(max(col("n_docs")).as("max_docs"))))
      .select(col("lang"), least(lit(maxEpochs.toLong),
        expr("(max_docs + n_docs - 1) DIV n_docs")).as("epochs"))
    docs(s, d).join(broadcast(e), Seq("lang"))
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1L), col("epochs"))).as("epoch"))
  }

  /** The temperature policy MATERIALIZED as an actual sample:
    * [[mixTemperature]] computes per-language quotas; this op applies
    * them as a deterministic hash sample — keep a doc iff
    * `mixHash(doc_id) < quota_100k(lang) div 1000`, where mixHash is a
    * two-round multiplicative integer hash onto [0,100) (percent
    * granularity: fine enough for a mixing policy, coarse enough that
    * the REJECT branch is exercised at every test scale). Hash-on-the-key
    * sampling is the cluster-safe choice (reproducible on any
    * partitioning, no RNG state) and makes the WHOLE pipeline
    * integer-exact, so the sampled accounting carries a full DuckDB
    * oracle, not just the policy weights.
    *
    * Why a hash and not `doc_id % 100` (the r10 shape): ids are assigned
    * in ingest order, so an id-modulus keeps a PERIODIC slice of the
    * ingest sequence — any structure in the corpus with a period sharing
    * a factor with 100 (round-robin source interleaving, batch-of-1000
    * loaders, sharded id blocks) lands whole stripes of itself in or out
    * of the sample instead of sampling uniformly. The multiplicative
    * rounds decorrelate the bucket from id adjacency while staying a
    * pure integer chain.
    *
    * Every intermediate is bounded FAR below 2^63 by construction
    * (pre-fold to < 2^31, multipliers ≤ 2654435761 (Knuth's 2^32/φ) and
    * 97003, fold to < 10^8+7): Spark would silently wrap on int64
    * overflow while DuckDB raises — identical results require that
    * neither engine ever reaches its overflow behavior.
    *
    * Scale shape: TWO corpus scans by necessity — the quota depends on
    * global group stats (scan 1: the group aggregate), then the sample
    * filter is row-local against the broadcast group-sized quota frame
    * (scan 2: filter + final group-by). No corpus-keyed exchange beyond
    * the two aggregates. */
  /** Two-round multiplicative hash of a non-negative integer key onto
    * [0,100), as a Column — the sampling bucket (see [[mixSampled]]'s
    * scaladoc for the overflow-safety argument and the DuckDB twin). */
  private[graft] def mixHashBucket(key: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    key % 2147483647L * 2654435761L % 100000007L * 97003L % 100000007L % 100L

  def mixSampled(s: SparkSession, d: String): DataFrame = {
    val quotas = mixTemperature(s, d)
      .select(col("lang"), col("quota_100k"))
    docs(s, d)
      .join(broadcast(quotas), Seq("lang"))
      .filter(mixHashBucket(col("doc_id")) < expr("quota_100k div 1000"))
      .groupBy(col("lang"), col("quota_100k"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(TF.tokenCount(col("text")).cast("long")).as("tokens_sampled"))
      .select(col("lang"), col("quota_100k"), col("n_sampled"),
        col("tokens_sampled"))
  }

  /** The COMPOSED curation funnel with every round-9 filter in one
    * pipeline — the query a training-data team actually ships:
    *  0. the `doc_id % 23 == 0` eval slice is held out (it is the
    *     benchmark, not training data);
    *  1. exact dedup (keep min doc_id per text);
    *  2. decontamination: drop survivors sharing a word 4-gram with the
    *     eval slice ([[deconDocs]]'s operator; the anti side is
    *     hit-doc-sized, so it broadcasts);
    *  3. Gopher-style repetition gates as INTEGER inequalities
    *     (top-2-gram fraction ≤ 0.2 ⟺ 5·top ≤ total; duplicate-3-gram
    *     fraction ≤ 0.18 ⟺ 50·dup ≤ 9·total — thresholds from Rae et
    *     al. 2021 table A1, adapted to this corpus's short docs;
    *     zero-window docs pass);
    *  4. quality gates (5 ≤ n_tokens ≤ 5000, digit_ratio < 0.3 — the
    *     same row-local gates curate_docs pins);
    *  5. per-(lang, source) doc/token accounting.
    * Every stage is a pure row-local function or a broadcast anti-join,
    * so the only corpus-keyed exchanges are the dedup hash aggregate
    * and the final group-by. */
  def curateFiltered(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val train = docs(s, d).filter(col("doc_id") % 23 =!= 0)
    val kept = Dedup.dropExactDuplicates(train, "text", "doc_id")
    val contaminated = deconDocs(s, d).select(col("doc_id"))
    kept.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"),
        TF.tokenCount(t).as("n_tokens"), TF.digitRatio(t).as("digit_ratio"),
        TX.ngramRepetition(t, 2).as("r2"), TX.ngramRepetition(t, 3).as("r3"))
      .filter(col("r2.top") * 5 <= col("r2.total"))
      .filter((col("r3.total") - col("r3.distinct")) * 50 <= col("r3.total") * 9)
      .filter(col("n_tokens").between(5, 5000) && col("digit_ratio") < 0.3)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
  }

  /** [[curateFiltered]] with the LEARNED quality gate added — the one
    * first-class curation stage real training-data pipelines run that
    * the heuristic funnel lacks: a fastText-style linear classifier over
    * the hashed bag-of-words ([[graft.functions.Featurize.qualityMargin]]),
    * keeping a doc iff margin ≥ 0. Weights here are the deterministic
    * fixtures ([[graft.functions.Featurize.fixtureWeights]], bias 3)
    * standing in for trained parameters; the operator takes any integer
    * weight vector. Emits the funnel's per-(lang, source) accounting
    * plus `margin_sum` — the exact integer sum of kept docs' margins, so
    * the oracle pins the margin VALUES, not just the keep decisions.
    *
    * Scale shape: the gate is one more row-local codegen expression in
    * the same funnel scan — no new shuffle, no new pass. */
  def curateScored(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val train = docs(s, d).filter(col("doc_id") % 23 =!= 0)
    val kept = Dedup.dropExactDuplicates(train, "text", "doc_id")
    val contaminated = deconDocs(s, d).select(col("doc_id"))
    import graft.functions.Featurize
    kept.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"),
        TF.tokenCount(t).as("n_tokens"), TF.digitRatio(t).as("digit_ratio"),
        TX.ngramRepetition(t, 2).as("r2"), TX.ngramRepetition(t, 3).as("r3"),
        Featurize.qualityMargin(t, Featurize.fixtureWeights(64), bias = 3L)
          .as("margin"))
      .filter(col("r2.top") * 5 <= col("r2.total"))
      .filter((col("r3.total") - col("r3.distinct")) * 50 <= col("r3.total") * 9)
      .filter(col("n_tokens").between(5, 5000) && col("digit_ratio") < 0.3)
      .filter(col("margin") >= 0)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        sum(col("margin")).as("margin_sum"))
  }

  // ---- dedup -----------------------------------------------------------

  /** Exact dedup groups keyed on md5(text) — SQL-oracle-able. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Dedup.exactGroups(docs(s, d), "text", "doc_id")

  /** Exact-dedup survivor set (keep min doc_id per text). */
  def dedupExactKeep(s: SparkSession, d: String): DataFrame =
    Dedup.dropExactDuplicates(docs(s, d), "text", "doc_id")
      .select(col("doc_id"), col("n_chars"))

  /** MinHash-LSH near-duplicate pairs (jaccard ≥ 0.5). */
  def dedupMinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.nearDuplicatePairs(docs(s, d), "text", "doc_id",
      threshold = 0.5)

  /** SimHash near-duplicate pairs (Hamming ≤ 6 of 64). */
  def dedupSimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashNearDupPairs(docs(s, d), "text", "doc_id",
      maxHamming = 6)

  /** MinHash-LSH near-dup pairs with a FULL DuckDB oracle: the corpus is
    * restricted to doc_id < 300 so the oracle can brute-force every pair's
    * exact 3-gram Jaccard (the unrestricted query's oracle would be an
    * O(n²) SQL join). Emits pair ids only — integer-exact on both engines;
    * jaccard VALUES are spec-verified (TextDedupSpec). Every sf0.01 truth
    * pair has J ≥ 0.95, where b=16/r=2 banding recall is 1 − 1e-20 —
    * deterministic agreement, not luck. */
  def dedupMinhashOracle(s: SparkSession, d: String): DataFrame =
    Dedup.nearDuplicatePairs(docs(s, d).filter(col("doc_id") < 300),
      "text", "doc_id", threshold = 0.5)
      .select(col("id_a"), col("id_b"))

  /** INCREMENTAL batch-vs-corpus near-dup dedup, pinned to the same
    * brute-force DuckDB oracle as `dedup_minhash_oracle`: the doc_id<300
    * corpus arrives as two appends (doc_id mod 2) into a fresh
    * persisted band-key index, and the union of the per-append pair sets
    * must equal the full-corpus truth — the production growing-corpus
    * mode proving it misses nothing the one-shot batch run finds
    * (pair-for-pair equivalence incl. jaccard values is DedupIndexSpec's
    * contract, across MORE batchings than this; the oracle pins the end
    * result to external truth). Two appends suffice for the oracle pin —
    * append 2 exercises both batch-vs-corpus and batch-vs-self — and the
    * 150-doc batches are coalesced to one partition so a query that is
    * job-count-bound, not data-bound, doesn't pay 32-task shuffles per
    * commit (the r7 3-append version timed 20 s of pure task overhead).
    * The index root is a per-invocation temp dir: a durable root would
    * double-append on a rerun. */
  def dedupIncrOracle(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-dedupincr").toString
    val store = new SnapshotStore(root, s)
    DedupIndex.build(store, "docs_minhash", base.limit(0), "text", "doc_id")
    val parts = (0 until 2).map { i =>
      DedupIndex.appendBatchOnce(store, "docs_minhash",
        base.filter(col("doc_id") % 2 === i).coalesce(1), "text", "doc_id",
        streamId = "verify", batchId = i, threshold = 0.5).get
    }
    // The appends' pair frames come back EAGER (persisted+counted);
    // the union reuses those caches directly, so the old second
    // persist+count pass was a pure extra job (r19, guide §1.2). The
    // pair caches stay live for the consumer's action — the bench
    // clears caches between passes.
    parts.reduce(_ unionByName _).select(col("id_a"), col("id_b"))
  }

  /** INCREMENTAL exact/reformatting dedup over the persistent fingerprint
    * index, pinned to a DuckDB oracle: the doc_id<500 corpus plus
    * tab-indented variants of doc_id<50 (planted reformatting-only dups
    * at +10000, same construction as `dedup_fingerprint`) arrives as two
    * ascending-id appends; every document reports its content owner
    * (keep_id). With id-ordered arrival, first-arrival keep ≡ global
    * keep-min, so the oracle is a per-group window-min over the
    * whitespace-normalized token key — engine-hash-agnostic like
    * `dedup_fingerprint` (md5 on the oracle side, xxhash64 here; groups
    * agree iff token sequences agree). Every planted variant must map to
    * its original (keep_id = doc_id − 10000). */
  def dedupIncrFpOracle(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), " ", "\t ").as("text"))
    val u = base.unionByName(variants)
    val root = graft.TempDirs.create("graft-fpincr").toString
    val store = new SnapshotStore(root, s)
    FingerprintIndex.build(store, "docs_fp", u.limit(0), "text", "doc_id")
    val parts = Seq(u.filter(col("doc_id") < 250), u.filter(col("doc_id") >= 250))
      .zipWithIndex.map { case (b, i) =>
        FingerprintIndex.appendBatchOnce(store, "docs_fp", b.coalesce(1),
          "text", "doc_id", streamId = "verify", batchId = i.toLong).get
      }
    parts.reduce(_ unionByName _)
      .select(col("id").as("doc_id"), col("keep_id"))
  }

  /** [[dedupIncrFpOracle]] through the TRICKLE bloom-probe path
    * ([[FingerprintIndex.appendBatchOnce]] `bloomProbeMaxKeys`): the
    * collision probe reads only index files whose parquet bloom
    * sketches might contain a batch fingerprint, instead of streaming
    * the whole index. Same appends, same DuckDB window-min oracle — a
    * sketch can only skip files, never change an owner, and this row
    * pins that end-to-end. */
  def dedupIncrFpBloom(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), " ", "\t ").as("text"))
    val u = base.unionByName(variants)
    val root = graft.TempDirs.create("graft-fpbloom").toString
    val store = new SnapshotStore(root, s)
    FingerprintIndex.build(store, "docs_fp", u.limit(0), "text", "doc_id")
    val parts = Seq(u.filter(col("doc_id") < 250), u.filter(col("doc_id") >= 250))
      .zipWithIndex.map { case (b, i) =>
        FingerprintIndex.appendBatchOnce(store, "docs_fp", b.coalesce(1),
          "text", "doc_id", streamId = "verify", batchId = i.toLong,
          bloomProbeMaxKeys = 100000).get
      }
    parts.reduce(_ unionByName _)
      .select(col("id").as("doc_id"), col("keep_id"))
  }

  /** Embedding near-dup with a FULL DuckDB oracle: a copy of vec_id 0 is
    * planted as vec_id 10000 inside the query (both engines construct the
    * same union), and at threshold 0.99 the only qualifying pair is that
    * planted duplicate — the oracle proves exact-recall of the near-identical
    * regime AND zero false positives on the isotropic rest. Pair ids only
    * (cosine VALUES are float-order-sensitive across engines; spec-checked
    * instead). */
  def dedupEmbedOracle(s: SparkSession, d: String): DataFrame = {
    val base = embs(s, d).filter(col("vec_id") < 300)
    val planted = embs(s, d).filter(col("vec_id") === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
    Similarity.embeddingNearDupPairs(base.unionByName(planted),
      "vec_id", "embedding", dim = 64, threshold = 0.99)
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup at EXACT settings, with a FULL DuckDB oracle: one cluster
    * (nClusters = 1 — in-cluster pairing degenerates to the paper's
    * exact per-cluster regime over the whole sub-corpus, independent of
    * the trainer) and eps = 0.99, over base ∪ a planted copy of vec_id 0
    * at id 10000 (both engines construct the same union — the
    * dedup_embed_oracle fixture). The oracle recomputes pairs by brute
    * force, closes components with a recursive CTE, and pins the full
    * (vec_id, keep_id, kept) survivorship: the copy's component keeps
    * vec_id 0, everything else keeps itself. */
  def semDedupOracle(s: SparkSession, d: String): DataFrame = {
    val base = embs(s, d).filter(col("vec_id") < 300)
    val planted = embs(s, d).filter(col("vec_id") === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"), col("label"))
    Similarity.semDedup(base.unionByName(planted), "vec_id", "embedding",
      dim = 64, nClusters = 1, eps = 0.99)
  }

  /** SemDeDup at production shape (k-means clusters + within-cluster
    * pairing). eps = 0.4 is the DEMO setting for the isotropic test
    * embeddings (same rationale as [[dedupEmbeddingPairs]]); k-means
    * assignment is trainer-dependent, so this entry is rows-only —
    * [[semDedupOracle]] is its exact-settings oracle twin. */
  def semDedupQuery(s: SparkSession, d: String): DataFrame =
    Similarity.semDedup(embs(s, d), "vec_id", "embedding",
      dim = 64, nClusters = 16, eps = 0.4)

  /** Embedding-cosine near-dup pairs via multi-table hyperplane LSH.
    * Threshold 0.4 is a DEMO setting: the synthetic embeddings are
    * isotropic (max pairwise cos ≈ 0.48), so a production-style 0.95
    * threshold correctly returns zero rows; 0.4 exercises the full
    * bucket-join + verify plan with a non-empty result. */
  def dedupEmbeddingPairs(s: SparkSession, d: String): DataFrame =
    Similarity.embeddingNearDupPairs(embs(s, d),
      "vec_id", "embedding", dim = 64, threshold = 0.4)

  /** Whitespace-insensitive fingerprint dedup with a FULL DuckDB oracle.
    * The corpus is augmented (inside the query, same construction both
    * engines) with tab-indented copies of doc_id < 50 at ids +10000 —
    * reformatting-only duplicates that md5(text) exact dedup would MISS.
    * The emitted columns are hash-agnostic (group survivor + size only):
    * docs share a group iff their token sequences are equal, so the
    * DuckDB twin reproduces the same groups with md5 as the grouping hash
    * even though the production xxhash64 fingerprint has no SQL
    * equivalent (distinct token sequences colliding under either hash is
    * the usual 2^-64 non-event). Every planted variant must fold into its
    * original's group (dup_count 2, keep_id = the original). */
  def dedupFingerprint(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), " ", "\t ").as("text"))
    Dedup.fingerprintGroups(base.unionByName(variants), "text", "doc_id")
      .select(col("keep_id"), col("dup_count"))
  }

  /** SimHash near-dup pairs with a FULL DuckDB oracle — the same recipe
    * that closed minhash/embed: restrict to doc_id < 300 so the oracle can
    * brute-force every pair's 64-bit Hamming distance. The production
    * per-token hash (xxhash64, compiled SimHash64) has no DuckDB
    * equivalent, so the oracle twin swaps in the md5-derived token hash
    * ([[Dedup.simhash64Md5]]) that both engines compute bit-identically —
    * the machinery under test (adaptive multi-block pigeonhole banding,
    * single bucket shuffle, in-bucket HammingPairs verification) is
    * EXACTLY the production path via simhashPairsFromHashes; only the
    * leaf hash differs, and that leaf is pinned by TextDedupSpec's
    * exhaustive-equality test. Empty-token docs are excluded on both
    * sides (their all-zero vote vector is a degenerate all-ones hash). */
  def dedupSimhashOracle(s: SparkSession, d: String): DataFrame = {
    val hashed = docs(s, d)
      .filter(col("doc_id") < 300 && size(TF.tokens(col("text"))) > 0)
      .select(col("doc_id").as("id"), Dedup.simhash64Md5(col("text")).as("sh64"))
    Dedup.simhashPairsFromHashes(hashed, maxHamming = 6, corpusSize = 300L)
      .select(col("id_a"), col("id_b"))
  }

  /** INCREMENTAL simhash dedup over the persistent combo-key index,
    * pinned to the SAME brute-force Hamming oracle as
    * `dedup_simhash_oracle`: the doc_id<300 corpus (md5-portable simhash,
    * empty-token docs excluded) arrives as two appends into a fresh
    * index built with the banding parameters the one-shot path would
    * auto-size for this corpus, and the union of the per-append pair
    * sets must equal the full-corpus truth (pair-for-pair equivalence
    * incl. hamming values is SimHashIndexSpec's contract; this row pins
    * the union to external truth). Per-invocation temp root — a durable
    * root would double-append on rerun. */
  def dedupSimhashIncrOracle(s: SparkSession, d: String): DataFrame = {
    val hashed = docs(s, d)
      .filter(col("doc_id") < 300 && size(TF.tokens(col("text"))) > 0)
      .select(col("doc_id").as("id"), Dedup.simhash64Md5(col("text")).as("sh64"))
    val root = graft.TempDirs.create("graft-shincr").toString
    val store = new SnapshotStore(root, s)
    SimHashIndex.build(store, "docs_simhash", hashed.limit(0),
      nBlocks = Dedup.simhashAutoBlocks(300L, 6), maxHamming = 6)
    val parts = (0 until 2).map { i =>
      SimHashIndex.appendBatchOnce(store, "docs_simhash",
        hashed.filter(col("id") % 2 === i).coalesce(1),
        streamId = "verify", batchId = i.toLong).get
    }
    // EAGER pair frames reused directly — see dedupIncrOracle.
    parts.reduce(_ unionByName _).select(col("id_a"), col("id_b"))
  }

  /** INCREMENTAL embedding-cosine dedup over the persistent
    * hyperplane-LSH index ([[EmbedIndex]]), pinned to the SAME
    * brute-force cosine truth as `dedup_embed_oracle`: the vec_id<300
    * corpus is bulk-built (pair-free), then ONE batch arrives — fresh
    * rows 300..349 plus the planted near-identical copy of vector 0 at
    * id 10300 — and the append's pair set must equal every brute-force
    * pair at cos ≥ 0.99 touching the batch (at this threshold: exactly
    * the planted copy against its original; the isotropic rest is far
    * below). Pair ids only (cosine VALUES are float-order-sensitive
    * across engines; EmbedIndexSpec checks them in-JVM). Per-invocation
    * temp root — a durable root would double-append on rerun. */
  def dedupEmbedIncrOracle(s: SparkSession, d: String): DataFrame =
    embedIncrWith(s, d, EmbedIndex.DefaultFloatExchangeMinDim)

  /** The same fixture with the FLOAT-EXCHANGE path FORCED (dim 64 is
    * below the default gate): pins the float heap + candidate margin +
    * exact double re-verify to the identical external brute-force truth
    * — the spec proves float ≡ double internally; this row proves both
    * against DuckDB. */
  def dedupEmbedFloatOracle(s: SparkSession, d: String): DataFrame =
    embedIncrWith(s, d, 0)

  private def embedIncrWith(s: SparkSession, d: String,
                            floatMinDim: Int): DataFrame = {
    val base = embs(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val batch = embs(s, d)
      .filter(col("vec_id") >= 300 && col("vec_id") < 350)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .unionByName(embs(s, d).filter(col("vec_id") === 0)
        .select((col("vec_id") + 10300).as("id"), col("embedding").as("vec")))
    val root = graft.TempDirs.create("graft-embincr").toString
    val store = new SnapshotStore(root, s)
    EmbedIndex.build(store, "vecs_embed", base, dim = 64, threshold = 0.99,
      expectedCorpus = 360L)
    // EAGER pair frame reused directly — see dedupEmbedDeleted.
    EmbedIndex.appendBatchOnce(store, "vecs_embed", batch,
      streamId = "verify", batchId = 0L,
      floatExchangeMinDim = floatMinDim).get
      .select(col("id_a"), col("id_b"))
  }

  /** Corpus health report — the per-(lang, source) accounting table a
    * curation run starts and ends with: docs, tokens, chars, short-doc
    * and exact-duplicate counts, all exact integers. One md5-keyed
    * exchange (the exact-dup detection pass any dedup run pays anyway)
    * plus one group aggregate; token/char counters are fused byte
    * scans, so the whole report is two exchanges at any corpus size. */
  def corpusReport(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(md5(col("text")))
    docs(s, d)
      .withColumn("grp_n", count(lit(1)).over(w))
      .withColumn("ntok", TF.tokenCount(col("text")))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        sum(when(col("ntok") < 5, 1L).otherwise(0L)).as("n_short"),
        sum(when(col("grp_n") >= 2, 1L).otherwise(0L)).as("n_dup_docs"))
  }

  /** FUZZY benchmark decontamination
    * ([[graft.functions.Dedup.benchmarkNearDups]], τ = 4/5): the
    * benchmark is the doc_id%23=0 hold-out; the training side RETAINS
    * those rows (verbatim leaks, J = 1) and additionally plants
    * EDITED copies at +20000 with one appended token (J = (m−2)/(m−1)
    * for an m-token doc — high but < 1, the near-verbatim leak the
    * exact-overlap counter under-scores). The oracle recomputes the
    * disjoint-id union and the full exact-Jaccard rule in SQL and pins
    * every (doc, bench, inter, union) evidence row. */
  def deconFuzzy(s: SparkSession, d: String): DataFrame = {
    val t = docs(s, d)
    val bench = t.filter(col("doc_id") % 23 === 0)
      .select(col("doc_id"), col("text"))
    val train = t.select(col("doc_id"), col("text"))
      .unionByName(bench.select((col("doc_id") + 20000).as("doc_id"),
        concat(col("text"), lit(" edited")).as("text")))
    Dedup.benchmarkNearDups(train, bench, "text", "doc_id")
  }

  /** INCREMENTAL SemDeDup over the persistent cluster index
    * ([[graft.store.SemIndex]]) at exact settings — nClusters = 1 makes
    * in-cluster pairing exhaustive over the whole sub-corpus and
    * trainer-independent — pinned to the SAME brute-force cosine truth
    * as `dedup_embed_incr_oracle`: build on vec_id < 300, append fresh
    * rows 300..349 plus the planted near-identical copy of 0 at 10300,
    * and the append's pair ids must equal every brute-force pair at
    * cos ≥ 0.99 touching the batch. The append runs the zone-probe
    * trickle path (the batch touches 1 cluster), which the spec pins
    * identical to the default probe. */
  def semDedupIncrOracle(s: SparkSession, d: String): DataFrame = {
    val base = embs(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val batch = embs(s, d)
      .filter(col("vec_id") >= 300 && col("vec_id") < 350)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .unionByName(embs(s, d).filter(col("vec_id") === 0)
        .select((col("vec_id") + 10300).as("id"), col("embedding").as("vec")))
    val root = graft.TempDirs.create("graft-semincr").toString
    val store = new SnapshotStore(root, s)
    SemIndex.build(store, "vecs_sem", base, dim = 64, eps = 0.99,
      nClusters = 1)
    // EAGER pair frame reused directly — see dedupEmbedDeleted.
    SemIndex.appendBatchOnce(store, "vecs_sem", batch,
      streamId = "verify", batchId = 0L, zoneProbeMaxClusters = 8).get
      .select(col("id_a"), col("id_b"))
  }

  /** COMPOSED dedup-on-ingest ([[graft.store.CurationIngest]]) with a
    * FULL DuckDB oracle — fingerprint (exact/reformatting) gating first,
    * then simhash near-dup gating of only the fingerprint survivors,
    * arriving as two ascending-id micro-batches under the composed
    * exactly-once protocol. The corpus is doc_id < 300 plus planted
    * tab-reformatting variants (+10000 of doc_id < 50 — they must
    * resolve regime='exact' to their originals WITHOUT ever reaching the
    * simhash index), empty-token docs excluded on both sides (degenerate
    * simhash). Composite truth = fingerprint window-min (ascending
    * arrival ⇒ first-arrival ≡ global keep-min, same argument as
    * dedup_incr_fp_oracle) ∘ brute-force 64-bit Hamming pairs among the
    * survivors (md5-portable simhash, same leaf as dedup_simhash_oracle);
    * a survivor's keep is its SMALLEST-id partner within Hamming ≤ 6
    * (one-hop, the operator's documented lineage contract). Stage
    * equivalence and crash-between-commits replay are
    * CurationIngestSpec's contract; this row pins the composed end
    * result to external truth. Per-invocation temp root. */
  def curateIngestOracle(s: SparkSession, d: String): DataFrame = {
    import graft.store.{CurationIngest, SimHashRegime, SnapshotStore}
    val base = docs(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), " ", "\t ").as("text"))
    val u = base.unionByName(variants)
      .filter(size(TF.tokens(col("text"))) > 0)
    val root = graft.TempDirs.create("graft-curing").toString
    val store = new SnapshotStore(root, s)
    val regime = SimHashRegime(hash = Dedup.simhash64Md5(_),
      maxHamming = 6, expectedCorpus = 300L)
    CurationIngest.init(store, "cur", regime, u, "text", "doc_id")
    val parts = Seq(u.filter(col("doc_id") < 150), u.filter(col("doc_id") >= 150))
      .zipWithIndex.map { case (b, i) =>
        CurationIngest.ingestBatchOnce(store, "cur", regime, b.coalesce(1),
          "text", "doc_id", streamId = "verify", batchId = i.toLong)
      }
    // EAGER ingest frames reused directly — see dedupIncrOracle.
    parts.reduce(_ unionByName _)
      .select(col("id").as("doc_id"), col("keep_id"), col("regime"))
  }

  /** The lineage-closure MAINTENANCE op over the same composed ingest:
    * accumulate both batches' one-hop lineage, then
    * [[graft.store.CurationIngest.closeLineage]] compacts every keep
    * chain to its root (canonical owner — always a regime-new survivor).
    * The DuckDB oracle is a recursive-CTE chase over the SAME one-hop
    * truth CurateIngestSql pins, so this row proves the pointer-jump
    * closure — not just the one-hop lineage — against external truth.
    * Regimes ride through unchanged (they describe HOW the doc deduped,
    * not who owns it). Per-invocation temp root. */
  def curateLineageOracle(s: SparkSession, d: String): DataFrame = {
    import graft.store.{CurationIngest, SimHashRegime, SnapshotStore}
    val base = docs(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val variants = base.filter(col("doc_id") < 50)
      .select((col("doc_id") + 10000).as("doc_id"),
        regexp_replace(col("text"), " ", "\t ").as("text"))
    val u = base.unionByName(variants)
      .filter(size(TF.tokens(col("text"))) > 0)
    val root = graft.TempDirs.create("graft-curlin").toString
    val store = new SnapshotStore(root, s)
    val regime = SimHashRegime(hash = Dedup.simhash64Md5(_),
      maxHamming = 6, expectedCorpus = 300L)
    CurationIngest.init(store, "cur", regime, u, "text", "doc_id")
    val parts = Seq(u.filter(col("doc_id") < 150), u.filter(col("doc_id") >= 150))
      .zipWithIndex.map { case (b, i) =>
        CurationIngest.ingestBatchOnce(store, "cur", regime, b.coalesce(1),
          "text", "doc_id", streamId = "verify", batchId = i.toLong)
      }
    val closed = CurationIngest.closeLineage(parts.reduce(_ unionByName _))
    val out = closed
      .select(col("id").as("doc_id"), col("keep_id"), col("regime"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    out.count()
    parts.foreach(_.unpersist(blocking = false))
    out
  }

  /** Integer-only triage projection with a FULL DuckDB oracle: token and
    * subword counts plus the per-language stopword hit counts that feed
    * langId, and the argmax language label itself (exact string CASE on
    * exact ints — both engines take the (score, lang)-lexicographic max,
    * ties to the greater code). The full textTriage stays rows-only (its
    * quality/fingerprint columns are float- and xxhash64-based), but with
    * this twin every integer signal and the label derivation are pinned
    * cross-engine. */
  def textTriageOracle(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    val hitCols = TF.stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      TF.stopwordHits(t, words).as(s"hits_$lang")
    }
    docs(s, d).select(
      Seq(col("doc_id"),
        TF.tokenCount(t).as("n_tokens"),
        TF.subwordCount(t).as("n_subwords")) ++
        hitCols :+ TF.langId(t).as("lang_pred"): _*)
  }

  /** End-to-end training-data curation: exact-dedup (keep min doc_id) →
    * token/digit quality gates → per-(lang, source) token accounting. The
    * composition a corpus-prep pipeline runs before tokenization, entirely
    * in exact integer arithmetic so the full chain is DuckDB-oracle-checked.
    * Scale shape: one dedup shuffle + one group-by shuffle; filters are
    * per-row column expressions that push into the scan projection. */
  def curateDocs(s: SparkSession, d: String): DataFrame = {
    val t = col("text")
    Dedup.dropExactDuplicates(docs(s, d), "text", "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        TF.tokenCount(t).as("n_tokens"),
        TF.digitRatio(t).as("digit_ratio"))
      .filter(col("n_tokens").between(5, 5000) && col("digit_ratio") < 0.3)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"))
  }

  /** Deterministic stratified downsampling: keep doc_id % 10 < rate(lang)
    * — 50% of English, 20% of everything else, reproducible on any
    * cluster/partitioning (systematic sampling on the key; a production
    * corpus with non-uniform ids would hash the key first — same plan
    * shape). No RNG state, no sampleBy nondeterminism across retries. */
  def sampleStratified(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .filter(pmod(col("doc_id"), lit(10)) <
        when(col("lang") === "en", lit(5)).otherwise(lit(2)))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sampled"), sum(col("n_chars")).as("sampled_chars"))

  /** Shard packing: assign documents to fixed token-budget shards
    * (contiguous greedy packing per source in doc_id order) — the
    * "pack the corpus into context-window-sized units" step before
    * tokenization. shard_id = tokens-before-this-doc DIV budget; one
    * window shuffle keyed on source, exact integer arithmetic
    * throughout (oracle-checked). */
  def packShards(s: SparkSession, d: String, budget: Long = 512L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("doc_id"), col("source"),
        TF.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("shard_id",
        expr(s"(cum_tokens - n_tokens) DIV $budget"))
  }

  /** Fixed-size token chunking with overlap — the "split long documents
    * into context-window-sized pieces" step a training pipeline runs
    * before tokenization. Chunk i covers tokens
    * [i·stride, min(i·stride + chunkSize, n)); the chunk count is
    * ceil(max(n − overlap, 1) / stride) in exact integer arithmetic, so
    * the whole op is DuckDB-oracle-checked (ids, counts, and the joined
    * chunk text all match bit-for-bit). Empty-token docs yield no chunks.
    *
    * Scale shape: one streaming scan with a per-row explode — chunk
    * boundaries depend only on the row, so there is NO shuffle anywhere;
    * output order/partitioning inherits the scan. At 100 TB this is the
    * embarrassingly-parallel map stage it should be. */
  def chunkDocs(s: SparkSession, d: String,
                chunkSize: Int = 64, stride: Int = 48): DataFrame = {
    require(stride >= 1 && stride <= chunkSize,
      s"stride=$stride must be in [1, chunkSize=$chunkSize]")
    val overlap = chunkSize - stride
    docs(s, d)
      .select(col("doc_id"), TF.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        // ceil(max(n - overlap, 1) / stride) via (x + stride-1) div stride;
        // double division + int cast truncates = floor for positives
        ((greatest(size(col("tk")) - overlap, lit(1)) + (stride - 1)) / stride)
          .cast("int").as("n_chunks"))
      .select(col("doc_id"), col("tk"),
        explode(sequence(lit(0), col("n_chunks") - 1)).as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        slice(col("tk"), col("chunk_id") * stride + 1, lit(chunkSize)).as("ck"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ck")).as("n_chunk_tokens"),
        concat_ws(" ", col("ck")).as("chunk_text"))
  }

  /** Corpus vocabulary: case-folded token frequencies, top k — the vocab
    * / token-stats pass of corpus prep (and the classic explode-heavy
    * aggregation shape). Exact integers end-to-end; ties at the cutoff
    * break on the token string so the limit is a total order (oracle-safe).
    *
    * Scale shape: explode → partial hash agg (map-side combine collapses
    * each partition to its distinct tokens before the exchange) → final
    * agg → TakeOrderedAndProject. The only shuffled rows are per-partition
    * distinct (token, partial count) pairs — vocabulary-sized, not
    * corpus-sized. */
  /** Feature-hashed sparse embedding of the documents table — (doc_id,
    * bucket, weight) signed token counts at dim 64 (Featurize). The
    * md5-nibble recipe is engine-portable, so this whole featurization
    * (tokenize → hash → bucket → signed count) carries a FULL DuckDB
    * oracle from raw text. The dense/ANN consumer path is spec-verified
    * against exactly these weights (FeaturizeSpec). */
  def embedDocs(s: SparkSession, d: String, dim: Int = 64): DataFrame =
    graft.functions.Featurize.hashFeaturesSparse(docs(s, d), "text", "doc_id", dim)
      .select(col("doc_id"), col("bucket"), col("weight"))

  /** Sparse inverted-index retrieval: hashed signed-count features, the
    * three lowest-id docs as queries, top-10 by integer dot product.
    * Integer scores + deterministic tie-break ⇒ full DuckDB oracle of
    * the entire tokenize → hash → index-join → top-k path. */
  def retrieveSparse(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val sparse = graft.functions.Featurize
      .hashFeaturesSparse(docs(s, d), "text", "doc_id", dim = 64)
    val queries = sparse.filter(col("doc_id") < 3)
    graft.functions.Retrieval.sparseDotTopK(sparse, "doc_id", queries, "doc_id", k = k)
  }

  /** BM25 ranked retrieval, three lowest-id docs as queries. Float
    * scores (ln) ⇒ rows-only driver check; RetrievalSpec pins the
    * formula to an independent JVM implementation. */
  def retrieveBm25(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val ds = docs(s, d)
    val qs = ds.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    graft.functions.Retrieval.bm25TopK(ds, "doc_id", "text",
      qs, "query_id", "qtext", k = k)
  }

  /** BM25 ids + rank with a FULL DuckDB oracle — the float scores stay
    * unhashable cross-engine (ln summation order), but the ORDER is
    * pinned: measured adjacent-rank score gaps across ranks 1..12 at
    * sf0.01 are ≥ 4e-4 (min, query 1) — eleven orders of magnitude above
    * double-summation noise — so both engines must produce the same
    * (query_id, neighbor_id, rank) triples; exact-tie duplicates order
    * by id on both sides. Score VALUES remain RetrievalSpec's
    * JVM-formula contract. */
  def retrieveBm25Oracle(s: SparkSession, d: String): DataFrame =
    retrieveBm25(s, d).select(col("query_id"), col("neighbor_id"), col("rank"))

  /** Exact-phrase retrieval through the POSITIONAL index
    * ([[graft.store.PhraseIndex]]): the query batch is the first three
    * tokens of docs 0/10/42 (the shortQueries recipe), the result is
    * every (query, doc, occurrence-count) match — pinned to a DuckDB
    * trigram-list count over the same tokenization. `incremental` runs
    * the corpus through build(<250) + append(≥250) against the SAME
    * truth, pinning the delta chain externally. */
  /** The shared phrase-query batch of every phrase fixture: the first
    * THREE tokens of docs 0/10/42. The ≥3-token guard keeps the
    * fixtures honest with the trigram oracles: a shorter doc would
    * yield a 1-2-token phrase the index matches positionally but the
    * trigram SQL cannot see — both sides apply the same guard (the
    * oracles' `len(tk) >= 3`), so a short doc drops its QUERY, not
    * truth. ONE derivation for all four fixtures, kept in lockstep
    * with the SQL `q` CTEs. */
  private def phraseQueryBatch(ds: DataFrame): DataFrame = {
    val tk = TF.tokens(lower(col("text")))
    ds.filter(col("doc_id").isin(0L, 10L, 42L))
      .filter(size(tk) >= 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(tk, 1, 3), " ").as("phrase"))
  }

  private def phraseFixture(s: SparkSession, d: String,
                            incremental: Boolean): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-phraseidx").toString
    val store = new SnapshotStore(root, s)
    if (incremental) {
      PhraseIndex.build(store, "docs_pos",
        ds.filter(col("doc_id") < 250), "text", "doc_id")
      PhraseIndex.appendBatchOnce(store, "docs_pos",
        ds.filter(col("doc_id") >= 250), "text", "doc_id", "verify", 0L)
    } else PhraseIndex.build(store, "docs_pos", ds, "text", "doc_id")
    PhraseIndex.phraseQuery(store, "docs_pos", phraseQueryBatch(ds),
        "query_id", "phrase")
      .select(col("query_id"), col("doc_id"),
        col("phrase_tf").cast("long").as("phrase_tf"))
  }

  def retrievePhrase(s: SparkSession, d: String): DataFrame =
    phraseFixture(s, d, incremental = false)

  def retrievePhraseIncr(s: SparkSession, d: String): DataFrame =
    phraseFixture(s, d, incremental = true)

  /** The SCAN path (no index) of the same phrase fixture — the
    * retrieve_bm25-vs-indexed convention, pinned to the identical
    * trigram truth. */
  def retrievePhraseScan(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    PhraseIndex.phraseScan(ds, "text", "doc_id", phraseQueryBatch(ds),
        "query_id", "phrase")
      .select(col("query_id"), col("doc_id"),
        col("phrase_tf").cast("long").as("phrase_tf"))
  }

  /** BM25-RANKED phrase retrieval: the phrase-filter fixture's matches
    * scored as a single term (PhraseIndex.phraseQueryRanked) — rank
    * projection against the DuckDB recompute, the Bm25RankSql
    * engine-stability argument. */
  def retrievePhraseRanked(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-phraserk").toString
    val store = new SnapshotStore(root, s)
    PhraseIndex.build(store, "docs_pos", ds, "text", "doc_id")
    PhraseIndex.phraseQueryRanked(store, "docs_pos", phraseQueryBatch(ds),
        "query_id", "phrase", k = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
  }

  /** ORDERED-PROXIMITY retrieval (sloppy phrase, slop 2): the query is
    * tokens 1 and 3 of docs 0/10/42 — a gapped pair whose source doc
    * only matches because the slop window spans the skipped token.
    * DuckDB truth: nested position-list lambdas counting starts with an
    * in-window successor. */
  def retrieveProximity(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-proxidx").toString
    val store = new SnapshotStore(root, s)
    PhraseIndex.build(store, "docs_pos", ds, "text", "doc_id")
    val tk = TF.tokens(lower(col("text")))
    val qs = ds.filter(col("doc_id").isin(0L, 10L, 42L))
      .filter(size(tk) >= 3)
      .select(col("doc_id").as("query_id"),
        concat_ws(" ", element_at(tk, 1), element_at(tk, 3)).as("phrase"))
    PhraseIndex.phraseQuery(store, "docs_pos", qs, "query_id", "phrase",
        slop = 2)
      .select(col("query_id"), col("doc_id"),
        col("phrase_tf").cast("long").as("phrase_tf"))
  }

  /** BM25 through the PERSISTENT postings index (TextIndex), pinned to
    * the SAME DuckDB rank oracle as the scan path: the corpus arrives as
    * a build (even ids) plus one append (odd ids) — exercising the delta
    * chain and the metadata-stats accumulation against external truth —
    * then the standard 3-query batch probes the committed index. Indexed
    * and scan-path ranking agree score-for-score (shared bm25Score tail
    * over identical hit rows and exact stats; RetrievalSpec pins it), so
    * the rank projection carries the identical oracle. The index root is
    * a per-invocation temp dir: a durable root would double-append on a
    * rerun (same rationale as dedup_incr_oracle). */
  def retrieveBm25Indexed(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    // Served from the UNIFIED positional store (r17): one PhraseIndex
    // build + one TextIndex.append (which delegates to the positional
    // writer — positions encoded, phrase.contentVersion bumped), then
    // the standard BM25 probe reads the slim (term, doc, tf, dl)
    // projection. Same DuckDB rank oracle as the scan path — the
    // unified read must be score-identical to the postings layout
    // (retrieve_bm25_postings keeps that layout's own oracle pin).
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-bm25idx").toString
    val store = new SnapshotStore(root, s)
    PhraseIndex.build(store, "docs_text",
      ds.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    TextIndex.append(store, "docs_text",
      ds.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    val qs = ds.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    TextIndex.query(store, "docs_text", qs, "query_id", "qtext", k = k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** The STANDALONE postings layout through the same build+append+query
    * shape and the same oracle — pos-vb-v2 is the unified default
    * (retrieve_bm25_indexed), but the slimmer postings-only layout
    * remains a first-class, externally-pinned citizen for corpora that
    * never pay for positions at rest. */
  def retrieveBm25Postings(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-bm25pst").toString
    val store = new SnapshotStore(root, s)
    TextIndex.build(store, "docs_bm25",
      ds.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    TextIndex.append(store, "docs_bm25",
      ds.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    val qs = ds.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    TextIndex.query(store, "docs_bm25", qs, "query_id", "qtext", k = k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Champion-list (top-docs) BM25: build the postings index, refresh
    * champion lists at a deliberately TINY m = 3 so the pruning (and its
    * approximation) actually bites at oracle scale, then answer from
    * champions only — ≤ m postings read per query term instead of the
    * term's full list. The oracle replicates the EXACT deterministic
    * champion rule ((tf desc, least(dl, 2^21-1) asc, id asc) top-m per
    * term), true-df scoring, and the final ranking — approximate vs
    * plain BM25, but bit-identical between the two engines. */
  def retrieveBm25Champ(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-bm25champ").toString
    val store = new SnapshotStore(root, s)
    // champions over the UNIFIED positional store (r17) — the refresh
    // aggregates the slim projection; the committed champion table and
    // its oracle are layout-independent
    PhraseIndex.build(store, "docs_text", ds, "text", "doc_id")
    TextIndex.refreshChampions(store, "docs_text", m = 3)
    val qs = ds.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    TextIndex.queryChampions(store, "docs_text", qs, "query_id", "qtext",
      k = k, fallbackToExact = false)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Champion query served from a MERGED champion table (r15): build on
    * the even half, refresh (full rebuild), append the odd half, refresh
    * again — the second refresh must take the INCREMENTAL merge path
    * (required: the query throws if the committed `text.champ.mode` is
    * not "merge", so this row can only go green through the merge) —
    * then answer from champions only. Merge ≡ rebuild is exact
    * (TextIndexSpec's theorem), so this carries the SAME DuckDB oracle
    * as `retrieve_bm25_champ`: the merged table must reproduce the
    * oracle's from-scratch deterministic champion selection over the
    * full corpus. */
  def retrieveBm25ChampMerged(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-bm25cm").toString
    val store = new SnapshotStore(root, s)
    // unified store (r17): the second refresh must anchor the merge on
    // the POSITIONAL table's content counter across the delegated
    // append — the require below can only pass through that path
    PhraseIndex.build(store, "docs_text",
      ds.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    TextIndex.refreshChampions(store, "docs_text", m = 3)
    TextIndex.append(store, "docs_text",
      ds.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    val cv = TextIndex.refreshChampions(store, "docs_text", m = 3)
    val mode = store.metaForVersion("docs_text__champ", cv)
      .getOrElse("text.champ.mode", "?")
    require(mode == "merge",
      s"expected the incremental champion merge path, got '$mode'")
    val qs = ds.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    TextIndex.queryChampions(store, "docs_text", qs, "query_id", "qtext",
      k = k, fallbackToExact = false)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** The full unified-store MAINTENANCE CYCLE under one external
    * oracle (r17): build the positional store on the even half,
    * refresh champions, append the odd half through TextIndex's
    * DELEGATED append (positions encoded, phrase.contentVersion
    * bumped), then run the operator-facing Graft.maintainAll with a
    * chain bound that forces a fold — the champion refresh must take
    * the incremental merge (required below), the fold must go through
    * PhraseIndex (required below: the chain collapses to one member
    * and positions survive for a phrase probe), and content-version
    * freshness must carry the champions across the fold so the STRICT
    * champion query serves. The answers must equal DuckDB's
    * from-scratch full-corpus champion selection — one green row pins
    * delegation, merge anchoring, fold, vacuum, and freshness
    * together. */
  def retrieveBm25Maintained(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-bm25mnt").toString
    val store = new SnapshotStore(root, s)
    PhraseIndex.build(store, "docs_text",
      ds.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    TextIndex.refreshChampions(store, "docs_text", m = 3)
    TextIndex.append(store, "docs_text",
      ds.filter(col("doc_id") % 2 =!= 0), "text", "doc_id",
      compactEvery = 100)
    graft.Graft.maintainAll(store, maxChainLength = 1)
    val cv = store.currentVersion("docs_text__champ")
    val mode = store.metaForVersion("docs_text__champ", cv)
      .getOrElse("text.champ.mode", "?")
    require(mode == "merge",
      s"maintainAll's champion refresh must take the merge path, got '$mode'")
    val v = store.currentVersion("docs_text")
    require(store.metaForVersion("docs_text", v)
        .get("phrase.parts").contains(""),
      "maintainAll must fold the positional chain")
    require(!PhraseIndex.phraseQuery(store, "docs_text",
        phraseQueryBatch(ds), "query_id", "phrase").isEmpty,
      "positions must survive the maintenance fold")
    val qs = ds.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    TextIndex.queryChampions(store, "docs_text", qs, "query_id", "qtext",
      k = k, fallbackToExact = false)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** MaxScore-BOUNDED BM25 over the persistent index
    * ([[TextIndex.queryMaxScore]]): champion refresh harvests the
    * per-term score ceilings and the top-k floor, the probe reads only
    * essential-term postings in full and the heavy lists
    * candidate-restricted. EXACT by construction — so it carries the
    * SAME DuckDB rank oracle as the unbounded indexed probe
    * (`retrieve_bm25_indexed`), the strongest external pin a pruning
    * path can have. m = 8 keeps the floor real (k = 10 > m per-term)
    * without handing the probe the full postings. */
  def retrieveBm25MaxScore(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-bm25ms").toString
    val store = new SnapshotStore(root, s)
    // unified store (r17): the bounded probe's zone skips read the
    // positional table's term/tf/dl sidecars through the slim chain
    PhraseIndex.build(store, "docs_text", ds, "text", "doc_id")
    TextIndex.refreshChampions(store, "docs_text", m = 8)
    val qs = ds.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    TextIndex.queryMaxScore(store, "docs_text", qs, "query_id", "qtext", k = k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** EXACT n-gram Jaccard all-pairs join at tau = 4/5 — deterministic
    * recall (prefix filter theorem), integer-rational threshold, so the
    * oracle is a FULL-corpus DuckDB brute force via the same
    * inverted-index formulation, no id restriction. */
  def dedupJaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.ngramJaccardPairs(docs(s, d), "text", "doc_id",
      shingleN = 3, tauNum = 4, tauDen = 5)

  /** Duplicate CLUSTERS: connected components over the exact jaccard
    * pair graph, component id = min doc id. Deterministic end-to-end,
    * so the oracle is the same pair SQL closed transitively by a DuckDB
    * recursive CTE. */
  def dedupComponents(s: SparkSession, d: String): DataFrame = {
    val pairs = dedupJaccardPairs(s, d)
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
    // The labels are checkpointed (lineage cut per round), so the eager
    // pair cache is unreachable from the result — release it now.
    pairs.unpersist(blocking = false)
    labels.select(col("id").as("doc_id"), col("component_id"))
  }

  /** Transitive cluster dedup: min-id survivor per duplicate component
    * (more aggressive than pairwise keep-min — see
    * Dedup.dropDuplicateClusters). */
  def dedupClusterKeep(s: SparkSession, d: String): DataFrame =
    Dedup.dropDuplicateClusters(docs(s, d), "text", "doc_id",
      shingleN = 3, tauNum = 4, tauDen = 5)
      .select(col("doc_id"))

  /** QUALITY-AWARE transitive cluster dedup: the survivor per duplicate
    * component is the argmax by `n_chars` (ties → min doc_id) — the
    * production keep-best contract (Dedup.dropDuplicateClustersBy),
    * pinned to the same recursive-CTE closure with a per-component
    * ranking window in DuckDB. */
  def dedupClusterKeepBest(s: SparkSession, d: String): DataFrame =
    Dedup.dropDuplicateClustersBy(docs(s, d), "text", "doc_id", "n_chars",
      shingleN = 3, tauNum = 4, tauDen = 5)
      .select(col("doc_id"))

  /** Exact dedup with quality-aware survivor selection: identical TEXT,
    * different provenance — the kept id is the argmax by a per-row
    * preference (doc_id % 7 here: deterministic and VARIES inside an
    * exact-dup group, unlike any text-derived score), ties → min id.
    * The corpus has no exact-dup texts at verify scale, so the fixture
    * plants them: every doc_id % 5 == 0 text re-enters at id + 100000
    * (100000 % 7 ≠ 0, so the re-keyed copy's preference differs and the
    * argmax is non-trivial). */
  def dedupExactKeepBest(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(col("doc_id"), col("text"))
    val rekeyed = docs(s, d).filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
    Dedup.exactGroupsBy(
        base.unionByName(rekeyed).withColumn("pref", col("doc_id") % 7),
        "text", "doc_id", "pref")
      .filter(col("dup_count") >= 2)
      .select(col("keep_id"), col("dup_count"))
  }

  def vocabTopK(s: SparkSession, d: String, k: Int = 100): DataFrame =
    docs(s, d)
      .select(explode(TF.tokens(lower(col("text")))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)

  // ---- similarity search ----------------------------------------------

  /** First 5 vectors as the deterministic query set. */
  private[graft] def queryVectors(s: SparkSession, d: String): DataFrame =
    embs(s, d).filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

  /** Exact brute-force cosine top-10 for 5 probe vectors. */
  def simBruteTopK(s: SparkSession, d: String): DataFrame =
    Similarity.bruteForceTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec", k = 10)

  /** Brute-force top-10 with a FULL DuckDB oracle: ids + rank only (the
    * sim column is float-boundary-sensitive under round(·, 6) across
    * engines; measured adjacent-rank gaps are ~2e-4, so the ORDER is
    * rock-solid and rank equality is the meaningful check). */
  def simBruteOracle(s: SparkSession, d: String): DataFrame =
    simBruteTopK(s, d).select(col("query_id"), col("neighbor_id"), col("rank"))

  /** Hyperplane-LSH ANN probing EVERY bucket (multiprobe = 2^nPlanes − 1
    * ≥ all non-home flips) is exact by construction — pins the bucketing
    * + margin-ordered multiprobe + scoring machinery to the brute-force
    * oracle. */
  def simAnnOracle(s: SparkSession, d: String): DataFrame =
    Similarity.annTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec",
      dim = 64, k = 10, nPlanes = 8, multiprobe = 255)
      .select(col("query_id"), col("neighbor_id"), col("rank"))

  /** IVF probed EXHAUSTIVELY (nProbe = nLists) is exact by construction —
    * so the whole IVF machinery (k-means assignment, probe join, scoring,
    * per-query top-k) is pinned to the same brute-force DuckDB oracle. */
  def simIvfOracle(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec", k = 10, nLists = 16, nProbe = 16)
      .select(col("query_id"), col("neighbor_id"), col("rank"))

  /** IVFPQ with every list probed and a corpus-covering refine shortlist
    * is exact end-to-end: residual encode → ADC shortlist → exact re-rank
    * must reproduce brute force bit-for-bit on ids + rank. The oracle
    * covers the full billion-scale pipeline, not a special case — the
    * production path only narrows nProbe/refine. */
  def simIvfPqOracle(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec",
      dim = 64, k = 10, nLists = 16, nProbe = 16, refine = 1000)
      .select(col("query_id"), col("neighbor_id"), col("rank"))

  /** ANN top-10 via hyperplane LSH with margin-ordered multiprobe.
    * 8 planes = 256 buckets; home + the 8 nearest perturbation buckets
    * score ≈3.6% of the corpus per query — a ~5× recall enrichment over
    * random sampling on isotropic vectors (far higher on clustered
    * real-world embeddings), and strictly better-targeted than the same
    * budget spent on blind single-bit flips. */
  def simAnnTopK(s: SparkSession, d: String): DataFrame =
    Similarity.annTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec",
      dim = 64, k = 10, nPlanes = 8, multiprobe = 8)

  /** IVF ANN top-10: data-learned coarse quantizer (spherical k-means on
    * a bounded sample) + nProbe-list probe. On the isotropic synthetic
    * embeddings the lists are density-shaped rather than cluster-shaped,
    * so this exercises the full train→assign→probe plan; the recall claim
    * on clustered data is SimilaritySpec's IVF test. nProbe=4 of 16 lists
    * scans ~25% of the corpus per query. */
  def simIvfTopK(s: SparkSession, d: String): DataFrame =
    Similarity.ivfTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec",
      k = 10, nLists = 16, nProbe = 4)

  /** PQ pinned to brute force: a corpus-covering ADC shortlist
    * (k·refine = 10,000 ≥ N) re-ranked exactly must reproduce the exact
    * top-10 bit-for-bit — the codes decide nothing, so the whole PQ
    * machinery (codebook training, encode, LUT, ADC, refine merge) is
    * pinned to the same DuckDB oracle as the other similarity paths.
    * Closes the last spec-only ANN family (production narrows refine). */
  def simPqOracle(s: SparkSession, d: String): DataFrame =
    Similarity.pqTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec",
      dim = 64, k = 10, refine = 1000)
      .select(col("query_id"), col("neighbor_id"), col("rank"))

  /** PQ ANN top-10: the corpus rides as m=16 product-quantization codes
    * (~16× fewer bytes than the float vectors — the memory/bandwidth
    * lever at corpus scale); queries score via ADC lookup tables. Recall
    * on clustered data is SimilaritySpec's PQ test; here the full
    * train→encode→ADC→top-k plan runs on the synthetic embeddings. */
  def simPqTopK(s: SparkSession, d: String): DataFrame =
    Similarity.pqTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec",
      dim = 64, k = 10)

  /** IVFPQ top-10: list pruning + code compression composed — the
    * billion-scale index layout (compute AND memory cut together). */
  def simIvfPqTopK(s: SparkSession, d: String): DataFrame =
    Similarity.ivfPqTopK(
      embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec",
      dim = 64, k = 10, nLists = 16, nProbe = 4)

  /** Per-corpus root for the persisted IVFPQ index, under one
    * [[graft.TempDirs]] directory per process: a pure function of the
    * data directory within the process, so build-once/query-many holds
    * across calls (the content-version tag below still forces a rebuild
    * when the corpus data itself drifts), while every process starts
    * cold, so the query's Spark work does not depend on what an earlier
    * run left behind, and the store is deleted at exit. Name =
    * sanitized dir + a hash, so distinct dirs can never collide. */
  private[graft] def indexRootFor(d: String): String = {
    val safe = d.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(60)
    val tag = java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(d))
    simIndexRoot.resolve(s"$safe-$tag").toString
  }

  private lazy val simIndexRoot = graft.TempDirs.create("graft-simindex")

  /** Content-version tag for the embeddings corpus under `d`: a hash of
    * the file listing (name, length, modification time) of
    * embeddings.parquet via the Hadoop FileSystem API — one listing RPC,
    * no data read, any Spark-supported filesystem. Parquet corpora change
    * by file replacement (immutable files), so any rewrite moves the
    * listing and therefore the tag. */
  private[graft] def corpusFingerprint(s: SparkSession, d: String): String = {
    val path = new org.apache.hadoop.fs.Path(s"$d/embeddings.parquet")
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    val entries = scala.collection.mutable.ArrayBuffer.empty[String]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val f = it.next()
      entries += s"${f.getPath.getName}:${f.getLen}:${f.getModificationTime}"
    }
    java.lang.Integer.toHexString(
      scala.util.hashing.MurmurHash3.orderedHash(entries.sorted))
  }

  /** Index-backed ANN top-10 through the persistent VectorIndex:
    * IVFPQ codes + trained parameters committed to the snapshot store,
    * queried via ADC shortlist + exact re-rank (queryRefined).
    *
    * Settings are EXHAUSTIVE on the driver corpus (every list probed,
    * shortlist k·refine = 10,000 ≥ corpus) so the result provably equals
    * brute force and pins the whole persisted path — encode → commit →
    * reload → probe → ADC → refine — to the same DuckDB oracle as
    * sim_brute_oracle. Production narrows nProbe/refine from here; the
    * plan shape (index codes scanned, corpus touched only for the
    * broadcast-semi-joined re-rank) is identical. */
  def simIndexTopK(s: SparkSession, d: String): DataFrame = {
    val store = new SnapshotStore(indexRootFor(d), s)
    // Rebuild when the corpus CONTENT drifts from the tag the index was
    // built against, not just when the index is absent: the dir string
    // names a location, the fingerprint names the data. A drifted corpus
    // gets a fresh versioned build (the store keeps the old version).
    val tag = corpusFingerprint(s, d)
    if (!store.exists("emb_ivfpq") ||
        !VectorIndex.corpusTagOf(store, "emb_ivfpq").contains(tag))
      VectorIndex.build(store, "emb_ivfpq", embs(s, d), "vec_id", "embedding",
        dim = 64, nLists = 16, m = 16, kCodes = 16, corpusTag = Some(tag))
    VectorIndex.queryRefined(store, "emb_ivfpq", embs(s, d), "vec_id", "embedding",
      queryVectors(s, d), "query_id", "qvec", k = 10, nProbe = 16, refine = 1000)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** ANN recall vs the exact baseline — the metric that justifies the
    * approximate path. Returns one row per query with recall@10. */
  def simAnnRecall(s: SparkSession, d: String): DataFrame = {
    val exact = simBruteTopK(s, d).select(col("query_id"), col("neighbor_id"))
    val approx = simAnnTopK(s, d).select(col("query_id"), col("neighbor_id"))
    exact.join(approx, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg((count(lit(1)).cast("double") / 10.0).as("recall_at_10"))
  }

  /** In-engine TRAINED quality filter: labels distilled from the
    * fixture-weight margin rule (a planted linear separator in the
    * hashed-feature space, so the task is learnable by construction),
    * two batch-perceptron iterations ([[graft.functions.Featurize
    * .trainPerceptron]] — all-integer, bit-deterministic), then the
    * corpus scored with the LEARNED weights. The DuckDB oracle
    * replicates the ENTIRE training run — both gradient rounds as SQL
    * aggregates over the same features and the same violator rule —
    * which only an integer-exact trainer makes possible. */
  def qualityTrain(s: SparkSession, d: String): DataFrame = {
    val fw = graft.functions.Featurize.fixtureWeights(64)
    val labeled = docs(s, d).select(col("doc_id"), col("text"))
      .withColumn("y",
        when(graft.functions.Featurize.qualityMargin(col("text"), fw, 0L) >= 0,
          1L).otherwise(-1L))
    val (w, b) = graft.functions.Featurize.trainPerceptron(
      labeled, "text", "y", dim = 64, iters = 2)
    labeled.select(col("doc_id"),
      graft.functions.Featurize.qualityMargin(col("text"), w, b)
        .as("margin_trained"))
      .withColumn("keep", col("margin_trained") >= 0)
  }

  /** Statistical LM quality filter ([[graft.functions.NgramLm]], the
    * CCNet stage): a bigram model is trained on the doc_id%7<3 train
    * split and every document scored by quantized conditional log2
    * probability — all integer math (flog2 via `length(bin(c))-1`), so
    * the DuckDB oracle recomputes the identical model AND scores.
    * Every doc_id%11=7 document is REPLACED by 8 doc-unique gibberish
    * tokens identically on both engines: their bigrams are corpus
    * singletons, pruned by minCount=1, so those docs score the unseen
    * penalty per pair and fail the keep threshold — the
    * high-perplexity tail the stage exists to drop — while normal docs
    * (30-word vocabulary, dense bigram coverage) stay well above it. */
  def qualityLm(s: SparkSession, d: String): DataFrame = {
    val idS = col("doc_id").cast("string")
    val junk = concat_ws(" ",
      (0 until 8).map(i => concat(lit("zq"), idS, lit("x" + i))): _*)
    val planted = docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 11 === 7, junk).otherwise(col("text")).as("t"))
    val model = graft.functions.NgramLm.train(
      planted.filter(col("doc_id") % 7 < 3), "t", minCount = 1)
    graft.functions.NgramLm.scoreDocs(planted, "doc_id", "t", model,
      penalty = -30L, threshold = -12L)
  }

  /** [[qualityLm]] through the PERSISTENT model store: train, commit
    * the model to a snapshot table, REOPEN the store cold, load, score
    * — the train-once/score-many production path, pinned to the same
    * DuckDB oracle as the direct query (identical integers end to end).
    * Temp-dir store per invocation, same rerun rationale as
    * retrieveBm25Indexed. */
  def qualityLmStored(s: SparkSession, d: String): DataFrame = {
    val idS = col("doc_id").cast("string")
    val junk = concat_ws(" ",
      (0 until 8).map(i => concat(lit("zq"), idS, lit("x" + i))): _*)
    val planted = docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 11 === 7, junk).otherwise(col("text")).as("t"))
    val root = graft.TempDirs.create("graft-lmstore").toString
    val model = graft.functions.NgramLm.train(
      planted.filter(col("doc_id") % 7 < 3), "t", minCount = 1)
    graft.functions.NgramLm.commitModel(
      new SnapshotStore(root, s), "lm_bigram", model, minCount = 1)
    val reopened = new SnapshotStore(root, s)
    graft.functions.NgramLm.scoreDocs(planted, "doc_id", "t",
      graft.functions.NgramLm.loadModel(reopened, "lm_bigram"),
      penalty = -30L, threshold = -12L)
  }

  /** DSIR importance-resampling selection ([[graft.functions.Dsir]]):
    * every doc_id%4=1 document gets a 5-word domain signature appended
    * 8× IDENTICALLY on both engines (the "physics" domain); the TARGET
    * corpus is the doc_id%8=1 half of that arm. Weights are quantized
    * integer log-likelihood ratios over the md5 hashed-bucket counts,
    * so the DuckDB oracle recomputes weight table AND scores exactly.
    * The per-token score SEPARATES the arms cleanly at every test
    * scale (signature-arm min > base-arm max, DsirSpec), but its
    * absolute location shifts ±1 between corpora — the 1-bit flog2
    * quantization of the normalizer K — so the keep threshold is a
    * calibration knob, as the selection budget is in real DSIR: −3/8
    * per token lands inside the separation gap at sf0.01, the
    * driver's oracle scale, where it keeps exactly the signature arm. */
  def mixDsir(s: SparkSession, d: String): DataFrame = {
    val sig = " quark lepton boson hadron meson"
    val planted = docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 4 === 1, concat(col("text"), lit(sig * 8)))
        .otherwise(col("text")).as("t"))
    val target = planted.filter(col("doc_id") % 8 === 1)
    val w = graft.functions.Dsir.importanceWeights(target, planted, "t", dim = 64)
    graft.functions.Dsir.scoreDocs(planted, "doc_id", "t", w,
      thresholdNum = -3L, thresholdDen = 8L)
  }

  // ---- corpus cleaning: boilerplate lines, PII, leakage-safe splits ----

  /** C4/RefinedWeb-style corpus-frequency line removal
    * ([[graft.functions.Boilerplate.dropFrequentLines]], maxDf = 2).
    *
    * The synthetic documents carry no newlines, so the query constructs
    * a deterministic 3-line layout (content prefix / a planted footer
    * line / content slice) IDENTICALLY in Spark and the DuckDB oracle —
    * the doc_id%5 footer arms give high-df boilerplate ('subscribe…',
    * 'all rights reserved', shared 'footer N', an EMPTY line) plus a
    * df=1 'unique line N' arm that must survive. The oracle recomputes
    * the full rule: split → corpus df per exact line string → keep
    * df ≤ 2 → ordered re-assembly ('' when every line dropped). */
  def textLineDedup(s: SparkSession, d: String): DataFrame = {
    val lined = docs(s, d).select(col("doc_id"),
      concat_ws("\n",
        substring(col("text"), 1, 60),
        when(col("doc_id") % 5 === 0, lit("subscribe to our newsletter"))
          .when(col("doc_id") % 5 === 1, lit("all rights reserved"))
          .when(col("doc_id") % 5 === 2,
            concat(lit("footer "), (col("doc_id") % 10).cast("string")))
          .when(col("doc_id") % 5 === 3,
            concat(lit("unique line "), col("doc_id").cast("string")))
          .otherwise(lit("")),
        substring(col("text"), 61, 80)).as("t"))
    graft.functions.Boilerplate
      .dropFrequentLines(lined, "doc_id", "t", maxDf = 2)
  }

  /** Span-level (repeated-substring) dedup
    * ([[graft.functions.SpanDedup.dropFrequentSpans]], n = 8,
    * maxDf = 2): a deterministic 8-token banner is prepended to every
    * third document IDENTICALLY in Spark and the oracle, making one
    * 8-gram corpus-frequent while the banner→content boundary grams
    * stay df=1 (each document's own words) and must survive. The
    * oracle recomputes the full rule — all 8-gram windows, distinct-doc
    * df per exact gram string, coverage union over frequent windows,
    * ordered re-assembly of the surviving tokens. Exact duplicate
    * documents in the testdata make ALL their grams frequent when a
    * duplicate group exceeds maxDf — both engines strip those texts
    * entirely, which is exactly the Lee-et-al. semantics. */
  def textSpanDedup(s: SparkSession, d: String): DataFrame = {
    val banner = "alpha beta gamma delta epsilon zeta eta theta"
    val planted = docs(s, d).select(col("doc_id"),
      when(col("doc_id") % 3 === 0, concat(lit(banner + " "), col("text")))
        .otherwise(col("text")).as("t"))
    graft.functions.SpanDedup.dropFrequentSpans(
      planted, "doc_id", "t", n = 8, maxDf = 2)
  }

  /** PII audit + redaction over a deterministically PII-planted corpus
    * (the raw documents are clean words, so each row appends an email,
    * an IPv4, and — on doc_id arms — a phone / SSN, with the IDENTICAL
    * concat in the DuckDB oracle). Counts are per-pattern matches on
    * the planted text; text_redacted applies the fixed email → SSN →
    * phone → IP rewrite chain ([[graft.plans.PiiOps]] — pattern strings
    * shared verbatim with the oracle's RE2 regexp_replace). */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val planted = docs(s, d).select(col("doc_id"),
      concat(
        col("text"),
        lit(" contact user"), col("doc_id").cast("string"),
        lit("@mail.example.com"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" call 5"),
            lpad((col("doc_id") % 100).cast("string"), 2, "0"),
            lit("-123-4567"))).otherwise(lit("")),
        when(col("doc_id") % 4 === 0, lit(" ssn 123-45-6789"))
          .otherwise(lit("")),
        lit(" ip 10."), (col("doc_id") % 200).cast("string"), lit(".0.1"))
        .as("t"))
    val e = GraftColumnBridge.expression(col("t"))
    planted.select(col("doc_id"),
      GraftColumnBridge.column(graft.plans.PiiRedact(e)).as("text_redacted"),
      GraftColumnBridge.column(graft.plans.PiiCounts(e)).as("c"))
      .select(col("doc_id"), col("text_redacted"),
        col("c.n_email").as("n_email"), col("c.n_ssn").as("n_ssn"),
        col("c.n_phone").as("n_phone"), col("c.n_ip").as("n_ip"))
  }

  /** Production leakage-safe split: owners come from a CLOSED lineage
    * frame `(id, keep_id)` — [[graft.store.CurationIngest.closeLineage]]'s
    * contract, so exact AND near-dup chains share one owner — and any doc
    * absent from the lineage owns itself. Split assignment is then the
    * same pure owner-hash rule as [[splitLeakageSafe]]: no near-duplicate
    * pair can straddle train/test, because both ends hash the same root.
    *
    * Scale shape: one left join of the corpus against the lineage frame
    * on the id — the lineage is duplicate-sized (often ≪ corpus, AQE
    * broadcasts it; worst case it shuffles on the id like any keyed
    * join), then row-local hashing. No window, no corpus self-join. */
  def assignSplitsByOwner(docs: DataFrame, idCol: String, owners: DataFrame,
                          trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percentages ($trainPct, $valPct)")
    val own = owners.select(col("id").as(idCol), col("keep_id"))
    docs.select(col(idCol)).join(own, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("keep_id"), col(idCol)).as("owner_id"))
      .withColumn("bucket", mixHashBucket(col("owner_id")))
      .select(col(idCol), col("owner_id"),
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < trainPct + valPct, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  /** Per-source document cap (domain-cap curation stage): keep at most
    * `k` docs per source, chosen by the multiplicative hash of doc_id
    * (NOT ingest order — an id-ordered cap keeps each source's earliest
    * crawl slice, the bias mix_sampled's scaladoc dissects), ranked
    * (hash bucket asc, doc_id asc).
    *
    * Scale shape: `source` is a LOW-cardinality key, so the obvious
    * per-source row_number window is the one-partition-per-key straggler
    * plan — a whole source's documents sort in a single task at corpus
    * scale. [[graft.plans.TopKAggregate.boundedTopK]] instead keeps a
    * fixed k-heap per group through an ObjectHashAggregate: every map
    * task reduces its slice to ≤ k rows per source BEFORE the exchange,
    * the merge side combines heaps, and the exchange carries
    * sources × k rows regardless of corpus size. Top-k by score desc =
    * -bucket, id-asc tiebreak ⇒ exactly (bucket asc, doc_id asc). */
  def capPerSource(s: SparkSession, d: String, k: Int = 10): DataFrame =
    docs(s, d)
      .groupBy(col("source"))
      .agg(graft.plans.TopKAggregate.boundedTopK(col("doc_id"),
        -mixHashBucket(col("doc_id")).cast("double"), k).as("keep"))
      .select(col("source"), posexplode(col("keep")).as(Seq("pos", "kp")))
      .select(col("kp.neighbor_id").as("doc_id"), col("source"),
        (col("pos") + 1).as("rk"))

  /** Leakage-safe train/val/test split: the split is a pure function of
    * the duplicate-CLUSTER owner, not the document — every member of an
    * exact-duplicate cluster (keep_id = min doc_id over identical text,
    * the dedup_exact_keep rule) lands in the same split, so a duplicate
    * can never straddle the train/test boundary and leak evaluation
    * text into training. Bucketing reuses [[mixHashBucket]] (the
    * overflow-safe two-round multiplicative hash, identical in DuckDB),
    * 80/10/10.
    *
    * Scale shape: the cluster window keys on md5(text) — the exchange
    * carries (doc_id, 32-char digest), never document text; everything
    * after is row-local. Production pipelines with a curation store
    * substitute [[graft.store.CurationIngest.closeLineage]]'s owner map
    * for the window (same keep_id contract, near-dups included) via
    * [[assignSplitsByOwner]]. */
  def splitLeakageSafe(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))
    docs(s, d).select(col("doc_id"), md5(col("text")).as("fp"))
      .select(col("doc_id"), min(col("doc_id")).over(w).as("keep_id"))
      .withColumn("bucket", mixHashBucket(col("keep_id")))
      .select(col("doc_id"), col("keep_id"),
        when(col("bucket") < 80, lit("train"))
          .when(col("bucket") < 90, lit("val"))
          .otherwise(lit("test")).as("split"))
  }

  // ---- takedown (r18): delete -> serve == rebuild-without-docs --------
  //
  // Each row builds a fresh index, DELETES a deterministic id set via
  // the index family's tombstone path (graft.store.DeltaChain — O(ids)
  // commit, no rebuild), then SERVES — and the DuckDB oracle computes
  // the same query over the corpus WITH THE DELETED DOCS EXCLUDED, i.e.
  // literal rebuild-without-docs truth. Per-invocation temp roots (a
  // delete mutates; a durable root would double-delete on rerun).

  /** The deleted-doc set for the text rows: doc_id % 7 = 3 AND the text
    * tokenizes to ≥ 1 token. The non-empty guard mirrors the documented
    * deleteDocs stats caveat (a zero-token doc has no postings row to
    * witness its nDocs slot) — takedowns target real content. */
  private def textDeleteIds(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .filter(col("doc_id") % 7 === 3 &&
        size(TF.tokens(lower(col("text")))) > 0)
      .select(col("doc_id"))

  /** BM25 over the unified positional store AFTER a takedown: build on
    * the full corpus, tombstone-delete the doc_id%7=3 docs (layout-aware
    * TextIndex.deleteDocs delegation), serve the standard probe. The
    * oracle is Bm25RankSql recomputed over the SURVIVING corpus — nDocs,
    * avgdl, df and every score must equal a fresh build without the
    * deleted docs (the tombstone visibility filter + the in-transaction
    * stats adjustment, both pinned externally here). */
  def retrieveBm25Deleted(s: SparkSession, d: String, k: Int = 10): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-bm25del").toString
    val store = new SnapshotStore(root, s)
    PhraseIndex.build(store, "docs_text", ds, "text", "doc_id")
    TextIndex.deleteDocs(store, "docs_text", textDeleteIds(s, d))
    val qs = ds.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    TextIndex.query(store, "docs_text", qs, "query_id", "qtext", k = k)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }

  /** Exact-phrase matching AFTER a takedown on the same store: the
    * query phrases come from the ORIGINAL corpus (query text is
    * independent of corpus membership — doc 10, one of the three query
    * sources, is itself deleted under %7=3), matches come from the
    * survivors only. Same trigram construction as `retrieve_phrase`;
    * the oracle filters the match side by the delete predicate. */
  def retrievePhraseDeleted(s: SparkSession, d: String): DataFrame = {
    val ds = docs(s, d).select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-phdel").toString
    val store = new SnapshotStore(root, s)
    PhraseIndex.build(store, "docs_text", ds, "text", "doc_id")
    TextIndex.deleteDocs(store, "docs_text", textDeleteIds(s, d))
    val qs = ds.filter(col("doc_id").isin(0L, 10L, 42L))
      .select(col("doc_id").as("query_id"),
        array_join(slice(TF.tokens(lower(col("text"))), 1, 3), " ").as("ph"))
      .filter(size(TF.tokens(col("ph"))) === 3)
    PhraseIndex.phraseQuery(store, "docs_text", qs, "query_id", "ph")
      .select(col("query_id"), col("doc_id"),
        col("phrase_tf").cast("long").as("phrase_tf"))
  }

  /** Fingerprint-index takedown: delete every UNIQUE-text doc with
    * doc_id%31=5 (group-of-one owners — deleting a multi-member group's
    * owner is the documented owner-only contract, not oracle-comparable
    * truth), then RESOLVE the whole corpus re-keyed at +20000 against
    * the index. Non-deleted content resolves to its indexed owner;
    * deleted content is NEW again (keep = its probe id) — the takedown
    * semantics: the content left the corpus. */
  def dedupIncrFpDeleted(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("doc_id") < 500)
      .select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-fpdel").toString
    val store = new SnapshotStore(root, s)
    FingerprintIndex.build(store, "docs_fp", base, "text", "doc_id")
    // unique-text ids under the fingerprint key (the index's own notion
    // of content): group size 1 AND doc_id % 31 = 5
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TF.fingerprint(col("text")))
    val delIds = base
      .withColumn("gsz", count(lit(1)).over(w))
      .filter(col("gsz") === 1 && col("doc_id") % 31 === 5)
      .select(col("doc_id").as("id"))
    FingerprintIndex.deleteDocs(store, "docs_fp", delIds)
    FingerprintIndex.resolve(store, "docs_fp",
      base.select((col("doc_id") + 20000).as("doc_id"), col("text")),
      "text", "doc_id")
      .select(col("id"), col("keep_id"))
  }

  /** MinHash-index takedown: build on doc_id<300, tombstone-delete the
    * %17=2 docs, then ask for every committed pair — deleted docs must
    * appear in none, and the survivors' pair set must equal the
    * brute-force Jaccard truth over the corpus WITHOUT them (removing
    * docs can only remove pairs, so the banding-recall argument of
    * `dedup_minhash_oracle` carries over unchanged). */
  def dedupMinhashDeleted(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).filter(col("doc_id") < 300)
      .select(col("doc_id"), col("text"))
    val root = graft.TempDirs.create("graft-mhdel").toString
    val store = new SnapshotStore(root, s)
    DedupIndex.build(store, "docs_minhash", base, "text", "doc_id")
    DedupIndex.deleteDocs(store, "docs_minhash",
      base.filter(col("doc_id") % 17 === 2).select(col("doc_id").as("id")))
    DedupIndex.pairsForCommitted(store, "docs_minhash",
      base.select(col("doc_id").as("id")), threshold = 0.5)
      .select(col("id_a"), col("id_b"))
  }

  /** SimHash-index takedown — the md5-portable twin of
    * `dedup_simhash_incr_oracle` with a delete in the middle: build on
    * the doc_id<300 corpus, delete the %17=2 docs, serve the committed
    * pair set; oracle = brute-force Hamming ≤ 6 over the survivors. */
  def dedupSimhashDeleted(s: SparkSession, d: String): DataFrame = {
    val hashed = docs(s, d)
      .filter(col("doc_id") < 300 && size(TF.tokens(col("text"))) > 0)
      .select(col("doc_id").as("id"), Dedup.simhash64Md5(col("text")).as("sh64"))
    val root = graft.TempDirs.create("graft-shdel").toString
    val store = new SnapshotStore(root, s)
    SimHashIndex.build(store, "docs_simhash", hashed,
      nBlocks = Dedup.simhashAutoBlocks(300L, 6), maxHamming = 6)
    SimHashIndex.deleteDocs(store, "docs_simhash",
      hashed.filter(col("id") % 17 === 2).select(col("id")))
    SimHashIndex.pairsForCommitted(store, "docs_simhash",
      hashed.select(col("id")))
      .select(col("id_a"), col("id_b"))
  }

  /** Embedding-LSH takedown: base vec_id<300 plus TWO planted copies of
    * vector 0 (ids 10300, 10301). Deleting 10301 must drop exactly its
    * pairs: the append of 10300 afterwards pairs with 0 alone — the
    * brute-force truth over the corpus without 10301. */
  def dedupEmbedDeleted(s: SparkSession, d: String): DataFrame = {
    val base = embs(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val planted = embs(s, d).filter(col("vec_id") === 0)
    val p1 = planted.select((col("vec_id") + 10300).as("id"),
      col("embedding").as("vec"))
    val p2 = planted.select((col("vec_id") + 10301).as("id"),
      col("embedding").as("vec"))
    val root = graft.TempDirs.create("graft-embdel").toString
    val store = new SnapshotStore(root, s)
    EmbedIndex.build(store, "vecs_embed", base.unionByName(p2), dim = 64,
      threshold = 0.99, expectedCorpus = 360L)
    EmbedIndex.deleteDocs(store, "vecs_embed",
      p2.select(col("id")))
    // The append's pair frame comes back EAGER (persisted+counted);
    // selecting off it reuses that cache, so the old second
    // persist+count pass was a pure extra job (r19, guide §1.2). The
    // pair cache is deliberately left live for the consumer's action —
    // the bench clears caches between passes.
    EmbedIndex.appendBatchOnce(store, "vecs_embed", p1,
      streamId = "verify", batchId = 0L).get
      .select(col("id_a"), col("id_b"))
  }

  /** SemDeDup-index takedown under the exact one-cluster regime: same
    * two-planted-copies fixture as [[dedupEmbedDeleted]]; after deleting
    * 10301 the appended 10300 pairs with vector 0 alone. */
  def semDedupDeleted(s: SparkSession, d: String): DataFrame = {
    val base = embs(s, d).filter(col("vec_id") < 300)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val planted = embs(s, d).filter(col("vec_id") === 0)
    val p1 = planted.select((col("vec_id") + 10300).as("id"),
      col("embedding").as("vec"))
    val p2 = planted.select((col("vec_id") + 10301).as("id"),
      col("embedding").as("vec"))
    val root = graft.TempDirs.create("graft-semdel").toString
    val store = new SnapshotStore(root, s)
    SemIndex.build(store, "vecs_sem", base.unionByName(p2), dim = 64,
      eps = 0.99, nClusters = 1)
    SemIndex.deleteDocs(store, "vecs_sem", p2.select(col("id")))
    // EAGER pair frame reused directly — see dedupEmbedDeleted.
    SemIndex.appendBatchOnce(store, "vecs_sem", p1,
      streamId = "verify", batchId = 0L).get
      .select(col("id_a"), col("id_b"))
  }

  /** Vector-index (IVFPQ) takedown at exhaustive settings: delete the
    * vec_id%13=4 vectors, probe every list with a corpus-sized refine —
    * the served top-10 must equal brute-force cosine over the SURVIVING
    * vectors exactly (the oracle excludes the deleted ids). Fresh
    * per-invocation store: a delete mutates, so the shared cached
    * index of `sim_index_topk` must not be reused. */
  def simIndexDeleted(s: SparkSession, d: String): DataFrame = {
    val root = graft.TempDirs.create("graft-videl").toString
    val store = new SnapshotStore(root, s)
    VectorIndex.build(store, "emb_ivfpq", embs(s, d), "vec_id", "embedding",
      dim = 64, nLists = 16, m = 16, kCodes = 16)
    VectorIndex.deleteDocs(store, "emb_ivfpq",
      embs(s, d).filter(col("vec_id") % 13 === 4)
        .select(col("vec_id").as("neighbor_id")))
    VectorIndex.queryRefined(store, "emb_ivfpq", embs(s, d), "vec_id",
      "embedding", queryVectors(s, d), "query_id", "qvec",
      k = 10, nProbe = 16, refine = 1000)
      .select(col("query_id"), col("neighbor_id"), col("rank"))
  }
}
