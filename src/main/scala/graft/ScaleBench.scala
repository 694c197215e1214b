package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity, TextFunctions => TF}
import graft.store.{CurationIngest, DedupIndex, MinHashRegime,
  SnapshotStore, VectorIndex}

/** Flagship-scale benchmark: generate a ≥5M-document / ≥1M-vector corpus
  * locally (same schemas as the driver testdata, so every library entry
  * point runs unchanged) and measure the dedup/ANN/curation paths on it.
  * sf0.1 (50k docs / 100k vectors) verifies correctness; THIS is where the
  * candidate-generation shapes are proven — bucket caps, key-space sizing,
  * and trainer sampling all behave differently at 100× the rows.
  *
  * Usage (via sbt runMain):
  *   ScaleBench gen <dir> [nDocs] [nVecs]   — write documents/embeddings
  *   ScaleBench run <dir>                   — time the suite, print JSON
  *
  * Planted structure (deterministic, id-keyed — retry/partition stable):
  *  - ids (100k, 100k+1): word-level near-duplicates (2 of 30–100 tokens
  *    mutated, Jaccard ≈ 0.9) — MinHash/SimHash must find ~nDocs/100 pairs.
  *  - ids (500k, 500k+3): EXACT text duplicates — exact dedup finds
  *    ~nDocs/500 groups.
  *  - vectors: 1024 gaussian clusters on the unit sphere (the shape IVF
  *    earns its keep on); ids (1000k, 1000k+7) are near-identical copies
  *    (cos ≈ 0.9999) — embedding near-dup LSH must find ~nVecs/1000 pairs.
  *
  * Scale-aware parameterization (vs the sf0.1 demo settings — the knobs a
  * production run must scale with the corpus, exercised here):
  *  - embedding near-dup: 16 bits/table (65k buckets) instead of 8 (256):
  *    at 1M vectors 256 buckets average ~4k members — EVERY bucket would
  *    trip the 2k skew cap and recall would silently collapse. Bucket bits
  *    must grow ~log2(N / target-bucket-size).
  *  - ANN: 16 planes (vs 8) for the same reason; IVF/IVFPQ: 1024 lists,
  *    nProbe 16 (~1.6% of the corpus per query).
  */
object ScaleBench {

  case class Doc(doc_id: Long, text: String, lang: String, source: String,
                 n_chars: Long)
  case class Emb(vec_id: Long, embedding: Array[Float], label: Int)
  case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                event_type: String, value: Double, props: String)

  /** Letters-only token (digit-free so the curation digit-ratio gate stays
    * meaningful on synthetic text). */
  private def word(i: Int): String = {
    val sb = new StringBuilder
    var x = i
    do { sb.append(('a' + x % 26).toChar); x /= 26 } while (x > 0)
    sb.toString
  }
  private val VocabSize = 4096

  private[graft] def genDoc(id: Long): Doc = {
    val seedId =
      if (id % 100 == 1) id - 1      // near-dup of the previous doc
      else if (id % 500 == 3) id - 3 // exact dup three back
      else id
    val rnd = new java.util.Random(seedId * 0x9E3779B97F4A7C15L + 17)
    val n = 30 + rnd.nextInt(70)
    val toks = Array.fill(n)(word(rnd.nextInt(VocabSize)))
    if (id % 100 == 1) { // mutate 2 tokens → Jaccard ≈ 0.9 vs the base
      val mut = new java.util.Random(id * 0x5851F42D4C957F2DL + 11)
      toks(n - 1) = word(mut.nextInt(VocabSize))
      toks(n / 2) = word(mut.nextInt(VocabSize))
    }
    val text = toks.mkString(" ")
    val lang = (seedId % 10) match {
      case 0 => "de"; case 1 => "fr"; case 2 => "ja"; case _ => "en"
    }
    Doc(id, text, lang, s"src${seedId % 16}", text.length.toLong)
  }

  /** Zipf(s=1.1) inverse-CDF over the vocab — the realistic token-law
    * twin of [[genDoc]]'s uniform sampling. Uniform vocab is the
    * champion-list WORST case (no term-impact concentration: tf is 1
    * almost surely, so per-term impact leaders are meaningless and
    * measured champion recall is 0%); Zipfian text has real tf
    * concentration, which is what the bm25_champ_recall entries contrast. */
  private lazy val zipfCdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(r => 1.0 / math.pow(r + 1.0, 1.1))
    val total = w.sum
    val cdf = new Array[Double](VocabSize)
    var acc = 0.0
    var i = 0
    while (i < VocabSize) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(VocabSize - 1) = 1.0
    cdf
  }

  private[graft] def genZipfDoc(id: Long): Doc = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 23)
    val n = 30 + rnd.nextInt(70)
    val toks = Array.fill(n) {
      val u = rnd.nextDouble()
      val idx = java.util.Arrays.binarySearch(zipfCdf, u)
      word(if (idx >= 0) idx else -idx - 1)
    }
    val text = toks.mkString(" ")
    Doc(id, text, "en", s"src${id % 16}", text.length.toLong)
  }

  private val Dim = 64
  private val NClusters = 1024

  /** The shared cluster-corpus recipe: 1024 gaussian clusters on the
    * unit sphere, 0.12-σ members, planted id%1000==7 near-identical
    * copies (0.002-σ jitter, cos ≈ 0.9999). `cMul`/`cAdd`/`pAdd` are
    * the seed constants — they differ per corpus so the dim-64 and
    * dim-768 corpora are independent draws of the SAME shape (one
    * recipe to change, both benches move together). genEmb's constants
    * are LOAD-BEARING: the generated /tmp/flagship corpus and every
    * planted-structure expectation depend on them bit-for-bit. */
  private def genEmbAt(id: Long, dim: Int, cMul: Long, cAdd: Long,
                       pAdd: Long): Emb = {
    val baseId = if (id % 1000 == 7) id - 7 else id
    val cluster = (baseId % NClusters).toInt
    val c = new java.util.Random(cluster * cMul + cAdd)
    val center = Array.fill(dim)(c.nextGaussian().toFloat)
    val p = new java.util.Random(baseId * 0x9E3779B97F4A7C15L + pAdd)
    var v = center.map(x => x + 0.12f * p.nextGaussian().toFloat)
    if (id % 1000 == 7) { // near-identical copy of baseId (cos ≈ 0.9999)
      val t = new java.util.Random(id)
      v = v.map(x => x + 0.002f * t.nextGaussian().toFloat)
    }
    val nrm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    Emb(id, v.map(_ / nrm), cluster % 16)
  }

  private[graft] def genEmb(id: Long): Emb =
    genEmbAt(id, Dim, 7919L, 3L, 29L)

  /** genEmb at PRODUCTION embedding width (dim 768) — the float-exchange
    * A/B corpus (emb_hidim_*), generated on the fly (no corpus file —
    * the entries are self-contained). */
  private val DimHi = 768
  private[graft] def genEmbHi(id: Long): Emb =
    genEmbAt(id, DimHi, 104729L, 13L, 31L)

  /** Large-vocabulary corpus row for the bm25_bigvocab entries: ~35
    * tokens over a 500k-term vocabulary (`sub` restricts to the first
    * 2k terms — the append's touched subvocab). */
  private[graft] def genBigVocabDoc(id: Long, sub: Boolean = false): Doc = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 29)
    val n = 30 + rnd.nextInt(10)
    val lim = if (sub) 2000 else 500000
    val text = Array.fill(n)("bw" + rnd.nextInt(lim)).mkString(" ")
    Doc(id, text, "en", s"src${id % 16}", text.length.toLong)
  }

  private val EvTypes = Array("view", "click", "purchase", "signup", "error")
  private val EvBase = 1704067200000L // 2024-01-01 UTC
  private val EvUsers = 150000

  /** Deterministic event row: 30 days of activity over 150k users with a
    * REAL skew tail — ~1 % of all events land on 5 whale users (~100k
    * events each at 50M), the distribution the per-user window plans
    * (sessions, funnel) must survive without a straggler partition. */
  private[graft] def genEvent(id: Long): Ev = {
    val rnd = new java.util.Random(id * 0x9E3779B97F4A7C15L + 5)
    val user =
      if (rnd.nextInt(100) == 0) rnd.nextInt(5).toLong
      else 5L + rnd.nextInt(EvUsers - 5)
    val ts = new java.sql.Timestamp(
      EvBase + (rnd.nextDouble() * 30 * 86400000L).toLong)
    Ev(id, ts, user, EvTypes(rnd.nextInt(EvTypes.length)),
      rnd.nextInt(5000) / 100.0, s"""{"k": ${rnd.nextInt(100)}}""")
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleBench gen|run <dir> [nDocs] [nVecs]")
    val mode = args(0); val dir = args(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Sessions.local(cpus, "graft-scalebench")
    import spark.implicits._
    mode match {
      case "gen" =>
        val nDocs = if (args.length > 2) args(2).toLong else 5000000L
        val nVecs = if (args.length > 3) args(3).toLong else 1000000L
        val nEvents = if (args.length > 4) args(4).toLong else 50000000L
        spark.range(0L, nDocs, 1L, 256).map(id => genDoc(id.toLong)).write
          .mode("overwrite").parquet(s"$dir/documents.parquet")
        spark.range(0L, nVecs, 1L, 128).map(id => genEmb(id.toLong)).write
          .mode("overwrite").parquet(s"$dir/embeddings.parquet")
        spark.range(0L, nEvents, 1L, 256).map(id => genEvent(id.toLong)).write
          .mode("overwrite").parquet(s"$dir/events.parquet")
        println(s"""{"generated":{"docs":$nDocs,"vecs":$nVecs,"events":$nEvents},"dir":"$dir"}""")
      case "gen-events" => // top up an existing corpus dir with events only
        val nEvents = if (args.length > 2) args(2).toLong else 50000000L
        spark.range(0L, nEvents, 1L, 256).map(id => genEvent(id.toLong)).write
          .mode("overwrite").parquet(s"$dir/events.parquet")
        println(s"""{"generated":{"events":$nEvents},"dir":"$dir"}""")
      case "run" => run(spark, dir, if (args.length > 2) args(2) else "")
      case other => sys.error(s"unknown mode $other")
    }
    spark.stop()
  }

  /** `filter`: comma-separated substrings over query names (a bench runs
    * if ANY matches) — empty runs everything. Data dependencies are NOT
    * auto-resolved: later benches read state earlier ones committed
    * (index_query/index_append/index_stream need index_build's table;
    * embed near-dup variants share the planted corpus built in this
    * method). A filter that matches a dependent bench but not its
    * producer fails on the missing table — include the producer (e.g.
    * "index", not "index_query"; the curate comparison needs
    * "dedup_incr_build,curate" because curate_ungated_100k appends to
    * dedup_incr_build's docs_minhash table). */
  /** The curate-flagship crawl batch: 50k fresh docs (ids nDocs+300k…,
    * carrying the corpus recipe's planted ~500 in-batch near-dups and
    * ~100 in-batch exact dups) + 50k exact re-fetches of corpus docs
    * 0..50k at ids +21M — ~half the batch must resolve through the
    * fingerprint gate. */
  private def mixedBatch(spark: SparkSession, nDocs: Long): DataFrame = {
    import spark.implicits._
    spark.range(nDocs + 300000L, nDocs + 350000L, 1L, 16)
      .map(id => genDoc(id.toLong)).toDF()
      .unionByName(spark.range(0L, 50000L, 1L, 16)
        .map(id => { val d = genDoc(id.toLong); d.copy(doc_id = id + 21000000L) })
        .toDF())
  }

  /** Keyword-shaped retrieval queries: the first 4 tokens of three
    * spread-out docs — deterministic, and the short-query shape champion
    * lists serve (see the bm25_champ entries). */
  private def shortQueries(docs: DataFrame,
                           ids: Seq[Long] = Seq(0L, 1000000L, 2000000L)): DataFrame =
    docs.filter(col("doc_id").isin(ids: _*))
      .select(col("doc_id").as("query_id"),
        array_join(slice(split(lower(col("text")), " "), 1, 4), " ").as("qtext"))

  /** A keyword-batch of `nQ` 4-token queries drawn deterministically
    * from the zipf generator (driver-side — the generator is a pure
    * function of the id, no corpus scan). */
  private def zipfShortQueries(spark: SparkSession, nQ: Int): DataFrame = {
    import spark.implicits._
    (0 until nQ).map { i =>
      val id = i * 15625L
      (id, genZipfDoc(id).text.split(" ").take(4).mkString(" "))
    }.toDF("query_id", "qtext")
  }

  private def run(spark: SparkSession, dir: String, filter: String = ""): Unit = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val embs = Tables.embeddings(spark, dir)
    val nDocs = docs.count(); val nVecs = embs.count() // warm footers
    val queries = embs.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))

    val filters = filter.split(',').map(_.trim).filter(_.nonEmpty)
    def timed(name: String)(thunk: => Long): Option[(String, Double, Long)] = {
      if (filters.nonEmpty && !filters.exists(name.contains)) return None
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      val rows = thunk
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[scalebench] $name%-26s ${sec}%9.2f s  rows=$rows")
      Some((name, sec, rows))
    }

    val storeDir = s"$dir/store-${System.currentTimeMillis()}"
    val store = new SnapshotStore(storeDir, spark)

    // trained once by sim_ivf_train / sim_pq_train, served by the
    // *_query split entries (r11 verdict #6)
    var ivfCentroids: Option[Seq[Seq[Double]]] = None
    var pqCodebooks: Option[Seq[Seq[Seq[Double]]]] = None
    // set by sem_incr_append_100k; sem_retrain_1m self-skips without it
    var semAppended = false

    val results = Seq(
      // aggregates FORCE the per-row expressions (a bare count() would let
      // Spark prune the projection and time only the scan)
      timed("text_stats_agg") {
        docs.select(TF.tokenCount(col("text")).as("t"),
          TF.qualityScore(col("text")).as("q"))
          .agg(sum(col("t")), avg(col("q"))).collect()
        nDocs
      },
      timed("dedup_exact_groups") {
        Dedup.exactGroups(docs, "text", "doc_id")
          .filter(col("dup_count") > 1).count()
      },
      // Repetition filters: per-row NgramRepetition over the full corpus;
      // the aggregate forces every struct field. The zero-exchange claim
      // is PlanSpec's; this entry measures the fused byte-scan cost (the
      // token-array formulation measured 250 s here — see the
      // expression's scaladoc).
      timed("text_repetition_agg") {
        docs.select(
            graft.plans.TextExpressions.ngramRepetition(col("text"), 2).as("r2"),
            graft.plans.TextExpressions.ngramRepetition(col("text"), 3).as("r3"))
          .agg(sum(col("r2.top")), sum(col("r3.total")),
            sum(col("r3.total") - col("r3.distinct"))).collect()
        nDocs
      },
      // Decontamination: the corpus-scale stage is the shingle explode +
      // broadcast membership probe. Eval slice = doc_id % 4999 == 0
      // (~1k docs at 5M — a realistic benchmark-suite size, and sparse
      // enough that hits stay selective at the corpus's vocab density).
      timed("decon_docs_5m") {
        Dedup.benchmarkOverlap(
          docs.filter(col("doc_id") % 4999 =!= 0),
          docs.filter(col("doc_id") % 4999 === 0),
          "text", "doc_id", n = 5).count()
      },
      // Fuzzy decon at corpus scale: exact Jaccard of 5M train docs vs
      // a ~1k-doc benchmark under the disjoint-id union — the jaccard
      // join's prefix filter keeps candidates duplicated-postings-sized
      // exactly as in dedup_jaccard_pairs; the planted exact-dup groups
      // that straddle the % split surface as cross-side leaks.
      timed("decon_fuzzy_5m") {
        val t = docs.select(col("doc_id"), col("text"))
        val out = Dedup.benchmarkNearDups(
          t.filter(col("doc_id") % 4999 =!= 0),
          t.filter(col("doc_id") % 4999 === 0),
          "text", "doc_id")
        val n = out.count()
        out.unpersist(blocking = false)
        n
      },
      // Two-exchange corpus accounting at 5M docs (md5 dup window +
      // group agg, fused token counters).
      timed("corpus_report_5m") {
        graft.queries.ExtensionQueries.corpusReport(spark, dir)
          .agg(sum(col("n_docs")), sum(col("n_tokens")),
            sum(col("n_dup_docs"))).collect()
        nDocs
      },
      timed("curate_docs") {
        graft.queries.ExtensionQueries.curateDocs(spark, dir)
          .agg(sum(col("total_tokens"))).collect()
        nDocs
      },
      // In-engine perceptron training at corpus scale: 2 epochs = 2
      // corpus scans + two 65-group aggregates (the shuffle carries
      // O(partitions·dim) rows however large the corpus); then one
      // scoring map pass. All-integer — same bits at any parallelism.
      timed("quality_train_5m") {
        graft.queries.ExtensionQueries.qualityTrain(spark, dir)
          .agg(sum(when(col("keep"), 1L).otherwise(0L))).collect()
        nDocs
      },
      timed("pack_shards") {
        graft.queries.ExtensionQueries.packShards(spark, dir)
          .agg(max(col("shard_id"))).collect()
        nDocs
      },
      // new-op aggregates force the full chunk/vocab pipelines end-to-end
      timed("chunk_docs_agg") {
        graft.queries.ExtensionQueries.chunkDocs(spark, dir)
          .agg(count(lit(1)), sum(col("n_chunk_tokens"))).collect()
        nDocs
      },
      timed("vocab_topk") {
        graft.queries.ExtensionQueries.vocabTopK(spark, dir).count()
      },
      // Corpus-frequency line removal at 5M docs (15M constructed lines):
      // df pass shuffles 8-byte hash keys, candidate recount is
      // boilerplate-sized, the rewrite is a zero-exchange broadcast-set
      // map — the aggregate forces every cleaned byte through.
      timed("linededup_5m") {
        graft.queries.ExtensionQueries.textLineDedup(spark, dir)
          .agg(sum(col("n_dropped")), sum(length(col("text_clean"))))
          .collect()
        nDocs
      },
      // Span-level dedup at corpus scale: ~215M 8-token windows hash in
      // the zero-allocation shingle scan, distinct-doc df over 8-byte
      // keys, then the candidate-string verify + coverage rewrite.
      // maxDf=1 so the planted exact/near-dup PAIRS (df=2) actually
      // trip the filter and the rewrite path does real work.
      timed("spandedup_5m") {
        // gramGate raised over the library default: this corpus's ~2.4M
        // frequent grams (~150 MB as a task-binary string set) take the
        // zero-exchange rewrite here — measured 2.4x over the wide
        // explode+join fallback (168.8 s vs 412.6 s, same warm window).
        // At the default 1M gate the same call exercises the fallback;
        // both paths are spec-pinned equal.
        graft.functions.SpanDedup.dropFrequentSpans(
          Tables.documents(spark, dir), "doc_id", "text", n = 8, maxDf = 1,
          gramGate = 4000000)
          .agg(sum(col("n_dropped")), sum(length(col("text_clean"))))
          .collect()
        nDocs
      },
      // Bigram-LM quality filter at corpus scale: TRAIN is one
      // occurrence-count agg over ~120M adjacent pairs (map-side combine
      // reduces the exchange to distinct-grams-per-partition; the
      // 4096-word vocab yields ~16M distinct bigrams, Poisson λ≈2.6 —
      // minCount=4 prunes to ~1.3M survivors, the aggressive tail cut
      // real LM pipelines apply), SCORE is then the zero-exchange
      // broadcast-model expression scan over all 5M docs.
      timed("lm_train_score_5m") {
        val dd = Tables.documents(spark, dir)
        val model = graft.functions.NgramLm.train(
          dd.filter(col("doc_id") % 7 < 3), "text", minCount = 4)
        graft.functions.NgramLm.scoreDocs(dd, "doc_id", "text", model)
          .agg(sum(col("lm_score")), sum(col("n_bigrams")),
            count(when(col("keep"), 1))).collect()
        nDocs
      },
      // DSIR importance resampling: two dim-sized count aggregates
      // (target = 1% sample, raw = full corpus; the shuffle carries
      // O(partitions·64) rows at any size), then a zero-exchange fused
      // md5+accumulate scoring scan over all 5M docs.
      timed("dsir_5m") {
        val dd = Tables.documents(spark, dir)
        val w = graft.functions.Dsir.importanceWeights(
          dd.filter(col("doc_id") % 100 === 1), dd, "text", dim = 64)
        graft.functions.Dsir.scoreDocs(dd, "doc_id", "text", w,
          thresholdNum = 0L)
          .agg(sum(col("dsir_score")), count(when(col("keep"), 1))).collect()
        nDocs
      },
      // PII audit + redaction: two regex passes per doc (counts on the
      // original, the rewrite chain), pure map stage, no exchange.
      timed("pii_scrub_5m") {
        graft.queries.ExtensionQueries.piiScrub(spark, dir)
          .agg(sum(col("n_email") + col("n_ssn") + col("n_phone") + col("n_ip")),
            sum(length(col("text_redacted")))).collect()
        nDocs
      },
      // Leakage-safe split assignment: one (doc_id, md5) exchange for the
      // cluster window, then row-local hashing.
      timed("split_assign_5m") {
        graft.queries.ExtensionQueries.splitLeakageSafe(spark, dir)
          .groupBy(col("split")).agg(count(lit(1))).collect()
        nDocs
      },
      timed("dedup_minhash_pairs") {
        // EAGER pair generators return a persisted result the caller
        // owns — count, then release, or repeated bench runs accumulate
        // session-lifetime executor caches.
        val pairs = Dedup.nearDuplicatePairs(docs, "text", "doc_id", threshold = 0.5)
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        n
      },
      // Incremental dedup, the growing-corpus production mode: build the
      // persisted shingle-hash index once (≈ one tokenize pass + write),
      // then dedup a 100k crawl batch against the 5M corpus in O(batch)
      // text work — band keys are recomputed in-expression from the one
      // flat (id, h_arr) column (r14 slim layout; the old stored-bks
      // nested column was the append's dominant scan), the key-probe
      // prefilter drops corpus rows that cannot share a bucket with the
      // batch before anything explodes, and nothing corpus-sized
      // shuffles. The append time vs dedup_minhash_pairs (the full
      // recompute it replaces) is the O(batch)-not-O(corpus) evidence.
      // The batch plants ~1k in-batch near-dup pairs (same id%100==1
      // structure as the corpus).
      timed("dedup_incr_build") {
        DedupIndex.build(store, "docs_minhash", docs, "text", "doc_id")
        nDocs
      },
      timed("dedup_incr_append_100k") {
        import spark.implicits._
        val batch = spark.range(nDocs, nDocs + 100000L, 1L, 16)
          .map(id => genDoc(id.toLong)).toDF()
        val pairs = DedupIndex.appendBatch(store, "docs_minhash", batch,
          "text", "doc_id", threshold = 0.5)
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        n
      },
      // SimHash incremental dedup: the Hamming-regime index. The hash
      // rides with the recomputed combo keys (no h_arr payload), so the
      // corpus-side append cost is one (id, sh64) scan; nBlocks is
      // auto-sized once for the final corpus and committed with the table.
      timed("sh_incr_build") {
        import spark.implicits._
        val hashed = docs.select(col("doc_id").as("id"),
          Dedup.simhash64(col("text")).as("sh64"))
        graft.store.SimHashIndex.build(store, "docs_sh", hashed,
          nBlocks = 8, maxHamming = 6)
        nDocs
      },
      timed("sh_incr_append_100k") {
        import spark.implicits._
        val batch = spark.range(nDocs + 150000L, nDocs + 250000L, 1L, 16)
          .map(id => genDoc(id.toLong)).toDF()
          .select(col("doc_id").as("id"), Dedup.simhash64(col("text")).as("sh64"))
        val pairs = graft.store.SimHashIndex.appendBatchOnce(
          store, "docs_sh", batch, "bench", 0L,
          keyProbeMaxKeys = 4000000).get
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        n
      },
      // REGIME A/B (r18, closing the r17 adjudication's open lever):
      // the ~32 s append floor above is candidate-volume-bound by the
      // committed nBlocks=8 regime (28 combos of 16-bit keys — a 100k
      // batch occupies ~82% of the 1.83M-slot keyspace, so nearly every
      // corpus doc survives any doc-level prefilter). The ONLY
      // alternative the radius contract allows is MORE blocks ⇒ wider
      // combo keys (sparser buckets) bought with combinatorially more
      // key rows: nBlocks=10 ⇒ C(10,4)=210 combos of ~25-bit keys —
      // 7.5× the key-row volume for ~780× sparser slots. Same batch,
      // same corpus, same pair set (SimHashIndexSpec pins all regimes
      // to brute-force truth). Filter "sh_b10" (self-contained pair).
      timed("sh_b10_build") {
        import spark.implicits._
        val hashed = docs.select(col("doc_id").as("id"),
          Dedup.simhash64(col("text")).as("sh64"))
        graft.store.SimHashIndex.build(store, "docs_sh_b10", hashed,
          nBlocks = 10, maxHamming = 6)
        nDocs
      },
      timed("sh_b10_append_100k") {
        import spark.implicits._
        val batch = spark.range(nDocs + 150000L, nDocs + 250000L, 1L, 16)
          .map(id => genDoc(id.toLong)).toDF()
          .select(col("doc_id").as("id"), Dedup.simhash64(col("text")).as("sh64"))
        val pairs = graft.store.SimHashIndex.appendBatchOnce(
          store, "docs_sh_b10", batch, "bench", 0L,
          keyProbeMaxKeys = 4000000).get
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        n
      },
      // Fingerprint (exact/reformatting) incremental dedup on the same
      // corpus: the 16-byte-per-doc index should make both the build and
      // the append far cheaper than the band-key path above — this pair
      // of timings is the measured form of that claim.
      timed("fp_incr_build") {
        graft.store.FingerprintIndex.build(store, "docs_fp", docs,
          "text", "doc_id")
        nDocs
      },
      timed("fp_incr_append_100k") {
        import spark.implicits._
        // 50k fresh docs + 50k exact copies of corpus docs: ~half the
        // batch must resolve to an existing owner through the collision
        // probe, ~half survives as new content. "~": genDoc plants exact
        // dups at id % 500 == 3 inside the fresh range too, so ~100
        // in-batch duplicates land on top of the 50k planted copies.
        val batch = spark.range(nDocs + 100000L, nDocs + 150000L, 1L, 16)
          .map(id => genDoc(id.toLong)).toDF()
          .unionByName(spark.range(0L, 50000L, 1L, 16)
            .map(id => { val d = genDoc(id.toLong); d.copy(doc_id = id + 20000000L) })
            .toDF())
        val resolved = graft.store.FingerprintIndex.appendBatchOnce(
          store, "docs_fp", batch, "text", "doc_id", "bench", 0L).get
        val dups = resolved.filter(!col("is_new")).count()
        resolved.unpersist(blocking = false)
        dups
      },
      // Trickle appends: a 50-doc batch against the 5M index, scan path
      // vs bloom-probe path. The scan pays the full 16-byte-rows index
      // read per batch however small the batch; the bloom path collects
      // the batch's fingerprints and reads only the files whose sketches
      // might contain one — O(files) sketch probes, the per-batch floor
      // a high-frequency point ingest actually pays. (50 docs is the
      // point-lookup regime blooms are for; at backfill sizes the scan
      // is the right plan and stays the default.) Depends on fp_incr_*
      // — filter with "fp_".
      timed("fp_trickle_scan_50") {
        import spark.implicits._
        val batch = spark.range(nDocs + 200000L, nDocs + 200050L, 1L, 4)
          .map(id => genDoc(id.toLong)).toDF()
        val r = graft.store.FingerprintIndex.appendBatchOnce(
          store, "docs_fp", batch, "text", "doc_id", "bench", 1L).get
        val n = r.count(); r.unpersist(blocking = false); n
      },
      timed("fp_trickle_bloom_50") {
        import spark.implicits._
        val batch = spark.range(nDocs + 201000L, nDocs + 201050L, 1L, 4)
          .map(id => genDoc(id.toLong)).toDF()
        val r = graft.store.FingerprintIndex.appendBatchOnce(
          store, "docs_fp", batch, "text", "doc_id", "bench", 2L,
          bloomProbeMaxKeys = 10000).get
        val n = r.count(); r.unpersist(blocking = false); n
      },
      // TAKEDOWN on the fingerprint index (r18): 50k ids tombstoned in
      // one O(ids) commit against the ~5.1M-row index — no rebuild —
      // then 1k of the deleted docs' texts re-ingested under fresh ids
      // resolve through the tombstoned chain (rows = how many came back
      // NEW, i.e. whose content the takedown actually freed; dup-group
      // contents still owned by a surviving id stay deduplicated).
      // Depends on fp_incr_* — filter with "fp_".
      timed("fp_delete_50k") {
        graft.store.FingerprintIndex.deleteDocs(store, "docs_fp",
          spark.range(2000000L, 2050000L).select(col("id")))
      },
      timed("fp_resolve_after_delete") {
        import spark.implicits._
        val re = spark.range(2000000L, 2001000L, 1L, 4)
          .map(id => genDoc(id.toLong)).toDF()
          .select((col("doc_id") + 90000000L).as("doc_id"), col("text"))
        graft.store.FingerprintIndex.resolve(store, "docs_fp", re,
          "text", "doc_id").filter(col("is_new")).count()
      },
      // The bloom win at the scale it exists for: a 200M-key index
      // (3.2 GB, dozens of files — the 5M fp index above is one ~80 MB
      // file, so there is nothing for file skipping to skip and the
      // trickle pair measures a wash; THIS is the honest demo size). A
      // 5-key point probe through the sketches reads ~1 file; the full
      // path schedules a task per file. Filter with "bloom_".
      timed("bloom_commit_200m") {
        store.commit("fp_big",
          spark.range(0L, 200000000L, 1L, 64)
            .select(xxhash64(col("id")).as("fp"), col("id")),
          sortKey = Some("fp"), bloomCols = Seq("fp"))
        200000000L
      },
      timed("bloom_point_lookup") {
        val probes = spark.range(0, 5)
          .select(xxhash64(col("id") * 40000000L).as("fp"))
          .collect().map(_.getLong(0))
        val vdir = java.nio.file.Paths.get(storeDir, "fp_big",
          f"v${store.currentVersion("fp_big")}%05d")
        val (kept, total) = graft.store.BloomSkip.filesMaybeContaining(
          vdir, "fp", probes)
        System.err.println(s"[scalebench] bloom kept ${kept.size}/$total files")
        if (kept.isEmpty) 0L
        else spark.read.parquet(kept.map(_.toString): _*)
          .filter(col("fp").isin(probes.toIndexedSeq: _*)).count()
      },
      timed("bloom_full_lookup") {
        val probes = spark.range(0, 5)
          .select(xxhash64(col("id") * 40000000L).as("fp"))
          .collect().map(_.getLong(0))
        store.load("fp_big")
          .filter(col("fp").isin(probes.toIndexedSeq: _*)).count()
      },
      // Second probe against the SAME version dirs: the sketch cache
      // turns the footer+sketch IO of the first probe into in-memory
      // bitset checks — the steady-state floor a per-micro-batch
      // trickle probe actually pays.
      timed("bloom_point_lookup_warm") {
        val probes = spark.range(0, 5)
          .select(xxhash64(col("id") * 39999999L).as("fp"))
          .collect().map(_.getLong(0))
        val vdir = java.nio.file.Paths.get(storeDir, "fp_big",
          f"v${store.currentVersion("fp_big")}%05d")
        val (kept, total) = graft.store.BloomSkip.filesMaybeContaining(
          vdir, "fp", probes)
        System.err.println(s"[scalebench] bloom warm kept ${kept.size}/$total files")
        if (kept.isEmpty) 0L
        else spark.read.parquet(kept.map(_.toString): _*)
          .filter(col("fp").isin(probes.toIndexedSeq: _*)).count()
      },
      // Incremental embedding-cosine dedup (EmbedIndex) on the 1M-vector
      // corpus — the fourth persistent index's flagship pair. Bits are
      // sized for the 1M corpus (auto formula); threshold 0.999 isolates
      // the planted near-identical copies (cos ≈ 0.9999) from ordinary
      // cluster members (cos ≈ 0.986), same argument as the one-shot
      // dedup_embed_pairs bench above.
      timed("emb_incr_build") {
        graft.store.EmbedIndex.build(store, "vecs_embed",
          embs.select(col("vec_id").as("id"), col("embedding").as("vec")),
          dim = 64, threshold = 0.999, expectedCorpus = nVecs)
        nVecs
      },
      // 50k fresh vectors (ids nVecs+150k…, carrying ~50 in-batch planted
      // copies) + 50k exact re-embeds of corpus vectors 0..50k at +20M —
      // each re-embed must pair with its original THROUGH the index
      // (identical vector ⇒ identical buckets in every table).
      timed("emb_incr_append_100k") {
        import spark.implicits._
        val batch = spark.range(nVecs + 150000L, nVecs + 200000L, 1L, 16)
          .map(id => genEmb(id.toLong)).toDF()
          .unionByName(spark.range(0L, 50000L, 1L, 16)
            .map(id => { val e = genEmb(id.toLong); e.copy(vec_id = id + 20000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        // SPARK_GRAFT_EMB_PROBE_KEYS: A/B knob for the r15 slim-layout
        // key probe (unset = the library default, probe off — the r15
        // A/B measured the probe a net cost at this batch size)
        val pairs = graft.store.EmbedIndex.appendBatchOnce(
          store, "vecs_embed", batch, "bench", 0L,
          keyProbeMaxKeys = sys.env.get("SPARK_GRAFT_EMB_PROBE_KEYS")
            .map(_.toInt).getOrElse(0)).get
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        n
      },
      // Micro-trickle appends — the embed key-probe's DESIGN regime
      // (EmbedIndex scaladoc): at the committed 1M sizing (bits=12,
      // 4096 buckets/table) a 50-vector batch touches ~1% of each
      // table's buckets, so the opt-in probe drops ~90% of the corpus
      // inside the scan before the wide uv payload explodes — where the
      // 100k entry above touches ~every bucket and the probe cannot
      // pay. Paired scan-vs-probe entries, same batch shape. Depend on
      // emb_incr (the vecs_embed table) — filter "emb".
      timed("emb_trickle_50_scan") {
        import spark.implicits._
        val batch = spark.range(nVecs + 500000L, nVecs + 500050L, 1L, 4)
          .map(id => genEmb(id.toLong)).toDF()
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.EmbedIndex.appendBatchOnce(
          store, "vecs_embed", batch, "bench-trickle", 0L).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      timed("emb_trickle_50_probe") {
        import spark.implicits._
        val batch = spark.range(nVecs + 600000L, nVecs + 600050L, 1L, 4)
          .map(id => genEmb(id.toLong)).toDF()
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.EmbedIndex.appendBatchOnce(
          store, "vecs_embed", batch, "bench-trickle", 1L,
          keyProbeMaxKeys = graft.store.DedupIndex.DefaultKeyProbeMaxKeys).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      // Float-exchange A/B at PRODUCTION embedding width (r15,
      // EmbedIndex scaladoc): dim 768, where the 8·dim-byte uv payload
      // × nTables through the bucket exchange dominates the append —
      // the regime the float path was designed for (dim 64 above is
      // gated OFF by default). One 200k-vector corpus (generated on the
      // fly — self-contained under filter "emb_hidim"), built into TWO
      // identical tables so both paths append the IDENTICAL 20k batch
      // against the identical corpus: _dbl forces the classic path,
      // _flt runs the dim-gated default (768 ≥ 256 ⇒ float). Equal
      // rows= is the in-bench sanity; EmbedIndexSpec pins set equality.
      timed("emb_hidim_build_200k_x2") {
        import spark.implicits._
        val corpus = spark.range(0L, 200000L, 1L, 64)
          .map(id => genEmbHi(id.toLong)).toDF()
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.store.EmbedIndex.build(store, "vecs_embed_hd_a", corpus,
          dim = DimHi, threshold = 0.999, expectedCorpus = 200000L)
        graft.store.EmbedIndex.build(store, "vecs_embed_hd_b", corpus,
          dim = DimHi, threshold = 0.999, expectedCorpus = 200000L)
        corpus.unpersist(blocking = false)
        400000L
      },
      timed("emb_hidim_append_20k_dbl") {
        import spark.implicits._
        val batch = spark.range(250007L, 260007L, 1L, 16)
          .map(id => genEmbHi(id.toLong)).toDF()
          .unionByName(spark.range(0L, 10000L, 1L, 16)
            .map(id => { val e = genEmbHi(id.toLong); e.copy(vec_id = id + 20000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.EmbedIndex.appendBatchOnce(
          store, "vecs_embed_hd_a", batch, "bench-hd", 0L,
          floatExchangeMinDim = Int.MaxValue).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      timed("emb_hidim_append_20k_flt") {
        import spark.implicits._
        val batch = spark.range(250007L, 260007L, 1L, 16)
          .map(id => genEmbHi(id.toLong)).toDF()
          .unionByName(spark.range(0L, 10000L, 1L, 16)
            .map(id => { val e = genEmbHi(id.toLong); e.copy(vec_id = id + 20000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.EmbedIndex.appendBatchOnce(
          store, "vecs_embed_hd_b", batch, "bench-hd", 0L).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      // order-reversed, table-swapped second pair (controls for entry
      // position and build order): a fresh 20k batch onto the now-220k
      // tables — flt first, and on the table that just took the dbl path
      timed("emb_hidim_append2_20k_flt") {
        import spark.implicits._
        val batch = spark.range(300007L, 310007L, 1L, 16)
          .map(id => genEmbHi(id.toLong)).toDF()
          .unionByName(spark.range(10000L, 20000L, 1L, 16)
            .map(id => { val e = genEmbHi(id.toLong); e.copy(vec_id = id + 21000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.EmbedIndex.appendBatchOnce(
          store, "vecs_embed_hd_a", batch, "bench-hd", 1L).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      timed("emb_hidim_append2_20k_dbl") {
        import spark.implicits._
        val batch = spark.range(300007L, 310007L, 1L, 16)
          .map(id => genEmbHi(id.toLong)).toDF()
          .unionByName(spark.range(10000L, 20000L, 1L, 16)
            .map(id => { val e = genEmbHi(id.toLong); e.copy(vec_id = id + 21000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.EmbedIndex.appendBatchOnce(
          store, "vecs_embed_hd_b", batch, "bench-hd", 1L,
          floatExchangeMinDim = Int.MaxValue).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      // r16: the BATCH operator's float exchange at the same dim-768
      // design point — one whole-corpus near-dup pass per mode over the
      // identical 200k generated vectors (embeddingNearDupPairs pays
      // the uv payload nTables× through its bucket exchange, the same
      // bytes the index append halves). _dbl runs the lazy default
      // (classic); _flt forces the opt-in float path. Equal rows=
      // in-bench; SimilaritySpec
      // pins set equality incl. cos. Self-contained (no table deps),
      // filter "embdedup_hidim".
      timed("embdedup_hidim_batch_dbl") {
        import spark.implicits._
        val corpus = spark.range(0L, 200000L, 1L, 64)
          .map(id => genEmbHi(id.toLong)).toDF()
        graft.functions.Similarity.embeddingNearDupPairs(corpus,
          "vec_id", "embedding", dim = DimHi, threshold = 0.999,
          floatExchangeMinDim = Int.MaxValue).count()
      },
      timed("embdedup_hidim_batch_flt") {
        import spark.implicits._
        val corpus = spark.range(0L, 200000L, 1L, 64)
          .map(id => genEmbHi(id.toLong)).toDF()
        val p = graft.functions.Similarity.embeddingNearDupPairs(corpus,
          "vec_id", "embedding", dim = DimHi, threshold = 0.999,
          floatExchangeMinDim = 0)
        val n = p.count(); p.unpersist(blocking = false); n
      },
      // r16: SemIndex appends at dim 768 — the r15 scaladoc's reasoned
      // negative (one cluster per vector ⇒ the payload rides the
      // exchange ONCE, so the float saving is structurally smaller
      // than EmbedIndex's nTables×), measured instead of assumed — and
      // CONFIRMED: float lost both order-reversed pairs (14.0/18.5 s
      // vs 10.9/8.3 s, identical pairs), so SemIndex's gate defaults
      // OFF and these entries force each mode explicitly. Two
      // identical indexes, paired 20k appends — the emb_hidim
      // discipline. Filter "sem_hidim".
      timed("sem_hidim_build_200k_x2") {
        import spark.implicits._
        val corpus = spark.range(0L, 200000L, 1L, 64)
          .map(id => genEmbHi(id.toLong)).toDF()
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        graft.store.SemIndex.build(store, "vecs_sem_hd_a", corpus,
          DimHi, 0.999, 64, 200000, seed = 42L, trainOn = Some(corpus))
        graft.store.SemIndex.build(store, "vecs_sem_hd_b", corpus,
          DimHi, 0.999, 64, 200000, seed = 42L, trainOn = Some(corpus))
        corpus.unpersist(blocking = false)
        400000L
      },
      timed("sem_hidim_append_20k_dbl") {
        import spark.implicits._
        val batch = spark.range(250007L, 260007L, 1L, 16)
          .map(id => genEmbHi(id.toLong)).toDF()
          .unionByName(spark.range(0L, 10000L, 1L, 16)
            .map(id => { val e = genEmbHi(id.toLong); e.copy(vec_id = id + 20000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.SemIndex.appendBatchOnce(
          store, "vecs_sem_hd_a", batch, "bench-shd", 0L,
          floatExchangeMinDim = Int.MaxValue).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      timed("sem_hidim_append_20k_flt") {
        import spark.implicits._
        val batch = spark.range(250007L, 260007L, 1L, 16)
          .map(id => genEmbHi(id.toLong)).toDF()
          .unionByName(spark.range(0L, 10000L, 1L, 16)
            .map(id => { val e = genEmbHi(id.toLong); e.copy(vec_id = id + 20000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.SemIndex.appendBatchOnce(
          store, "vecs_sem_hd_b", batch, "bench-shd", 0L,
          floatExchangeMinDim = 0).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      timed("sem_hidim_append2_20k_flt") {
        import spark.implicits._
        val batch = spark.range(300007L, 310007L, 1L, 16)
          .map(id => genEmbHi(id.toLong)).toDF()
          .unionByName(spark.range(10000L, 20000L, 1L, 16)
            .map(id => { val e = genEmbHi(id.toLong); e.copy(vec_id = id + 21000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.SemIndex.appendBatchOnce(
          store, "vecs_sem_hd_a", batch, "bench-shd", 1L,
          floatExchangeMinDim = 0).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      timed("sem_hidim_append2_20k_dbl") {
        import spark.implicits._
        val batch = spark.range(300007L, 310007L, 1L, 16)
          .map(id => genEmbHi(id.toLong)).toDF()
          .unionByName(spark.range(10000L, 20000L, 1L, 16)
            .map(id => { val e = genEmbHi(id.toLong); e.copy(vec_id = id + 21000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val p = graft.store.SemIndex.appendBatchOnce(
          store, "vecs_sem_hd_b", batch, "bench-shd", 1L,
          floatExchangeMinDim = Int.MaxValue).get
        val n = p.count(); p.unpersist(blocking = false); n
      },
      // Incremental SemDeDup (SemIndex) — the FIFTH index's flagship
      // pair: k-means build over the real 1024-cluster structure, then
      // a 100k append. The zone-probe path collects the touched
      // clusters once and swaps the gate semi-join for an exact isin +
      // zone file pruning; a 100k batch touches ~all 1024 clusters, so
      // the file-skip win is nil HERE (it belongs to genuinely small
      // trickle batches) — what's measured is the probe machinery at
      // full batch width. eps 0.999 isolates planted copies from the
      // ~0.986 in-cluster background, as in semdedup_1m.
      timed("sem_incr_build") {
        graft.store.SemIndex.build(store, "vecs_sem",
          embs.select(col("vec_id").as("id"), col("embedding").as("vec")),
          dim = 64, eps = 0.999, nClusters = 1024, maxClusterSize = 20000)
        nVecs
      },
      timed("sem_incr_append_100k") {
        import spark.implicits._
        val batch = spark.range(nVecs + 250000L, nVecs + 300000L, 1L, 16)
          .map(id => genEmb(id.toLong)).toDF()
          .unionByName(spark.range(0L, 50000L, 1L, 16)
            .map(id => { val e = genEmb(id.toLong); e.copy(vec_id = id + 30000000L) })
            .toDF())
          .select(col("vec_id").as("id"), col("embedding").as("vec"))
        val pairs = graft.store.SemIndex.appendBatchOnce(
          store, "vecs_sem", batch, "bench", 0L,
          zoneProbeMaxClusters = 2048).get
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        semAppended = true
        n
      },
      // Retrain-as-a-new-version at corpus scale (r12 verdict #5): force
      // the epoch flip regardless of the real append fraction (the 100k
      // append above is ~9% of 1.1M) and measure the full cost — driver
      // k-means over the bounded sample, one distributed re-assign scan,
      // one atomic snapshot commit. This is the maintenance operator's
      // worst case; it amortizes over every append between flips.
      // Depends on sem_incr_append_100k — filter "sem_". Self-skips
      // (sentinel -1) when the append was filtered out of the run: with
      // no appended drift the 1% policy has nothing to trip, and the
      // old require() here would crash the whole sweep (r13 advice).
      timed("sem_retrain_1m") {
        if (!semAppended) -1L
        else {
          val flipped = graft.store.SemIndex.retrainIfDrifted(
            store, "vecs_sem", maxAppendFraction = 0.01)
          require(flipped, "a 9% append fraction must trip a 1% policy")
          graft.store.SemIndex.load(store, "vecs_sem").count()
        }
      },
      // COMPOSED dedup-on-ingest (CurationIngest): fingerprint gate →
      // minhash gate under one exactly-once protocol. The bootstrap is
      // the pair-free build of both indexes (fp over the corpus, band
      // keys over the fp survivors only).
      timed("curate_build_5m") {
        CurationIngest.build(store, "cur", MinHashRegime(), docs,
          "text", "doc_id")
        nDocs
      },
      // One mixed 100k crawl batch — 50k fresh docs (with the corpus
      // recipe's planted ~500 in-batch near-dups and ~100 in-batch exact
      // dups) + 50k exact re-fetches of corpus docs — through the full
      // gate. The fingerprint stage resolves the ~50k exact dups, so the
      // band-key stage encodes/probes only the ~50k survivors: the
      // fingerprint-first saving the operator's scaladoc claims, measured
      // against curate_ungated_100k below (the SAME batch through the
      // bare minhash index, where all 100k pay shingling + banding).
      timed("curate_append_100k") {
        import spark.implicits._
        val batch = mixedBatch(spark, nDocs)
        val lineage = CurationIngest.ingestBatchOnce(store, "cur",
          MinHashRegime(), batch, "text", "doc_id", "bench", 0L)
        val byRegime = lineage.groupBy(col("regime")).count()
          .as[(String, Long)].collect().toMap
        System.err.println(s"[scalebench] curate regimes: $byRegime")
        lineage.unpersist(blocking = false)
        byRegime.getOrElse("exact", 0L) + byRegime.getOrElse("near", 0L)
      },
      // The ungated twin: the IDENTICAL batch straight into the bare
      // minhash index over the same 5M corpus (dedup_incr_build's
      // docs_minhash — appending to cur_nd instead would let the two
      // batches' shared content cross-pair and distort both timings) —
      // no fingerprint gate, so all 100k docs pay shingling + banding
      // and the 50k re-fetches surface as ~50k J=1.0 pairs instead of
      // O(1)-cheap fingerprint hits.
      timed("curate_ungated_100k") {
        import spark.implicits._
        val pairs = DedupIndex.appendBatch(store, "docs_minhash",
          mixedBatch(spark, nDocs), "text", "doc_id")
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        n
      },
      // The 500k-batch twins: at 100k the composed gate measured SLOWER
      // than the ungated append (r9 NOTES: 30.6 vs 24.6 s) — the
      // per-append corpus floor (one columnar scan of the 5M-row band-key
      // index) plus the second store commit outweigh halving the
      // shingling input. Both of those costs are ~batch-size-independent,
      // while the stage saving is batch-linear, so the gate must win as
      // batches grow; these twins measure whether 5× batch crosses over.
      // 250k fresh (ids nDocs+400k…) + 250k re-fetches (+23M offset —
      // fresh content to both indexes, no cross-pairing with the 100k
      // twins' ranges).
      timed("curate_append_500k") {
        import spark.implicits._
        val batch = spark.range(nDocs + 400000L, nDocs + 650000L, 1L, 32)
          .map(id => genDoc(id.toLong)).toDF()
          .unionByName(spark.range(0L, 250000L, 1L, 32)
            .map(id => { val d = genDoc(id.toLong); d.copy(doc_id = id + 23000000L) })
            .toDF())
        val lineage = CurationIngest.ingestBatchOnce(store, "cur",
          MinHashRegime(), batch, "text", "doc_id", "bench", 1L)
        val byRegime = lineage.groupBy(col("regime")).count()
          .as[(String, Long)].collect().toMap
        System.err.println(s"[scalebench] curate 500k regimes: $byRegime")
        lineage.unpersist(blocking = false)
        byRegime.getOrElse("exact", 0L) + byRegime.getOrElse("near", 0L)
      },
      timed("curate_ungated_500k") {
        import spark.implicits._
        val batch = spark.range(nDocs + 400000L, nDocs + 650000L, 1L, 32)
          .map(id => genDoc(id.toLong)).toDF()
          .unionByName(spark.range(0L, 250000L, 1L, 32)
            .map(id => { val d = genDoc(id.toLong); d.copy(doc_id = id + 24000000L) })
            .toDF())
        val pairs = DedupIndex.appendBatch(store, "docs_minhash",
          batch, "text", "doc_id")
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        n
      },
      // Stats-driven maintenance on the curate pipeline the two appends
      // above left with a 3-member delta chain per table: maintain folds
      // both chains into full snapshots (the corpus-scale rewrite this
      // entry prices) and vacuums the dead dirs. Safe here because every
      // append's lineage was consumed (collected) before this runs.
      // Depends on curate_build_5m/curate_append_* — filter with
      // "curate", not "curate_maintain".
      timed("curate_maintain") {
        val report = CurationIngest.maintain(store, "cur",
          CurationIngest.MaintenancePolicy(maxChainLength = 3))
        System.err.println(s"[scalebench] maintain compacted=" +
          s"${report.compacted} chains=" +
          report.after.map(t => s"${t.table}:${t.chainLength}").mkString(","))
        require(report.after.forall(_.chainLength == 1),
          s"maintain left an unfolded chain: ${report.after}")
        report.after.map(_.rows).sum
      },
      // Exact n-gram Jaccard at tau = 3/4: the planted word-level
      // near-dups sit at shingle-Jaccard ~0.75 (30-token docs) to ~0.92
      // (100-token docs), so 3/4 keeps essentially all of them plus the
      // exact-dup pairs — deterministic recall, no banding probability.
      timed("dedup_jaccard_pairs") {
        val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
          shingleN = 3, tauNum = 3, tauDen = 4)
        val n = pairs.count()
        pairs.unpersist(blocking = false)
        n
      },
      // Sparse inverted-index retrieval: postings for the WHOLE corpus
      // (~64 non-zero buckets/doc) joined against 3 broadcast query
      // postings, two-phase integer-dot top-k. Linear in the corpus.
      timed("retrieve_sparse") {
        val sparse = graft.functions.Featurize.hashFeaturesSparse(
          docs, "text", "doc_id", dim = 64)
        val qs = sparse.filter(col("doc_id") < 3)
        graft.functions.Retrieval.sparseDotTopK(
          sparse, "doc_id", qs, "doc_id", k = 10).count()
      },
      // BM25 over the full corpus, 3 full-length docs as queries: the
      // broadcast term filter keeps every aggregate candidate-sized.
      timed("retrieve_bm25") {
        val qs = docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text").as("qtext"))
        graft.functions.Retrieval.bm25TopK(docs, "doc_id", "text",
          qs, "query_id", "qtext", k = 10).count()
      },
      // THE unified text store (r17): ONE positional build replaces the
      // r16 pair (bm25_index_build 80.9 s + phrase_index_build 109.3 s
      // — two term-sorted stores over the same corpus). The pos-vb-v2
      // table's (term, doc_id, tf, dl) is a strict superset of the
      // postings layout, so every BM25 entry below serves from it
      // through TextIndex's slim projection (positions column-pruned
      // out of those scans), and the phrase entries read the payload.
      // One build, one append path, one champion cycle — and
      // ~the postings table's 1.665 GB less at rest.
      timed("text_index_build") {
        graft.store.PhraseIndex.build(store, "docs_text", docs, "text", "doc_id")
      },
      timed("phrase_query_batch") {
        val qs = shortQueries(docs).select(col("query_id"),
          col("qtext").as("phrase"))
        graft.store.PhraseIndex.phraseQuery(store, "docs_text",
          qs, "query_id", "phrase").count()
      },
      timed("phrase_query_ranked") {
        val qs = shortQueries(docs).select(col("query_id"),
          col("qtext").as("phrase"))
        graft.store.PhraseIndex.phraseQueryRanked(store, "docs_text",
          qs, "query_id", "phrase", k = 10).count()
      },
      // Containment-prefilter A/B twin (r16): same batch with the
      // OPT-IN prefilter forced on. On this uniform corpus (tf ≈ 1)
      // the slim candidate pass just re-reads the same bytes, which is
      // why the measured loss here (and on the zipf twin below) made
      // the prefilter opt-in — the PhraseIndex scaladoc's honest
      // negative. Identical output by construction.
      timed("phrase_query_prefilter") {
        val qs = shortQueries(docs).select(col("query_id"),
          col("qtext").as("phrase"))
        graft.store.PhraseIndex.phraseQuery(store, "docs_text",
          qs, "query_id", "phrase", prefilter = true).count()
      },
      // ...and the same A/B on a 1M-doc ZIPFIAN corpus — real text's
      // token law. The uniform corpus above is the prefilter's WORST
      // case (tf ≈ 1 ⇒ the position payload is one int and the slim
      // pass just re-reads the same bytes); zipf head terms carry long
      // position lists, the payload the containment semi-join exists
      // to keep off the exchange. Filter "phrase_zipf".
      timed("phrase_zipf_build_1m") {
        import spark.implicits._
        val zdocs = spark.range(0L, 1000000L, 1L, 64)
          .map(id => genZipfDoc(id.toLong)).toDF()
        graft.store.PhraseIndex.build(store, "docs_pos_zipf", zdocs,
          "text", "doc_id")
      },
      timed("phrase_zipf_query") {
        val qs = zipfShortQueries(spark, 16)
          .select(col("query_id"), col("qtext").as("phrase"))
        graft.store.PhraseIndex.phraseQuery(store, "docs_pos_zipf",
          qs, "query_id", "phrase").count()
      },
      timed("phrase_zipf_query_prefilter") {
        val qs = zipfShortQueries(spark, 16)
          .select(col("query_id"), col("qtext").as("phrase"))
        graft.store.PhraseIndex.phraseQuery(store, "docs_pos_zipf",
          qs, "query_id", "phrase", prefilter = true).count()
      },
      // At-rest footprint of the UNIFIED store (rows = BYTES on disk,
      // wall time is directory walking): since r17 this is the WHOLE
      // text footprint — r16 kept this table AND a 1.665 GB postings
      // table beside it. Depends on text_index_build.
      timed("phrase_size_bytes") {
        val dir = java.nio.file.Paths.get(storeDir, "docs_text")
        val walk = java.nio.file.Files.walk(dir)
        try walk.filter(java.nio.file.Files.isRegularFile(_))
          .mapToLong(java.nio.file.Files.size(_)).sum()
        finally walk.close()
      },
      // ...and a query batch then reads ONLY its own terms' postings
      // rows (term-sorted row groups + pushed IN filter): the floor of
      // serving retrieval from a maintained index vs re-tokenizing 5M
      // docs per query batch. Depends on text_index_build's table —
      // filter with "text_index,bm25_index".
      timed("bm25_index_query") {
        val qs = docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text").as("qtext"))
        graft.store.TextIndex.query(store, "docs_text",
          qs, "query_id", "qtext", k = 10).count()
      },
      // Champion lists: one maintenance-time pass over the postings
      // (bounded k-heap per term — never a per-term window sort; the
      // near-stopword term with a corpus-sized postings list is exactly
      // the skew case) buys every later query batch ≤ m postings rows
      // per term instead of the full common-term lists that dominate
      // bm25_index_query. Depends on text_index_build — filter with
      // "text_index,bm25".
      timed("bm25_champ_refresh") {
        graft.store.TextIndex.refreshChampions(store, "docs_text", m = 1024)
      },
      // Champion serving is a SHORT-QUERY structure (keyword search):
      // candidates are per-term impact leaders, so a query that names a
      // few terms finds its high-tf matches inside those lists. A
      // full-document query is the opposite shape — its best match (a
      // near-duplicate) leads on NO single term among 5M docs, and
      // measured champion recall on full-doc queries here is 0% — so
      // document-similarity queries stay on the exact path / MinHash,
      // and these entries measure the keyword shape both ways.
      timed("bm25_champ_query") {
        graft.store.TextIndex.queryChampions(store, "docs_text",
          shortQueries(docs), "query_id", "qtext", k = 10,
          fallbackToExact = false).count()
      },
      timed("bm25_exact_query_short") {
        graft.store.TextIndex.query(store, "docs_text",
          shortQueries(docs), "query_id", "qtext", k = 10).count()
      },
      // MaxScore-bounded EXACT probe (r12 verdict #4): per-term score
      // ceilings (harvested by the champion refresh above) + the
      // champion top-k floor split each query's terms; only essential
      // terms' postings are read in full, the common-term lists arrive
      // candidate-restricted. Same answers as bm25_index_query /
      // bm25_exact_query_short — the delta is pure pruning. Depends on
      // bm25_champ_refresh — filter with "text_index,bm25".
      timed("bm25_maxscore_query") {
        val qs = docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("query_id"), col("text").as("qtext"))
        graft.store.TextIndex.queryMaxScore(store, "docs_text",
          qs, "query_id", "qtext", k = 10).count()
      },
      timed("bm25_maxscore_query_short") {
        graft.store.TextIndex.queryMaxScore(store, "docs_text",
          shortQueries(docs), "query_id", "qtext", k = 10).count()
      },
      // Approximation honesty: champion top-10 overlap vs the exact
      // index path on the same short queries, in percent (like
      // ann_recall_pct). m=1024 on 5M docs is the production shape.
      timed("bm25_champ_recall_pct") {
        val exact = graft.store.TextIndex.query(store, "docs_text",
          shortQueries(docs), "query_id", "qtext", k = 10)
          .select(col("query_id"), col("neighbor_id"))
        val champ = graft.store.TextIndex.queryChampions(store, "docs_text",
          shortQueries(docs), "query_id", "qtext", k = 10,
          fallbackToExact = false)
          .select(col("query_id"), col("neighbor_id"))
        val overlap = exact.join(champ, Seq("query_id", "neighbor_id")).count()
        val total = exact.count()
        math.round(100.0 * overlap / math.max(total, 1L))
      },
      // Incremental champion maintenance (r15): a 100k crawl append
      // stales the champions, and the refresh then MERGES only the
      // delta's postings into the committed champion table (per-term
      // top-m is mergeable, df additive, bounds monotone — TextIndexSpec
      // pins merge ≡ rebuild row-for-row) instead of re-scanning the
      // 5M-doc postings chain bm25_champ_refresh above paid for. Runs
      // AFTER every 5M-corpus serving entry so their corpus is
      // untouched. Depends on text_index_build — filter "text_index,bm25".
      // Since r17 this append goes to the positional layout: the
      // 100k batch pays position encoding too — the honest cost of the
      // one unified append path.
      timed("bm25_append_100k") {
        val batch = spark.range(nDocs + 400000L, nDocs + 500000L, 1L, 16)
          .map(id => genDoc(id.toLong)).toDF()
        graft.store.TextIndex.append(store, "docs_text", batch,
          "text", "doc_id")
      },
      timed("bm25_champ_merge_100k") {
        val cv = graft.store.TextIndex.refreshChampions(store, "docs_text",
          m = 1024)
        val mode = store.metaForVersion("docs_text__champ", cv)
          .getOrElse("text.champ.mode", "?")
        System.err.println(s"[scalebench] champ refresh mode=$mode")
        cv
      },
      // r16 evidence for the delta-chained champion commit: the merge
      // above wrote ONLY the delta-touched terms' rows as a chain
      // member (text.champ.parts anchors the previous table). rows =
      // the member's row count — proportional to the 100k batch's
      // touched vocabulary, where r15 rewrote the full vocab·m table
      // every refresh. Depends on bm25_champ_merge_100k — filter
      // "bm25_champ", not "chain_stats".
      timed("bm25_champ_chain_stats") {
        val ct = "docs_text__champ"
        val cv = store.currentVersion(ct)
        val parts = store.metaForVersion(ct, cv)
          .getOrElse("text.champ.parts", "")
        System.err.println(s"[scalebench] champ chain parts='$parts' v=$cv")
        store.loadVersion(ct, cv).count()
      },
      // ...and serving through the 2-member champion chain: the probe
      // reads every member term-zone-pruned plus one candidate-sized
      // resolve exchange — the read-fan-in price the chain trades for
      // its O(touched) refresh writes. Compare bm25_champ_query (run
      // on the single-member chain before the append).
      timed("bm25_champ_query_chained") {
        graft.store.TextIndex.queryChampions(store, "docs_text",
          shortQueries(docs), "query_id", "qtext", k = 10,
          fallbackToExact = false).count()
      },
      // TAKEDOWN at the flagship (r18): tombstone-delete 50k of the
      // ~5.1M indexed docs — an O(ids) commit against the 5M-doc store,
      // NO rebuild (compare text_index_build's ~100+ s) — then serve
      // from the tombstoned chain (the anti-join visibility filter is
      // the only delta vs bm25_exact_query_short), fold via maintain
      // (physical removal + champion rebuild from the survivors), and
      // serve once more from the folded snapshot (the filter is gone —
      // back to the exact pre-delete plan). Depends on
      // text_index_build/bm25_append_100k — filter "text_index,bm25".
      timed("bm25_delete_50k") {
        graft.store.TextIndex.deleteDocs(store, "docs_text",
          spark.range(1000000L, 1050000L).select(col("id").as("doc_id")))
      },
      timed("bm25_serve_tombstoned") {
        graft.store.TextIndex.query(store, "docs_text",
          shortQueries(docs), "query_id", "qtext", k = 10).count()
      },
      timed("bm25_fold_tombstones") {
        graft.store.TextIndex.maintain(store, "docs_text",
          maxChainLength = 4, championM = Some(1024))
        store.currentVersion("docs_text")
      },
      timed("bm25_serve_after_fold") {
        graft.store.TextIndex.query(store, "docs_text",
          shortQueries(docs), "query_id", "qtext", k = 10).count()
      },
      // r16: the chained-champion WRITE saving at a realistic
      // vocabulary. The 4096-term flagship vocab makes every append
      // touch every term, so the docs_bm25 merge entries above cannot
      // show it — here 1M docs span a 500k-term vocabulary (df ≈ 70
      // per term, m = 8 ⇒ champions keep ~1/9 of the 35M postings: the
      // production ratio, where common-term df dwarfs m) and a 5k-doc
      // append draws from a 2k-term SUBVOCAB. Table A refreshes
      // through the chained
      // merge (delta member ≈ touched·m rows); table B folds its chain
      // first, forcing the full-rebuild path (full postings scan +
      // full-vocab champion write) — the paired wall-clock plus the
      // rows= member counts are the evidence. Self-contained; filter
      // "bigvocab" runs the whole family in order.
      timed("bm25_bigvocab_build_x2") {
        import spark.implicits._
        val bdocs = spark.range(0L, 1000000L, 1L, 64)
          .map(id => genBigVocabDoc(id.toLong)).toDF()
        graft.store.TextIndex.build(store, "docs_bm25_bv_a", bdocs,
          "text", "doc_id")
        graft.store.TextIndex.build(store, "docs_bm25_bv_b", bdocs,
          "text", "doc_id")
        2000000L
      },
      timed("bm25_bigvocab_champ_x2") {
        graft.store.TextIndex.refreshChampions(store, "docs_bm25_bv_a", m = 8)
        graft.store.TextIndex.refreshChampions(store, "docs_bm25_bv_b", m = 8)
        2L
      },
      timed("bm25_bigvocab_append_x2") {
        import spark.implicits._
        val batch = spark.range(1000000L, 1005000L, 1L, 16)
          .map(id => genBigVocabDoc(id.toLong, sub = true)).toDF()
        graft.store.TextIndex.append(store, "docs_bm25_bv_a", batch,
          "text", "doc_id", compactEvery = 100)
        graft.store.TextIndex.append(store, "docs_bm25_bv_b", batch,
          "text", "doc_id", compactEvery = 100)
        10000L
      },
      timed("bm25_bigvocab_refresh_merge") {
        val cv = graft.store.TextIndex.refreshChampions(store,
          "docs_bm25_bv_a", m = 8)
        val cmeta = store.metaForVersion("docs_bm25_bv_a__champ", cv)
        System.err.println(s"[scalebench] bigvocab A mode=" +
          s"${cmeta.getOrElse("text.champ.mode", "?")} parts='" +
          s"${cmeta.getOrElse("text.champ.parts", "")}'")
        store.loadVersion("docs_bm25_bv_a__champ", cv).count()
      },
      timed("bm25_bigvocab_fold_b") {
        // fold B's postings chain: the delta becomes unrecoverable and
        // the next refresh MUST take the full-rebuild path
        graft.store.TextIndex.compactIndex(store, "docs_bm25_bv_b")
        1L
      },
      timed("bm25_bigvocab_refresh_rebuild") {
        val cv = graft.store.TextIndex.refreshChampions(store,
          "docs_bm25_bv_b", m = 8)
        val cmeta = store.metaForVersion("docs_bm25_bv_b__champ", cv)
        System.err.println(s"[scalebench] bigvocab B mode=" +
          s"${cmeta.getOrElse("text.champ.mode", "?")}")
        store.loadVersion("docs_bm25_bv_b__champ", cv).count()
      },
      // and the serving check: both tables answer the same query batch
      // exactly (A through its 2-member champion chain, B through the
      // folded rebuild) — equal rows= is the in-bench sanity.
      timed("bm25_bigvocab_serve_x2") {
        import spark.implicits._
        val qs = (0 until 8).map { i =>
          val d = genBigVocabDoc(i * 31000L)
          (i.toLong, d.text.split(" ").take(4).mkString(" "))
        }.toDF("query_id", "qtext")
        val a = graft.store.TextIndex.queryChampions(store, "docs_bm25_bv_a",
          qs, "query_id", "qtext", k = 10, fallbackToExact = false)
          .select(col("query_id"), col("neighbor_id")).collect().toSet
        val b = graft.store.TextIndex.queryChampions(store, "docs_bm25_bv_b",
          qs, "query_id", "qtext", k = 10, fallbackToExact = false)
          .select(col("query_id"), col("neighbor_id")).collect().toSet
        require(a == b, "chained and rebuilt champions diverged")
        a.size.toLong
      },
      // TAKEDOWN + champion DELETE-MERGE (r18) at the realistic
      // vocabulary, at the feature's DESIGN POINT — a takedown-sized
      // batch (150 docs ⇒ ~10k touched terms of the 500k vocab, under
      // the TouchedZoneCap): the refresh re-selects only the touched
      // terms through the zone-pruned term probe instead of the
      // full-rebuild path a delete used to force — rows= is the
      // committed member size (touched·m) vs the rebuild's 4.0M-row
      // full champion write. (A 1000-doc batch was measured to touch
      // 67k terms and DEMOTES to rebuild by the cap — the recorded
      // crossover.) Runs AFTER the serve_x2 equality check (the delete
      // makes A and B diverge). Depends on the bigvocab family above —
      // filter "bigvocab".
      timed("bm25_bigvocab_delete_150") {
        graft.store.TextIndex.deleteDocs(store, "docs_bm25_bv_a",
          spark.range(500000L, 500150L).select(col("id").as("doc_id")))
      },
      timed("bm25_bigvocab_delete_merge") {
        val cv = graft.store.TextIndex.refreshChampions(store,
          "docs_bm25_bv_a", m = 8)
        val cmeta = store.metaForVersion("docs_bm25_bv_a__champ", cv)
        System.err.println(s"[scalebench] bigvocab A delete mode=" +
          s"${cmeta.getOrElse("text.champ.mode", "?")}")
        store.loadVersion("docs_bm25_bv_a__champ", cv).count()
      },
      // The same measurement on a 1M-doc ZIPFIAN corpus — real text's
      // token law, hence real tf concentration. The uniform-corpus
      // number above is the structure's worst case (documented in
      // TextIndex.queryChampions); this is its working regime.
      timed("bm25_champ_recall_zipf_pct") {
        // r17: served from the UNIFIED zipf store phrase_zipf_build_1m
        // committed (no second 1M-doc build of the same corpus) —
        // champions refresh over the slim projection. Usually built by
        // phrase_zipf_build_1m (filter "zipf" runs the family in
        // order); a narrower filter that skips that entry builds the
        // store on demand here instead of aborting (r17 review).
        val zdocs = spark.range(0L, 1000000L, 1L, 64)
          .map(id => genZipfDoc(id.toLong)).toDF()
        if (!store.exists("docs_pos_zipf"))
          graft.store.PhraseIndex.build(store, "docs_pos_zipf", zdocs,
            "text", "doc_id")
        graft.store.TextIndex.refreshChampions(store, "docs_pos_zipf",
          m = 1024)
        val qs = shortQueries(zdocs, ids = Seq(0L, 400000L, 800000L))
        val exact = graft.store.TextIndex.query(store, "docs_pos_zipf",
          qs, "query_id", "qtext", k = 10)
          .select(col("query_id"), col("neighbor_id"))
        val champ = graft.store.TextIndex.queryChampions(store,
          "docs_pos_zipf", qs, "query_id", "qtext", k = 10,
          fallbackToExact = false)
          .select(col("query_id"), col("neighbor_id"))
        val overlap = exact.join(champ, Seq("query_id", "neighbor_id")).count()
        val total = exact.count()
        math.round(100.0 * overlap / math.max(total, 1L))
      },
      // Batch keyword serving on the ZIPF corpus — MaxScore's working
      // regime: with real token-law tf concentration every query mixes
      // a near-stopword (corpus-sized postings list) with rarer terms
      // whose champion floor proves the stopword non-essential, and a
      // 64-query batch amortizes the per-batch champion probe that
      // dominates the 3-query entries above. EXACT, unlike champ_query:
      // identical answers to the plain probe, the delta is pure
      // pruning. Depends on phrase_zipf_build_1m (builds docs_pos_zipf)
      // and bm25_champ_recall_zipf_pct (refreshes its champions) —
      // filter "zipf" runs the whole family in order.
      timed("bm25_exact_zipf_batch") {
        if (!store.exists("docs_pos_zipf")) // narrower-filter on-demand build
          graft.store.PhraseIndex.build(store, "docs_pos_zipf",
            spark.range(0L, 1000000L, 1L, 64)
              .map(id => genZipfDoc(id.toLong)).toDF(), "text", "doc_id")
        graft.store.TextIndex.query(store, "docs_pos_zipf",
          zipfShortQueries(spark, 64), "query_id", "qtext", k = 10).count()
      },
      timed("bm25_maxscore_zipf_batch") {
        if (!store.exists("docs_pos_zipf")) // narrower-filter on-demand build
          graft.store.PhraseIndex.build(store, "docs_pos_zipf",
            spark.range(0L, 1000000L, 1L, 64)
              .map(id => genZipfDoc(id.toLong)).toDF(), "text", "doc_id")
        graft.store.TextIndex.queryMaxScore(store, "docs_pos_zipf",
          zipfShortQueries(spark, 64), "query_id", "qtext", k = 10).count()
      },
      // Zone-map layout: commit the corpus range-clustered on doc_id with
      // per-file min/max harvested footer-only at commit. The build price
      // is the clustering shuffle + write — paid once per snapshot.
      timed("zones_commit_5m") {
        store.commit("docs_zones",
          docs.repartitionByRange(64, col("doc_id")),
          sortKey = Some("doc_id"), statsCols = Seq("doc_id"))
        nDocs
      },
      // ...and the payoff: a narrow id-range lookup enumerates only the
      // surviving files (expected 1-2 of 64) instead of opening every
      // footer. The full-scan twin below is the same predicate without
      // pruning — the gap is pure skipped IO. Depends on zones_commit_5m
      // — filter with "zones", not "zones_pruned".
      timed("zones_pruned_lookup") {
        val preds = Seq(graft.store.ZoneMap.longRange(
          "doc_id", 1000000L, 1000999L))
        val (kept, total) = graft.store.ZoneMap.selectedFiles(
          store, "docs_zones", preds)
        System.err.println(s"[scalebench] zones kept ${kept.size}/$total files")
        graft.store.ZoneMap.prunedScan(store, "docs_zones", preds).count()
      },
      timed("zones_full_lookup") {
        store.load("docs_zones")
          .filter(col("doc_id").between(1000000L, 1000999L)).count()
      },
      // Connected components isolated on a worst-case synthetic graph:
      // 2M nodes in 2000 chains of depth 1000 — plain propagation would
      // need ~1000 rounds; pointer jumping must close it in ~a dozen.
      timed("components_2m_chain") {
        val edges = spark.range(0L, 2000000L, 1L, 64)
          .filter(col("id") % 1000 =!= 999)
          .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
        Dedup.connectedComponents(edges.toDF(), "id_a", "id_b")
          .select(col("component_id")).distinct().count()
      },
      // Lineage-closure maintenance op on a worst-reasonable synthetic
      // frame: 5M lineage rows in 500k chains of depth 9 (keep = id-1
      // except at each chain head) — closed-form truth root = id - id%10
      // lets the entry VERIFY every row distributively (a wrong root is
      // a filter hit, no collect). Pointer jumping must close depth 9 in
      // 4 rounds; the cost is 4 lineage-sized self-joins + cuts.
      timed("lineage_close_5m") {
        val lineage = spark.range(0L, 5000000L, 1L, 64)
          .select(col("id"),
            when(col("id") % 10 === 0, col("id"))
              .otherwise(col("id") - 1).as("keep_id"))
        val closed = graft.store.CurationIngest.closeLineage(lineage)
        val bad = closed
          .filter(col("keep_id") =!= col("id") - col("id") % 10).count()
        require(bad == 0L, s"$bad rows closed to the wrong root")
        5000000L
      },
      timed("dedup_simhash_h3") {
        Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 3).count()
      },
      timed("dedup_simhash_h6") {
        Dedup.simhashNearDupPairs(docs, "text", "doc_id", maxHamming = 6).count()
      },
      timed("dedup_embed_pairs") {
        // 0.999 isolates the planted copies (cos ≈ 0.9999) from ordinary
        // same-cluster neighbors (cos ≈ 0.986 at this noise level)
        Similarity.embeddingNearDupPairs(embs, "vec_id", "embedding",
          dim = Dim, threshold = 0.999, nTables = 8, bitsPerTable = 16).count()
      },
      timed("semdedup_1m") {
        // SemDeDup at the corpus's REAL cluster structure: 1024 k-means
        // lists over the 1024 generated clusters (~1000 members each,
        // well under the cap), eps = 0.999 isolates the planted
        // near-identical copies from ordinary same-cluster neighbors
        // (cos ≈ 0.986) — expect ~nVecs/1000 dropped survivors.
        val out = Similarity.semDedup(embs, "vec_id", "embedding",
          dim = Dim, nClusters = 1024, eps = 0.999, maxClusterSize = 20000)
        val dropped = out.filter(!col("kept")).count()
        require(dropped > 0, "planted copies must be deduplicated")
        out.count()
      },
      timed("sim_brute_topk") {
        Similarity.bruteForceTopK(embs, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 10).count()
      },
      timed("sim_ann_topk") {
        Similarity.annTopK(embs, "vec_id", "embedding",
          queries, "query_id", "qvec", dim = Dim, k = 10,
          nPlanes = 16, multiprobe = 32).count()
      },
      timed("sim_ivf_topk") {
        Similarity.ivfTopK(embs, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 10, nLists = 1024, nProbe = 16).count()
      },
      timed("sim_ivfpq_topk") {
        // the flagship-measured setting that reaches recall@10 = 1.0:
        // 8-bit codebooks + exact re-rank of the top-1280 ADC shortlist
        Similarity.ivfPqTopK(embs, "vec_id", "embedding",
          queries, "query_id", "qvec", dim = Dim, k = 10,
          nLists = 1024, nProbe = 16, kCodes = 256, refine = 128).count()
      },
      // Trainer-vs-query split (r11 verdict #6): the one-shot entries
      // above conflate k-means training with serving, so their numbers
      // overstate the per-batch cost of an amortized deployment (the
      // VectorIndex path already measures the persistent variant; these
      // pin the in-memory one). Train once, stash, serve with the
      // committed models. Depends on the vars below — filter "sim_".
      timed("sim_ivf_train") {
        ivfCentroids = Some(Similarity.trainIvfCentroids(
          embs, "embedding", nLists = 1024))
        1024L
      },
      // The three dependents below self-skip (sentinel -1) when their
      // trainer was filtered out of the run: sim_pq_train would
      // otherwise silently train NON-residual codebooks (residualOf =
      // None) and the *_query entries would silently re-train inline —
      // measuring a different thing under the same name (r13 advice).
      timed("sim_pq_train") {
        if (ivfCentroids.isEmpty) -1L
        else {
          pqCodebooks = Some(Similarity.trainPqCodebooks(
            embs, "embedding", dim = Dim, m = 16, k = 256,
            residualOf = ivfCentroids))
          256L
        }
      },
      timed("sim_ivf_query") {
        if (ivfCentroids.isEmpty) -1L
        else Similarity.ivfTopK(embs, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 10, nLists = 1024, nProbe = 16,
          centroidsOpt = ivfCentroids).count()
      },
      timed("sim_ivfpq_query") {
        if (ivfCentroids.isEmpty || pqCodebooks.isEmpty) -1L
        else Similarity.ivfPqTopK(embs, "vec_id", "embedding",
          queries, "query_id", "qvec", dim = Dim, k = 10,
          nLists = 1024, nProbe = 16, kCodes = 256, refine = 128,
          centroidsOpt = ivfCentroids, codebooksOpt = pqCodebooks).count()
      },
      // Recall@10 vs exact brute force at the full 1M — the accuracy half
      // of the ANN story (speed alone is meaningless if the probes miss).
      timed("ann_recall_pct") {
        def topSets(df: DataFrame): Map[Long, Set[Long]] =
          df.select(col("query_id"), col("neighbor_id"))
            .as[(Long, Long)].collect()
            .groupBy(_._1).map { case (q, a) => q -> a.map(_._2).toSet }
        val truth = topSets(Similarity.bruteForceTopK(embs, "vec_id",
          "embedding", queries, "query_id", "qvec", k = 10))
        def recall(df: DataFrame): Double = {
          val got = topSets(df)
          truth.map { case (q, t) =>
            got.getOrElse(q, Set.empty[Long]).intersect(t).size / t.size.toDouble
          }.sum / truth.size
        }
        val rAnn = recall(Similarity.annTopK(embs, "vec_id", "embedding",
          queries, "query_id", "qvec", dim = Dim, k = 10,
          nPlanes = 16, multiprobe = 32))
        // reuse the split entries' trained models (deterministic for
        // (content, seed), so results are identical to inline training —
        // and the recall of the SERVED configuration is what this entry
        // is supposed to measure). Falls back to inline training when
        // the split entries were filtered out of the run.
        val rIvf = recall(Similarity.ivfTopK(embs, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 10, nLists = 1024, nProbe = 16,
          centroidsOpt = ivfCentroids))
        // 8-bit codebooks (kCodes=256, the production PQ setting — still
        // 16-byte codes) across the refine curve: ADC noise vs the
        // ~0.005 within-cluster cosine gaps decides how deep the exact
        // re-rank shortlist must go.
        val rPqCurve = Seq(1, 8, 32, 128).map { r =>
          r -> recall(Similarity.ivfPqTopK(embs, "vec_id", "embedding",
            queries, "query_id", "qvec", dim = Dim, k = 10,
            nLists = 1024, nProbe = 16, kCodes = 256, refine = r,
            centroidsOpt = ivfCentroids, codebooksOpt = pqCodebooks))
        }
        val curveStr = rPqCurve.map { case (r, v) => f"r$r=$v%.3f" }.mkString(" ")
        System.err.println(
          f"[scalebench] recall@10  ann=$rAnn%.3f ivf=$rIvf%.3f ivfpq: $curveStr")
        math.round((rAnn + rIvf + rPqCurve.last._2) / 3 * 100)
      },
      timed("index_build") {
        VectorIndex.build(store, "emb_idx", embs, "vec_id", "embedding",
          dim = Dim, nLists = 1024, kCodes = 256)
        nVecs
      },
      timed("index_query") {
        VectorIndex.query(store, "emb_idx", queries, "query_id", "qvec",
          k = 10, nProbe = 16).count()
      },
      timed("index_query_refined") {
        VectorIndex.queryRefined(store, "emb_idx", embs, "vec_id", "embedding",
          queries, "query_id", "qvec", k = 10, nProbe = 16, refine = 128).count()
      },
      timed("index_append_10k") {
        import spark.implicits._
        val batch = spark.range(nVecs, nVecs + 10000L, 1L, 8).map(id => genEmb(id.toLong))
        VectorIndex.append(store, "emb_idx", batch.toDF(), "vec_id", "embedding")
        10000L
      },
      // 10× the batch: delta-append cost must track the BATCH, not the
      // corpus (a ~linear-in-batch step up from the 10k number, nowhere
      // near the full index_build time).
      timed("index_append_100k") {
        import spark.implicits._
        val batch = spark.range(nVecs + 10000L, nVecs + 110000L, 1L, 16)
          .map(id => genEmb(id.toLong))
        VectorIndex.append(store, "emb_idx", batch.toDF(), "vec_id", "embedding")
        100000L
      },
      // Streaming maintenance end-to-end at the flagship index: 5 file
      // micro-batches of 20k vectors each through maintainFromStream
      // (foreachBatch → appendBatchOnce, exactly-once via the batch-id
      // watermark) — the write path a production index actually runs.
      timed("index_stream_5x20k") {
        import spark.implicits._
        val base = nVecs + 110000L
        val inbox = s"$dir/inbox-${System.currentTimeMillis()}"
        (0 until 5).foreach { b =>
          spark.range(base + b * 20000L, base + (b + 1) * 20000L, 1L, 4)
            .map(id => genEmb(id.toLong)).write.parquet(s"$inbox/b$b.parquet")
        }
        val stream = spark.readStream
          .schema(Tables.embeddings(spark, dir).schema)
          .option("maxFilesPerTrigger", 4) // 4 part-files ≈ one dir per trigger
          .parquet(s"$inbox/*.parquet")
        val q = VectorIndex.maintainFromStream(store, "emb_idx", stream,
          "vec_id", "embedding", s"$inbox-ckpt")
        q.processAllAvailable()
        q.stop()
        VectorIndex.load(store, "emb_idx").count()
      }
    ).flatten ++ eventBenches(spark, dir, timed)

    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val rows = results.map { case (k, _, r) => "\"" + k + "\":" + r }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    println(s"""{"metric":"scale_total","value":$total,"unit":"sec","queries":$qs,"rows":$rows,"nDocs":$nDocs,"nVecs":$nVecs,"dir":"$dir"}""")
  }

  /** Event-analytics flagship (50M events, 150k users, 1 % whale skew):
    * the PRODUCTION EventQueries entry points run unchanged against the
    * generated events table — this is the evidence the per-user window
    * plans (sessions, funnel), the histogram quantile plan, and the
    * pair-shuffle retention plan hold at ~1000× the sf0.1 row count and
    * under real key skew. Skipped (with a log line) on corpora generated
    * before the events recipe existed. */
  private def eventBenches(
      spark: SparkSession, dir: String,
      timed: String => (=> Long) => Option[(String, Double, Long)])
      : Seq[(String, Double, Long)] = {
    if (!new java.io.File(s"$dir/events.parquet").exists()) {
      System.err.println(
        s"[scalebench] no events.parquet under $dir — regenerate " +
          "(ScaleBench gen) for the event-analytics flagship")
      return Seq.empty
    }
    import graft.queries.EventQueries
    // Captured by ev_funnel_50m for the streaming twin's equivalence
    // check (the usual producer/dependent filter contract).
    var batchFunnelTotal = -1L
    Seq(
      timed("ev_hourly_50m") {
        EventQueries.hourlyAgg(spark, dir).count()
      },
      timed("ev_sessions_50m") {
        EventQueries.sessions(spark, dir).count()
      },
      timed("ev_funnel_50m") {
        import org.apache.spark.sql.functions.sum
        val v = EventQueries.funnel(spark, dir, horizonUs = 7L * 86400L * 1000000L)
          .agg(sum(org.apache.spark.sql.functions.col("users")))
          .collect()(0).getLong(0)
        batchFunnelTotal = v
        v
      },
      timed("ev_retention_50m") {
        EventQueries.retention(spark, dir).count()
      },
      timed("ev_quantiles_50m") {
        EventQueries.quantiles(spark, dir).count()
      },
      timed("ev_sliding_50m") {
        EventQueries.slidingActivity(spark, dir).count()
      },
      timed("ev_asof_50m") {
        EventQueries.asofPurchase(spark, dir).count()
      },
      // Streaming funnel at the flagship: the one component whose scale
      // behavior was spec-only (r9 verdict item 7). Single AvailableNow
      // trigger = one micro-batch, so the intra-batch (ts, event_id)
      // sort absorbs all disorder and the streamed step rows must EQUAL
      // the batch funnel's user counts — asserted here, at 50M events /
      // 150k users, not just at spec scale. State sizing (one k-long
      // record per user) is read off the query's stateOperators progress
      // and logged for NOTES.
      timed("ev_funnel_stream_50m") {
        import org.apache.spark.sql.streaming.Trigger
        val horizon = 7L * 86400L * 1000000L
        val schema = spark.read.parquet(s"$dir/events.parquet").schema
        val stream = spark.readStream.schema(schema)
          .parquet(s"$dir/events.parquet")
        val ckpt = TempDirs.create("graft-funnel-ckpt").toString
        val acc = spark.sparkContext.longAccumulator("stepRows")
        val q = graft.streaming.StreamingFunnel
          .funnelSteps(stream, horizonUs = horizon)
          .writeStream
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreach(new org.apache.spark.sql.ForeachWriter[
            graft.streaming.StreamingFunnel.StepReached] {
            def open(p: Long, v: Long) = true
            def process(r: graft.streaming.StreamingFunnel.StepReached): Unit =
              acc.add(1L)
            def close(e: Throwable): Unit = ()
          })
          .start()
        q.awaitTermination()
        Option(q.lastProgress).flatMap(p => p.stateOperators.headOption)
          .foreach { so =>
            System.err.println(
              s"[scalebench] ev_funnel_stream_50m state: " +
                s"rows=${so.numRowsTotal} mem=${so.memoryUsedBytes}B " +
                s"updated=${so.numRowsUpdated}")
          }
        val streamed = acc.value
        // The equality contract holds only if the WHOLE backlog landed in
        // one micro-batch (intra-batch sort absorbs disorder; part files
        // are not time-partitioned, so a split backlog may legitimately
        // diverge). Verify that before comparing, instead of turning a
        // config change into a phantom engine bug.
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        if (dataBatches != 1)
          System.err.println(
            s"[scalebench] ev_funnel_stream_50m: backlog split into " +
              s"$dataBatches micro-batches — equality check skipped " +
              "(cross-batch event-time order is not guaranteed)")
        else if (batchFunnelTotal >= 0L)
          require(streamed == batchFunnelTotal,
            s"streamed funnel rows $streamed != batch total $batchFunnelTotal")
        else System.err.println(
          "[scalebench] ev_funnel_stream_50m: ev_funnel_50m filtered out — " +
            "equivalence check skipped (include it in the filter)")
        def del(p: java.io.File): Unit = {
          Option(p.listFiles).foreach(_.foreach(del)); p.delete(): Unit
        }
        del(new java.io.File(ckpt))
        streamed
      }
    ).flatten
  }
}
