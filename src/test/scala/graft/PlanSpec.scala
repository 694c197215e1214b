package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

import graft.queries.RelationalQueries

/** Physical-plan assertions: the properties that make these queries scale
  * (filter pushdown to parquet, column pruning, broadcast joins for small
  * dims, bounded shuffle counts, top-k instead of global sort) are checked
  * here so a regression in plan shape fails CI, not a 100 TB run. */
class PlanSpec extends SparkSpec {

  private def executed(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  private def planString(df: DataFrame): String = {
    df.collect() // finalize AQE so the plan is the real one
    executed(df).toString
  }

  private def countExchanges(df: DataFrame): Int = {
    df.collect()
    executed(df).collect { case e: Exchange => e }.size
  }

  test("P filters push down to the parquet scan") {
    val s = planString(RelationalQueries.p4PointLookup(spark, sfDir))
    assert(s.contains("PushedFilters") &&
      (s.contains("IsNotNull(o_orderkey)") || s.contains("EqualTo(o_orderkey")),
      s"point-lookup filter not pushed:\n$s")
  }

  test("projection prunes the scan schema (ReadSchema ⊄ full table)") {
    val s = planString(RelationalQueries.p2Project(spark, sfDir))
    assert(s.contains("ReadSchema"))
    assert(!s.contains("o_orderpriority"),
      s"unused column not pruned from scan:\n$s")
  }

  test("semi-join against a filtered dim is a broadcast join") {
    val s = planString(RelationalQueries.p7SemiJoin(spark, sfDir))
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftSemi"),
      s"semi-join not broadcast:\n$s")
  }

  test("dimension-chain join broadcasts nation and region") {
    val s = planString(RelationalQueries.j2InnerJoin(spark, sfDir))
    assert(s.contains("BroadcastHashJoin"), s"dims not broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"dim join degenerated to sort-merge:\n$s")
  }

  test("top-k plans as TakeOrderedAndProject, not a global sort") {
    val s = planString(RelationalQueries.o3TopK(spark, sfDir))
    assert(s.contains("TakeOrderedAndProject"), s"no top-k operator:\n$s")
  }

  test("grouped aggregation is two-phase (partial + final HashAggregate)") {
    val s = planString(RelationalQueries.a5GroupCount(spark, sfDir))
    assert(s.contains("HashAggregate"), s)
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      s"partial aggregation missing (map-side combine):\n$s")
  }

  test("q1 pricing runs in ≤1 shuffle (scan → partial agg → exchange → final)") {
    assert(countExchanges(RelationalQueries.q1Pricing(spark, sfDir)) <= 1)
  }

  test("sliding windows stay a two-phase hash agg, no per-event sort") {
    // window(ts, 10m, 5m) expands each event to its two windows and then
    // aggregates — the scale shape is expand → partial agg → one exchange
    // → final agg. A Window/Sort operator here would mean the overlap was
    // planned as a per-event window function, which cannot map-side
    // combine and collapses at 100 TB.
    val df = graft.queries.EventQueries.slidingActivity(spark, sfDir)
    val s = planString(df)
    assert("HashAggregate".r.findAllIn(s).size >= 2,
      s"sliding agg lost map-side combine:\n$s")
    assert(!s.contains("Window"), s"sliding agg planned as window function:\n$s")
    assert(countExchanges(df) <= 1, s"extra shuffle in sliding agg:\n$s")
  }

  test("q3 join+agg keeps lineitem to ≤3 exchanges (join key + group key)") {
    // lineitem⨝orders shuffle on the join key, customer broadcast, final
    // group-by reuses/repartitions — anything above 4 exchanges means a
    // redundant shuffle crept in.
    assert(countExchanges(RelationalQueries.q3Revenue(spark, sfDir)) <= 4)
  }

  test("whole-stage codegen covers the q1 aggregation pipeline") {
    val s = planString(RelationalQueries.q1Pricing(spark, sfDir))
    // executedPlan.toString marks codegen stages with "*(n)" prefixes
    assert(s.contains("*(") || s.contains("WholeStageCodegen"),
      s"no codegen spans:\n$s")
  }

  test("pack_shards prunes unused document columns from the scan") {
    val s = planString(graft.queries.ExtensionQueries.packShards(spark, sfDir))
    assert(s.contains("ReadSchema"))
    // the documents table also carries lang and n_chars — neither is used
    assert(!s.contains("n_chars") && !s.contains("lang"),
      s"unused document columns not pruned:\n$s")
  }

  test("near-dup pair paths: one bucket shuffle + one distinct, no self-join") {
    // The in-bucket verify shape must hold in the physical plan: the key
    // explode feeds ONE hash exchange on (band|table, bucket); the window
    // cap and the collect_list ride that same partitioning (no second
    // exchange); the only other exchange is the final tiny distinct on
    // (id_a, id_b). A third exchange means the self-join shape — the one
    // that OOM'd the 1M-vector flagship run — has crept back in.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val simhash = graft.functions.Dedup.simhashNearDupPairs(
      docs, "text", "doc_id", maxHamming = 6)
    assert(countExchanges(simhash) <= 2,
      s"simhash pairs plan regressed:\n${planString(simhash)}")

    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val embed = graft.functions.Similarity.embeddingNearDupPairs(
      embs, "vec_id", "embedding", dim = 64, threshold = 0.99)
    assert(countExchanges(embed) <= 2,
      s"embed pairs plan regressed:\n${planString(embed)}")
  }

  test("IVFPQ + refine: the corpus never shuffles") {
    // Both joins against the corpus must be broadcast (probe rows into
    // the encoded scan; shortlist + query vectors into the re-rank scan).
    // The only exchanges are the two candidate-sized top-k windows
    // (shortlist rank, final rank) — a third exchange means the corpus
    // itself started moving.
    import org.apache.spark.sql.functions._
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = embs.filter(col("vec_id") < 3)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val out = graft.functions.Similarity.ivfPqTopK(
      embs, "vec_id", "embedding", q, "query_id", "qvec",
      dim = 64, k = 5, nLists = 4, nProbe = 2, m = 8, kCodes = 16, refine = 4)
    val s = planString(out)
    assert(s.contains("BroadcastHashJoin"), s"corpus joins not broadcast:\n$s")
    assert(countExchanges(out) <= 2, s"corpus-shuffling plan:\n$s")
  }

  test("full-scan similarity top-k is a bounded aggregate, not a window sort") {
    // bruteForceTopK / pqTopK score the WHOLE corpus per query. Ranked via
    // `row_number over (partition by query_id order by score)`, every scored
    // row hash-exchanges to the one task owning its query, which then sorts
    // the query's entire candidate set — an N-row single-task spill-sort
    // per query at 100× scale. bounded_top_k must plan as a two-phase
    // ObjectHashAggregate (map-side k-heaps; only Q·partitions·k heap
    // entries cross the exchange) with no Window anywhere in the plan.
    for (df <- Seq(graft.queries.ExtensionQueries.simBruteTopK(spark, sfDir),
                   graft.queries.ExtensionQueries.simPqTopK(spark, sfDir))) {
      val s = planString(df)
      assert("ObjectHashAggregate".r.findAllIn(s).size >= 2,
        s"two-phase bounded top-k missing (partial + final):\n$s")
      assert(!s.contains("Window"),
        s"corpus-sized per-query window sort crept back:\n$s")
    }
  }

  test("hashed featurization is a pure map: zero exchanges") {
    // The signed-count vector accumulates per ROW (native expression);
    // any exchange here means the groupBy(id, bucket) formulation — a
    // docs·dim-group aggregate at scale — crept back.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val sp = graft.functions.Featurize.hashFeaturesSparse(docs, "text", "doc_id", 64)
    assert(countExchanges(sp) === 0, s"featurization shuffles:\n${planString(sp)}")
  }

  test("repetition stats are a pure map: zero exchanges") {
    // Every column is a function of one row's token array (per-row
    // HashMap in NgramRepetition); an exchange here means the explode +
    // groupBy(doc, gram) formulation — a corpus·windows-row shuffle into
    // a mostly-unique-key aggregate at scale — crept back.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = docs.select(col("doc_id"),
      graft.plans.TextExpressions.ngramRepetition(col("text"), 2).as("r2"),
      graft.plans.TextExpressions.ngramRepetition(col("text"), 3).as("r3"))
    assert(countExchanges(df) === 0, s"repetition shuffles:\n${planString(df)}")
  }

  test("decontamination: in-expression hash probe, corpus grams never shuffle") {
    // The corpus pass must be a FILTER on the per-row benchmark-set hit
    // count (SortedLongSetHits) — no explode, no join, no exchange until
    // the candidate-sized verify. The only join is the broadcast string
    // verify; a SortMergeJoin anywhere means corpus windows started
    // shuffling — the 100×-scale regression.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val df = graft.functions.Dedup.benchmarkOverlap(
      docs.filter(col("doc_id") % 23 =!= 0),
      docs.filter(col("doc_id") % 23 === 0),
      "text", "doc_id", n = 5)
    val s = planString(df)
    assert(s.contains("sorted_long_set_hits"),
      s"fused membership filter missing from the corpus scan:\n$s")
    assert(s.contains("BroadcastHashJoin"), s"string verify not broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus-side shuffle join:\n$s")
    assert(countExchanges(df) <= 3, s"extra shuffle in decon plan:\n$s")
  }

  test("sparse retrieval: broadcast postings join + bounded top-k, no window") {
    // The corpus postings must NOT shuffle to meet the (small) query
    // postings — the join on the bucket key is broadcast — and ranking is
    // the same two-phase bounded aggregate as the dense paths. A Window
    // or a non-broadcast postings join is the 100×-scale regression.
    val df = graft.queries.ExtensionQueries.retrieveSparse(spark, sfDir)
    val s = planString(df)
    assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
      s"query postings not broadcast:\n$s")
    assert("ObjectHashAggregate".r.findAllIn(s).size >= 2,
      s"two-phase bounded top-k missing:\n$s")
    assert(!s.contains("Window"), s"window sort crept in:\n$s")
  }

  test("exact jaccard join: hash joins only, no nested-loop candidate plan") {
    // Prefix filtering must produce equi-joins end-to-end (dfreq join,
    // prefix self-join, verify joins). A BroadcastNestedLoopJoin or
    // CartesianProduct means the all-pairs comparison crept back. The
    // operator is eager+persisted, so the join plans live inside the
    // cached-relation build plans — recurse through every cache level.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def deepPlanString(p0: SparkPlan): String = {
      // AQE roots are leaves to collect(); unwrap to the real plan first
      val p = p0 match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val nested = p.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
      (p.toString +: nested.map(deepPlanString)).mkString("\n")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val pairs = graft.functions.Dedup.ngramJaccardPairs(
      docs, "text", "doc_id", tauNum = 4, tauDen = 5)
    val s = deepPlanString(executed(pairs))
    assert(s.contains("Join"), s"expected the cached join pipeline:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"non-equi candidate join:\n$s")
  }

  test("fuzzy decon plan: no corpus window, bench prefixes broadcast") {
    // The r13 rewrite's load-bearing claims, pinned by plan shape: the
    // union-df formulation ran corpus-postings-sized Windows (dfreq
    // count over h, prefix row_number over doc) behind a full
    // repartition; the sampled-rarity path must have NO Window operator
    // anywhere (the order rides in the RarityPrefix expression), and
    // the candidate join must probe BROADCAST benchmark prefixes —
    // candidate generation is a pure map scan of the training side.
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def deepPlanString(p0: SparkPlan): String = {
      val p = p0 match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case other => other
      }
      val nested = p.collect { case s: InMemoryTableScanExec => s.relation.cachedPlan }
      (p.toString +: nested.map(deepPlanString)).mkString("\n")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .filter(col("doc_id") < 2000)
    val out = graft.functions.Dedup.benchmarkNearDups(
      docs.select(col("doc_id"), col("text")),
      docs.filter(col("doc_id") % 23 === 0).select(col("doc_id"), col("text")),
      "text", "doc_id")
    try {
      val s = deepPlanString(executed(out))
      assert(!s.contains("Window"),
        s"corpus-sized df/prefix window crept back into decon:\n$s")
      assert(s.contains("BroadcastHashJoin") || s.contains("BroadcastExchange"),
        s"bench prefixes not broadcast:\n$s")
      assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
        s"non-equi candidate join:\n$s")
      assert(s.contains("rarity_prefix") || s.contains("RarityPrefix"),
        s"expected the in-expression prefix computation:\n$s")
    } finally out.unpersist(blocking = false)
  }

  test("rarity-prefix scan stays inside whole-stage codegen") {
    // RarityPrefix implements doGenCode (compiled call into its own
    // compute), so the candidate-generation projection — a full-corpus
    // scan at decon time — must sit inside a codegen span.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val hArr = graft.plans.TextExpressions.wordShingleHashesOfText(
      org.apache.spark.sql.functions.lower(col("text")), 3)
    val pref = docs.select(
      col("doc_id"),
      graft.plans.TextExpressions.rarityPrefix(
        hArr, Array(1L, 5L, 9L), Array(3L, 2L, 7L), 4, 5).as("pref"))
    pref.collect()
    val s = executed(pref).toString
    val projLine = s.linesIterator.find(l =>
      l.contains("rarity_prefix") || l.contains("RarityPrefix")).getOrElse(
      s.linesIterator.find(_.contains("Project")).getOrElse(""))
    assert(projLine.trim.startsWith("*") || projLine.contains("*("),
      s"rarity-prefix projection fell out of codegen:\n$s")
  }

  test("minhash key-probe filter stays inside whole-stage codegen") {
    // MinHashKeyHits is the DEFAULT corpus-scan prefilter of every
    // incremental dedup append (r14): one boolean per stored doc,
    // signature recomputed in-expression. Falling out of codegen here
    // would put an interpreted eval on the append's hottest path.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val hArr = graft.plans.TextExpressions.wordShingleHashesOfText(
      org.apache.spark.sql.functions.lower(col("text")), 3)
    val probed = docs
      .select(col("doc_id"), hArr.as("h_arr"))
      .filter(graft.plans.VectorExpressions.minhashKeyHits(
        col("h_arr"), 32, 16, Array(-9L, 3L, 77L)))
    probed.collect()
    val s = executed(probed).toString
    val filterLine = s.linesIterator.find(l =>
      l.contains("minhashkeyhits") || l.contains("MinHashKeyHits")).getOrElse(
      s.linesIterator.find(_.contains("Filter")).getOrElse(""))
    assert(filterLine.trim.startsWith("*") || filterLine.contains("*("),
      s"minhash key-probe filter fell out of codegen:\n$s")
  }

  test("hyperplane key-probe and fused table keys stay inside codegen") {
    // HyperplaneTableKeys is the key-side scan expression of the slim
    // EmbedIndex (r15) and HyperplaneKeyHits its opt-in prefilter —
    // both on the append's corpus-scan path, both must sit inside a
    // whole-stage span like their MinHash/SimHash twins.
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
    val keyed = emb.select(col("vec_id"),
        graft.plans.VectorExpressions
          .hyperplaneTableKeys(col("embedding"), 64, 4, 8, 42L).as("bks"))
      .filter(graft.plans.VectorExpressions
        .hyperplaneKeyHits(col("embedding"), 64, 4, 8, 42L, Array(-9L, 3L)))
    keyed.collect()
    val s = executed(keyed).toString
    val line = s.linesIterator.find(l =>
      l.contains("hyperplanekeyhits") || l.contains("HyperplaneKeyHits")).getOrElse(
      s.linesIterator.find(_.contains("Filter")).getOrElse(""))
    assert(line.trim.startsWith("*") || line.contains("*("),
      s"hyperplane key expressions fell out of codegen:\n$s")
  }

  test("phrase query: pushed term filter, broadcast slots, one group exchange") {
    // The positional index's query plan must keep its scale shape: the
    // phrase-term IN filter reaches the parquet scan (term-sorted row
    // groups prune on it), the (query, slot, term) and per-query-k
    // frames join as broadcasts, and the only exchange is the
    // (query, doc) grouping — a sort-merge join or a second exchange
    // means the corpus started moving for a 3-phrase batch.
    import org.apache.spark.sql.functions._
    val store = new graft.store.SnapshotStore(
      TempDirs.create("graft-phraseplan").toString, spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    graft.store.PhraseIndex.build(store, "pos", docs, "text", "doc_id")
    val qs = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.functions.TextFunctions.tokens(lower(col("text"))), 1, 3), " ")
          .as("phrase"))
    val out = graft.store.PhraseIndex.phraseQuery(store, "pos", qs,
      "query_id", "phrase")
    val s = planString(out)
    assert(s.contains("PushedFilters: [In(term"),
      s"phrase term filter not pushed to the scan:\n$s")
    assert(s.contains("BroadcastHashJoin"), s"slot joins not broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"corpus-moving join crept in:\n$s")
    assert(!s.contains("Window"), s"window crept into the phrase plan:\n$s")
    assert(countExchanges(out) <= 2,
      s"phrase query grew extra exchanges:\n$s")
  }

  test("float-exchange candidate stage: two-phase heap agg, no window") {
    // The float path's candidate stage (EmbedIndex.pairsAmongF) must keep
    // the exact plan shape of the double path: BoundedVecMembersF plans
    // as a two-phase ObjectHashAggregate (map-side heaps — only capped
    // FLOAT members cross the one bucket exchange), CosineCandidatesF
    // explodes in the same stage, and the only other exchange is the
    // final candidate-sized distinct. A Window or a third exchange means
    // the corpus-sorting shape the heap replaced has crept back.
    import org.apache.spark.sql.functions._
    val embs = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val keys = embs.select(col("vec_id").as("id"),
        graft.functions.Similarity.unitVector(col("embedding")).as("uv"))
      .select(col("id"), col("uv"),
        explode(graft.plans.VectorExpressions
          .hyperplaneTableKeys(col("uv"), 64, 4, 8, 42L)).as("bk"))
      .select(col("bk.table").as("table"), col("bk.bucket").as("bucket"),
        col("id"), col("uv").cast("array<float>").as("uvf"),
        (col("id") % 2 === 0).as("fresh"))
    val cand = keys.groupBy(col("table"), col("bucket"))
      .agg(graft.plans.TopKAggregate
        .boundedVecMembersF(col("id"), col("uvf"), col("fresh"), 100).as("m"))
      .filter(size(col("m")).between(2, 99))
      // cutoff −1 keeps every in-bucket pair: the result must be
      // NON-EMPTY or AQE replaces the whole subtree with EmptyRelation
      // and there is no plan left to assert on
      .select(explode(graft.plans.VectorExpressions
        .cosineCandidatesF(col("m"), -1.0)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .dropDuplicates("id_a", "id_b")
    val s = planString(cand)
    assert("ObjectHashAggregate".r.findAllIn(s).size >= 2,
      s"two-phase bounded float heap missing (partial + final):\n$s")
    assert(!s.contains("Window"), s"window sort crept into the float path:\n$s")
    assert(countExchanges(cand) <= 2,
      s"float candidate stage grew a third exchange:\n$s")
  }

  test("fused table keys equal the per-table bucket builder bit-for-bit") {
    // HyperplaneTableKeys (one extraction, plain-array dots) must
    // reproduce the HyperplaneBucket-per-table builder construction
    // exactly — same seed derivation, same accumulation order — or the
    // slim index would silently re-key relative to fat-era tables and
    // the batch operator.
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(500)
    val perTable = array((0 until 4).map { t =>
      struct(lit(t).as("table"),
        graft.plans.VectorExpressions
          .hyperplaneBucket(col("embedding"), 64, 12, 42L + t * 7919)
          .as("bucket"))
    }: _*)
    val mismatches = emb.select(
        graft.plans.VectorExpressions
          .hyperplaneTableKeys(col("embedding"), 64, 4, 12, 42L).as("fused"),
        perTable.as("builder"))
      .filter(col("fused") =!= col("builder")).count()
    assert(mismatches === 0L)
  }

  test("native vector expressions stay inside whole-stage codegen") {
    // DotProduct/HyperplaneBucket implement doGenCode (a compiled call into
    // their own compute loop), so the ANN scoring projection must appear
    // INSIDE a codegen span — CodegenFallback used to force the enclosing
    // project out of the span, breaking the pipeline at every scoring stage.
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(200)
    val scored = emb.select(
      col("vec_id"),
      graft.plans.VectorExpressions.dotProduct(col("embedding"), col("embedding")).as("dp"),
      graft.plans.VectorExpressions.hyperplaneBucket(col("embedding"), 64, 12, 42L).as("bk"))
    scored.collect()
    val s = executed(scored).toString
    // the Project carrying dot_product/hyperplane must sit under a *(n) span
    val projLine = s.linesIterator.find(l =>
      l.contains("dotproduct") || l.contains("DotProduct") ||
        l.contains("dot_product")).getOrElse(
      s.linesIterator.find(_.contains("Project")).getOrElse(""))
    assert(projLine.trim.startsWith("*") || projLine.contains("*("),
      s"vector scoring projection fell out of codegen:\n$s")
  }

  test("native scoring expressions stay inside whole-stage codegen") {
    // BigramLogProbSum / BucketWeightSum / DropSpansInSet implement
    // doGenCode, so the per-row scoring/rewrite projections — the hot
    // scans of the LM, DSIR, and span-dedup stages — must sit inside a
    // codegen span, not fall back and break the scan pipeline.
    import org.apache.spark.sql.functions._
    import org.apache.spark.unsafe.types.UTF8String
    val docs = spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
    val toks = graft.functions.TextFunctions.tokens(col("text"))
    val g = Array(UTF8String.fromString("a b"))
    val scored = docs.select(
      col("doc_id"),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.plans.BigramLogProbSum(
          org.apache.spark.sql.GraftColumnBridge.resolvedExpression(toks),
          g, Array(-1L), -10L)).as("lm"),
      graft.plans.TextExpressions.bucketWeightSum(
        toks, (0 until 16).map(_.toLong)).as("ds"),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.plans.DropSpansInSet(
          org.apache.spark.sql.GraftColumnBridge.resolvedExpression(toks),
          2, g)).as("sp"))
    scored.collect()
    val s = executed(scored).toString
    val projLine = s.linesIterator.find(l =>
      l.contains("bigram_logprob_sum") || l.contains("BigramLogProbSum"))
      .getOrElse(s.linesIterator.find(_.contains("Project")).getOrElse(""))
    assert(projLine.trim.startsWith("*") || projLine.contains("*("),
      s"scoring projection fell out of codegen:\n$s")
  }

  test("funnel: one event-volume shuffle, chained windows share sort + partitioning") {
    val df = graft.queries.EventQueries.funnel(spark, sfDir)
    df.collect()
    val plan = executed(df)
    val s = plan.toString
    // One hash-partitioning exchange on user_id carries the events; the
    // only other allowed exchange is the k-row final-aggregate collapse.
    val n = plan.collect { case e: Exchange => e }.size
    assert(n <= 2, s"funnel shuffled events more than once:\n$s")
    // The k chained per-step windows must REUSE one sort: every
    // WindowExec keys on user_id, so Spark plans a single SortExec under
    // the first and the rest inherit the ordering. A sort per step would
    // re-sort the full event volume k times at 100 TB.
    val sorts = s.linesIterator.count(_.trim.stripPrefix("+- ").stripPrefix("*(")
      .contains("Sort ["))
    assert(sorts <= 1, s"chained funnel windows re-sort per step:\n$s")
  }

  test("tombstoned index read: broadcast anti-join, the corpus side never shuffles") {
    // The takedown visibility filter (DeltaChain.assemble) must stay a
    // BROADCAST hash anti-join on the id key with the member-epoch
    // comparison as a residual condition: the tombstone side is
    // takedown-sized, the data side is the corpus — a shuffled or
    // nested-loop plan here would turn every between-delete-and-fold
    // read into a corpus shuffle at 100 TB.
    val root = TempDirs.create("graft-plan-tomb").toString
    val store = new graft.store.SnapshotStore(root, spark)
    import spark.implicits._
    val docs = (0L until 200L)
      .map(i => (i, s"alpha w${i % 7} beta tok$i")).toDF("doc_id", "text")
    graft.store.TextIndex.build(store, "t", docs, "text", "doc_id")
    graft.store.TextIndex.deleteDocs(store, "t", Seq(3L, 9L).toDF("doc_id"))
    val df = graft.store.TextIndex.load(store, "t")
    df.collect()
    val plan = executed(df)
    val s = plan.toString
    assert(s.contains("BroadcastHashJoin") && s.contains("LeftAnti"),
      s"tombstone filter must be a broadcast anti-join:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("NestedLoop"),
      s"tombstone filter must not shuffle or nested-loop the corpus:\n$s")
    // the only exchange allowed is the broadcast itself — the corpus
    // side streams straight from the parquet scans
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(shuffles == 0, s"tombstoned read shuffled the corpus:\n$s")
    // and with no tombstones pending (post-fold) the filter is GONE —
    // the exact pre-takedown plan
    graft.store.TextIndex.maintain(store, "t", maxChainLength = 100)
    val clean = graft.store.TextIndex.load(store, "t")
    clean.collect()
    val cs = executed(clean).toString
    assert(!cs.contains("Join"), s"post-fold read must carry no join:\n$cs")
  }

  test("retention: no window, no sort — shuffle volume is distinct (user, week) pairs") {
    val df = graft.queries.EventQueries.retention(spark, sfDir)
    df.collect()
    val plan = executed(df)
    val s = plan.toString
    assert(!s.contains("Window"), s"retention should not need a window:\n$s")
    assert(!s.contains("Sort ["), s"retention should not sort:\n$s")
    // groupBy(user) collect_set + cohort×offset aggregate = 2 exchanges,
    // the first already reduced map-side to distinct (user, week) pairs
    val n = plan.collect { case e: Exchange => e }.size
    assert(n <= 2, s"retention shuffled more than twice:\n$s")
    // collect_set partial aggregation must run map-side (ObjectHashAggregate
    // with partial_collect_set before the exchange) so the shuffle carries
    // per-user week SETS, not raw event rows
    assert(s.contains("ObjectHashAggregate") && s.contains("partial_collect_set"),
      s"collect_set not partially aggregated map-side:\n$s")
  }
}
