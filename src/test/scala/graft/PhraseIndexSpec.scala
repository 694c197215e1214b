package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.{PhraseIndex, SnapshotStore}

/** Positional phrase retrieval: index-backed phrase_tf must equal a JVM
  * naive count (exhaustive backtracking chain search) on every
  * (query, doc) at every slop, across build-vs-append batchings,
  * repeated-term and overlapping phrases, the greedy-matcher trap,
  * k=1 degeneration, and exactly-once replay. */
class PhraseIndexSpec extends SparkSpec {
  import spark.implicits._

  // deterministic tiny-vocab texts: tiny vocab → dense phrase repeats,
  // overlaps, and repeated-term windows by construction
  private def corpus: Seq[(Long, String)] = {
    val rnd = new scala.util.Random(0x9E37)
    val vocab = Array("a", "b", "c", "dd", "ee")
    (0L until 60L).map { id =>
      val n = 3 + rnd.nextInt(20)
      id -> Array.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    } ++ Seq(
      60L -> "a b a b a",     // "a b a" occurs at 0 AND 2 (overlap)
      61L -> "  A  \t B\na ", // case folding + messy whitespace
      62L -> "",              // empty doc: never matches
      // the greedy trap (PhraseTf scaladoc): "pa pb pc" at slop 1 has
      // ONE occurrence, reachable only through the SECOND pb — a greedy
      // earliest-successor matcher dies in (5,7] and returns 0
      63L -> "x0 x1 x2 x3 pa pb pb x7 pc")
  }

  private def phrases: Seq[(Long, String)] = Seq(
    (0L, "a b a"),    // repeated-term phrase
    (1L, "b c"),
    (2L, "dd"),       // k = 1 → plain term frequency
    (3L, "a b"),
    (4L, "ee dd c"),
    (5L, "zz a"),     // term absent from the corpus
    (6L, "   "),      // whitespace-only: matches nothing
    (7L, "pa pb pc")) // the greedy-trap phrase (doc 63)

  /** Naive truth: tokenize like the library (lowercase, ws-split) and
    * count chain starts by exhaustive backtracking — correct for any
    * slop, unlike greedy matching. */
  private def naive(slop: Int): Set[(Long, Long, Int)] = {
    def toks(s: String): Array[String] =
      s.toLowerCase.trim.split("[ \\t\\n\\u000B\\f\\r]+").filter(_.nonEmpty)
    def chain(t: Array[String], p: Array[String], level: Int, prev: Int): Boolean =
      level == p.length ||
        ((prev + 1) to math.min(prev + 1 + slop, t.length - 1)).exists(pos =>
          t(pos) == p(level) && chain(t, p, level + 1, pos))
    (for {
      (qid, ph) <- phrases
      p = toks(ph)
      if p.nonEmpty
      (did, text) <- corpus
      t = toks(text)
      if t.length >= p.length
    } yield {
      val tf = t.indices.count(s => t(s) == p(0) && chain(t, p, 1, s))
      (qid, did, tf)
    }).filter(_._3 >= 1).toSet
  }

  private def got(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("query_id"), col("doc_id"), col("phrase_tf"))
      .as[(Long, Long, Int)].collect().toSet

  test("index phrase_tf equals the naive backtracking count (slop 0, 1, 2)") {
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase").toString, spark)
    PhraseIndex.build(store, "pos", corpus.toDF("doc_id", "text"),
      "text", "doc_id")
    val exact = naive(0)
    assert(exact.nonEmpty && exact.exists { case (q, d, tf) =>
      q == 0L && d == 60L && tf == 2 }, s"fixture lost its overlap case: $exact")
    // the greedy trap is invisible at slop 0 and MUST appear at slop 1
    assert(!exact.exists { case (q, d, _) => q == 7L && d == 63L })
    assert(naive(1).exists { case (q, d, tf) => q == 7L && d == 63L && tf == 1 },
      "fixture lost its greedy-trap case")
    for (slop <- Seq(0, 1, 2)) {
      val out = got(PhraseIndex.phraseQuery(store, "pos",
        phrases.toDF("query_id", "phrase"), "query_id", "phrase", slop = slop))
      assert(out == naive(slop), s"slop=$slop diverged from naive truth")
    }
  }

  test("multi-batch appends equal the one-shot build; replay skipped") {
    for (nBatches <- Seq(2, 3)) {
      val store = new SnapshotStore(
        TempDirs.create("graft-phrase-app").toString, spark)
      val df = corpus.toDF("doc_id", "text")
      PhraseIndex.build(store, "pos", df.limit(0), "text", "doc_id")
      (0 until nBatches).foreach { i =>
        assert(PhraseIndex.appendBatchOnce(store, "pos",
          df.filter(col("doc_id") % nBatches === i), "text", "doc_id",
          "s", i.toLong))
      }
      assert(!PhraseIndex.appendBatchOnce(store, "pos", df, "text", "doc_id",
        "s", (nBatches - 1).toLong), "replayed batchId must be skipped")
      val out = got(PhraseIndex.phraseQuery(store, "pos",
        phrases.toDF("query_id", "phrase"), "query_id", "phrase"))
      assert(out == naive(0), s"append path diverged at $nBatches batches")
      // chain folds to the slim canonical layout and keeps answering
      assert(PhraseIndex.compactIndex(store, "pos"))
      PhraseIndex.vacuumIndex(store, "pos")
      assert(got(PhraseIndex.phraseQuery(store, "pos",
        phrases.toDF("query_id", "phrase"), "query_id", "phrase")) == naive(0))
    }
  }

  test("ranked phrase retrieval matches a JVM BM25 recompute (ties by id)") {
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-rank").toString, spark)
    PhraseIndex.build(store, "pos", corpus.toDF("doc_id", "text"),
      "text", "doc_id")
    def toks(s: String): Array[String] =
      s.toLowerCase.trim.split("[ \\t\\n\\u000B\\f\\r]+").filter(_.nonEmpty)
    val n = corpus.size.toLong
    val avgdl = corpus.map(c => toks(c._2).length.toLong).sum.toDouble / n
    val want: Map[Long, Seq[Long]] = naive(0)
      .groupBy(_._1).map { case (qid, rows) =>
        val df = rows.size.toDouble
        val idf = math.log(1.0 + (n.toDouble - df + 0.5) / (df + 0.5))
        val dlOf = corpus.map(c => c._1 -> toks(c._2).length).toMap
        qid -> rows.toSeq.map { case (_, did, tf) =>
          val score = idf * tf * 2.2 /
            (tf + (dlOf(did) * (0.75 / avgdl) + 0.25) * 1.2)
          (did, score)
        }.sortBy { case (did, s) => (-s, did) }.take(5).map(_._1)
      }
    assert(want.values.exists(_.size >= 2), "fixture needs multi-match queries")
    val got = PhraseIndex.phraseQueryRanked(store, "pos",
        phrases.toDF("query_id", "phrase"), "query_id", "phrase", k = 5)
      .select(col("query_id"), col("doc_id"), col("rank"))
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._3).map(_._2).toSeq }
    assert(got == want, s"ranked output diverged:\ngot  $got\nwant $want")
  }

  test("scan path (no index) equals the indexed path at every slop") {
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-scan").toString, spark)
    val df = corpus.toDF("doc_id", "text")
    PhraseIndex.build(store, "pos", df, "text", "doc_id")
    for (slop <- Seq(0, 1)) {
      val scan = got(PhraseIndex.phraseScan(df, "text", "doc_id",
        phrases.toDF("query_id", "phrase"), "query_id", "phrase", slop))
      assert(scan == naive(slop), s"scan path diverged at slop=$slop")
      assert(scan == got(PhraseIndex.phraseQuery(store, "pos",
        phrases.toDF("query_id", "phrase"), "query_id", "phrase", slop)),
        s"scan and indexed paths diverged at slop=$slop")
    }
  }

  test("containment prefilter on/off: identical matches and ranking") {
    // contrast corpus: a term in EVERY doc ("the") + a rare one — the
    // shape the prefilter exists for (the common term's fat rows are
    // non-candidates almost everywhere). Output must be identical with
    // the prefilter off, filtered and ranked, at slop 0 and 1.
    val contrast = (0L until 100L).map(i => i -> s"the w$i x$i y$i") ++
      Seq(100L -> "the needle one", 101L -> "the shiny needle")
    val ph = Seq((0L, "the needle"), (1L, "the w7"), (2L, "absent the"))
      .toDF("query_id", "phrase")
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-pre").toString, spark)
    PhraseIndex.build(store, "pos", contrast.toDF("doc_id", "text"),
      "text", "doc_id")
    for (slop <- Seq(0, 1)) {
      val on = got(PhraseIndex.phraseQuery(store, "pos", ph,
        "query_id", "phrase", slop, prefilter = true))
      val off = got(PhraseIndex.phraseQuery(store, "pos", ph,
        "query_id", "phrase", slop, prefilter = false))
      assert(on === off, s"prefilter changed the match set at slop=$slop")
      if (slop == 0)
        assert(on.map(r => (r._1, r._2)) === Set((0L, 100L), (1L, 7L)))
    }
    def ranked(pre: Boolean): Seq[(Long, Long, Double, Int)] =
      PhraseIndex.phraseQueryRanked(store, "pos", ph,
          "query_id", "phrase", k = 5, prefilter = pre)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    // EXACT score equality: candidates ⊇ matches, so df (counted from
    // the match set) and every downstream double are unchanged
    assert(ranked(pre = true) === ranked(pre = false))
  }

  test("containmentCandidates = exactly the docs holding every slot") {
    val posRows = Seq(("the", 1L), ("the", 2L), ("the", 3L),
        ("needle", 2L), ("needle", 4L))
      .toDF("term", "doc_id")
    val slots = Seq((10L, 0, "the"), (10L, 1, "needle"),
        (11L, 0, "the"), (11L, 1, "the")) // repeated-term phrase
      .toDF("query_id", "idx", "term")
    val ks = Seq((10L, 2), (11L, 2)).toDF("query_id", "k")
    val cand = PhraseIndex.containmentCandidates(posRows, slots, ks)
      .as[(Long, Long)].collect().toSet
    // q10 needs the ∧ needle → only doc 2 (doc 4 lacks "the");
    // q11's two slots both hold "the" → any doc with "the" covers both
    assert(cand === Set((10L, 2L), (11L, 1L), (11L, 2L), (11L, 3L)))
  }

  test("duplicate query ids in a phrase batch refuse loudly") {
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-dup").toString, spark)
    PhraseIndex.build(store, "pos", corpus.toDF("doc_id", "text"),
      "text", "doc_id")
    val dup = Seq((1L, "a b"), (1L, "b c"), (2L, "dd"))
      .toDF("query_id", "phrase")
    val e = intercept[IllegalArgumentException] {
      PhraseIndex.phraseQuery(store, "pos", dup, "query_id", "phrase")
    }
    assert(e.getMessage.contains("duplicate"))
    intercept[IllegalArgumentException] {
      PhraseIndex.phraseScan(corpus.toDF("doc_id", "text"), "text", "doc_id",
        dup, "query_id", "phrase")
    }
  }

  test("delta-varint positions round-trip multi-byte gaps (long document)") {
    // 200 fillers, alpha, 20000 fillers, beta gamma, 5 fillers: absolute
    // positions up to ~20k force 1-, 2- and 3-byte varints through the
    // store → exchange → PhraseTf decode path, where the fixture corpus
    // (≤ 23 tokens) only ever exercises single-byte gaps
    val text = (Seq.fill(200)("filler") ++ Seq("alpha") ++
      Seq.fill(20000)("filler") ++ Seq("beta", "gamma") ++
      Seq.fill(5)("filler")).mkString(" ")
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-vb").toString, spark)
    PhraseIndex.build(store, "pos", Seq((0L, text)).toDF("doc_id", "text"),
      "text", "doc_id")
    val ph = Seq((0L, "beta gamma"), (1L, "filler filler"),
      (2L, "alpha beta")).toDF("query_id", "phrase")
    val out = got(PhraseIndex.phraseQuery(store, "pos", ph,
      "query_id", "phrase"))
    // adjacent filler pairs: 199 + 19999 + 4 (runs of 200, 20000, 5)
    assert(out === Set((0L, 0L, 1), (1L, 0L, 20202)))
  }

  test("long phrases: the 63-slot prefilter mask is overflow-free; 64+ skips it") {
    // ~(-1L << 63) must evaluate (the naive (1 << 63) - 1 throws under
    // ANSI); a 64-slot phrase exceeds the long bitmask and must skip
    // the prefilter silently — it is an optimization, never semantics
    val toks = (0 until 64).map(i => s"t$i")
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-long").toString, spark)
    PhraseIndex.build(store, "pos",
      Seq((0L, toks.mkString(" "))).toDF("doc_id", "text"), "text", "doc_id")
    val ph = Seq((0L, toks.take(63).mkString(" ")),
      (1L, toks.mkString(" "))).toDF("query_id", "phrase")
    val out = got(PhraseIndex.phraseQuery(store, "pos", ph,
      "query_id", "phrase", prefilter = true))
    assert(out === Set((0L, 0L, 1), (1L, 0L, 1)))
  }

  test("pre-v2 layout tables refuse load and compaction with the rebuild contract") {
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-v1").toString, spark)
    // an r15-shaped table: array<int> posns, no tf, tagged pos-dl-v1
    store.commit("pos",
      Seq(("a", 0L, Seq(0, 2), 3L)).toDF("term", "doc_id", "posns", "dl"),
      meta = Map("phrase.tokenizer" -> "ws-lower-v1",
        "phrase.layout" -> "pos-dl-v1", "phrase.parts" -> "",
        "phrase.nDocs" -> "1", "phrase.sumDl" -> "3"))
    val e = intercept[IllegalStateException] { PhraseIndex.load(store, "pos") }
    assert(e.getMessage.contains("rebuild"))
    intercept[IllegalStateException] { PhraseIndex.compactIndex(store, "pos") }
    intercept[IllegalStateException] {
      PhraseIndex.phraseQuery(store, "pos",
        Seq((0L, "a")).toDF("query_id", "phrase"), "query_id", "phrase")
    }
  }

  test("streaming maintenance: micro-batches land exactly once") {
    val inbox = TempDirs.create("graft-phrase-inbox").toString
    val df = corpus.toDF("doc_id", "text")
    (0 until 3).foreach { i =>
      df.filter(col("doc_id") % 3 === i).coalesce(1)
        .write.parquet(s"$inbox/b$i.parquet")
    }
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-stream").toString, spark)
    PhraseIndex.build(store, "pos", df.limit(0), "text", "doc_id")
    val stream = spark.readStream.schema(df.schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$inbox/*.parquet")
    val q = PhraseIndex.maintainFromStream(store, "pos", stream,
      "text", "doc_id", TempDirs.create("graft-ckpt").toString)
    q.processAllAvailable()
    q.stop()
    assert(got(PhraseIndex.phraseQuery(store, "pos",
      phrases.toDF("query_id", "phrase"), "query_id", "phrase")) == naive(0))
    // the stats accumulated across micro-batches must reproduce a
    // one-shot build's RANKED output exactly (scores depend on
    // nDocs/sumDl, so a drifted accumulator would reorder or rescore)
    val oneShot = new SnapshotStore(
      TempDirs.create("graft-phrase-oneshot").toString, spark)
    PhraseIndex.build(oneShot, "pos", df, "text", "doc_id")
    def ranked(s: SnapshotStore): Set[(Long, Long, Double, Int)] =
      PhraseIndex.phraseQueryRanked(s, "pos",
          phrases.toDF("query_id", "phrase"), "query_id", "phrase", k = 5)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
        .as[(Long, Long, Double, Int)].collect().toSet
    val streamed = ranked(store)
    assert(streamed.nonEmpty && streamed == ranked(oneShot),
      "streamed stats must reproduce the one-shot ranked output")
  }

  test("maintainAll folds an over-length phrase chain via its marker") {
    val store = new SnapshotStore(
      TempDirs.create("graft-phrase-maint").toString, spark)
    val df = corpus.toDF("doc_id", "text")
    PhraseIndex.build(store, "pos", df.limit(0), "text", "doc_id")
    (0 until 3).foreach { i =>
      PhraseIndex.appendBatchOnce(store, "pos",
        df.filter(col("doc_id") % 3 === i), "text", "doc_id", "s", i.toLong,
        compactEvery = 100)
    }
    val actions = Graft.maintainAll(store, maxChainLength = 2)
    assert(actions.contains(Graft.MaintenanceAction("pos", "phrase")))
    assert(got(PhraseIndex.phraseQuery(store, "pos",
      phrases.toDF("query_id", "phrase"), "query_id", "phrase")) == naive(0))
  }
}
