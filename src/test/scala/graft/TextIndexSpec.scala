package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Retrieval
import graft.store.{SnapshotStore, TextIndex}

/** Persistent BM25 postings index: indexed querying must equal the
  * corpus-scan path EXACTLY (same hit rows, same exact stats, shared
  * scoring tail ⇒ identical doubles), across build/append/compaction/
  * replay/vacuum. */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  private val corpus = {
    val rnd = new scala.util.Random(29)
    val vocab = Vector("sun", "moon", "star", "rain", "wind", "snow",
      "leaf", "tree", "rock", "wave", "fire", "mist", "dawn", "dusk")
    (0L until 60L).map { i =>
      i -> Seq.fill(4 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
  }
  private def corpusDF: DataFrame = corpus.toDF("doc_id", "text")
  private def queriesDF: DataFrame = corpusDF.filter(col("doc_id") < 3)
    .select(col("doc_id").as("query_id"), col("text").as("qtext"))

  private def freshStore(): SnapshotStore =
    new SnapshotStore(TempDirs.create("graft-textidx").toString, spark)

  /** The scan path's result, the exact-equality reference. */
  private def scanRanked(k: Int = 10): Seq[(Long, Long, Double, Int)] =
    Retrieval.bm25TopK(corpusDF, "doc_id", "text",
      queriesDF, "query_id", "qtext", k = k)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))

  private def indexRanked(store: SnapshotStore, k: Int = 10)
      : Seq[(Long, Long, Double, Int)] =
    TextIndex.query(store, "idx", queriesDF, "query_id", "qtext", k = k)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))

  test("build + append equals the corpus-scan path score-for-score") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.filter(col("doc_id") % 2 === 0),
      "text", "doc_id")
    TextIndex.append(store, "idx", corpusDF.filter(col("doc_id") % 2 =!= 0),
      "text", "doc_id")
    // EXACT double equality, not approximate: both paths aggregate the
    // identical (term, doc, tf, dl, df, N, avgdl) values through the
    // same bm25Score tail, so even the float scores must agree bitwise.
    assert(indexRanked(store) === scanRanked())
    // Metadata stats equal the full-corpus truth after accumulation.
    val (n, avgdl) = TextIndex.stats(store, "idx")
    val toks = corpus.map(_._2.trim.split("\\s+").count(_.nonEmpty))
    assert(n === 60L)
    assert(avgdl === toks.sum.toDouble / toks.length)
  }

  test("many small appends + compaction preserve the ranking") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.limit(0), "text", "doc_id")
    (0 until 6).foreach { i =>
      TextIndex.append(store, "idx",
        corpusDF.filter(col("doc_id") % 6 === i), "text", "doc_id",
        compactEvery = 3)
    }
    assert(indexRanked(store) === scanRanked())
    // compactEvery=3 must have folded at least once: the live chain is
    // shorter than the total number of commits.
    val live = {
      val v = store.currentVersion("idx")
      val meta = store.metaForVersion("idx", v)
      meta.get("text.parts").filter(_.nonEmpty)
        .map(_.split(",").length).getOrElse(0) + 1
    }
    assert(live < 7, s"chain never compacted (live=$live)")
    // Chain-aware vacuum drops the dead dirs; the query still works.
    val before = store.versions("idx").size
    TextIndex.vacuumIndex(store, "idx")
    assert(store.versions("idx").size < before)
    assert(indexRanked(store) === scanRanked())
  }

  test("query's term probe pushes an IN filter down to the postings scan") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF, "text", "doc_id")
    val q = TextIndex.query(store, "idx",
      Seq((0L, "sun moon")).toDF("query_id", "qtext"), "query_id", "qtext")
    q.collect() // finalize AQE so the plan is the real one
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.toString
      case p => p.toString
    }
    // The collected query-term list must reach the parquet scan as a
    // pushed In(term, ...) — with term-sorted row groups that is what
    // turns "read the postings table" into "read the probed terms'
    // blocks". A broadcast-join formulation would filter post-scan and
    // this assertion is what catches regressing to it.
    assert(plan.contains("PushedFilters") && plan.contains("In(term"),
      s"query terms not pushed into the postings scan:\n$plan")
  }

  test("appendBatchOnce skips a replayed batch id (exactly-once)") {
    // both layouts, each through TextIndex.appendBatchOnce: the postings
    // build and the positional one (PhraseIndex.build)
    val builds = Seq[(SnapshotStore, String, DataFrame, String, String) => Long](
      TextIndex.build(_, _, _, _, _), graft.store.PhraseIndex.build(_, _, _, _, _))
    for (build <- builds) {
      val store = freshStore()
      build(store, "idx", corpusDF.filter(col("doc_id") < 30), "text", "doc_id")
      val batch = corpusDF.filter(col("doc_id") >= 30)
      assert(TextIndex.appendBatchOnce(store, "idx", batch, "text", "doc_id",
        "s", 0L))
      val ranked = indexRanked(store)
      val statsApplied = TextIndex.stats(store, "idx")
      // the replay: same batchId — must be skipped, postings AND stats
      // unchanged (a double-count would shift avgdl and every df/tf)
      assert(!TextIndex.appendBatchOnce(store, "idx", batch, "text", "doc_id",
        "s", 0L))
      assert(indexRanked(store) === ranked)
      assert(TextIndex.stats(store, "idx") === statsApplied)
      assert(ranked === scanRanked())
    }
  }

  test("empty index and empty-term queries return typed empty results") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.limit(0), "text", "doc_id")
    val out = TextIndex.query(store, "idx", queriesDF, "query_id", "qtext")
    assert(out.columns.toSeq === Seq("query_id", "neighbor_id", "score", "rank"))
    assert(out.count() === 0L)
    // populated index, but the query has no tokens
    TextIndex.append(store, "idx", corpusDF, "text", "doc_id")
    val blank = Seq((7L, "   ")).toDF("query_id", "qtext")
    assert(TextIndex.query(store, "idx", blank, "query_id", "qtext").count() === 0L)
  }

  test("querying a foreign-tokenizer table refuses instead of mis-scoring") {
    val store = freshStore()
    // a postings-shaped table committed WITHOUT TextIndex (wrong recipe
    // tag): term strings would not line up with ws-lower query tokens,
    // so query/append must refuse loudly
    store.commit("idx", Seq(("sun", 1L, 3, 1L)).toDF("term", "neighbor_id", "dl", "tf"),
      meta = Map("text.parts" -> "", "text.tokenizer" -> "char-ngram",
        "text.nDocs" -> "1", "text.sumDl" -> "3"))
    val e = intercept[IllegalStateException] {
      TextIndex.query(store, "idx", queriesDF, "query_id", "qtext")
    }
    assert(e.getMessage.contains("char-ngram"))
    intercept[IllegalStateException] {
      TextIndex.append(store, "idx", corpusDF, "text", "doc_id")
    }
  }

  test("appending before build refuses") {
    val store = freshStore()
    val e = intercept[IllegalStateException] {
      TextIndex.append(store, "idx", corpusDF, "text", "doc_id")
    }
    assert(e.getMessage.contains("build"))
  }

  // ---- champion lists ----

  private def champRanked(store: SnapshotStore, k: Int = 10,
                          fallback: Boolean = false)
      : Seq[(Long, Long, Double, Int)] =
    TextIndex.queryChampions(store, "idx", queriesDF, "query_id", "qtext",
      k = k, fallbackToExact = fallback)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))

  test("champions at m >= max df equal the exact path score-for-score") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF, "text", "doc_id")
    // 60 docs: no term's df can exceed 60, so m=60 champion lists ARE
    // the full postings, the stored df matches the hit-derived df, and
    // the shared scoring tail must produce bitwise-identical doubles.
    TextIndex.refreshChampions(store, "idx", m = 60)
    assert(TextIndex.championsFresh(store, "idx"))
    assert(champRanked(store) === indexRanked(store))
    assert(champRanked(store) === scanRanked())
  }

  test("champion table content equals the brute-force selection rule") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF, "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = 2)
    // brute force in Scala: postings (term -> (doc, dl, tf)), df, then
    // top-2 per term under (tf desc, dl asc, id asc)
    val toks = corpus.map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
    val postings = toks.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (term, occ) =>
        (term, id, ts.length, occ.size.toLong)
      }
    }
    val expected = postings.groupBy(_._1).flatMap { case (term, rows) =>
      val df = rows.size.toLong
      rows.sortBy { case (_, id, dl, tf) => (-tf, dl, id) }.take(2)
        .map { case (_, id, dl, tf) => (term, df, id, dl, tf) }
    }.toSet
    // "__champ" suffix is the documented champion-table naming contract
    val got = store.load("idx__champ")
      .select("term", "df", "neighbor_id", "dl", "tf")
      .as[(String, Long, Long, Int, Long)].collect()
      .map { case (t, df, id, dl, tf) => (t, df, id, dl.toLong, tf) }.toSet
    assert(got === expected)
    // the denormalized MaxScore bound stats are the true per-term
    // full-postings max(tf) / min(dl)
    val expectedBounds = postings.groupBy(_._1).map { case (term, rows) =>
      (term, rows.map(_._4).max, rows.map(_._3).min)
    }.toSet
    val gotBounds = store.load("idx__champ")
      .select("term", "max_tf", "min_dl").distinct()
      .as[(String, Long, Int)].collect()
      .map { case (t, mtf, mdl) => (t, mtf, mdl) }.toSet
    assert(gotBounds === expectedBounds)
  }

  test("appends stale the champions: fallback answers exactly, strict refuses") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.filter(col("doc_id") < 30),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = 60)
    assert(TextIndex.championsFresh(store, "idx"))
    TextIndex.append(store, "idx", corpusDF.filter(col("doc_id") >= 30),
      "text", "doc_id")
    // the postings version moved; the champion tag did not
    assert(!TextIndex.championsFresh(store, "idx"))
    // fallback path must equal the exact query over the FULL corpus —
    // answering from the stale champion rows would miss every appended doc
    assert(champRanked(store, fallback = true) === scanRanked())
    val e = intercept[IllegalStateException] { champRanked(store) }
    assert(e.getMessage.contains("stale"))
    // refresh re-arms the champion path
    TextIndex.refreshChampions(store, "idx", m = 60)
    assert(champRanked(store) === scanRanked())
  }

  test("pure compaction does not stale the champions (content freshness)") {
    // folding the delta chain rewrites representation, never rows — the
    // r15 content-version tag keeps champions serving across folds
    // instead of forcing a full rebuild every maintenance cycle
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.limit(0), "text", "doc_id")
    (0 until 3).foreach(g => TextIndex.append(store, "idx",
      corpusDF.filter(col("doc_id") % 3 === g), "text", "doc_id",
      compactEvery = 100))
    TextIndex.refreshChampions(store, "idx", m = 60)
    assert(TextIndex.championsFresh(store, "idx"))
    val cvBefore = store.currentVersion("idx__champ")
    assert(TextIndex.compactIndex(store, "idx"), "3-member chain must fold")
    assert(TextIndex.championsFresh(store, "idx"),
      "a pure fold must not stale the champions")
    // serves strictly (no exact fallback) and still answers exactly
    assert(champRanked(store) === scanRanked())
    // a fold-only maintenance cycle leaves the champion table untouched
    TextIndex.maintain(store, "idx", maxChainLength = 1, championM = Some(60))
    assert(store.currentVersion("idx__champ") === cvBefore,
      "fold-only maintenance must not rebuild champions")
    // a REAL append still stales them
    TextIndex.append(store, "idx",
      corpusDF.select((col("doc_id") + 60L).as("doc_id"), col("text")),
      "text", "doc_id")
    assert(!TextIndex.championsFresh(store, "idx"))
  }

  test("incremental champion merge after appends equals a full rebuild") {
    // small m so the delta's rows genuinely COMPETE with the old
    // champions per term (at m >= df the merge is trivially a union)
    val m = 2
    def mode(s: SnapshotStore): Option[String] =
      s.metaForVersion("idx__champ", s.currentVersion("idx__champ"))
        .get("text.champ.mode")
    def champRows(s: SnapshotStore): Set[(String, Long, Long, Int, Long, Int, Long)] =
      TextIndex.loadChampions(s, "idx") // resolved chain read (r16)
        .select("term", "df", "max_tf", "min_dl", "neighbor_id", "dl", "tf")
        .as[(String, Long, Long, Int, Long, Int, Long)].collect().toSet

    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.filter(col("doc_id") < 30),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m)
    assert(mode(store).contains("rebuild"), "first refresh has nothing to merge")
    // two clean delta appends, then refresh: must take the MERGE path
    // (only the two delta versions are aggregated) and produce the
    // champion table a from-scratch rebuild over the full corpus would —
    // row-for-row: selection, df, and the MaxScore bounds
    TextIndex.append(store, "idx",
      corpusDF.filter(col("doc_id") >= 30 && col("doc_id") < 45), "text", "doc_id")
    TextIndex.append(store, "idx",
      corpusDF.filter(col("doc_id") >= 45), "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m)
    assert(mode(store).contains("merge"))
    assert(TextIndex.championsFresh(store, "idx"))

    val twin = freshStore()
    TextIndex.build(twin, "idx", corpusDF, "text", "doc_id")
    TextIndex.refreshChampions(twin, "idx", m = m)
    assert(mode(twin).contains("rebuild"))
    assert(champRows(store) === champRows(twin))

    // a different m can't reuse the table → rebuild; a compaction folds
    // the chain so the delta is unrecoverable → rebuild; a clean delta
    // after that merges again
    TextIndex.append(store, "idx",
      corpusDF.select((col("doc_id") + 60L).as("doc_id"), col("text")),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m + 1)
    assert(mode(store).contains("rebuild"), "m change must rebuild")
    TextIndex.append(store, "idx",
      corpusDF.select((col("doc_id") + 120L).as("doc_id"), col("text")),
      "text", "doc_id")
    TextIndex.compactIndex(store, "idx")
    TextIndex.refreshChampions(store, "idx", m = m + 1)
    assert(mode(store).contains("rebuild"),
      "post-compaction the delta is unrecoverable: must rebuild")
    TextIndex.append(store, "idx",
      corpusDF.select((col("doc_id") + 180L).as("doc_id"), col("text")),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m + 1)
    assert(mode(store).contains("merge"),
      "a clean delta on the compacted base merges again")
    // and the merged table still answers the champion query exactly:
    // every returned doc is some query term's champion (the m=small
    // contract), over the 4x corpus
    val champDocs = TextIndex.loadChampions(store, "idx")
      .select(col("neighbor_id")).as[Long].collect().toSet
    val got = champRanked(store).map(_._2).toSet
    assert(got.nonEmpty && got.subsetOf(champDocs))
  }

  test("maintain merges champions BEFORE folding the chain") {
    // stale champions + an over-length chain in ONE maintain call: the
    // refresh must run while the delta chain is intact (merge path),
    // the fold after it must not re-stale the champions
    // (content-version freshness), and the folded index must serve the
    // exact ranking through the merged champion table.
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.filter(col("doc_id") < 30),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = 60)
    (0 until 2).foreach(g => TextIndex.append(store, "idx",
      corpusDF.filter(col("doc_id") >= 30 && col("doc_id") % 2 === g),
      "text", "doc_id", compactEvery = 100))
    assert(!TextIndex.championsFresh(store, "idx"))
    TextIndex.maintain(store, "idx", maxChainLength = 1, championM = Some(60))
    val cmeta = store.metaForVersion("idx__champ",
      store.currentVersion("idx__champ"))
    assert(cmeta.get("text.champ.mode").contains("merge"),
      "maintain must refresh via the merge path, not fold-then-rebuild")
    assert(TextIndex.championsFresh(store, "idx"),
      "the fold after the refresh must not stale the champions")
    val meta = store.metaForVersion("idx", store.currentVersion("idx"))
    assert(meta.getOrElse("text.parts", "x") === "", "chain must be folded")
    assert(champRanked(store) === scanRanked())
    // and the NEXT cycle merges too: the fold+vacuum above replaced the
    // version the refresh anchored on, but the fold preserved the
    // content counter, so the champion's forContent anchors on the
    // folded member — without the content anchor the first refresh
    // after every maintain cycle silently fell back to the full
    // rebuild (r15 review)
    TextIndex.append(store, "idx",
      corpusDF.select((col("doc_id") + 60L).as("doc_id"), col("text")),
      "text", "doc_id")
    TextIndex.maintain(store, "idx", maxChainLength = 1, championM = Some(60))
    assert(store.metaForVersion("idx__champ", store.currentVersion("idx__champ"))
      .get("text.champ.mode").contains("merge"),
      "post-fold+vacuum cycles must keep merging (content anchor)")
    assert(TextIndex.championsFresh(store, "idx"))
  }

  private def champMode(s: SnapshotStore): Option[String] =
    s.metaForVersion("idx__champ", s.currentVersion("idx__champ"))
      .get("text.champ.mode")
  private def champParts(s: SnapshotStore): String =
    s.metaForVersion("idx__champ", s.currentVersion("idx__champ"))
      .getOrElse("text.champ.parts", "")
  private def resolvedChampRows(s: SnapshotStore)
      : Set[(String, Long, Long, Int, Long, Int, Long)] =
    TextIndex.loadChampions(s, "idx")
      .select("term", "df", "max_tf", "min_dl", "neighbor_id", "dl", "tf")
      .as[(String, Long, Long, Int, Long, Int, Long)].collect().toSet

  test("merge-mode refresh commits a touched-term delta, not a vocab rewrite") {
    val m = 2
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF, "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m)
    assert(champParts(store) === "", "a rebuild is a full snapshot")
    val fullVocab = TextIndex.loadChampions(store, "idx")
      .select("term").distinct().count()
    // a 2-term append: the champion delta member must hold EXACTLY the
    // touched terms' merged rows — refresh write cost is
    // O(touched-vocab·m), the r16 contract
    TextIndex.append(store, "idx",
      Seq((999L, "sun moon")).toDF("doc_id", "text"), "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m)
    assert(champMode(store).contains("merge"))
    assert(champParts(store).nonEmpty,
      "a merge refresh must chain a delta member, not rewrite the table")
    val cv = store.currentVersion("idx__champ")
    val deltaTerms = store.loadVersion("idx__champ", cv)
      .select("term").distinct().as[String].collect().toSet
    assert(deltaTerms === Set("sun", "moon"))
    assert(deltaTerms.size < fullVocab)
    // the RESOLVED table equals a from-scratch rebuild over the same
    // corpus — row-for-row: selection, df, and the MaxScore bounds
    val twin = freshStore()
    TextIndex.build(twin, "idx",
      corpusDF.unionByName(Seq((999L, "sun moon")).toDF("doc_id", "text")),
      "text", "doc_id")
    TextIndex.refreshChampions(twin, "idx", m = m)
    assert(resolvedChampRows(store) === resolvedChampRows(twin))
    assert(champRanked(store) === TextIndex.queryChampions(twin, "idx",
      queriesDF, "query_id", "qtext", fallbackToExact = false)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4)))
  }

  test("champion chain: a fold between refreshes preserves rows and keeps merging") {
    val m = 2
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.filter(col("doc_id") < 30),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m)
    TextIndex.append(store, "idx",
      corpusDF.filter(col("doc_id") >= 30 && col("doc_id") < 45),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m)
    assert(champMode(store).contains("merge") && champParts(store).nonEmpty)
    val rowsBefore = resolvedChampRows(store)
    // the fold is representation only: rows identical, freshness kept
    assert(TextIndex.compactChampions(store, "idx"), "2-member chain must fold")
    assert(champParts(store) === "", "fold must empty the champion parts")
    assert(resolvedChampRows(store) === rowsBefore)
    assert(TextIndex.championsFresh(store, "idx"),
      "a champion fold must not stale the champions")
    assert(!TextIndex.compactChampions(store, "idx"), "fold is idempotent")
    // and the next append still merges, on top of the folded base
    TextIndex.append(store, "idx", corpusDF.filter(col("doc_id") >= 45),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m)
    assert(champMode(store).contains("merge") && champParts(store).nonEmpty)
    val twin = freshStore()
    TextIndex.build(twin, "idx", corpusDF, "text", "doc_id")
    TextIndex.refreshChampions(twin, "idx", m = m)
    assert(resolvedChampRows(store) === resolvedChampRows(twin))
    // equal rows ⇒ equal champion ranking (m=2 is approximate vs the
    // scan by DESIGN — the comparison target is the rebuild twin)
    assert(champRanked(store) === twinChampRanked(twin))
  }

  private def twinChampRanked(twin: SnapshotStore)
      : Seq[(Long, Long, Double, Int)] =
    TextIndex.queryChampions(twin, "idx", queriesDF, "query_id", "qtext",
      fallbackToExact = false)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))

  test("refresh self-folds the champion chain at champCompactEvery") {
    val m = 2
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.filter(col("doc_id") < 30),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = m)
    TextIndex.append(store, "idx", corpusDF.filter(col("doc_id") >= 30),
      "text", "doc_id")
    // champCompactEvery=1: the merge must fold into a full snapshot
    // (merged touched ∪ resolved untouched) in the same commit
    TextIndex.refreshChampions(store, "idx", m = m, champCompactEvery = 1)
    assert(champMode(store).contains("merge"),
      "self-fold is still the merge aggregation path")
    assert(champParts(store) === "", "self-fold must commit a full snapshot")
    val twin = freshStore()
    TextIndex.build(twin, "idx", corpusDF, "text", "doc_id")
    TextIndex.refreshChampions(twin, "idx", m = m)
    assert(resolvedChampRows(store) === resolvedChampRows(twin))
    assert(champRanked(store) === twinChampRanked(twin))
  }

  test("maintain bounds the champion chain and vacuums dead members") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.filter(col("doc_id") < 15),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = 60)
    (1 to 3).foreach { g =>
      TextIndex.append(store, "idx",
        corpusDF.filter(col("doc_id") >= 15 * g && col("doc_id") < 15 * (g + 1)),
        "text", "doc_id", compactEvery = 100)
      TextIndex.refreshChampions(store, "idx", m = 60)
    }
    assert(champParts(store).split(",").length === 3,
      s"3 merges must chain 3 parents, got '${champParts(store)}'")
    TextIndex.maintain(store, "idx", maxChainLength = 2, championM = Some(60))
    assert(champParts(store) === "",
      "maintain must fold an over-length champion chain")
    assert(store.versions("idx__champ").size === 1,
      "vacuum must drop the dead champion members")
    assert(TextIndex.championsFresh(store, "idx"))
    assert(champRanked(store) === scanRanked())
  }

  test("small-m champions only ever return some query term's champion") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF, "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = 1)
    val champDocs = store.load("idx__champ")
      .select(col("neighbor_id")).as[Long].collect().toSet
    val got = champRanked(store).map(_._2).toSet
    assert(got.nonEmpty && got.subsetOf(champDocs),
      s"non-champion docs surfaced: ${got -- champDocs}")
  }

  test("streaming ingest with periodic maintenance keeps champions fresh") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.limit(0), "text", "doc_id")
    val inbox = TempDirs.create("graft-textidx-inbox").toString
    (0 until 4).foreach { i =>
      corpusDF.filter(col("doc_id") % 4 === i)
        .coalesce(1).write.parquet(s"$inbox/b$i.parquet")
    }
    val stream = spark.readStream.schema(corpusDF.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inbox/*.parquet")
    val q = TextIndex.maintainFromStream(store, "idx", stream,
      "text", "doc_id", TempDirs.create("graft-ckpt").toString,
      maintainEvery = 2, maxChainLength = 2, championM = Some(60))
    q.processAllAvailable()
    q.stop()
    // 4 applied batches / maintainEvery=2 → the last maintenance cycle
    // ran at batch 4, when all docs were in: champions must be fresh
    // and serve the full-corpus ranking
    assert(TextIndex.championsFresh(store, "idx"))
    assert(champRanked(store) === scanRanked())
    assert(indexRanked(store) === scanRanked())
  }

  // ---- MaxScore bounded probe (exact) ----

  private def maxScoreRanked(store: SnapshotStore, k: Int = 10)
      : Seq[(Long, Long, Double, Int)] =
    TextIndex.queryMaxScore(store, "idx", queriesDF, "query_id", "qtext", k = k)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))

  test("maxscore bounded probe ≡ exact probe score-for-score, any k") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF, "text", "doc_id")
    // tiny m: the champion floor θ̂ is real but loose, so the split
    // actually has both essential and non-essential terms to get wrong
    TextIndex.refreshChampions(store, "idx", m = 3)
    assert(maxScoreRanked(store) === scanRanked())
    assert(maxScoreRanked(store, k = 3) === scanRanked(k = 3))
    // k beyond the match count: θ̂ is absent, everything essential
    assert(maxScoreRanked(store, k = 100) === scanRanked(k = 100))
  }

  test("maxscore on a zipf corpus: stopword lists pruned, output exact") {
    // Adversarial shape for a naive bound: a stopword in EVERY doc whose
    // small contribution still decides near-tie ranks, rare terms that
    // generate the candidates, and a query whose ONLY term is the
    // stopword (nothing may be pruned for it). Exactness must hold with
    // a tiny champion m (loose floor) and a tight one.
    val rnd = new scala.util.Random(31)
    val zipf = (0L until 120L).map { i =>
      val stop = Seq.fill(1 + (i % 3).toInt)("the")
      val mid = Seq(s"mid${i % 10}")
      val rare = Seq(s"rare${i % 30}")
      val noise = Seq.fill(rnd.nextInt(4))(s"mid${rnd.nextInt(10)}")
      i -> (stop ++ mid ++ rare ++ noise).mkString(" ")
    }
    val zdf = zipf.toDF("doc_id", "text")
    val qs = Seq(
      (0L, "the mid3 rare7"),
      (1L, "the rare11"),
      (2L, "the"),             // single stopword: its one term is essential
      (3L, "rare4 absentterm") // absent term: ub 0, contributes nothing
    ).toDF("query_id", "qtext")
    def exact(k: Int) = TextIndex.query(store2, "idx", qs,
      "query_id", "qtext", k = k)
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    lazy val store2 = freshStore()
    TextIndex.build(store2, "idx", zdf, "text", "doc_id")
    for (m <- Seq(2, 16)) {
      TextIndex.refreshChampions(store2, "idx", m = m)
      for (k <- Seq(3, 10)) {
        val bounded = TextIndex.queryMaxScore(store2, "idx", qs,
          "query_id", "qtext", k = k)
          .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
        assert(bounded === exact(k), s"m=$m k=$k diverged")
      }
    }
  }

  test("per-file score bounds skip whole chain files; output stays exact") {
    // Base version: 10 short docs that dominate every ranking
    // (alpha tf=8, dl=9). Three append deltas: 30 long docs (dl=30)
    // where alpha/beta occur once each — every delta file's harvested
    // max(tf)=1 / min(dl)=30 zones bound any posting row it holds
    // below θ̂ for the query, under EVERY witness term (alpha witness:
    // tiny file-local alpha ceiling + tiny global beta ceiling; beta
    // witness: the file-local beta ceiling loses more than θ̂'s slack
    // vs the base docs' beta-at-dl-9 contribution). So the bounded
    // probe must read strictly fewer files than the term zones alone
    // admit — whole delta files skipped — and still equal the exact
    // probe to the last tie-broken rank.
    val base = (0L until 10L)
      .map(i => i -> (Seq.fill(8)("alpha") :+ "beta").mkString(" "))
    val delta = (10L until 40L).map { i =>
      val pads = (0 until 28).map(j => s"p${i}x$j")
      val core = if (i < 25L) Seq("alpha", "beta") else Seq("beta", s"p${i}q")
      i -> (core ++ pads).mkString(" ")
    }
    val store = freshStore()
    TextIndex.build(store, "idx", base.toDF("doc_id", "text"),
      "text", "doc_id")
    (0 until 3).foreach { g =>
      TextIndex.append(store, "idx",
        delta.filter(_._1 % 3 == g).toDF("doc_id", "text"), "text", "doc_id",
        compactEvery = 100) // keep the chain: the skip target IS the deltas
    }
    TextIndex.refreshChampions(store, "idx", m = 60)
    val qs = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    def collect(df: DataFrame) =
      df.as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))
    val (boundedDf, io) = TextIndex.queryMaxScoreWithIo(store, "idx", qs,
      "query_id", "qtext", k = 3)
    val bounded = collect(boundedDf)
    val exact = collect(
      TextIndex.query(store, "idx", qs, "query_id", "qtext", k = 3))
    assert(bounded === exact)
    assert(bounded.map(_._2) === Seq(0L, 1L, 2L)) // ties broken id-asc
    val (withBounds, termOnly) = io.getOrElse(
      fail("the MaxScore candidate path must engage, not delegate"))
    assert(withBounds < termOnly,
      s"per-file bounds skipped nothing ($withBounds of $termOnly)")
    assert(withBounds >= 1, "the base file holding the top-k must survive")

    // Multi-query floors: add a query whose term ("beta") matches all
    // 40 docs but asks k=30 — its champion floor is low, so IT must
    // keep the delta files alive (a skip rule that only consulted the
    // strong query's floor would drop rank-11..30 docs that live ONLY
    // in deltas). Exactness across the batch is the proof.
    val qs2 = Seq((0L, "alpha beta"), (1L, "beta p11x3")).toDF("query_id", "qtext")
    val (b2, _) = TextIndex.queryMaxScoreWithIo(store, "idx", qs2,
      "query_id", "qtext", k = 30)
    val e2 = collect(
      TextIndex.query(store, "idx", qs2, "query_id", "qtext", k = 30))
    assert(collect(b2) === e2,
      "mixed-floor query batch diverged from the exact probe")
    assert(e2.count(_._1 == 1L) === 30, "the weak query must fill k=30")
  }

  test("maxscore with stale/missing champions falls back to the exact probe") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.filter(col("doc_id") < 30),
      "text", "doc_id")
    // no champion table at all → fallback
    assert(TextIndex.queryMaxScore(store, "idx", queriesDF, "query_id",
      "qtext").count() > 0)
    TextIndex.refreshChampions(store, "idx", m = 60)
    TextIndex.append(store, "idx", corpusDF.filter(col("doc_id") >= 30),
      "text", "doc_id")
    // stale champions (postings moved on) → fallback must equal the
    // full-corpus exact ranking, never answer from the stale bounds
    assert(!TextIndex.championsFresh(store, "idx"))
    assert(maxScoreRanked(store) === scanRanked())
  }

  test("maintain folds the chain, refreshes champions, vacuums both tables") {
    val store = freshStore()
    TextIndex.build(store, "idx", corpusDF.limit(0), "text", "doc_id")
    (0 until 5).foreach { i =>
      TextIndex.append(store, "idx",
        corpusDF.filter(col("doc_id") % 5 === i), "text", "doc_id",
        compactEvery = 100) // never self-compact: maintain must do it
    }
    TextIndex.refreshChampions(store, "idx", m = 60) // becomes stale below
    TextIndex.append(store, "idx", corpusDF.limit(0), "text", "doc_id",
      compactEvery = 100)
    assert(!TextIndex.championsFresh(store, "idx"))
    TextIndex.maintain(store, "idx", maxChainLength = 2, championM = Some(60))
    assert(TextIndex.championsFresh(store, "idx"))
    // chain folded to a single member
    val v = store.currentVersion("idx")
    assert(store.metaForVersion("idx", v).get("text.parts").forall(_.isEmpty))
    // superseded champion versions dropped — exactly the live champion
    // chain remains (merge refreshes are delta commits since r16)
    val ccv = store.currentVersion("idx__champ")
    val liveChamps = store.metaForVersion("idx__champ", ccv)
      .get("text.champ.parts").filter(_.nonEmpty)
      .map(_.split(",").length).getOrElse(0) + 1
    assert(store.versions("idx__champ").size === liveChamps)
    assert(champRanked(store) === scanRanked())
    // idempotent
    TextIndex.maintain(store, "idx", maxChainLength = 2, championM = Some(60))
    assert(champRanked(store) === scanRanked())
  }

  // ---- unified positional source (r17) -----------------------------
  // One pos-vb-v2 store serves BOTH phrase and BM25: every TextIndex
  // serving path must be score-identical over it, appends/folds must
  // preserve the position payload, and the slim projection must keep
  // `posns` out of the BM25 scan schema.

  import graft.store.PhraseIndex

  /** Build even ids positionally, append odd ids through TextIndex's
    * DELEGATED append — the unified write path. */
  private def unifiedStore(): SnapshotStore = {
    val store = freshStore()
    PhraseIndex.build(store, "idx",
      corpusDF.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    TextIndex.append(store, "idx",
      corpusDF.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    store
  }

  private def phraseHits(store: SnapshotStore, docId: Long)
      : Seq[(Long, Long, Int)] = {
    val qs = corpusDF.filter(col("doc_id") === docId)
      .select(col("doc_id").as("query_id"),
        array_join(slice(graft.functions.TextFunctions.tokens(
          lower(col("text"))), 1, 3), " ").as("phrase"))
    PhraseIndex.phraseQuery(store, "idx", qs, "query_id", "phrase")
      .select("query_id", "doc_id", "phrase_tf")
      .as[(Long, Long, Int)].collect().toSeq
  }

  test("unified store: BM25 probe over the positional table ≡ scan, posns pruned") {
    val store = unifiedStore()
    assert(indexRanked(store) === scanRanked())
    // metadata stats accumulated across the DELEGATED append
    val (n, avgdl) = TextIndex.stats(store, "idx")
    val toks = corpus.map(_._2.trim.split("\\s+").count(_.nonEmpty))
    assert(n === 60L)
    assert(avgdl === toks.sum.toDouble / toks.length)
    // the position payload never enters the BM25 plan: the slim chain
    // projection keeps `posns` out of the scan's required schema
    val plan = TextIndex.query(store, "idx", queriesDF, "query_id", "qtext")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("posns"), "BM25 probe must column-prune the positions")
    // and the delegated append really encoded positions: a phrase from
    // an ODD (appended) doc matches positionally
    assert(phraseHits(store, 1L).exists(h => h._1 === 1L && h._2 === 1L && h._3 >= 1))
  }

  test("unified store: champion merge across the delegated append ≡ rebuild") {
    val store = freshStore()
    PhraseIndex.build(store, "idx",
      corpusDF.filter(col("doc_id") % 2 === 0), "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = 60)
    TextIndex.append(store, "idx",
      corpusDF.filter(col("doc_id") % 2 =!= 0), "text", "doc_id")
    TextIndex.refreshChampions(store, "idx", m = 60)
    // the merge must anchor on phrase.contentVersion across the append
    assert(champMode(store) === Some("merge"))
    val twin = freshStore()
    PhraseIndex.build(twin, "idx", corpusDF, "text", "doc_id")
    TextIndex.refreshChampions(twin, "idx", m = 60)
    assert(champMode(twin) === Some("rebuild"))
    assert(resolvedChampRows(store) === resolvedChampRows(twin))
    assert(champRanked(store) === scanRanked())
  }

  test("unified store: maxscore bounded probe ≡ exact, positional source") {
    val store = unifiedStore()
    TextIndex.refreshChampions(store, "idx", m = 4)
    (1 to 12 by 4).foreach { k =>
      assert(maxScoreRanked(store, k) === indexRanked(store, k), s"k=$k")
      assert(maxScoreRanked(store, k) === scanRanked(k), s"k=$k")
    }
  }

  test("unified store: maintain folds through PhraseIndex — positions survive") {
    val store = freshStore()
    PhraseIndex.build(store, "idx", corpusDF.limit(0), "text", "doc_id")
    (0 until 5).foreach { i =>
      TextIndex.append(store, "idx",
        corpusDF.filter(col("doc_id") % 5 === i), "text", "doc_id",
        compactEvery = 100)
    }
    TextIndex.refreshChampions(store, "idx", m = 60)
    TextIndex.append(store, "idx",
      corpusDF.limit(0), "text", "doc_id", compactEvery = 100)
    assert(!TextIndex.championsFresh(store, "idx"))
    TextIndex.maintain(store, "idx", maxChainLength = 2, championM = Some(60))
    assert(TextIndex.championsFresh(store, "idx"))
    val v = store.currentVersion("idx")
    assert(store.metaForVersion("idx", v).get("phrase.parts").forall(_.isEmpty),
      "maintain must fold the positional chain")
    assert(champRanked(store) === scanRanked())
    // the fold went through PhraseIndex, so phrase serving still works
    // over the folded snapshot — a slim-chain fold would have dropped
    // the position payload here
    assert(phraseHits(store, 0L).exists(h => h._1 === 0L && h._2 === 0L && h._3 >= 1))
    assert(phraseHits(store, 3L).exists(h => h._1 === 3L && h._2 === 3L && h._3 >= 1))
  }

  test("unified store: corpusTag rides the positional build") {
    val store = freshStore()
    PhraseIndex.build(store, "idx", corpusDF, "text", "doc_id",
      corpusTag = Some("crawl-7"))
    assert(TextIndex.corpusTagOf(store, "idx") === Some("crawl-7"))
  }

  test("in-place migration postings→positional: champions stale, serving correct") {
    // SnapshotStore commits MERGE metadata over the old version's, so
    // after a layout migration both prefixes' keys coexist — the
    // authoritative layout key and the cross-layout content bump must
    // keep detection and champion freshness honest (r17 review).
    val store = freshStore()
    TextIndex.build(store, "idx",
      corpusDF.filter(col("doc_id") < 30), "text", "doc_id",
      corpusTag = Some("crawl-1"))
    TextIndex.refreshChampions(store, "idx", m = 60)
    assert(TextIndex.championsFresh(store, "idx"))
    // migrate in place to the unified layout, DIFFERENT corpus
    PhraseIndex.build(store, "idx", corpusDF, "text", "doc_id",
      corpusTag = Some("crawl-2"))
    // the old-corpus champion cache must NOT read as fresh for the new
    assert(!TextIndex.championsFresh(store, "idx"))
    // drift tag comes from the current layout's build, not the leftover
    assert(TextIndex.corpusTagOf(store, "idx") === Some("crawl-2"))
    // exact serving over the migrated table equals the scan truth, and
    // stale champions fall back to it
    assert(indexRanked(store) === scanRanked())
    assert(champRanked(store, fallback = true) === scanRanked())
    // a refresh over the migrated table restores champion freshness
    TextIndex.refreshChampions(store, "idx", m = 60)
    assert(TextIndex.championsFresh(store, "idx"))
    assert(champRanked(store) === scanRanked())
    // the registry path over a table carrying both chain markers:
    // maintainAll routes it to the positional layout's maintenance
    Graft.maintainAll(store)
    assert(TextIndex.championsFresh(store, "idx"))
    assert(indexRanked(store) === scanRanked())
    assert(champRanked(store) === scanRanked())
  }

  test("in-place migration positional→postings: BM25 correct, phrase refuses") {
    val store = freshStore()
    PhraseIndex.build(store, "idx",
      corpusDF.filter(col("doc_id") < 30), "text", "doc_id")
    assert(phraseHits(store, 0L).nonEmpty)
    // shed the positions: rebuild the same table postings-only
    TextIndex.build(store, "idx", corpusDF, "text", "doc_id")
    // reads/appends go through the postings machinery despite the
    // carried-forward phrase.* metadata
    assert(indexRanked(store) === scanRanked())
    TextIndex.append(store, "idx", corpusDF.limit(0), "text", "doc_id")
    assert(indexRanked(store) === scanRanked())
    // phrase serving must refuse loudly — the latest rows carry no
    // positions, and the stale phrase.layout tag must not mis-read them
    val e = intercept[IllegalStateException] { phraseHits(store, 0L) }
    assert(e.getMessage.contains("postings"))
    // ...and so must a direct PhraseIndex VACUUM: computing "live" from
    // the stale phrase.parts chain would delete postings chain members
    // (r17 review — data loss, not just a wrong answer)
    val ev = intercept[IllegalStateException] {
      PhraseIndex.vacuumIndex(store, "idx")
    }
    assert(ev.getMessage.contains("postings"))
    // the postings-side vacuum keeps every live chain member serving
    TextIndex.vacuumIndex(store, "idx")
    assert(indexRanked(store) === scanRanked())
  }

  test("dual-prefix metadata without the layout key refuses instead of guessing") {
    // a pre-layout-key in-place migration is metadata-ambiguous: which
    // chain holds the latest rows is unknowable, and guessing serves a
    // stale corpus silently — refuse until a rebuild stamps the key
    val store = freshStore()
    store.commit("idx", corpusDF.limit(1),
      meta = Map("phrase.tokenizer" -> "ws-lower-v1",
        "text.tokenizer" -> "ws-lower"))
    val e = intercept[IllegalStateException] {
      TextIndex.query(store, "idx", queriesDF, "query_id", "qtext")
    }
    assert(e.getMessage.contains("rebuild"))
  }

  test("unified store: a pre-v2 positional layout refuses with the rebuild contract") {
    val store = freshStore()
    store.commit("idx", corpusDF.limit(1),
      meta = Map("phrase.tokenizer" -> "ws-lower-v1"))
    val e = intercept[IllegalStateException] {
      TextIndex.query(store, "idx", queriesDF, "query_id", "qtext")
    }
    assert(e.getMessage.contains("rebuild"))
  }
}
