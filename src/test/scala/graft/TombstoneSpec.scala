package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store._

/** TAKEDOWN propagation through the persistent index family (r18): a
  * delete is an O(ids) tombstone commit; every serving path reflects it
  * immediately (serve ≡ rebuild-without-docs); physical removal happens
  * at the next fold; reinserts serve from their new rows (the
  * DeltaChain member-version epoch rule); replay/crash windows keep the
  * exactly-once discipline. */
class TombstoneSpec extends SparkSpec {
  import spark.implicits._

  private def docs(n: Int): DataFrame =
    (0 until n).map { i =>
      (i.toLong, s"alpha w${i % 7} beta w${i % 5} gamma tok$i end")
    }.toDF("doc_id", "text")

  private def newStore(tag: String): SnapshotStore =
    new SnapshotStore(TempDirs.create(s"graft-tomb-$tag").toString,
      spark)

  private def ids(vals: Long*): DataFrame = vals.toDF("doc_id")

  /** (query_id, neighbor_id, score, rank) rows, fully collected and
    * sorted — exact equality is the contract (same stats, same plan
    * tail on both sides). */
  private def ranked(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"),
        col("score"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().sortBy(r => (r._1, r._4)).toSeq

  private def queries(d: DataFrame): DataFrame =
    d.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))

  // ---- TextIndex (postings layout) --------------------------------

  test("text: delete -> serve == rebuild-without-docs, score-for-score") {
    val d = docs(60)
    val deleted = Seq(3L, 10L, 17L, 24L)
    val store = newStore("text")
    TextIndex.build(store, "t", d, "text", "doc_id")
    TextIndex.deleteDocs(store, "t", ids(deleted: _*))
    val got = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(!got.exists(r => deleted.contains(r._2)))

    val rebuilt = newStore("text-rb")
    TextIndex.build(rebuilt, "t",
      d.filter(!col("doc_id").isin(deleted: _*)), "text", "doc_id")
    val want = ranked(TextIndex.query(rebuilt, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(got == want, "tombstoned serve must equal rebuild-without-docs")
    // stats (nDocs, avgdl) adjusted exactly — idf/normalization basis
    assert(TextIndex.stats(store, "t") == TextIndex.stats(rebuilt, "t"))
  }

  test("text: delete is idempotent; unknown ids are a no-op") {
    val d = docs(20)
    val store = newStore("idem")
    TextIndex.build(store, "t", d, "text", "doc_id")
    val s0 = TextIndex.stats(store, "t")
    TextIndex.deleteDocs(store, "t", ids(5L))
    val s1 = TextIndex.stats(store, "t")
    TextIndex.deleteDocs(store, "t", ids(5L, 999L)) // re-delete + unknown
    assert(TextIndex.stats(store, "t") == s1)
    assert(s1._1 == s0._1 - 1)
    val got = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(!got.exists(_._2 == 5L))
  }

  test("text: tombstone-then-reinsert serves the NEW rows (epoch rule)") {
    val d = docs(20)
    val store = newStore("reins")
    TextIndex.build(store, "t", d, "text", "doc_id")
    TextIndex.deleteDocs(store, "t", ids(7L))
    // reinsert id 7 with new text; the old rows stay hidden, new serve
    TextIndex.append(store, "t",
      Seq((7L, "alpha w0 beta w0 gamma tok7b end")).toDF("doc_id", "text"),
      "text", "doc_id")
    val got = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    val rebuilt = newStore("reins-rb")
    TextIndex.build(rebuilt, "t",
      d.filter(col("doc_id") =!= 7L).unionByName(
        Seq((7L, "alpha w0 beta w0 gamma tok7b end")).toDF("doc_id", "text")),
      "text", "doc_id")
    val want = ranked(TextIndex.query(rebuilt, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(got == want)
    // double-delete: a second tombstone (higher epoch) hides the reinsert
    TextIndex.deleteDocs(store, "t", ids(7L))
    val got2 = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(!got2.exists(_._2 == 7L))
  }

  test("text: fold physically removes tombstoned rows and clears the keys") {
    val d = docs(40)
    val store = newStore("fold")
    TextIndex.build(store, "t", d, "text", "doc_id")
    TextIndex.deleteDocs(store, "t", ids(4L, 9L))
    val before = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    // maintain folds UNCONDITIONALLY with pending tombstones
    TextIndex.maintain(store, "t", maxChainLength = 100)
    val meta = store.metaForVersion("t", store.currentVersion("t"))
    assert(meta.get("text.parts").contains(""))
    assert(meta.get("text.parts.tombs").forall(_.isEmpty))
    // physically absent: the folded snapshot's RAW rows hold no deleted id
    val raw = store.loadVersion("t", store.currentVersion("t"))
    assert(raw.filter(col("neighbor_id").isin(4L, 9L)).count() == 0)
    // vacuum dropped the tombstone member dirs (only the fold remains)
    assert(store.versions("t") == Seq(store.currentVersion("t")))
    val after = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(after == before, "fold is representation-only")
  }

  test("text: vacuum before the fold keeps the tombstone member") {
    val d = docs(20)
    val store = newStore("vac")
    TextIndex.build(store, "t", d, "text", "doc_id")
    val tombV = TextIndex.deleteDocs(store, "t", ids(3L))
    TextIndex.vacuumIndex(store, "t")
    assert(store.versions("t").contains(tombV),
      "a vacuumed tombstone would resurrect its rows")
    val got = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(!got.exists(_._2 == 3L))
  }

  test("text: rebuild over a tombstoned table resets the tombstones") {
    val d = docs(20)
    val store = newStore("rebuild")
    TextIndex.build(store, "t", d, "text", "doc_id")
    TextIndex.deleteDocs(store, "t", ids(3L))
    TextIndex.build(store, "t", d, "text", "doc_id") // in-place rebuild
    val got = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(got.exists(_._2 == 3L), "phantom tombstone survived the rebuild")
  }

  test("text: exactly-once watermark survives a delete in between") {
    val d = docs(30)
    val store = newStore("once")
    TextIndex.build(store, "t", d.filter(col("doc_id") < 10), "text", "doc_id")
    assert(TextIndex.appendBatchOnce(store, "t",
      d.filter(col("doc_id") >= 10 && col("doc_id") < 20), "text", "doc_id",
      "s", 0L))
    TextIndex.deleteDocs(store, "t", ids(12L))
    // replay of batch 0 must still be skipped (meta carried through the
    // tombstone commit) — applying it would resurrect id 12's postings
    // as NEW rows above the tombstone's epoch
    assert(!TextIndex.appendBatchOnce(store, "t",
      d.filter(col("doc_id") >= 10 && col("doc_id") < 20), "text", "doc_id",
      "s", 0L))
    assert(TextIndex.appendBatchOnce(store, "t",
      d.filter(col("doc_id") >= 20), "text", "doc_id", "s", 1L))
    val got = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(!got.exists(_._2 == 12L))
  }

  // ---- champions / MaxScore over a delete --------------------------

  test("text: delete stales champions; refresh is DELETE-MERGE and == rebuild") {
    val d = docs(60)
    val deleted = Seq(3L, 10L)
    val store = newStore("champ")
    TextIndex.build(store, "t", d, "text", "doc_id")
    TextIndex.refreshChampions(store, "t", m = 1024)
    assert(TextIndex.championsFresh(store, "t"))
    TextIndex.deleteDocs(store, "t", ids(deleted: _*))
    assert(!TextIndex.championsFresh(store, "t"),
      "champions must go stale on delete — their df/top-m predate it")
    // stale fallback serves the exact tombstone-filtered probe
    val viaChamp = ranked(TextIndex.queryChampions(store, "t", queries(d),
      "query_id", "qtext", k = 50))
    assert(!viaChamp.exists(r => deleted.contains(r._2)))
    // the refresh takes the DELETE-MERGE path (r18): touched terms
    // re-selected from the visible postings, untouched terms kept
    TextIndex.refreshChampions(store, "t", m = 1024)
    val ct = "t__champ"
    val cmeta = store.metaForVersion(ct, store.currentVersion(ct))
    assert(cmeta.get("text.champ.mode").contains("delete-merge"))
    assert(TextIndex.championsFresh(store, "t"))
    // the RESOLVED champion table must equal a rebuild's row-for-row
    val rebuilt = newStore("champ-rb")
    TextIndex.build(rebuilt, "t",
      d.filter(!col("doc_id").isin(deleted: _*)), "text", "doc_id")
    TextIndex.refreshChampions(rebuilt, "t", m = 1024)
    def champRows(s: SnapshotStore) = TextIndex.loadChampions(s, "t")
      .select(col("term"), col("df").cast("long"),
        col("max_tf").cast("long"), col("min_dl").cast("int"),
        col("neighbor_id").cast("long"), col("dl").cast("int"),
        col("tf").cast("long"))
      .as[(String, Long, Long, Int, Long, Int, Long)].collect().sorted.toSeq
    assert(champRows(store) == champRows(rebuilt),
      "delete-merge champion content must equal rebuild-without-docs")
    // vanished-term contract: tok3/tok10 are doc-unique, so deleting
    // their docs vanishes the terms — the marker must keep an older
    // member's stale entry from resurrecting the deleted docs
    assert(TextIndex.loadChampions(store, "t")
      .filter(col("term").isin("tok3", "tok10")).count() == 0)
    // at m >= every df, champions == exact: compare against the rebuild
    val want = ranked(TextIndex.query(rebuilt, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(ranked(TextIndex.queryChampions(store, "t", queries(d),
      "query_id", "qtext", k = 50)) == want)
    val ms = ranked(TextIndex.queryMaxScore(store, "t", queries(d),
      "query_id", "qtext", k = 50))
    assert(ms == want, "MaxScore over refreshed champions after a delete")
  }

  test("text: delete + append then refresh — one delete-merge covers both") {
    val d = docs(50)
    val store = newStore("champ-mixed")
    TextIndex.build(store, "t", d.filter(col("doc_id") < 40), "text", "doc_id")
    TextIndex.refreshChampions(store, "t", m = 1024)
    TextIndex.deleteDocs(store, "t", ids(5L, 6L))
    TextIndex.append(store, "t", d.filter(col("doc_id") >= 40), "text",
      "doc_id")
    TextIndex.refreshChampions(store, "t", m = 1024)
    val cmeta = store.metaForVersion("t__champ",
      store.currentVersion("t__champ"))
    assert(cmeta.get("text.champ.mode").contains("delete-merge"))
    val rebuilt = newStore("champ-mixed-rb")
    TextIndex.build(rebuilt, "t",
      d.filter(!col("doc_id").isin(5L, 6L)), "text", "doc_id")
    val want = ranked(TextIndex.query(rebuilt, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(ranked(TextIndex.queryChampions(store, "t", queries(d),
      "query_id", "qtext", k = 50)) == want)
    // the delete-merge anchors freshness at the CURRENT content, so the
    // NEXT append refreshes through the cheap append-merge again
    TextIndex.append(store, "t",
      Seq((100L, "alpha w1 beta w1 gamma tok100 end")).toDF("doc_id", "text"),
      "text", "doc_id")
    TextIndex.refreshChampions(store, "t", m = 1024)
    assert(store.metaForVersion("t__champ",
        store.currentVersion("t__champ"))
      .get("text.champ.mode").contains("merge"),
      "the steady merge cycle must resume after a delete-merge")
  }

  test("text: post-delete refresh anchors merge-mode on the tombstone member") {
    val d = docs(60)
    val store = newStore("champ-merge")
    TextIndex.build(store, "t", d.filter(col("doc_id") < 40), "text", "doc_id")
    TextIndex.refreshChampions(store, "t", m = 1024)
    TextIndex.deleteDocs(store, "t", ids(5L))
    TextIndex.refreshChampions(store, "t", m = 1024) // rebuild (tomb > anchor)
    // append AFTER the refreshed-post-delete state: merge is sound again,
    // anchored on the tombstone member's content
    TextIndex.append(store, "t", d.filter(col("doc_id") >= 40), "text",
      "doc_id")
    TextIndex.refreshChampions(store, "t", m = 1024)
    val ct = "t__champ"
    val cmeta = store.metaForVersion(ct, store.currentVersion(ct))
    assert(cmeta.get("text.champ.mode").contains("merge"),
      "tombstones at/before the anchor must not force full rebuilds forever")
    val rebuilt = newStore("champ-merge-rb")
    TextIndex.build(rebuilt, "t",
      d.filter(col("doc_id") =!= 5L), "text", "doc_id")
    val want = ranked(TextIndex.query(rebuilt, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(ranked(TextIndex.queryChampions(store, "t", queries(d),
      "query_id", "qtext", k = 50)) == want)
  }

  // ---- unified positional store ------------------------------------

  test("positional: TextIndex.deleteDocs delegates; phrase + BM25 reflect it") {
    val d = docs(40)
    val store = newStore("pos")
    PhraseIndex.build(store, "t", d, "text", "doc_id")
    TextIndex.deleteDocs(store, "t", ids(6L, 13L)) // layout-aware delegation
    val got = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    val rebuilt = newStore("pos-rb")
    PhraseIndex.build(rebuilt, "t",
      d.filter(!col("doc_id").isin(6L, 13L)), "text", "doc_id")
    val want = ranked(TextIndex.query(rebuilt, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(got == want)
    // the phrase path: every doc contains "beta", deleted ones must not match
    val phrases = Seq((0L, "gamma tok6 end"), (1L, "alpha w0")).toDF("query_id", "phrase")
    val pm = PhraseIndex.phraseQuery(store, "t", phrases, "query_id", "phrase")
      .select(col("query_id"), col("doc_id")).as[(Long, Long)].collect().toSet
    assert(!pm.contains((0L, 6L)) && !pm.exists(_._2 == 13L))
    val pmWant = PhraseIndex.phraseQuery(rebuilt, "t", phrases, "query_id",
      "phrase").select(col("query_id"), col("doc_id"))
      .as[(Long, Long)].collect().toSet
    assert(pm == pmWant)
    // ranked phrase scores (df_phrase, nDocs, avgdl all shift) == rebuild
    val pr = PhraseIndex.phraseQueryRanked(store, "t", phrases, "query_id",
      "phrase", k = 50)
    val prWant = PhraseIndex.phraseQueryRanked(rebuilt, "t", phrases,
      "query_id", "phrase", k = 50)
    assert(ranked(pr.withColumnRenamed("doc_id", "neighbor_id")) ==
      ranked(prWant.withColumnRenamed("doc_id", "neighbor_id")))
    pr.unpersist(blocking = false)
    prWant.unpersist(blocking = false)
    // fold through PhraseIndex keeps positions AND applies the removal
    TextIndex.maintain(store, "t", maxChainLength = 100)
    val raw = store.loadVersion("t", store.currentVersion("t"))
    assert(raw.columns.contains("posns"), "positional fold must keep positions")
    assert(raw.filter(col("doc_id").isin(6L, 13L)).count() == 0)
    assert(pm == PhraseIndex.phraseQuery(store, "t", phrases, "query_id",
      "phrase").select(col("query_id"), col("doc_id"))
      .as[(Long, Long)].collect().toSet)
  }

  // ---- crash window --------------------------------------------------

  test("crash recovery: an orphaned dir past LATEST does not block a delete") {
    val d = docs(10)
    val root = TempDirs.create("graft-tomb-crash").toString
    val store = new SnapshotStore(root, spark)
    TextIndex.build(store, "t", d, "text", "doc_id")
    val v = store.currentVersion("t")
    // simulate a writer that died after the parquet write, before the flip
    val orphan = java.nio.file.Paths.get(root, "t", f"v${v + 1}%05d")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("junk"), "half-written")
    val tombV = TextIndex.deleteDocs(store, "t", ids(2L))
    assert(tombV == v + 1)
    val got = ranked(TextIndex.query(store, "t", queries(d), "query_id",
      "qtext", k = 50))
    assert(!got.exists(_._2 == 2L))
  }

  // ---- fingerprint index ---------------------------------------------

  test("fingerprint: deleting an owner frees the content; fold removes it") {
    val d = docs(30)
    val store = newStore("fp")
    FingerprintIndex.build(store, "t", d, "text", "doc_id")
    FingerprintIndex.deleteDocs(store, "t", ids(4L))
    // the content is re-insertable: a new doc with doc 4's text resolves new
    val re = FingerprintIndex.appendBatchOnce(store, "t",
      Seq((100L, docs(30).filter(col("doc_id") === 4L)
        .select("text").as[String].head())).toDF("doc_id", "text"),
      "text", "doc_id", "s", 0L).get
    assert(re.select("is_new").as[Boolean].head(), "deleted owner must free the fp")
    re.unpersist(blocking = false)
    // bloom-probe path honors the tombstone too: the deleted owner's row
    // must not resolve a colliding id (fresh store, same delete)
    val s2 = newStore("fp-bloom")
    FingerprintIndex.build(s2, "t", d, "text", "doc_id")
    FingerprintIndex.deleteDocs(s2, "t", ids(4L))
    val r2 = FingerprintIndex.resolve(s2, "t",
      Seq((100L, d.filter(col("doc_id") === 4L).select("text").as[String].head()))
        .toDF("doc_id", "text"),
      "text", "doc_id", bloomProbeMaxKeys = 1000)
    assert(r2.select("is_new").as[Boolean].head())
    // physical removal at the fold
    assert(FingerprintIndex.compactIndex(store, "t"))
    assert(store.loadVersion("t", store.currentVersion("t"))
      .filter(col("id") === 4L).count() == 0)
    assert(FingerprintIndex.load(store, "t").filter(col("id") === 100L)
      .count() == 1, "the reinserted owner survives the fold")
  }

  // ---- LSH dedup family ----------------------------------------------

  test("minhash: deleted ids stop pairing; serve == rebuild-without-docs") {
    // two planted near-dup groups: (1,2) and (3,4); delete 2 -> only (3,4)
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "the quick brown fox jumps over the lazy dog tonight"),
      (3L, "pack my box with five dozen liquor jugs right now"),
      (4L, "pack my box with five dozen liquor jugs right here"),
      (5L, "completely unrelated text about distributed query engines"))
      .toDF("doc_id", "text")
    val store = newStore("mh")
    DedupIndex.build(store, "t", base, "text", "doc_id")
    DedupIndex.deleteDocs(store, "t", ids(2L).toDF("id"))
    val pairs = DedupIndex.pairsForCommitted(store, "t",
      Seq(1L, 2L, 3L, 4L, 5L).toDF("id"), threshold = 0.4)
      .select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    assert(pairs == Set((3L, 4L)), s"got $pairs")
    // an appended batch cannot pair against the deleted id either
    val np = DedupIndex.appendBatch(store, "t",
      Seq((6L, "the quick brown fox jumps over the lazy dog tonight"))
        .toDF("doc_id", "text"), "text", "doc_id", threshold = 0.4)
    val npSet = np.select(col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toSet
    assert(npSet.contains((1L, 6L)) && !npSet.exists(p => p._1 == 2L || p._2 == 2L))
    np.unpersist(blocking = false)
  }

  test("simhash + embed + sem: deletes propagate through every append path") {
    // SimHash: identical texts 1/2; delete 2; appending 3 (same text)
    // pairs with 1 only
    val sh = Seq((1L, "same text here"), (2L, "same text here"))
      .toDF("doc_id", "text")
      .select(col("doc_id").as("id"),
        graft.functions.Dedup.simhash64(col("text")).as("sh64"))
    val shStore = newStore("sh")
    SimHashIndex.build(shStore, "t", sh, nBlocks = 4, maxHamming = 3)
    SimHashIndex.deleteDocs(shStore, "t", ids(2L).toDF("id"))
    val shp = SimHashIndex.appendBatchOnce(shStore, "t",
      Seq((3L, "same text here")).toDF("doc_id", "text")
        .select(col("doc_id").as("id"),
          graft.functions.Dedup.simhash64(col("text")).as("sh64")),
      "s", 0L).get
    val shSet = shp.select(col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toSet
    assert(shSet == Set((1L, 3L)), s"got $shSet")
    shp.unpersist(blocking = false)

    // Embed: vec 1 == vec 2; delete 2; batch vec 3 pairs with 1 only
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextFloat())
    }
    val ev = Seq((1L, vec(7)), (2L, vec(7))).toDF("id", "vec")
    val eStore = newStore("emb")
    EmbedIndex.build(eStore, "t", ev, dim = 16, threshold = 0.999,
      expectedCorpus = 100L)
    EmbedIndex.deleteDocs(eStore, "t", ids(2L).toDF("id"))
    val ep = EmbedIndex.appendBatchOnce(eStore, "t",
      Seq((3L, vec(7))).toDF("id", "vec"), "s", 0L).get
    val eSet = ep.select(col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toSet
    assert(eSet == Set((1L, 3L)), s"got $eSet")
    ep.unpersist(blocking = false)

    // Sem: same shape under the trained-cluster regime (one cluster)
    val sv = Seq((1L, vec(9)), (2L, vec(9))).toDF("id", "vec")
    val sStore = newStore("sem")
    SemIndex.build(sStore, "t", sv, dim = 16, eps = 0.999, nClusters = 1)
    SemIndex.deleteDocs(sStore, "t", ids(2L).toDF("id"))
    val sp = SemIndex.appendBatchOnce(sStore, "t",
      Seq((3L, vec(9))).toDF("id", "vec"), "s", 0L).get
    val sSet = sp.select(col("id_a"), col("id_b"))
      .as[(Long, Long)].collect().toSet
    assert(sSet == Set((1L, 3L)), s"got $sSet")
    sp.unpersist(blocking = false)
    // retrain (a full-snapshot rewrite) applies the removal physically
    assert(SemIndex.retrainIfDrifted(sStore, "t", maxAppendFraction = 0.1))
    val meta = sStore.metaForVersion("t", sStore.currentVersion("t"))
    assert(meta.get("semdedup.parts.tombs").forall(_.isEmpty))
    assert(sStore.loadVersion("t", sStore.currentVersion("t"))
      .filter(col("id") === 2L).count() == 0)
  }

  // ---- vector index ---------------------------------------------------

  test("vector: deleted ids leave every ANN result; fold removes the codes") {
    def vec(seed: Int): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.fill(16)(r.nextFloat() - 0.5f)
    }
    val corpus = (0 until 200).map(i => (i.toLong, vec(i))).toDF("id", "vec")
    val store = newStore("vi")
    VectorIndex.build(store, "t", corpus, "id", "vec", dim = 16,
      nLists = 4, m = 4, kCodes = 8)
    val qs = Seq((0L, vec(3))).toDF("qid", "qvec") // query AT vec 3
    val deleted = ids(3L).toDF("neighbor_id")
    VectorIndex.deleteDocs(store, "t", deleted)
    // full-probe + refine = exact over the visible corpus
    val got = VectorIndex.queryRefined(store, "t", corpus, "id", "vec",
      qs, "qid", "qvec", k = 5, nProbe = 4)
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(!got.contains(3L))
    val rebuilt = newStore("vi-rb")
    VectorIndex.build(rebuilt, "t",
      corpus.filter(col("id") =!= 3L), "id", "vec", dim = 16,
      nLists = 4, m = 4, kCodes = 8)
    val want = VectorIndex.queryRefined(rebuilt, "t", corpus, "id", "vec",
      qs, "qid", "qvec", k = 5, nProbe = 4)
      .select(col("neighbor_id")).as[Long].collect().toSet
    assert(got == want, "delete -> serve == rebuild-without-docs (exact refine)")
    assert(VectorIndex.compactIndex(store, "t"))
    assert(store.loadVersion("t", store.currentVersion("t"))
      .filter(col("neighbor_id") === 3L).count() == 0)
  }

  // ---- exactly-once takedown queue ------------------------------------

  test("deleteDocsOnce: a replayed delete batch cannot out-epoch a reinsert") {
    val d = docs(20)
    val store = newStore("delonce")
    TextIndex.build(store, "t", d, "text", "doc_id")
    PhraseIndex.build(store, "p", d, "text", "doc_id")
    // the postings ("t") and positional ("p") layouts share one protocol
    for (t <- Seq("t", "p")) {
      // takedown queue applies batch 0: delete doc 7
      assert(TextIndex.deleteDocsOnce(store, t, ids(7L), "tdq", 0L))
      // doc 7's content is re-ingested later (a corrected version)
      TextIndex.append(store, t,
        Seq((7L, "alpha w0 beta w0 gamma tok7b end")).toDF("doc_id", "text"),
        "text", "doc_id")
      // the queue REDELIVERS batch 0 (at-least-once) — without the
      // watermark this tombstone would land at a higher epoch and hide
      // the reinsert; with it the replay is skipped
      assert(!TextIndex.deleteDocsOnce(store, t, ids(7L), "tdq", 0L))
      val got = ranked(TextIndex.query(store, t, queries(d), "query_id",
        "qtext", k = 50))
      assert(got.exists(_._2 == 7L), s"$t: replayed delete hid the reinsert")
      // a GENUINE second delete (next batch id) applies normally
      assert(TextIndex.deleteDocsOnce(store, t, ids(7L), "tdq", 1L))
      assert(!ranked(TextIndex.query(store, t, queries(d), "query_id",
        "qtext", k = 50)).exists(_._2 == 7L))
      // the Graft dispatch form shares the same watermark namespace
      assert(!Graft.deleteDocsOnce(store, t, ids(7L), "tdq", 1L))
    }
    // the simple-index form: same protocol on the fingerprint chain
    FingerprintIndex.build(store, "fp", d, "text", "doc_id")
    assert(Graft.deleteDocsOnce(store, "fp", ids(3L).toDF("id"), "tdq", 0L))
    assert(!Graft.deleteDocsOnce(store, "fp", ids(3L).toDF("id"), "tdq", 0L))
    assert(FingerprintIndex.load(store, "fp")
      .filter(col("id") === 3L).count() == 0)
  }

  test("takedownFromStream: one queue drives the whole store, per-table exactly-once") {
    val d = docs(30)
    val store = newStore("tdstream")
    TextIndex.build(store, "docs_text", d, "text", "doc_id")
    FingerprintIndex.build(store, "docs_fp", d, "text", "doc_id")
    // the takedown queue: two micro-batches of deletion ids
    val inbox = TempDirs.create("graft-td-inbox").toString
    Seq(4L, 9L).toDF("doc_id").coalesce(1).write.parquet(s"$inbox/b0.parquet")
    Seq(14L).toDF("doc_id").coalesce(1).write.parquet(s"$inbox/b1.parquet")
    // simulate a crash window: batch 0 already applied to docs_text
    // only (the prefix a dying consumer left behind) — the stream's
    // replay must complete docs_fp WITHOUT double-applying docs_text
    assert(TextIndex.deleteDocsOnce(store, "docs_text",
      ids(4L, 9L), "takedown", 0L))
    val vText = store.currentVersion("docs_text")
    val stream = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inbox/*.parquet")
    val q = Graft.takedownFromStream(store, Seq("docs_text", "docs_fp"),
      stream, TempDirs.create("graft-ckpt").toString)
    q.processAllAvailable()
    q.stop()
    // docs_text: batch 0 skipped as replay (ONE tombstone commit for
    // it), batch 1 applied
    assert(store.currentVersion("docs_text") == vText + 1,
      "replayed batch must not re-commit; new batch must commit once")
    val got = ranked(TextIndex.query(store, "docs_text", queries(d),
      "query_id", "qtext", k = 50))
    for (del <- Seq(4L, 9L, 14L)) assert(!got.exists(_._2 == del))
    // docs_fp: both batches applied by the stream
    assert(FingerprintIndex.load(store, "docs_fp")
      .filter(col("id").isin(4L, 9L, 14L)).count() == 0)
    // one maintenance cycle folds every tombstoned chain
    Graft.maintainAll(store)
    assert(store.loadVersion("docs_text", store.currentVersion("docs_text"))
      .filter(col("neighbor_id").isin(4L, 9L, 14L)).count() == 0)
  }

  // ---- lineage under takedown -----------------------------------------

  test("takedownLineage: deleted keep-targets promote, members re-point, no orphans") {
    // groups: {1 <- 2 <- 3 (chain), 1 <- 7}, {4 <- 5}, singleton 6,
    // untouched {8 <- 9}. Delete 1 (root with survivors), 4 AND 5
    // (whole group), 6 (singleton), and 9 (non-root member).
    val lineage = Seq(
      (1L, 1L, "new"), (2L, 1L, "near"), (3L, 2L, "near"), (7L, 1L, "exact"),
      (4L, 4L, "new"), (5L, 4L, "near"),
      (6L, 6L, "new"),
      (8L, 8L, "new"), (9L, 8L, "near")).toDF("id", "keep_id", "regime")
    val out = CurationIngest.takedownLineage(lineage,
      Seq(1L, 4L, 5L, 6L, 9L).toDF("id"))
    val rows = out.select(col("id"), col("keep_id"), col("regime"))
      .as[(Long, Long, String)].collect().toSet
    out.unpersist(blocking = false)
    assert(rows == Set(
      (2L, 2L, "promoted"), // smallest survivor of 1's group becomes root
      (3L, 2L, "near"),     // chain member re-points to the NEW root
      (7L, 2L, "exact"),    // regime preserved on re-pointed members
      (8L, 8L, "new")       // untouched group intact, member 9 removed
    ), s"got $rows")
    // invariant: no keep_id names a deleted or absent doc
    val ids = rows.map(_._1)
    assert(rows.forall(r => ids.contains(r._2)), "orphaned keep_id")
  }

  // ---- store-wide dispatch / maintenance routing ----------------------

  test("Graft.deleteDocs dispatches by marker; maintainAll folds tombstones") {
    val d = docs(30)
    val store = newStore("dispatch")
    TextIndex.build(store, "docs_text", d, "text", "doc_id")
    FingerprintIndex.build(store, "docs_fp", d, "text", "doc_id")
    Graft.deleteDocs(store, "docs_text", ids(3L))
    Graft.deleteDocs(store, "docs_fp", ids(3L).toDF("id"))
    intercept[IllegalArgumentException] {
      Graft.deleteDocs(store, "unknown_table", ids(1L))
    }
    // champion caches refuse direct deletes
    TextIndex.refreshChampions(store, "docs_text", m = 8)
    intercept[IllegalArgumentException] {
      Graft.deleteDocs(store, "docs_text__champ", ids(1L))
    }
    // one maintenance cycle folds BOTH tombstoned chains (len 2 < default 4
    // would not fold without the tombs-pending rule)
    Graft.maintainAll(store)
    for (t <- Seq("docs_text", "docs_fp")) {
      val meta = store.metaForVersion(t, store.currentVersion(t))
      val tombsKey = meta.keys.find(_.endsWith(".parts.tombs"))
      assert(tombsKey.forall(k => meta(k).isEmpty), s"$t tombs not folded")
    }
    assert(store.loadVersion("docs_text", store.currentVersion("docs_text"))
      .filter(col("neighbor_id") === 3L).count() == 0)
    assert(store.loadVersion("docs_fp", store.currentVersion("docs_fp"))
      .filter(col("id") === 3L).count() == 0)
    // a second cycle is a pure no-op (idempotent maintenance)
    val v1 = store.currentVersion("docs_text")
    Graft.maintainAll(store)
    assert(store.currentVersion("docs_text") == v1)
  }
}
