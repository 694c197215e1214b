package graft

import org.apache.spark.sql.functions._

import graft.functions.NgramLm
import graft.queries.ExtensionQueries

/** Statistical bigram-LM quality filter: hand-computed model and
  * scores (quantized integer log2 arithmetic), minCount pruning,
  * short-doc edges, fast expression path ≡ explode+join fallback,
  * and the registered planted-gibberish query's discrimination. */
class NgramLmSpec extends SparkSpec {

  import spark.implicits._

  // train: "a b":3 "b a":1 "b c":2 "c d":1; unigrams a:3 b:3 c:2 d:1
  private def train = Seq(
    (1L, "a b a b c"),
    (2L, "a b c d")
  ).toDF("doc_id", "text")

  private def apply_ = train.union(Seq(
    (3L, "a b x"),   // one in-model pair, one unseen
    (4L, "z"),       // 1 token: no bigrams → (0, 0), kept
    (5L, "")         // empty → (0, 0), kept
  ).toDF("doc_id", "text"))

  test("trained model: quantized conditional log2 probs, hand truth") {
    val m = NgramLm.train(train, "text", minCount = 0)
      .as[(String, Long)].collect().toMap
    // qlp = flog2(c_bigram) - flog2(c_head): flog2(3)=1 flog2(2)=1 flog2(1)=0
    assert(m === Map("a b" -> 0L, "b a" -> -1L, "b c" -> 0L, "c d" -> -1L))
  }

  test("minCount prunes singleton bigrams") {
    val m = NgramLm.train(train, "text", minCount = 1)
      .as[(String, Long)].collect().toMap
    assert(m.keySet === Set("a b", "b c"))
  }

  test("two-phase hash-candidate train ≡ direct string count") {
    // candGate=0 forces the direct string path; default takes the
    // hash-candidate path — same model either way, and again on the
    // real sf corpus
    for (mc <- Seq(0L, 1L)) {
      val direct = NgramLm.train(train, "text", mc, candGate = 0)
        .as[(String, Long)].collect().toMap
      val twoPhase = NgramLm.train(train, "text", mc)
        .as[(String, Long)].collect().toMap
      assert(twoPhase === direct, s"minCount=$mc")
    }
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val a = NgramLm.train(docs, "text", 1, candGate = 0)
      .as[(String, Long)].collect().toMap
    val b = NgramLm.train(docs, "text", 1)
      .as[(String, Long)].collect().toMap
    assert(a === b)
  }

  private def scoreAll(modelGate: Int) = {
    val model = NgramLm.train(train, "text", minCount = 0)
    NgramLm.scoreDocs(apply_, "doc_id", "text", model,
      penalty = -10L, threshold = -4L, modelGate = modelGate)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getBoolean(3)))).toMap
  }

  test("scores: hand truth, penalty on unseen, short-doc edges") {
    val out = scoreAll(modelGate = 1000000)
    // doc1: "a b"(0) "b a"(-1) "a b"(0) "b c"(0) = -1 over 4 >= -16 keep
    assert(out(1L) === ((-1L, 4, true)))
    // doc2: 0 + 0 + -1 = -1 over 3 keep
    assert(out(2L) === ((-1L, 3, true)))
    // doc3: "a b"(0) + "b x"(-10) = -10 over 2; threshold -4*2=-8 → drop
    assert(out(3L) === ((-10L, 2, false)))
    assert(out(4L) === ((0L, 0, true)), "no bigrams → neutral, kept")
    assert(out(5L) === ((0L, 0, true)))
  }

  test("fallback (explode+join) path is row-identical to the fast path") {
    assert(scoreAll(modelGate = 1000000) === scoreAll(modelGate = 0))
  }

  test("persistent model: commit, cold reopen, score ≡ direct; versioned retrain") {
    import graft.store.SnapshotStore
    val root = TempDirs.create("graft-lmspec").toString
    val m0 = NgramLm.train(train, "text", minCount = 0)
    val v1 = NgramLm.commitModel(new SnapshotStore(root, spark), "lm", m0, minCount = 0)
    assert(v1 === 1L)
    val reopened = new SnapshotStore(root, spark)
    val direct = scoreAll(modelGate = 1000000)
    val stored = NgramLm.scoreDocs(apply_, "doc_id", "text",
      NgramLm.loadModel(reopened, "lm"), penalty = -10L, threshold = -4L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getBoolean(3)))).toMap
    assert(stored === direct, "stored-model scoring ≡ in-memory model")
    // retrain with pruning → version 2; version 1 stays readable
    val v2 = NgramLm.commitModel(reopened, "lm",
      NgramLm.train(train, "text", minCount = 1), minCount = 1)
    assert(v2 === 2L)
    assert(reopened.loadVersion("lm", 1).count() === 4L, "old model intact")
    assert(reopened.load("lm").count() === 2L, "latest is the pruned model")
    assert(reopened.latestMeta("lm")("lm.minCount") === "1")
  }

  test("registered quality_lm: planted gibberish rejected, corpus kept") {
    val out = ExtensionQueries.qualityLm(spark, sfDir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(out.count() === docs.count(), "one row per document")
    // every doc_id%11=7 doc is 8 doc-unique tokens: all 7 bigrams are
    // corpus singletons → pruned → 7 × penalty, far below threshold
    val junk = out.filter(col("doc_id") % 11 === 7)
    assert(junk.count() > 0)
    assert(junk.filter(col("keep")).count() === 0,
      "planted high-perplexity docs must be dropped")
    assert(junk.filter(col("lm_score") =!= -210L || col("n_bigrams") =!= 7)
      .count() === 0, "junk docs score exactly 7 × penalty")
    // the 30-word-vocabulary corpus is dense in trained bigrams: the
    // overwhelming majority of real docs must clear the threshold
    val real = out.filter(col("doc_id") % 11 =!= 7)
    val keptFrac = real.filter(col("keep")).count().toDouble / real.count()
    assert(keptFrac > 0.9, s"real docs mostly kept, got $keptFrac")
  }
}
