package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store._

/** One scheduler call maintains the whole store: Graft.maintainAll must
  * discover every index table through its committed metadata marker,
  * apply that index's own maintenance (fold / champion refresh / drift
  * retrain / vacuum — each already pinned by its per-index spec), leave
  * everything else untouched, and be idempotent. The crash-window story
  * is inherited: every step commits through the store's atomic version
  * flip, so this spec pins dispatch + idempotence, not re-proofs. */
class GraftMaintainSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 40L)
    .map(i => i -> s"alpha beta w$i x${i % 7} y${i % 5} z${i % 3}")

  private def unitVec(rnd: scala.util.Random, dim: Int): Array[Float] = {
    val v = Array.fill(dim)(rnd.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def docBatch(g: Int): DataFrame =
    docs.slice(10 * g, 10 * g + 10).toDF("doc_id", "text")

  /** (table → current version) for every table in the store. */
  private def versionMap(store: SnapshotStore): Map[String, Long] =
    store.tables.map(t => t -> store.currentVersion(t)).toMap

  private def chainParts(store: SnapshotStore, t: String, key: String): String =
    store.metaForVersion(t, store.currentVersion(t)).getOrElse(key, "<absent>")

  test("buildTextIndex: the documented default is the unified positional layout") {
    val root = TempDirs.create("graft-deftext").toString
    val store = new SnapshotStore(root, spark)
    val d = docs.toDF("doc_id", "text")
    Graft.buildTextIndex(store, "t", d, "text", "doc_id")
    // the default build stamps the authoritative positional layout key…
    val meta = store.metaForVersion("t", store.currentVersion("t"))
    assert(meta.get("graft.text.layout").contains("pos-vb-v2"),
      "the default text build must be the unified positional layout")
    // …and ONE store serves both retrieval families
    val qs = d.filter(col("doc_id") < 2)
      .select(col("doc_id").as("query_id"), col("text").as("qtext"))
    assert(TextIndex.query(store, "t", qs, "query_id", "qtext").count() > 0)
    val ph = Seq((0L, "alpha beta w0")).toDF("query_id", "phrase")
    assert(PhraseIndex.phraseQuery(store, "t", ph, "query_id", "phrase")
      .count() > 0)
    // the slim standalone layout stays first-class for BM25-only corpora
    TextIndex.build(store, "t2", d, "text", "doc_id")
    assert(store.metaForVersion("t2", store.currentVersion("t2"))
      .get("graft.text.layout").contains("postings"))
    assert(TextIndex.query(store, "t2", qs, "query_id", "qtext").count() > 0)
  }

  test("maintainAll: discovers every index type, folds+refreshes+retrains+vacuums, idempotent") {
    val root = TempDirs.create("graft-maintainall").toString
    val store = new SnapshotStore(root, spark)

    // text postings + committed champions, then 3 appends → long chain,
    // stale champions
    TextIndex.build(store, "tix", docBatch(0), "text", "doc_id")
    TextIndex.refreshChampions(store, "tix", m = 16)
    (1 to 3).foreach(g => TextIndex.append(store, "tix", docBatch(g),
      "text", "doc_id", compactEvery = 100))
    assert(!TextIndex.championsFresh(store, "tix"))

    // a second postings table that NEVER had champions: maintainAll must
    // not force a champion build onto it
    TextIndex.build(store, "tix2", docBatch(0), "text", "doc_id")
    TextIndex.append(store, "tix2", docBatch(1), "text", "doc_id",
      compactEvery = 100)

    // minhash dedup index, 3 appends
    DedupIndex.build(store, "mix", docBatch(0), "text", "doc_id")
    (1 to 3).foreach { g =>
      val p = DedupIndex.appendBatch(store, "mix", docBatch(g),
        "text", "doc_id", compactEvery = 100)
      p.unpersist(blocking = false)
    }

    // fingerprint index, 2 exactly-once appends
    FingerprintIndex.build(store, "fix", docBatch(0), "text", "doc_id")
    (1 to 2).foreach { g =>
      FingerprintIndex.appendBatchOnce(store, "fix", docBatch(g),
        "text", "doc_id", "s", g.toLong, compactEvery = 100)
        .foreach(_.unpersist(blocking = false))
    }

    // IVFPQ vector index, 2 appends
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i => i -> unitVec(rnd, 16))
    VectorIndex.build(store, "vix", vecs.take(20).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dim = 16, nLists = 4, m = 4, kCodes = 16)
    (1 to 2).foreach(g => VectorIndex.append(store, "vix",
      vecs.slice(20 * g, 20 * g + 20).toDF("vec_id", "embedding"),
      "vec_id", "embedding", compactEvery = 100))

    // semantic index with a 50% append → drifted under a 0.25 policy
    val sems = (0L until 40L).map(i => i -> unitVec(rnd, 8))
    SemIndex.build(store, "sem", sems.take(20).toDF("id", "vec"),
      dim = 8, eps = 0.999, nClusters = 4, maxClusterSize = 100)
    SemIndex.appendBatchOnce(store, "sem",
      sems.drop(20).toDF("id", "vec"), "s", 0L, compactEvery = 100)
      .foreach(_.unpersist(blocking = false))

    // a plain snapshot table: no index marker, must be left untouched
    store.commit("plain", docBatch(0))

    // chains really are long before the call
    assert(chainParts(store, "tix", "text.parts").nonEmpty)
    assert(chainParts(store, "mix", "dedup.parts").nonEmpty)

    val actions = Graft.maintainAll(store, maxChainLength = 1,
      retrainAppendFraction = Some(0.25))
    assert(actions.map(a => a.table -> a.kind).toSet === Set(
      "tix" -> "text", "tix2" -> "text", "mix" -> "minhash",
      "fix" -> "fingerprint", "vix" -> "vector", "sem" -> "sem"),
      s"dispatch set wrong: $actions")

    // every chain folded to a single member and vacuumed to the live set
    for ((t, key) <- Seq("tix" -> "text.parts", "tix2" -> "text.parts",
        "mix" -> "dedup.parts", "fix" -> "fpdedup.parts",
        "vix" -> "ivfpq.parts", "sem" -> "semdedup.parts")) {
      assert(chainParts(store, t, key) === "", s"$t chain not folded")
      assert(store.versions(t).size === 1, s"$t not vacuumed")
    }
    // champions refreshed at their COMMITTED m, superseded versions gone
    assert(TextIndex.championsFresh(store, "tix"))
    assert(store.latestMeta("tix__champ")("text.champ.m") === "16")
    assert(store.versions("tix__champ").size === 1)
    // no champion table forced onto tix2
    assert(!store.exists("tix2__champ"))
    // sem drift retrain committed: counters reset, all 40 rows trained
    val semMeta = store.latestMeta("sem")
    assert(semMeta("semdedup.appendedSinceTrain") === "0")
    assert(semMeta("semdedup.trainedRows") === "40")
    // the plain table was never touched
    assert(store.currentVersion("plain") === 1L)

    // the data survived intact
    assert(DedupIndex.load(store, "mix").count() === 40L)
    assert(TextIndex.load(store, "tix").select("neighbor_id")
      .distinct().count() === 40L)
    assert(store.load("vix").count() === 60L)

    // idempotence: a second pass changes NO version anywhere
    val before = versionMap(store)
    Graft.maintainAll(store, maxChainLength = 1,
      retrainAppendFraction = Some(0.25))
    assert(versionMap(store) === before,
      "second maintainAll pass must be a version-for-version no-op")
  }

  test("maintainAll racing appendBatchOnce serializes on the table lock") {
    // The r14 spec covered crash windows and idempotence; this pins the
    // CONCURRENCY story: a maintenance pass looping over the store while
    // a stream appends to one of its tables. Each side's commit runs
    // under the per-table transactMeta/commit lock, maintenance never
    // changes table CONTENT (fold + vacuum are representation-only), and
    // the append materializes its pair frame inside the lock before any
    // vacuum can drop the dirs it reads — so for EVERY interleaving the
    // per-batch pair sets, the final index content, the exactly-once
    // watermark, and the post-maintenance terminal state must all equal
    // the sequential execution's.
    def pairSet(df: DataFrame): Set[(Long, Long)] =
      df.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet
    def appendAll(store: SnapshotStore): Seq[Set[(Long, Long)]] =
      (1 to 3).map { g =>
        val p = DedupIndex.appendBatchOnce(store, "mix", docBatch(g),
          "text", "doc_id", "s", g.toLong, compactEvery = 100).get
        val s = pairSet(p); p.unpersist(blocking = false); s
      }

    val seqStore = new SnapshotStore(
      TempDirs.create("graft-ma-seq").toString, spark)
    DedupIndex.build(seqStore, "mix", docBatch(0), "text", "doc_id")
    val seqPairs = appendAll(seqStore)
    Graft.maintainAll(seqStore, maxChainLength = 1)

    val raceStore = new SnapshotStore(
      TempDirs.create("graft-ma-race").toString, spark)
    DedupIndex.build(raceStore, "mix", docBatch(0), "text", "doc_id")
    // aggressive maintenance loop: maxChainLength=1 compacts + vacuums
    // on ~every pass, maximizing lock contention with the appends. A
    // crash on this thread must FAIL the test (a silently-dead
    // maintainer would leave the appends running unopposed and the
    // assertions trivially green), so the throwable is captured and
    // re-asserted after the join.
    val maintainerError =
      new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val maintainer = new Thread(() =>
      try (0 until 8).foreach { _ =>
        Graft.maintainAll(raceStore, maxChainLength = 1)
      } catch { case t: Throwable => maintainerError.set(t) })
    maintainer.start()
    val racePairs = try appendAll(raceStore) finally maintainer.join()
    assert(maintainerError.get() == null,
      s"maintainAll crashed while racing the appends: ${maintainerError.get()}")
    Graft.maintainAll(raceStore, maxChainLength = 1)

    assert(racePairs === seqPairs,
      "per-batch pair sets must match the sequential execution")
    // identical terminal content
    def ids(s: SnapshotStore): Set[Long] =
      DedupIndex.load(s, "mix").select(col("id")).as[Long].collect().toSet
    assert(ids(raceStore) === ids(seqStore))
    assert(chainParts(raceStore, "mix", "dedup.parts") === "",
      "terminal chain must be folded")
    // the exactly-once watermark survived every interleaved compaction
    assert(DedupIndex.appendBatchOnce(raceStore, "mix", docBatch(3),
      "text", "doc_id", "s", 3L).isEmpty,
      "replayed batchId must still be skipped after racing maintenance")
    // and the raced store is a maintenance fixed point
    val before = versionMap(raceStore)
    Graft.maintainAll(raceStore, maxChainLength = 1)
    assert(versionMap(raceStore) === before)
  }

  test("crash window: a pass interrupted between tables completes on rerun") {
    // Every maintainAll step is one per-index maintenance call whose
    // commit is the store's atomic version flip, so a crash mid-pass
    // leaves each table either fully maintained or untouched. Simulate
    // the "crashed after some tables" state by maintaining ONE table
    // directly (= the work a dying pass completed), then rerun
    // maintainAll: the terminal state must be identical — version for
    // version, content for content — to a clean single pass on a twin
    // store built from the same inputs.
    def build(root: String): SnapshotStore = {
      val store = new SnapshotStore(root, spark)
      TextIndex.build(store, "tix", docBatch(0), "text", "doc_id")
      TextIndex.refreshChampions(store, "tix", m = 16)
      (1 to 3).foreach(g => TextIndex.append(store, "tix", docBatch(g),
        "text", "doc_id", compactEvery = 100))
      DedupIndex.build(store, "mix", docBatch(0), "text", "doc_id")
      (1 to 3).foreach { g =>
        val p = DedupIndex.appendBatch(store, "mix", docBatch(g),
          "text", "doc_id", compactEvery = 100)
        p.unpersist(blocking = false)
      }
      store
    }
    val crashed = build(TempDirs.create("graft-ma-crash").toString)
    val clean = build(TempDirs.create("graft-ma-clean").toString)
    // the "dying pass" maintained mix, then the process died
    DedupIndex.compactIndex(crashed, "mix")
    DedupIndex.vacuumIndex(crashed, "mix")
    // rerun from the top vs one clean pass
    Graft.maintainAll(crashed, maxChainLength = 1)
    Graft.maintainAll(clean, maxChainLength = 1)
    assert(versionMap(crashed) === versionMap(clean),
      "interrupted+rerun must converge to the clean pass's versions")
    assert(TextIndex.championsFresh(crashed, "tix"))
    def rows(s: SnapshotStore, t: String): Long = s.load(t).count()
    for (t <- Seq("tix", "mix", "tix__champ"))
      assert(rows(crashed, t) === rows(clean, t), s"$t diverged")
  }
}
