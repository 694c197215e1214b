package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Dedup
import graft.store.{DedupIndex, SnapshotStore}

/** Incremental batch-vs-corpus near-dup dedup: the union of per-append
  * pair sets must equal the one-shot batch result pair-for-pair, appends
  * must be O(batch) delta versions with exactly-once replay semantics,
  * and the streaming maintenance path must deliver the same pairs. */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic corpus with near-dup structure that SPANS batch
    * boundaries under the (id % 3) split used below:
    *  - ids 0..59: base docs (25 seeded random tokens from a small vocab);
    *  - ids 100+i (i<20): near-dup of i, last 2 tokens mutated (J ≈ 0.85)
    *    — 100+i ≡ i+1 (mod 3), so every such pair is CROSS-batch;
    *  - ids 300+i (i<10): near-dup of i, 300+i ≡ i (mod 3) — WITHIN-batch;
    *  - ids 201..203: exact duplicates of 0..2 (cross + within mix). */
  private def corpus: Seq[(Long, String)] = {
    def toks(seed: Long, n: Int): Array[String] = {
      val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 5)
      Array.fill(n)("w" + rnd.nextInt(300))
    }
    val base = (0 until 60).map(i => i.toLong -> toks(i, 25).mkString(" "))
    val cross = (0 until 20).map { i =>
      val t = toks(i, 25); t(23) = "xx" + i; t(24) = "yy" + i
      (100 + i).toLong -> t.mkString(" ")
    }
    val within = (0 until 10).map { i =>
      val t = toks(i, 25); t(24) = "zz" + i
      (300 + i).toLong -> t.mkString(" ")
    }
    val exact = (0 until 3).map(i => (201 + i).toLong -> base(i)._2)
    base ++ cross ++ within ++ exact
  }

  private def batches(df: DataFrame): Seq[DataFrame] =
    (0 until 3).map(i => df.filter(col("doc_id") % 3 === i))

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), col("jaccard"))
      .as[(Long, Long, Double)].collect().toSet

  test("incremental(batch1..batch3) equals batch(union) pair-for-pair") {
    val docs = corpus.toDF("doc_id", "text").repartition(4)
    val truth = Dedup.nearDuplicatePairs(docs, "text", "doc_id", threshold = 0.5)
    val want = pairSet(truth)
    truth.unpersist(blocking = false)
    assert(want.nonEmpty, "corpus must contain near-dup pairs")
    assert(want.exists { case (a, b, _) => (a < 100 && b >= 100) },
      "planted structure must include cross-batch pairs")

    val root = TempDirs.create("graft-dedupidx").toString
    val store = new SnapshotStore(root, spark)
    DedupIndex.build(store, "docs", docs.limit(0), "text", "doc_id")
    val got = batches(docs).zipWithIndex.flatMap { case (b, i) =>
      val pairs = DedupIndex.appendBatch(store, "docs", b, "text", "doc_id",
        threshold = 0.5)
      val s = pairSet(pairs)
      pairs.unpersist(blocking = false)
      // every append's pairs touch the batch (corpus-internal pairs
      // belong to earlier appends)
      val ids = b.select("doc_id").as[Long].collect().toSet
      assert(s.forall { case (a, c, _) => ids.contains(a) || ids.contains(c) },
        s"append $i returned a pair with no batch member")
      s
    }.toSet
    assert(got === want)
  }

  test("split choice does not matter: a different batching unions to the same truth") {
    val docs = corpus.toDF("doc_id", "text").repartition(4)
    val truth = Dedup.nearDuplicatePairs(docs, "text", "doc_id", threshold = 0.5)
    val want = pairSet(truth)
    truth.unpersist(blocking = false)

    val root = TempDirs.create("graft-dedupidx-split").toString
    val store = new SnapshotStore(root, spark)
    DedupIndex.build(store, "docs", docs.limit(0), "text", "doc_id")
    val splits = Seq(docs.filter(col("doc_id") < 40),
      docs.filter(col("doc_id") >= 40 && col("doc_id") < 200),
      docs.filter(col("doc_id") >= 200))
    val got = splits.flatMap { b =>
      val pairs = DedupIndex.appendBatch(store, "docs", b, "text", "doc_id",
        threshold = 0.5)
      val s = pairSet(pairs); pairs.unpersist(blocking = false); s
    }.toSet
    assert(got === want)
  }

  test("key-probe prefilter path ≡ default semi-join path") {
    // The opt-in in-expression scan prefilter (keyProbeMaxKeys) must
    // change nothing: the expression recomputes each stored document's
    // band keys bit-for-bit like the Column path, and mixed-key
    // collisions only add survivors to the exact (band, bucket)
    // semi-join, never drop one. Same three-batch append on twin
    // stores, one per path, compared pair-for-pair (ids AND jaccard) —
    // this is also the bit-match proof for MinHashKeyHits' JVM
    // re-derivation of xxhash64(concat_ws(",", slice(sig, …))).
    val docs = corpus.toDF("doc_id", "text").repartition(4)
    def run(probe: Int): Set[(Long, Long, Double)] = {
      val store = new SnapshotStore(
        TempDirs.create("graft-dedupidx-probe").toString, spark)
      DedupIndex.build(store, "docs", docs.limit(0), "text", "doc_id")
      batches(docs).map { b =>
        val p = DedupIndex.appendBatch(store, "docs", b, "text", "doc_id",
          threshold = 0.5, keyProbeMaxKeys = probe)
        val s = pairSet(p); p.unpersist(blocking = false); s
      }.reduce(_ ++ _)
    }
    val dflt = run(0)
    assert(dflt.nonEmpty)
    assert(run(1 << 20) === dflt, "exact-set probe must change nothing")
    // a 1-key budget can never hold the batch's band keys: the probe
    // switches to the BLOOM tester (r14) — approximate membership may
    // only widen the semi-join input, never drop a pair
    assert(run(1) === dflt, "bloom probe must change nothing")
  }

  test("pre-r14 fat-layout tables (stored bks) stay readable AND appendable") {
    // Simulate a table written by pre-r14 code: the base snapshot
    // carries the stored band-key column alongside (id, h_arr). The
    // slimmed code must (a) read it, (b) append slim deltas onto it —
    // the mixed fat-base + slim-delta chain union was exactly the
    // AnalysisException hole the r13 advice flagged — and (c) compact
    // the mixed chain into the slim canonical layout.
    val docs = corpus.toDF("doc_id", "text").repartition(4)
    val truth = Dedup.nearDuplicatePairs(docs, "text", "doc_id", threshold = 0.5)
    val want = pairSet(truth)
    truth.unpersist(blocking = false)

    val bs = batches(docs)
    val ids0 = bs.head.select("doc_id").as[Long].collect().toSet
    // appends of batches 1..2 must surface every pair NOT internal to
    // the fat base (those belong to the base's own build-time dedup)
    val wantAppends = want.filterNot { case (a, b, _) =>
      ids0.contains(a) && ids0.contains(b)
    }
    assert(wantAppends.exists { case (a, b, _) =>
      ids0.contains(a) || ids0.contains(b) },
      "planted structure must include fat-base-vs-new-batch pairs")

    val root = TempDirs.create("graft-dedupidx-fat").toString
    val store = new SnapshotStore(root, spark)
    val fat = bs.head
      .select(col("doc_id").as("id"),
        Dedup.shingleHashes(col("text"), 3).as("h_arr"))
      .select(col("id"), col("h_arr"),
        Dedup.lshBandKeys(
          Dedup.minhashSignature(col("h_arr"), 32), 32, 16).as("bks"))
    store.commit("docs", fat, sortKey = Some("id"),
      meta = Map("dedup.shingleN" -> "3", "dedup.k" -> "32",
        "dedup.bands" -> "16", "dedup.parts" -> ""))
    assert(store.loadVersion("docs", 1L).schema.fieldNames.contains("bks"),
      "test premise: the simulated old base must carry the fat column")

    val got = bs.tail.map { b =>
      val p = DedupIndex.appendBatch(store, "docs", b, "text", "doc_id",
        threshold = 0.5, compactEvery = 2)
      val s = pairSet(p); p.unpersist(blocking = false); s
    }.reduce(_ ++ _)
    assert(got === wantAppends)
    // second append hit compactEvery=2: the fold read the mixed chain
    // and rewrote the table in the slim canonical layout
    val cur = DedupIndex.load(store, "docs")
    assert(cur.schema.fieldNames.toSeq === Seq("id", "h_arr"),
      "compaction must rewrite the table slim")
    assert(cur.count() === docs.count())
  }

  test("appends are O(batch) deltas; compaction folds; vacuum keeps the chain") {
    val docs = corpus.toDF("doc_id", "text")
    val root = TempDirs.create("graft-dedupidx-delta").toString
    val store = new SnapshotStore(root, spark)
    DedupIndex.build(store, "docs", docs.limit(0), "text", "doc_id")
    val bs = batches(docs)
    val sizes = bs.map(_.count())

    // compactEvery=3: appends 1 and 2 are deltas (version dir holds ONLY
    // the batch), append 3 folds the chain into a full snapshot.
    bs.zipWithIndex.foreach { case (b, i) =>
      DedupIndex.appendBatch(store, "docs", b, "text", "doc_id",
        compactEvery = 3).unpersist(blocking = false)
      val v = store.currentVersion("docs")
      val dirRows = store.loadVersion("docs", v).count()
      if (i < 2) assert(dirRows === sizes(i),
        s"append ${i + 1} must write only the batch, not the corpus")
      else assert(dirRows === sizes.sum,
        "third append must fold the chain into a full snapshot")
    }
    assert(DedupIndex.load(store, "docs").count() === docs.count())
    DedupIndex.vacuumIndex(store, "docs")
    assert(DedupIndex.load(store, "docs").count() === docs.count(),
      "vacuum must keep the live chain readable")
  }

  test("appendBatchOnce skips a replayed batch id; appending before build fails") {
    val docs = corpus.toDF("doc_id", "text")
    val root = TempDirs.create("graft-dedupidx-once").toString
    val store = new SnapshotStore(root, spark)
    intercept[IllegalStateException] {
      DedupIndex.appendBatch(store, "docs", docs, "text", "doc_id")
    }
    DedupIndex.build(store, "docs", docs.limit(0), "text", "doc_id")
    val first = DedupIndex.appendBatchOnce(store, "docs",
      batches(docs).head, "text", "doc_id", streamId = "s", batchId = 0L)
    assert(first.isDefined)
    first.foreach(_.unpersist(blocking = false))
    val v = store.currentVersion("docs")
    val replay = DedupIndex.appendBatchOnce(store, "docs",
      batches(docs).head, "text", "doc_id", streamId = "s", batchId = 0L)
    assert(replay.isEmpty, "replayed batch id must be skipped")
    assert(store.currentVersion("docs") === v,
      "a skipped replay must not commit a version")
  }

  test("streaming maintenance delivers the same pairs exactly once") {
    val docs = corpus.toDF("doc_id", "text")
    val truth = Dedup.nearDuplicatePairs(docs, "text", "doc_id", threshold = 0.5)
    val want = pairSet(truth)
    truth.unpersist(blocking = false)

    val inbox = TempDirs.create("graft-dedupidx-inbox").toString
    batches(docs).zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.parquet(s"$inbox/b$i.parquet")
    }
    val root = TempDirs.create("graft-dedupidx-stream").toString
    val store = new SnapshotStore(root, spark)
    DedupIndex.build(store, "docs", docs.limit(0), "text", "doc_id")

    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inbox/*.parquet")
    val q = DedupIndex.maintainFromStream(store, "docs", stream,
      "text", "doc_id", TempDirs.create("graft-ckpt").toString,
      onPairs = (pairs, _) => got.synchronized { got ++= pairSet(pairs) })
    q.processAllAvailable()
    q.stop()
    assert(got.toSet === want)
    assert(DedupIndex.load(store, "docs").count() === docs.count())
  }
}
