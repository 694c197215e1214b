package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Dedup
import graft.store.{SimHashIndex, SnapshotStore}

/** Incremental simhash dedup: the union of per-append pair sets must
  * equal the one-shot `simhashPairsFromHashes` result pair-for-pair
  * (ids AND hamming values) under the committed banding parameters,
  * with exactly-once replay semantics and O(batch) delta appends. */
class SimHashIndexSpec extends SparkSpec {
  import spark.implicits._

  private val MaxHamming = 3
  private val NBlocks = 7 // C(7,4) = 35 combo keys; spec-sized keyspace

  /** Direct 64-bit hashes (no text): 50 well-separated random longs
    * (pairwise Hamming ~32 w.h.p.), plus planted near-dups that CROSS
    * the id-parity batch split used below: 100+i flips 2 bits of i
    * (100+i has opposite parity of i for even i), and 200+i flips 3 bits
    * of i (the radius boundary). 300 flips 4 bits of 0 — JUST OUTSIDE
    * the radius, must never appear. */
  private def corpus: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(0xC0FFEE)
    val base = (0 until 50).map(i => i.toLong -> rnd.nextLong())
    def flip(h: Long, bits: Seq[Int]): Long = bits.foldLeft(h)((a, b) => a ^ (1L << b))
    val near2 = (0 until 10).map(i => (100 + i).toLong -> flip(base(i)._2, Seq(3, 17)))
    val near3 = (0 until 10).map(i => (200 + i).toLong -> flip(base(i)._2, Seq(5, 23, 41)))
    val out4 = Seq(300L -> flip(base(0)._2, Seq(7, 19, 37, 53)))
    base ++ near2 ++ near3 ++ out4
  }

  private def pairSet(df: DataFrame): Set[(Long, Long, Int)] =
    df.select(col("id_a"), col("id_b"), col("hamming").cast("int"))
      .as[(Long, Long, Int)].collect().toSet

  test("incremental appends equal the batch result pair-for-pair") {
    val hashed = corpus.toDF("id", "sh64").repartition(4)
    val want = pairSet(Dedup.simhashPairsFromHashes(
      hashed, MaxHamming, nBlocks = NBlocks))
    assert(want.nonEmpty && want.exists(_._3 == MaxHamming),
      "planted structure must include radius-boundary pairs")
    assert(!want.exists(p => p._1 == 300L || p._2 == 300L),
      "outside-radius plant must not pair")

    for (nBatches <- Seq(2, 3)) {
      val root = TempDirs.create("graft-shidx").toString
      val store = new SnapshotStore(root, spark)
      SimHashIndex.build(store, "t", hashed.limit(0), NBlocks, MaxHamming)
      val parts = (0 until nBatches).map { i =>
        SimHashIndex.appendBatchOnce(store, "t",
          hashed.filter(col("id") % nBatches === i), "s", i.toLong).get
      }
      val got = parts.map(pairSet).reduce(_ ++ _)
      assert(got == want, s"incremental != batch for $nBatches batches")
      parts.foreach(_.unpersist(blocking = false))
      // index holds every document exactly once
      assert(SimHashIndex.load(store, "t").count() == corpus.size)
    }
  }

  test("regime independence: every valid nBlocks serves the brute-force pair set") {
    // The Hamming-radius recall contract, pinned to BRUTE FORCE truth
    // computed in plain Scala — and pinned across REGIMES: nBlocks only
    // trades key-row volume against in-bucket checks (simhashAutoBlocks'
    // documented lever, the r17 candidate-volume adjudication), never
    // the result set. This is what makes a flagship regime A/B
    // (sh_incr_append_100k vs _b10) a pure performance comparison.
    val rows = corpus
    val want = (for {
      (ia, ha) <- rows; (ib, hb) <- rows if ia < ib
      d = java.lang.Long.bitCount(ha ^ hb) if d <= MaxHamming
    } yield (ia, ib, d)).toSet
    assert(want.nonEmpty && want.exists(_._3 == MaxHamming))
    val hashed = corpus.toDF("id", "sh64").repartition(4)
    for (nb <- Seq(MaxHamming + 1, NBlocks, 10)) {
      val root = TempDirs.create(s"graft-shreg$nb").toString
      val store = new SnapshotStore(root, spark)
      SimHashIndex.build(store, "t", hashed.limit(0), nb, MaxHamming)
      val parts = (0 until 2).map { i =>
        SimHashIndex.appendBatchOnce(store, "t",
          hashed.filter(col("id") % 2 === i), "s", i.toLong).get
      }
      val got = parts.map(pairSet).reduce(_ ++ _)
      assert(got == want, s"nBlocks=$nb diverged from brute force")
      parts.foreach(_.unpersist(blocking = false))
    }
  }

  test("key-probe prefilter path ≡ default semi-join path") {
    // The opt-in in-expression scan prefilter (keyProbeMaxKeys) must
    // change nothing: mixed-key collisions only add survivors to the
    // exact (band, bucket) semi-join, never drop one. Run the same
    // two-batch append on twin stores, one per path, and compare
    // pair-for-pair (ids AND hamming).
    val hashed = corpus.toDF("id", "sh64").repartition(4)
    def run(probe: Int): Set[(Long, Long, Int)] = {
      val store = new SnapshotStore(
        TempDirs.create("graft-shidx-probe").toString, spark)
      SimHashIndex.build(store, "t", hashed.limit(0), NBlocks, MaxHamming)
      (0 until 2).map { i =>
        val p = SimHashIndex.appendBatchOnce(store, "t",
          hashed.filter(col("id") % 2 === i), "s", i.toLong,
          keyProbeMaxKeys = probe).get
        val s = pairSet(p); p.unpersist(blocking = false); s
      }.reduce(_ ++ _)
    }
    assert(run(0) === run(1 << 20), "exact-set probe must change nothing")
    // a 1-key budget can never hold the batch's combo keys: the probe
    // switches to the BLOOM tester (r14) — approximate membership may
    // only widen the semi-join input, never drop a pair
    assert(run(1) === run(0), "bloom probe must change nothing")
  }

  test("pre-r13 fat-layout tables (stored bks) stay readable AND appendable") {
    // Simulate a table written by pre-r13 code: the base snapshot
    // carries the stored combo-key column alongside (id, sh64). A slim
    // delta appended onto it makes a mixed-schema chain — the strict
    // unionByName over it threw AnalysisException before the canonical
    // projection (r13 advice, medium). Must read, append, and compact
    // into the slim layout.
    val hashed = corpus.toDF("id", "sh64").repartition(4)
    val root = TempDirs.create("graft-shidx-fat").toString
    val store = new SnapshotStore(root, spark)
    val fat = hashed.filter(col("id") < 50)
      .select(col("id"), col("sh64"),
        graft.plans.VectorExpressions
          .simhashComboKeys(col("sh64"), NBlocks, MaxHamming).as("bks"))
    store.commit("t", fat, sortKey = Some("id"),
      meta = Map("shdedup.nBlocks" -> NBlocks.toString,
        "shdedup.maxHamming" -> MaxHamming.toString,
        "shdedup.maxBucketSize" -> "1000", "shdedup.parts" -> ""))
    assert(store.loadVersion("t", 1L).schema.fieldNames.contains("bks"),
      "test premise: the simulated old base must carry the fat column")

    val p = SimHashIndex.appendBatchOnce(store, "t",
      hashed.filter(col("id") >= 50), "s", 0L).get
    // cross (fat corpus vs slim batch) pairs ARE found through the index
    assert(pairSet(p).exists { case (a, b, _) => a < 50 && b >= 100 })
    p.unpersist(blocking = false)
    // the mixed fat-base + slim-delta chain must union on a plain read …
    assert(SimHashIndex.load(store, "t").count() === corpus.size.toLong)
    // … and fold into the slim canonical layout on compaction
    assert(SimHashIndex.compactIndex(store, "t"))
    val cur = SimHashIndex.load(store, "t")
    assert(cur.schema.fieldNames.toSeq === Seq("id", "sh64"),
      "compaction must rewrite the table slim")
    assert(cur.count() === corpus.size.toLong)
  }

  test("replay is skipped; append before build throws; deltas are O(batch)") {
    val hashed = corpus.toDF("id", "sh64")
    val root = TempDirs.create("graft-shidx2").toString
    val store = new SnapshotStore(root, spark)
    intercept[IllegalStateException] {
      SimHashIndex.appendBatchOnce(store, "t", hashed, "s", 0L)
    }
    SimHashIndex.build(store, "t", hashed.filter(col("id") < 50),
      NBlocks, MaxHamming)
    val first = SimHashIndex.appendBatchOnce(store, "t",
      hashed.filter(col("id") >= 50), "s", 0L)
    assert(first.isDefined)
    // cross (corpus vs batch) pairs ARE found through the index
    assert(pairSet(first.get).exists { case (a, b, _) => a < 50 && b >= 100 })
    first.foreach(_.unpersist(blocking = false))
    assert(SimHashIndex.appendBatchOnce(store, "t",
      hashed.filter(col("id") >= 50), "s", 0L).isEmpty,
      "replayed batchId must be skipped")
    // the delta version holds only the batch rows
    val v = store.currentVersion("t")
    assert(store.loadVersion("t", v).count() ==
      hashed.filter(col("id") >= 50).count())
  }

  test("streaming maintenance delivers the same pairs exactly once") {
    val hashed = corpus.toDF("id", "sh64")
    val want = pairSet(Dedup.simhashPairsFromHashes(
      hashed, MaxHamming, nBlocks = NBlocks))

    val inbox = TempDirs.create("graft-shidx-inbox").toString
    (0 until 3).foreach { i =>
      hashed.filter(col("id") % 3 === i).coalesce(1)
        .write.parquet(s"$inbox/b$i.parquet")
    }
    val root = TempDirs.create("graft-shidx-stream").toString
    val store = new SnapshotStore(root, spark)
    SimHashIndex.build(store, "t", hashed.limit(0), NBlocks, MaxHamming)

    val got = scala.collection.mutable.Set.empty[(Long, Long, Int)]
    val stream = spark.readStream.schema(hashed.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inbox/*.parquet")
    val q = SimHashIndex.maintainFromStream(store, "t", stream, TempDirs.create("graft-ckpt").toString,
      onPairs = (pairs, _) => got.synchronized { got ++= pairSet(pairs) })
    q.processAllAvailable()
    q.stop()
    assert(got.toSet == want)
    assert(SimHashIndex.load(store, "t").count() == corpus.size)
  }
}
