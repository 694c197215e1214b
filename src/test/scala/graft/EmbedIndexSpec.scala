package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.store.{EmbedIndex, SnapshotStore}

/** Incremental embedding-cosine dedup: the union of per-append pair sets
  * must equal the one-shot `Similarity.embeddingNearDupPairs` result
  * pair-for-pair (ids AND rounded cosines) under the committed LSH
  * parameters, with exactly-once replay semantics and O(batch) delta
  * appends — the EmbedIndex twin of SimHashIndexSpec. */
class EmbedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 8
  private val Threshold = 0.99
  private val NTables = 4
  private val MaxBucket = 200
  private val Expected = 200L // spec corpus scale
  private val Seed = 42L
  private lazy val Bits = EmbedIndex.autoBits(Expected, MaxBucket)

  /** 40 random unit vectors (8-d isotropic: pairwise cos ≥ 0.99 is
    * ~1e-6-rare, and the fixed seed makes whatever happens reproducible)
    * plus planted near-identical copies that CROSS the id-parity batch
    * splits below: 100+i is a 0.002-perturbation of i (cos ≈ 0.9999).
    * 300 is a 45° rotation blend of 0 — far below threshold, must never
    * pair. */
  private def corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(0xBEEF)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = (0 until 40).map(i =>
      i.toLong -> unit(Array.fill(Dim)(rnd.nextGaussian())))
    val near = (0 until 10).map { i =>
      val p = new scala.util.Random(900 + i)
      (100 + i).toLong -> unit(
        base(i)._2.map(x => x.toDouble + 0.002 * p.nextGaussian()))
    }
    val far = {
      val mix = base(0)._2.zip(base(1)._2).map { case (a, b) => (a + b).toDouble }
      Seq(300L -> unit(mix))
    }
    base ++ near ++ far
  }

  private def vecsDf: DataFrame =
    corpus.toDF("id", "vec").repartition(4)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), col("cos"))
      .as[(Long, Long, Double)].collect().toSet

  private def batchTruth: Set[(Long, Long, Double)] =
    pairSet(Similarity.embeddingNearDupPairs(
      vecsDf.select(col("id").as("vid"), col("vec")), "vid", "vec",
      dim = Dim, threshold = Threshold, nTables = NTables,
      bitsPerTable = Bits, seed = Seed, maxBucketSize = MaxBucket))

  test("incremental appends equal the batch operator pair-for-pair") {
    val want = batchTruth
    assert(want.size >= 10, "the 10 planted near-identical pairs must pair")
    assert(!want.exists(p => p._1 == 300L || p._2 == 300L),
      "far plant must not pair")

    for (nBatches <- Seq(2, 3)) {
      val root = TempDirs.create("graft-embidx").toString
      val store = new SnapshotStore(root, spark)
      EmbedIndex.build(store, "t", vecsDf.limit(0), Dim, Threshold,
        NTables, Expected, MaxBucket, Seed)
      val parts = (0 until nBatches).map { i =>
        EmbedIndex.appendBatchOnce(store, "t",
          vecsDf.filter(col("id") % nBatches === i), "s", i.toLong).get
      }
      val got = parts.map(pairSet).reduce(_ ++ _)
      assert(got == want, s"incremental != batch for $nBatches batches")
      parts.foreach(_.unpersist(blocking = false))
      assert(EmbedIndex.load(store, "t").count() == corpus.size)
    }
  }

  test("key-probe prefilter path ≡ default semi-join path") {
    // The in-expression scan prefilter (keyProbeMaxKeys, r15 — the
    // HyperplaneKeyHits twin of the MinHash/SimHash probes) must change
    // nothing: tester false positives only add survivors to the exact
    // (table, bucket) semi-join, never drop one. Same two-batch append
    // on twin stores per path, compared pair-for-pair (ids AND cosine).
    def run(probe: Int): Set[(Long, Long, Double)] = {
      val store = new SnapshotStore(
        TempDirs.create("graft-embidx-probe").toString, spark)
      EmbedIndex.build(store, "t", vecsDf.limit(0), Dim, Threshold,
        NTables, Expected, MaxBucket, Seed)
      (0 until 2).map { i =>
        val p = EmbedIndex.appendBatchOnce(store, "t",
          vecsDf.filter(col("id") % 2 === i), "s", i.toLong,
          keyProbeMaxKeys = probe).get
        val s = pairSet(p); p.unpersist(blocking = false); s
      }.reduce(_ ++ _)
    }
    val noProbe = run(0)
    assert(noProbe == batchTruth, "no-probe baseline must equal the batch operator")
    assert(run(1 << 20) == noProbe, "exact-set probe must change nothing")
    // a 1-key budget can never hold the batch's nTables·n keys: the
    // probe degrades to the BLOOM tester — approximate membership may
    // only widen the semi-join input, never drop a pair
    assert(run(1) == noProbe, "bloom probe must change nothing")
  }

  test("float-exchange path ≡ double path pair-for-pair") {
    // The dim-gated float exchange (EmbedIndex scaladoc) must change
    // nothing: the float heap keeps the identical member set (selection
    // is by id), CosineCandidatesF's cutoff sits a proven-safe margin
    // under the threshold, and survivors re-verify against the stored
    // doubles — so ids AND rounded cosines must match the classic path
    // exactly, across multi-batch appends AND the read-only recovery
    // twin.
    def run(minDim: Int): Set[(Long, Long, Double)] = {
      val store = new SnapshotStore(
        TempDirs.create("graft-embidx-flt").toString, spark)
      EmbedIndex.build(store, "t", vecsDf.limit(0), Dim, Threshold,
        NTables, Expected, MaxBucket, Seed)
      val perBatch = (0 until 2).map { i =>
        val p = EmbedIndex.appendBatchOnce(store, "t",
          vecsDf.filter(col("id") % 2 === i), "s", i.toLong,
          floatExchangeMinDim = minDim).get
        val s = pairSet(p); p.unpersist(blocking = false); s
      }
      // the recovery twin must take the same gate
      val rec = EmbedIndex.pairsForCommitted(store, "t",
        vecsDf.filter(col("id") % 2 === 1).select(col("id")),
        floatExchangeMinDim = minDim)
      val recSet = pairSet(rec); rec.unpersist(blocking = false)
      assert(recSet == perBatch(1), s"recovery twin diverged at minDim=$minDim")
      perBatch.reduce(_ ++ _)
    }
    val classic = run(Int.MaxValue)
    assert(classic == batchTruth, "double-path baseline must equal the batch operator")
    assert(run(0) == classic, "forced float exchange must change nothing")
  }

  test("float-exchange margin band: exact re-verify decides, not the float dot") {
    // Pairs whose exact cosine sits INSIDE the candidate band
    // (threshold − margin, threshold) are emitted as float candidates
    // and must die on the exact double filter; pairs just ABOVE the
    // threshold must survive with their exact cosine. Threshold 0.9999
    // keeps the planted angles ~0.8° so LSH co-buckets them with
    // near-certainty under the fixed seed (verified by the low-threshold
    // control below — the band pair IS reachable through the buckets).
    val T = 0.9999
    // each plant lives on its own basis plane (axis, axis+1), so the
    // two plants are mutually orthogonal: cross-plant cosines are 0 and
    // can never contaminate the per-plant assertions below
    def planted(idA: Long, idB: Long, cos: Double,
                axis: Int): Seq[(Long, Array[Float])] = {
      val a = Array.tabulate(Dim)(i => if (i == axis) 1.0f else 0.0f)
      val s = math.sqrt(1.0 - cos * cos)
      val b = Array.tabulate(Dim)(i =>
        if (i == axis) cos.toFloat else if (i == axis + 1) s.toFloat else 0.0f)
      Seq(idA -> a, idB -> b)
    }
    val above = planted(1000L, 1001L, T + 5e-5, 0)  // keep, via exact re-verify
    val inBand = planted(2000L, 2001L, T - 5e-5, 2) // float candidate, exact-dropped
    val df = (above ++ inBand).toDF("id", "vec")

    def run(threshold: Double, minDim: Int): Set[(Long, Long, Double)] = {
      val store = new SnapshotStore(
        TempDirs.create("graft-embidx-band").toString, spark)
      EmbedIndex.build(store, "t", df.limit(0), Dim, threshold,
        NTables, Expected, MaxBucket, Seed)
      val p = EmbedIndex.appendBatchOnce(store, "t", df, "s", 0L,
        floatExchangeMinDim = minDim).get
      val s = pairSet(p); p.unpersist(blocking = false); s
    }
    val float = run(T, 0)
    assert(float == run(T, Int.MaxValue),
      "band corpus: float path must equal the double path")
    assert(float.exists { case (a, b, c) => a == 1000L && b == 1001L && c >= T },
      s"above-threshold plant must survive the exact re-verify: $float")
    assert(!float.exists { case (a, b, _) => a == 2000L },
      s"in-band plant must be dropped by the exact re-verify: $float")
    // control: at a threshold below the band the same pair IS found —
    // the buckets reach it, so its absence above was the exact filter
    assert(run(T - 3e-4, 0).exists { case (a, b, _) => a == 2000L && b == 2001L },
      "control: the in-band pair must be reachable through the buckets")
  }

  test("pre-r15 fat-layout tables (stored bks) stay readable AND appendable") {
    // Simulate a table written by pre-r15 code: the base snapshot
    // carries the stored hyperplane-key column alongside (id, uv). A
    // slim delta appended onto it makes a mixed-schema chain — the
    // canonical (id, uv) projection must read, append, and compact it
    // into the slim layout (the SimHashIndex r13 / DedupIndex r14
    // migration contract, completed for the last fat index).
    val root = TempDirs.create("graft-embidx-fat").toString
    val store = new SnapshotStore(root, spark)
    val fat = vecsDf.filter(col("id") < 50)
      .select(col("id"), Similarity.unitVector(col("vec")).as("uv"),
        array((0 until NTables).map { t =>
          struct(lit(t).as("table"),
            Similarity.lshBucket(col("vec"), Dim, Bits, Seed + t * 7919)
              .as("bucket"))
        }: _*).as("bks"))
    store.commit("t", fat, sortKey = Some("id"),
      meta = Map("embdedup.dim" -> Dim.toString,
        "embdedup.threshold" -> Threshold.toString,
        "embdedup.nTables" -> NTables.toString,
        "embdedup.bits" -> Bits.toString,
        "embdedup.seed" -> Seed.toString,
        "embdedup.maxBucketSize" -> MaxBucket.toString,
        "embdedup.parts" -> ""))
    assert(store.loadVersion("t", 1L).schema.fieldNames.contains("bks"),
      "test premise: the simulated old base must carry the fat column")

    val p = EmbedIndex.appendBatchOnce(store, "t",
      vecsDf.filter(col("id") >= 50), "s", 0L).get
    // cross (fat corpus vs slim batch) pairs ARE found through the index
    assert(pairSet(p).exists { case (a, b, _) => a < 50 && b >= 100 })
    p.unpersist(blocking = false)
    // the mixed fat-base + slim-delta chain must union on a plain read …
    assert(EmbedIndex.load(store, "t").count() == corpus.size.toLong)
    // … and fold into the slim canonical layout on compaction
    assert(EmbedIndex.compactIndex(store, "t"))
    val cur = EmbedIndex.load(store, "t")
    assert(cur.schema.fieldNames.toSeq == Seq("id", "uv"),
      "compaction must rewrite the table slim")
    assert(cur.count() == corpus.size.toLong)
  }

  test("replay skipped; append before build throws; recovery twin matches") {
    val root = TempDirs.create("graft-embidx2").toString
    val store = new SnapshotStore(root, spark)
    intercept[IllegalStateException] {
      EmbedIndex.appendBatchOnce(store, "t", vecsDf, "s", 0L)
    }
    EmbedIndex.build(store, "t", vecsDf.filter(col("id") < 50),
      Dim, Threshold, NTables, Expected, MaxBucket, Seed)
    val batch = vecsDf.filter(col("id") >= 50)
    val first = EmbedIndex.appendBatchOnce(store, "t", batch, "s", 0L)
    assert(first.isDefined)
    val firstPairs = pairSet(first.get)
    // cross (corpus vs batch) pairs ARE found through the index
    assert(firstPairs.exists { case (a, b, _) => a < 50 && b >= 100 })
    first.foreach(_.unpersist(blocking = false))
    assert(EmbedIndex.appendBatchOnce(store, "t", batch, "s", 0L).isEmpty,
      "replayed batchId must be skipped")
    // read-only recovery reproduces the committed append's pair set
    val recovered = EmbedIndex.pairsForCommitted(store, "t",
      batch.select(col("id")))
    assert(pairSet(recovered) == firstPairs)
    recovered.unpersist(blocking = false)
    // the delta version holds only the batch rows
    val v = store.currentVersion("t")
    assert(store.loadVersion("t", v).count() == batch.count())
  }

  test("streaming maintenance delivers the same pairs exactly once") {
    val want = batchTruth
    val inbox = TempDirs.create("graft-embidx-inbox").toString
    (0 until 3).foreach { i =>
      vecsDf.filter(col("id") % 3 === i).coalesce(1)
        .write.parquet(s"$inbox/b$i.parquet")
    }
    val root = TempDirs.create("graft-embidx-stream").toString
    val store = new SnapshotStore(root, spark)
    EmbedIndex.build(store, "t", vecsDf.limit(0), Dim, Threshold,
      NTables, Expected, MaxBucket, Seed)

    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    val stream = spark.readStream.schema(vecsDf.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inbox/*.parquet")
    val q = EmbedIndex.maintainFromStream(store, "t", stream, TempDirs.create("graft-ckpt").toString,
      onPairs = (pairs, _) => got.synchronized { got ++= pairSet(pairs) })
    q.processAllAvailable()
    q.stop()
    assert(got.toSet == want)
    assert(EmbedIndex.load(store, "t").count() == corpus.size)
  }
}
