package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Similarity
import graft.store.{SemIndex, SnapshotStore, VectorIndex}

/** Incremental SemDeDup: the union of per-append pair sets must equal
  * the one-shot `Similarity.semDedupPairs` result pair-for-pair under
  * the COMMITTED centroids, across batchings; exactly-once replay; the
  * opt-in zone-probe trickle path identical to the default probe —
  * the semantic-regime twin of EmbedIndexSpec. */
class SemIndexSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 8
  private val Eps = 0.99
  private val NClusters = 4
  private val MaxCluster = 200

  /** Two tight direction groups plus isotropic noise; planted
    * near-identical copies 100+i of i (cos ≈ 0.9999) CROSS the
    * id-parity batch splits; 300 is a far blend that must never pair. */
  private def corpus: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(0xFEED)
    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = (0 until 40).map(i =>
      i.toLong -> unit(Array.fill(Dim)(rnd.nextGaussian())))
    val near = (0 until 10).map { i =>
      val p = new scala.util.Random(700 + i)
      (100 + i).toLong -> unit(
        base(i)._2.map(x => x.toDouble + 0.002 * p.nextGaussian()))
    }
    val far = {
      val mix = base(0)._2.zip(base(1)._2).map { case (a, b) => (a + b).toDouble }
      Seq(300L -> unit(mix))
    }
    base ++ near ++ far
  }

  private def vecsDf: DataFrame = corpus.toDF("id", "vec").repartition(4)

  private def pairSet(df: DataFrame): Set[(Long, Long, Double)] =
    df.select(col("id_a"), col("id_b"), col("cos"))
      .as[(Long, Long, Double)].collect().toSet

  /** `body`'s result and the input bytes its tasks read (the listener
    * feed is async; it is polled until quiet). */
  private def inputBytesIn[T](body: => T): (T, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (t.taskMetrics != null)
          bytes.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
        tasks.incrementAndGet()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      var prev = -1L
      while (tasks.get != prev) { prev = tasks.get; Thread.sleep(400) }
      (r, bytes.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def buildOn(root: String): SnapshotStore = {
    val store = new SnapshotStore(root, spark)
    SemIndex.build(store, "t", vecsDf.limit(0), Dim, Eps, NClusters,
      MaxCluster, seed = 42L, trainOn = Some(vecsDf))
    store
  }

  private def committedTruth(store: SnapshotStore): Set[(Long, Long, Double)] = {
    val centroids = VectorIndex.decodeMatrix(
      store.latestMeta("t")("semdedup.centroids"))
    pairSet(Similarity.semDedupPairs(
      vecsDf.select(col("id").as("vid"), col("vec")), "vid", "vec",
      dim = Dim, nClusters = NClusters, eps = Eps,
      maxClusterSize = MaxCluster, centroidsOpt = Some(centroids)))
  }

  test("incremental appends equal batch semDedupPairs pair-for-pair") {
    for (nBatches <- Seq(1, 2, 3)) {
      val root = TempDirs.create("graft-semidx").toString
      val store = buildOn(root)
      val want = committedTruth(store)
      assert(want.size >= 10, "the 10 planted near-identical pairs must pair")
      assert(!want.exists(p => p._1 == 300L || p._2 == 300L),
        "far plant must not pair")
      val parts = (0 until nBatches).map { i =>
        SemIndex.appendBatchOnce(store, "t",
          vecsDf.filter(col("id") % nBatches === i), "s", i.toLong).get
      }
      val got = parts.map(pairSet).reduce(_ ++ _)
      assert(got == want, s"incremental != batch for $nBatches batches")
      parts.foreach(_.unpersist(blocking = false))
      assert(SemIndex.load(store, "t").count() == corpus.size)
    }
  }

  test("forced-float appends ≡ forced-double appends ≡ committed batch truth") {
    // the r16 gated float exchange on the SemIndex append path: both
    // forced modes must produce the identical pair sets — ids AND
    // rounded cos — and their union must equal the one-shot batch
    // truth under the committed centroids (the incremental ≡ batch
    // contract is mode-independent)
    val rootF = TempDirs.create("graft-semidxF").toString
    val rootD = TempDirs.create("graft-semidxD").toString
    val (f, d) = (buildOn(rootF), buildOn(rootD))
    def run(store: SnapshotStore, minDim: Int): Set[(Long, Long, Double)] =
      (0 until 2).map { i =>
        val p = SemIndex.appendBatchOnce(store, "t",
          vecsDf.filter(col("id") % 2 === i), "s", i.toLong,
          floatExchangeMinDim = minDim).get
        val ps = pairSet(p); p.unpersist(blocking = false); ps
      }.reduce(_ ++ _)
    val forcedFloat = run(f, 0)
    val forcedDouble = run(d, Int.MaxValue)
    assert(forcedFloat === forcedDouble,
      "float exchange changed the SemIndex pair set")
    assert(forcedFloat === committedTruth(f))
    assert(forcedFloat.size >= 10)
  }

  test("zone-probe trickle path ≡ default probe; replay skipped") {
    val rootA = TempDirs.create("graft-semidxA").toString
    val rootB = TempDirs.create("graft-semidxB").toString
    val (a, b) = (buildOn(rootA), buildOn(rootB))
    val batch0 = vecsDf.filter(col("id") % 2 === 0)
    val batch1 = vecsDf.filter(col("id") % 2 === 1)
    def run(store: SnapshotStore, zp: Int): Set[(Long, Long, Double)] =
      Seq(batch0, batch1).zipWithIndex.map { case (bt, i) =>
        val p = SemIndex.appendBatchOnce(store, "t", bt, "s", i.toLong,
          zoneProbeMaxClusters = zp).get
        val ps = pairSet(p); p.unpersist(blocking = false); ps
      }.reduce(_ ++ _)
    assert(run(a, 0) === run(b, 64), "pruned probe must change nothing")
    // replays are skipped exactly-once
    assert(SemIndex.appendBatchOnce(a, "t", batch1, "s", 1L).isEmpty)
    // a fresh stream id is independent
    assert(SemIndex.appendBatchOnce(a, "t", vecsDf.limit(0), "s2", 0L).isDefined)
  }

  test("empty batch + zone probe: no pairs, NO index scan, watermark advances") {
    // r12 regression pin: an empty append batch with the zone probe
    // enabled used to flag preFiltered=true (probe → Some(Nil)) and
    // SELF-PAIR THE WHOLE INDEX (the r11 guard at b8a1b02 missed the
    // Some(Nil) case). The fixed contract is stronger than "empty
    // output": the append must short-circuit before the index is even
    // loaded. The result is an eager checkpoint whose plan no longer
    // shows its lineage, so the pin is the append's own input bytes: a
    // reintroduced full-index pairing (or a needless chain.load that
    // gets scanned) reads the index files. The non-empty append below
    // is the control: it reads them.
    val root = TempDirs.create("graft-semidx-empty").toString
    val store = buildOn(root)
    SemIndex.appendBatchOnce(store, "t", vecsDf, "s", 0L)
      .foreach(_.unpersist(blocking = false)) // populate the index
    val (p, emptyBytes) = inputBytesIn {
      SemIndex.appendBatchOnce(store, "t", vecsDf.limit(0), "s", 1L,
        zoneProbeMaxClusters = 64).get
    }
    assert(emptyBytes === 0L,
      s"empty-batch append must not read the index: $emptyBytes input bytes")
    try assert(p.count() === 0L, "an empty batch can produce no pairs")
    finally p.unpersist(blocking = false)
    // the empty delta still advanced the exactly-once watermark
    assert(SemIndex.appendBatchOnce(store, "t", vecsDf.limit(0), "s", 1L,
      zoneProbeMaxClusters = 64).isEmpty, "replay must be skipped")
    assert(SemIndex.load(store, "t").count() === corpus.size)
    // and the index remains fully usable: a fresh near-identical vector
    // appended afterwards pairs against its planted original
    val fresh = Seq((500L, corpus.toMap.apply(5L))).toDF("id", "vec")
    val (p2, freshBytes) = inputBytesIn {
      SemIndex.appendBatchOnce(store, "t", fresh, "s", 2L,
        zoneProbeMaxClusters = 64).get
    }
    assert(freshBytes > 0L, "a non-empty append reads the index")
    try assert(pairSet(p2).exists(t => t._1 == 5L && t._2 == 500L),
      "post-empty append must still pair against the index")
    finally p2.unpersist(blocking = false)
  }

  test("retrainIfDrifted: epoch flip ≡ fresh build on the union; replay-safe") {
    // build trains on 20 of 51 vectors; the 31-row append puts the
    // appended fraction at 31/51 ≈ 0.61 — past the default 0.5 policy
    // but not a 0.7 one. The retrain must commit an index identical to
    // a fresh build over today's full contents (same seed/params,
    // deterministic trainer), reset the drift counters, and preserve
    // the exactly-once stream watermarks.
    val root = TempDirs.create("graft-semidx-drift").toString
    val store = new SnapshotStore(root, spark)
    val baseDf = vecsDf.filter(col("id") < 20)
    SemIndex.build(store, "t", baseDf, Dim, Eps, NClusters, MaxCluster,
      seed = 42L)
    SemIndex.appendBatchOnce(store, "t", vecsDf.filter(col("id") >= 20),
      "s", 0L).foreach(_.unpersist(blocking = false))
    val oldCentroids = VectorIndex.decodeMatrix(
      store.latestMeta("t")("semdedup.centroids"))
    assert(!SemIndex.retrainIfDrifted(store, "t", maxAppendFraction = 0.7),
      "0.61 appended fraction must not trip a 0.7 policy")
    assert(SemIndex.retrainIfDrifted(store, "t"), "0.5 policy must trip")
    // the committed contents are EXACTLY what the new committed
    // centroids assign over the full union — the index a fresh build
    // over today's corpus would hold
    val newCentroids = VectorIndex.decodeMatrix(
      store.latestMeta("t")("semdedup.centroids"))
    assert(newCentroids !== oldCentroids, "the epoch flip must be real")
    val expect = Similarity.semAssign(vecsDf, "id", "vec", newCentroids)
      .select(col("cluster_id").cast("long"), col("id"))
      .as[(Long, Long)].collect().toSet
    val got = SemIndex.load(store, "t").select(col("cluster_id"), col("id"))
      .as[(Long, Long)].collect().toSet
    assert(got === expect,
      "retrained contents must be the new centroids' assignment of the union")
    // counters reset: a second retrain is a no-op
    assert(!SemIndex.retrainIfDrifted(store, "t"))
    // watermark preserved across the epoch flip: replay still skips
    assert(SemIndex.appendBatchOnce(store, "t",
      vecsDf.filter(col("id") >= 20), "s", 0L).isEmpty)
    // incremental ≡ batch continues under the NEW centroids: a fresh
    // append's pairs equal the batch semDedupPairs truth over the
    // union, restricted (as the append contract says) to the batch
    val fresh = Seq((600L, corpus.toMap.apply(5L))).toDF("id", "vec")
    val want600 = pairSet(Similarity.semDedupPairs(
      vecsDf.unionByName(fresh).select(col("id").as("vid"), col("vec")),
      "vid", "vec", dim = Dim, nClusters = NClusters, eps = Eps,
      maxClusterSize = MaxCluster, centroidsOpt = Some(newCentroids)))
      .filter(t => t._1 == 600L || t._2 == 600L)
    val p = SemIndex.appendBatchOnce(store, "t", fresh, "s", 1L).get
    try {
      assert(pairSet(p) === want600,
        "post-retrain append must equal batch truth under the new centroids")
      assert(want600.exists(t => t._1 == 5L && t._2 == 600L),
        "the planted copy must actually pair")
    } finally p.unpersist(blocking = false)
  }

  test("maintain: retrain subsumes compaction, else fold; vacuum always") {
    val root = TempDirs.create("graft-semidx-maint").toString
    val store = buildOn(root) // empty init, trained on the full corpus
    (0 until 3).foreach { i =>
      SemIndex.appendBatchOnce(store, "t",
        vecsDf.filter(col("id") % 3 === i), "s", i.toLong,
        compactEvery = 100)
        .foreach(_.unpersist(blocking = false))
    }
    // everything is appended (trainedRows = 0) → retrain fires, which
    // commits a full snapshot: chain folded, contents preserved
    SemIndex.maintain(store, "t")
    val meta = store.latestMeta("t")
    assert(meta("semdedup.appendedSinceTrain") === "0")
    assert(meta("semdedup.parts") === "", "retrain must fold the chain")
    assert(SemIndex.load(store, "t").count() === corpus.size)
    // idempotent; with retrain disabled it is pure compact+vacuum
    SemIndex.maintain(store, "t", retrainAppendFraction = None)
    assert(SemIndex.load(store, "t").count() === corpus.size)
  }

  test("append before build throws; compact + vacuum keep contents") {
    val store = new SnapshotStore(
      TempDirs.create("graft-semidx3").toString, spark)
    intercept[IllegalStateException] {
      SemIndex.appendBatchOnce(store, "t", vecsDf, "s", 0L)
    }
    val root2 = TempDirs.create("graft-semidx4").toString
    val s2 = buildOn(root2)
    (0 until 3).foreach { i =>
      SemIndex.appendBatchOnce(s2, "t",
        vecsDf.filter(col("id") % 3 === i), "s", i.toLong)
        .foreach(_.unpersist(blocking = false))
    }
    val n = SemIndex.load(s2, "t").count()
    assert(SemIndex.compactIndex(s2, "t"))
    SemIndex.vacuumIndex(s2, "t")
    assert(SemIndex.load(s2, "t").count() === n, "fold preserves contents")
    assert(!SemIndex.compactIndex(s2, "t") ||
      SemIndex.load(s2, "t").count() === n, "second compact is idempotent")
  }
}
