package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity, TextFunctions}
import graft.store.{CurationIngest, EmbedIndex, EmbedRegime,
  FingerprintIndex, MinHashRegime, NearDupRegime, SimHashRegime,
  SnapshotStore}

/** The composed dedup-on-ingest operator: its lineage must equal the
  * manual composition of the batch-mode stages (fingerprint keep-min ∘
  * near-dup pairs of the survivors), under BOTH near-dup regimes and any
  * ascending-id batching; a crash between the two index commits must be
  * fully repaired by replaying the batch; a full replay must be a
  * read-only no-op returning the identical frame. */
class CurationIngestSpec extends SparkSpec {
  import spark.implicits._

  /** ids 0..39: base docs, each 12 distinct tokens — near-dup radius
    * friends at 50+i (i<8): same text with ONE token changed (small
    * Hamming / high Jaccard). 100+i (i<6): tab-reformatted copies of i
    * (exact regime, must never reach the near-dup stage). 200/201:
    * verbatim copies of 0 and 150. 150: unique. 300/301: whitespace-only
    * docs (both fold to one fingerprint; the survivor skips simhash). */
  private def corpus: Seq[(Long, String)] = {
    def base(i: Int) = s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i " +
      s"eta$i theta$i iota$i kappa$i lambda$i mu$i"
    val b = (0 until 40).map(i => i.toLong -> base(i))
    val near = (0 until 8).map(i => (50 + i).toLong ->
      base(i).replace(s"mu$i", "omega"))
    val reform = (0 until 6).map(i => (100 + i).toLong ->
      ("\t" + base(i).replace(" ", "  \t") + " \n"))
    val copies = Seq(200L -> base(0), 201L -> "solo unique content here")
    val uniq = Seq(150L -> "solo unique content here")
    val blank = Seq(300L -> "   \t  ", 301L -> " ")
    b ++ near ++ reform ++ uniq ++ copies ++ blank
  }

  private def docsDF: DataFrame = corpus.toDF("doc_id", "text").repartition(4)

  /** The expected lineage, composed MANUALLY from the batch operators:
    * per-doc fingerprint window-min, then near pairs among the survivors
    * (regime-appropriate batch pair generator), near keep = min smaller
    * partner. */
  private def expected(regime: NearDupRegime): Map[Long, (Long, String)] = {
    val fp = docsDF.select(col("doc_id"),
      TextFunctions.fingerprint(col("text")).as("fp"))
      .as[(Long, Long)].collect()
    val keepOfFp = fp.groupBy(_._2).map { case (f, xs) => f -> xs.map(_._1).min }
    val fpKeep = fp.map { case (id, f) => id -> keepOfFp(f) }.toMap
    val survivors = fpKeep.collect { case (id, k) if id == k => id }.toSet
    val survDocs = docsDF.filter(col("doc_id").isin(survivors.toSeq: _*))
    val pairs: Seq[(Long, Long)] = (regime match {
      case r: SimHashRegime =>
        Dedup.simhashPairsFromHashes(
          survDocs.filter(size(TextFunctions.tokens(col("text"))) > 0)
            .select(col("doc_id").as("id"), r.hash(col("text")).as("sh64")),
          r.maxHamming, r.maxBucketSize)
      case r: MinHashRegime =>
        Dedup.nearDuplicatePairs(survDocs, "text", "doc_id",
          r.shingleN, r.k, r.bands, r.threshold, r.maxBucketSize)
      case r: EmbedRegime =>
        Similarity.embeddingNearDupPairs(
          survDocs.select(col("doc_id").as("id"), r.embed(col("text")).as("vec")),
          "id", "vec", dim = r.dim, threshold = r.threshold,
          nTables = r.nTables,
          bitsPerTable = EmbedIndex.autoBits(r.expectedCorpus, r.maxBucketSize),
          seed = r.seed, maxBucketSize = r.maxBucketSize)
    }).select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSeq
    val nearKeep = pairs.groupBy(_._2).map { case (b, xs) => b -> xs.map(_._1).min }
    corpus.map(_._1).map { id =>
      if (fpKeep(id) != id) id -> (fpKeep(id), "exact")
      else nearKeep.get(id) match {
        case Some(k) => id -> (k, "near")
        case None    => id -> (id, "new")
      }
    }.toMap
  }

  private def freshStore(regime: NearDupRegime): (SnapshotStore, String) = {
    val root = TempDirs.create("graft-curing").toString
    val store = new SnapshotStore(root, spark)
    CurationIngest.init(store, "cur", regime, docsDF, "text", "doc_id")
    (store, "cur")
  }

  private def ingestAll(store: SnapshotStore, prefix: String,
                        regime: NearDupRegime,
                        splits: Seq[Long => Boolean]): Map[Long, (Long, String)] = {
    val out = splits.zipWithIndex.flatMap { case (p, i) =>
      val f = udf(p)
      val lin = CurationIngest.ingestBatchOnce(store, prefix, regime,
        docsDF.filter(f(col("doc_id"))), "text", "doc_id", "s", i.toLong)
      val rows = lin.as[(Long, Long, String)].collect()
      lin.unpersist(blocking = false)
      rows
    }
    out.map { case (id, k, r) => id -> (k, r) }.toMap
  }

  // maxHamming 20: a one-token edit of a 12-token doc lands at Hamming
  // ~3-13 (each boundary-sum bit flips with p≈0.1), while unrelated
  // docs sit at 32±4 — 20 separates the two populations with margin.
  // embed threshold 0.8: a one-token edit of a 12-token doc keeps 11/12
  // signed hash counts, cos ≈ 11/12 ≈ 0.92 modulo bucket collisions;
  // unrelated docs share no tokens, cos ≈ 0 — 0.8 splits them cleanly.
  private val regimes: Seq[(String, NearDupRegime)] = Seq(
    "simhash" -> SimHashRegime(maxHamming = 20, expectedCorpus = 100L),
    // the opt-in append-scan prefilter must be lineage-invisible: same
    // expected() truth as the plain simhash regime, pinned by the same
    // composed-vs-manual equality below
    "simhash+probe" -> SimHashRegime(maxHamming = 20, expectedCorpus = 100L,
      keyProbeMaxKeys = 1 << 20),
    // the default regime probes (DedupIndex.DefaultKeyProbeMaxKeys, r14);
    // the explicit 0 row pins the no-probe path to the same lineage —
    // probe visibility/invisibility both covered
    "minhash" -> MinHashRegime(threshold = 0.5),
    "minhash+noprobe" -> MinHashRegime(threshold = 0.5,
      keyProbeMaxKeys = 0),
    "embed" -> EmbedRegime(threshold = 0.8, expectedCorpus = 100L))

  test("composed lineage ≡ manual stage composition, both regimes, any ascending batching") {
    for ((label, regime) <- regimes) {
      val want = expected(regime)
      // the corpus must actually exercise all three regimes
      assert(want.values.count(_._2 == "exact") >= 7, s"$label: no exact rows")
      assert(want.values.count(_._2 == "near") >= 4, s"$label: no near rows")
      assert(want.values.count(_._2 == "new") >= 30, s"$label: no new rows")
      // reformatting copies fold to their originals without touching simhash
      for (i <- 0 until 6) assert(want(100L + i) == (i.toLong, "exact"), label)
      for (splits <- Seq(
        Seq[Long => Boolean](_ < 120, _ >= 120),
        Seq[Long => Boolean](_ < 55, id => id >= 55 && id < 200, _ >= 200))) {
        val (store, t) = freshStore(regime)
        val got = ingestAll(store, t, regime, splits)
        assert(got == want, s"$label lineage diverged for ${splits.length} batches")
      }
    }
  }

  test("crash between the two commits is repaired by replay") {
    val regime = regimes.head._2
    val want = expected(regime)
    val (store, t) = freshStore(regime)
    val b0 = docsDF.filter(col("doc_id") < 120)
    val b1 = docsDF.filter(col("doc_id") >= 120)
    val l0 = CurationIngest.ingestBatchOnce(store, t, regime, b0,
      "text", "doc_id", "s", 0L)
    // Simulate the crash window: batch 1's FINGERPRINT append commits
    // (same streamId/batchId the composed call will use), then the
    // process "dies" before the near-dup append.
    val crashed = FingerprintIndex.appendBatchOnce(store,
      CurationIngest.fpTable(t), b1, "text", "doc_id", "s", 1L)
    assert(crashed.isDefined, "setup: the fp stage must have committed")
    crashed.foreach(_.unpersist(blocking = false))
    // Replay of the full composed ingest: fp stage recovers read-only,
    // nd stage appends live; the union lineage must equal the clean run.
    val l1 = CurationIngest.ingestBatchOnce(store, t, regime, b1,
      "text", "doc_id", "s", 1L)
    val got = (l0.as[(Long, Long, String)].collect() ++
      l1.as[(Long, Long, String)].collect())
      .map { case (id, k, r) => id -> (k, r) }.toMap
    assert(got == want, "crash-repaired lineage diverged from the clean run")
    l0.unpersist(blocking = false); l1.unpersist(blocking = false)
  }

  test("full replay is a read-only no-op returning the identical frame") {
    val regime = regimes.head._2
    val (store, t) = freshStore(regime)
    val b0 = docsDF.filter(col("doc_id") < 120)
    val l0 = CurationIngest.ingestBatchOnce(store, t, regime, b0,
      "text", "doc_id", "s", 0L)
    val fpV = store.currentVersion(CurationIngest.fpTable(t))
    val ndV = store.currentVersion(CurationIngest.ndTable(t))
    val l0r = CurationIngest.ingestBatchOnce(store, t, regime, b0,
      "text", "doc_id", "s", 0L)
    assert(store.currentVersion(CurationIngest.fpTable(t)) == fpV,
      "replay must not commit to the fingerprint index")
    assert(store.currentVersion(CurationIngest.ndTable(t)) == ndV,
      "replay must not commit to the near-dup index")
    assert(l0.as[(Long, Long, String)].collect().sorted.toSeq ==
      l0r.as[(Long, Long, String)].collect().sorted.toSeq,
      "replayed lineage must be identical")
    l0.unpersist(blocking = false); l0r.unpersist(blocking = false)
  }

  test("bulk build bootstrap: appends against a built corpus match the all-appends run") {
    for ((label, regime) <- regimes) {
      // clean truth: everything via appends
      val (cleanStore, ct) = freshStore(regime)
      val clean = ingestAll(cleanStore, ct, regime,
        Seq[Long => Boolean](_ < 120, _ >= 120))
      // bootstrap path: batch 0 committed via build (pair-free), then
      // batch 1 appended — its lineage must match the clean run's
      val root = TempDirs.create("graft-curb").toString
      val store = new SnapshotStore(root, spark)
      CurationIngest.build(store, "cur", regime,
        docsDF.filter(col("doc_id") < 120), "text", "doc_id")
      val l1 = CurationIngest.ingestBatchOnce(store, "cur", regime,
        docsDF.filter(col("doc_id") >= 120), "text", "doc_id", "s", 0L)
      val got = l1.as[(Long, Long, String)].collect()
        .map { case (id, k, r) => id -> (k, r) }.toMap
      assert(got == clean.filter(_._1 >= 120),
        s"$label: post-build append lineage diverged")
      l1.unpersist(blocking = false)
    }
  }

  test("streaming maintenance delivers the composed lineage exactly once") {
    val regime = regimes.head._2
    val want = expected(regime)
    val (store, t) = freshStore(regime)
    val inbox = TempDirs.create("graft-curing-inbox").toString
    // ascending-id micro-batches; path order b0 < b1 matches arrival order
    docsDF.filter(col("doc_id") < 120).coalesce(1)
      .write.parquet(s"$inbox/b0.parquet")
    Thread.sleep(100) // distinct mod-times for the file source's ordering
    docsDF.filter(col("doc_id") >= 120).coalesce(1)
      .write.parquet(s"$inbox/b1.parquet")
    val got = scala.collection.mutable.Map.empty[Long, (Long, String)]
    val stream = spark.readStream.schema(docsDF.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inbox/*.parquet")
    val q = CurationIngest.maintainFromStream(store, t, regime, stream,
      "text", "doc_id", TempDirs.create("graft-ckpt").toString,
      onLineage = (lin, _) => got.synchronized {
        got ++= lin.as[(Long, Long, String)].collect()
          .map { case (id, k, r) => id -> (k, r) }
      })
    q.processAllAvailable()
    q.stop()
    assert(got.toMap == want, "streamed lineage diverged from the batch truth")
  }

  test("decon gate: contaminated docs never enter the indexes; replay identical") {
    val regime = regimes.head._2
    val doc5 = corpus.toMap.apply(5L)
    val bench = Seq(9000L -> doc5, 9001L -> "totally separate eval prose here")
      .toDF("doc_id", "text")

    val (store, t) = freshStore(regime)
    val lin = CurationIngest.ingestBatchOnce(store, t, regime, docsDF,
      "text", "doc_id", "s", 0L, benchmark = Some(bench))
    val got = lin.as[(Long, Long, String)].collect()
      .map { case (id, k, r) => id -> (k, r) }.toMap

    // the gate's verdicts must equal the standalone decon operator's
    val expectedCont = Dedup.benchmarkOverlap(docsDF, bench, "text",
      "doc_id", n = 4).select(col("doc_id")).as[Long].collect().toSet
    val flagged = got.collect { case (id, (_, "contaminated")) => id }.toSet
    assert(flagged === expectedCont)
    // doc 5 (verbatim in the eval set), its reformatting copy 105 (same
    // token sequence), and its one-token edit 55 (shares leading
    // 4-grams) must all be caught
    assert(Set(5L, 105L, 55L).subsetOf(flagged), s"missing from $flagged")
    assert(got.contains(5L) && got(5L)._1 == 5L, "contaminated keep_id = id")

    // nothing contaminated reached either index
    val fpIds = FingerprintIndex.load(store, CurationIngest.fpTable(t))
      .select(col("id")).as[Long].collect().toSet
    assert(fpIds.intersect(expectedCont).isEmpty, "eval content was ingested")

    // the non-contaminated lineage equals running the pipeline on the
    // clean subset with no gate at all
    val clean = docsDF.filter(!col("doc_id").isin(expectedCont.toSeq: _*))
    val (store2, t2) = freshStore(regime)
    val lin2 = CurationIngest.ingestBatchOnce(store2, t2, regime, clean,
      "text", "doc_id", "s", 0L)
    val got2 = lin2.as[(Long, Long, String)].collect()
      .map { case (id, k, r) => id -> (k, r) }.toMap
    assert(got.filterNot(_._2._2 == "contaminated") === got2,
      "gated lineage diverged from the clean-subset run")

    // full replay with the same benchmark reproduces the frame read-only
    val lin3 = CurationIngest.ingestBatchOnce(store, t, regime, docsDF,
      "text", "doc_id", "s", 0L, benchmark = Some(bench))
    val got3 = lin3.as[(Long, Long, String)].collect()
      .map { case (id, k, r) => id -> (k, r) }.toMap
    assert(got3 === got, "replay with the gate diverged")
    Seq(lin, lin2, lin3).foreach(_.unpersist(blocking = false))
  }

  test("init is idempotent; empty-doc fold leaves one survivor off the simhash index") {
    val regime = regimes.head._2
    val (store, t) = freshStore(regime)
    CurationIngest.init(store, t, regime, docsDF, "text", "doc_id") // second init: no-op
    assert(store.currentVersion(CurationIngest.fpTable(t)) == 1L)
    val lin = CurationIngest.ingestBatchOnce(store, t, regime, docsDF,
      "text", "doc_id", "s", 0L)
    val rows = lin.as[(Long, Long, String)].collect()
      .map { case (id, k, r) => id -> (k, r) }.toMap
    assert(rows(301L) == (300L, "exact"),
      "whitespace-only docs share one fingerprint")
    assert(rows(300L) == (300L, "new"),
      "the lone blank survivor stays new (excluded from simhash)")
    // the blank survivor must NOT be in the simhash index
    val ndIds = graft.store.SimHashIndex.load(store, CurationIngest.ndTable(t))
      .select(col("id")).as[Long].collect().toSet
    assert(!ndIds.contains(300L) && !ndIds.contains(301L))
    lin.unpersist(blocking = false)
  }

  /** Brute-force chain chase: follow keep pointers to the fixpoint. */
  private def chaseAll(onehop: Map[Long, Long]): Map[Long, Long] =
    onehop.map { case (id, _) =>
      var cur = id
      while (onehop.getOrElse(cur, cur) != cur) cur = onehop(cur)
      id -> cur
    }

  test("closeLineage: pointer-jump closure equals the brute-force chain chase") {
    // A 9-deep chain (0←1←…←9), a bushy tree onto 20, self-roots, and a
    // keep_id absent from the frame (treated as a root) — depth forces
    // ≥ 4 pointer-jump rounds, the tree exercises shared parents.
    val onehop: Seq[(Long, Long, String)] =
      (1L to 9L).map(i => (i, i - 1, "near")) ++
        Seq((0L, 0L, "new"), (20L, 20L, "new"),
          (21L, 20L, "exact"), (22L, 21L, "near"), (23L, 21L, "near"),
          (24L, 23L, "exact"),
          (30L, 999L, "near")) // 999 absent → 30's root is 999
    val lineage = onehop.toDF("id", "keep_id", "regime")
    val closed = CurationIngest.closeLineage(lineage)
      .select(col("id"), col("keep_id"), col("regime"))
      .as[(Long, Long, String)].collect()
    val expectedRoots = chaseAll(onehop.map(r => r._1 -> r._2).toMap)
    assert(closed.length == onehop.length, "row count preserved")
    closed.foreach { case (id, keep, _) =>
      assert(keep == expectedRoots(id), s"root of $id")
    }
    // regimes ride through unchanged
    val regimes = closed.map(r => r._1 -> r._3).toMap
    onehop.foreach { case (id, _, reg) => assert(regimes(id) == reg) }
    // r18: the driver chain-chase fast path (default gate) and the
    // distributed pointer-jump loop (gate 0) must be indistinguishable
    val viaLoop = CurationIngest.closeLineage(lineage, driverSolveMaxRows = 0L)
      .select(col("id"), col("keep_id"), col("regime"))
      .as[(Long, Long, String)].collect().sortBy(_._1)
    assert(viaLoop.toSeq === closed.sortBy(_._1).toSeq)
  }

  test("closeLineage on a real composed ingest: every keep chain compacts to a surviving root") {
    val store = new SnapshotStore(TempDirs.create("graft-cls").toString, spark)
    val regime = SimHashRegime(maxHamming = 6, expectedCorpus = 300L)
    CurationIngest.init(store, "cl", regime, docsDF, "text", "doc_id")
    val parts = Seq(docsDF.filter(col("doc_id") < 60), docsDF.filter(col("doc_id") >= 60))
      .zipWithIndex.map { case (b, i) =>
        CurationIngest.ingestBatchOnce(store, "cl", regime, b,
          "text", "doc_id", "s", i.toLong)
      }
    val lineage = parts.reduce(_ unionByName _)
    val closed = CurationIngest.closeLineage(lineage)
    val oneHop = lineage.select(col("id"), col("keep_id"))
      .as[(Long, Long)].collect().toMap
    val got = closed.select(col("id"), col("keep_id"))
      .as[(Long, Long)].collect().toMap
    assert(got == chaseAll(oneHop), "closure ≡ brute-force chase")
    // Every root is a row whose one-hop keep is itself (a survivor).
    got.values.toSet.foreach { r: Long => assert(oneHop(r) == r, s"root $r survives") }
    // And the closure is idempotent.
    val again = CurationIngest.closeLineage(closed)
      .select(col("id"), col("keep_id")).as[(Long, Long)].collect().toMap
    assert(again == got)
    parts.foreach(_.unpersist(blocking = false))
  }

  test("stats: versions, chain fan-in, row counts, watermarks track the ingest protocol") {
    val store = new SnapshotStore(TempDirs.create("graft-stats").toString, spark)
    val regime = SimHashRegime(maxHamming = 6, expectedCorpus = 300L)
    CurationIngest.init(store, "st", regime, docsDF, "text", "doc_id")
    val s0 = CurationIngest.stats(store, "st")
    assert(s0.map(_.table) == Seq("st_fp", "st_nd"))
    assert(s0.forall(t => t.version == 1 && t.chainLength == 1 && t.rows == 0
      && t.lastBatchIds.isEmpty), s"fresh init: $s0")
    val l0 = CurationIngest.ingestBatchOnce(store, "st", regime,
      docsDF.filter(col("doc_id") < 60), "text", "doc_id", "s", 0L)
    val l1 = CurationIngest.ingestBatchOnce(store, "st", regime,
      docsDF.filter(col("doc_id") >= 60), "text", "doc_id", "s", 1L)
    val s2 = CurationIngest.stats(store, "st")
    // init + 2 delta appends per table; both watermarks at batch 1.
    assert(s2.forall(t => t.version == 3 && t.chainLength == 3
      && t.lastBatchIds == Map("s" -> 1L)), s"after 2 ingests: $s2")
    // fp rows = distinct contents ingested; nd rows = non-empty-token
    // fp survivors (the union across both appends).
    val fpRows = s2.find(_.table == "st_fp").get.rows
    val ndRows = s2.find(_.table == "st_nd").get.rows
    val lineage = l0.unionByName(l1)
    val nNew = lineage.filter(col("regime") =!= "exact").count()
    assert(fpRows == nNew, s"fp rows $fpRows != non-exact lineage $nNew")
    assert(ndRows == nNew - 1, // the lone whitespace-only survivor skips simhash
      s"nd rows $ndRows != survivors minus the empty-doc one (${nNew - 1})")
    Seq(l0, l1).foreach(_.unpersist(blocking = false))
  }

  test("stats and maintain after a takedown: visible rows, tombstone fan-in, tombstones fold") {
    val store = new SnapshotStore(TempDirs.create("graft-stats-td").toString, spark)
    val regime = SimHashRegime(maxHamming = 6, expectedCorpus = 300L)
    CurationIngest.init(store, "td", regime, docsDF, "text", "doc_id")
    val lin = CurationIngest.ingestBatchOnce(store, "td", regime, docsDF,
      "text", "doc_id", "s", 0L)
    lin.count()
    lin.unpersist(blocking = false)
    val before = CurationIngest.stats(store, "td")
    // ids 0-2 are distinct-content owners with tokens: rows of BOTH tables
    val gone = Seq(0L, 1L, 2L).toDF("id")
    Seq("td_nd", "td_fp").foreach(t => Graft.deleteDocs(store, t, gone))
    val after = CurationIngest.stats(store, "td")
    after.zip(before).foreach { case (a, b) =>
      assert(a.table == b.table && a.version == b.version + 1)
      assert(a.rows == b.rows - 3, s"${a.table}: rows must count visible rows")
      assert(a.chainLength == b.chainLength + 1,
        s"${a.table}: the pending tombstone member is read fan-in")
    }
    // the takedown contract: pending tombstones fold whatever the length
    val policy = CurationIngest.MaintenancePolicy(maxChainLength = 100)
    val report = CurationIngest.maintain(store, "td", policy)
    assert(report.compacted.toSet == Set("td_fp", "td_nd"))
    assert(report.after.forall(_.chainLength == 1), s"${report.after}")
    assert(report.after.map(_.rows) == after.map(_.rows))
    assert(store.loadVersion("td_fp", store.currentVersion("td_fp"))
      .filter(col("id").isin(0L, 1L, 2L)).count() == 0)
    assert(CurationIngest.maintain(store, "td", policy).compacted.isEmpty)
  }

  test("a prefix rebuilt under another regime: stats, maintain and vacuum refuse it") {
    val store = new SnapshotStore(TempDirs.create("graft-regime-swap").toString, spark)
    val small = corpus.take(12).toDF("doc_id", "text")
    val simhash = SimHashRegime(maxHamming = 6, expectedCorpus = 300L)
    CurationIngest.build(store, "sw", MinHashRegime(threshold = 0.5), small,
      "text", "doc_id")
    CurationIngest.build(store, "sw", simhash, small, "text", "doc_id")
    // near-dups 50-53 of docs 0-3: a live simhash delta member
    CurationIngest.ingestBatchOnce(store, "sw", simhash,
      corpus.slice(40, 44).toDF("doc_id", "text"), "text", "doc_id", "s", 0L)
      .count()
    // _nd carries the stale minhash chain key beside its own; resolving
    // either chain would fold or vacuum away the other's members
    val versions = store.versions("sw_nd")
    intercept[IllegalStateException](CurationIngest.vacuum(store, "sw"))
    intercept[IllegalStateException](CurationIngest.stats(store, "sw"))
    intercept[IllegalStateException](CurationIngest.maintain(store, "sw"))
    assert(store.versions("sw_nd") == versions, "a live chain member was dropped")
  }

  test("maintain: stats-driven compaction+vacuum ≡ the unmaintained pipeline, idempotent, crash-window safe") {
    val regime = SimHashRegime(maxHamming = 20, expectedCorpus = 100L)
    val policy = CurationIngest.MaintenancePolicy(maxChainLength = 3)
    // Same append-heavy 5-batch ingest into two stores; one runs the
    // stats-driven maintain after every batch (lineage is collected —
    // i.e. consumed — before each maintain, honoring the
    // consume-before-vacuum contract), the other never maintains.
    def ingest5(withMaintain: Boolean)
        : (SnapshotStore, String, Map[Long, (Long, String)]) = {
      val root = TempDirs.create("graft-maint").toString
      val store = new SnapshotStore(root, spark)
      CurationIngest.init(store, "mt", regime, docsDF, "text", "doc_id")
      val out = (0 until 5).flatMap { i =>
        val lin = CurationIngest.ingestBatchOnce(store, "mt", regime,
          docsDF.filter(col("doc_id") % 5 === i), "text", "doc_id", "s", i.toLong)
        val rows = lin.as[(Long, Long, String)].collect()
        lin.unpersist(blocking = false)
        if (withMaintain) CurationIngest.maintain(store, "mt", policy)
        rows
      }
      (store, "mt", out.map { case (id, k, r) => id -> (k, r) }.toMap)
    }
    val (plain, _, linPlain) = ingest5(withMaintain = false)
    val (maint, _, linMaint) = ingest5(withMaintain = true)
    assert(linMaint === linPlain,
      "maintenance changed the pipeline's dedup lineage")
    // The maintained store's chains never exceeded the policy bound and
    // end compact; the unmaintained one kept growing.
    val sm = CurationIngest.stats(maint, "mt")
    val sp = CurationIngest.stats(plain, "mt")
    assert(sm.forall(_.chainLength <= policy.maxChainLength), s"$sm")
    assert(sp.exists(_.chainLength > policy.maxChainLength), s"$sp")
    // Vacuum really dropped the dead dirs: fewer versions on disk than
    // commits made (init + 5 appends + compactions).
    assert(maint.versions("mt_fp").size < plain.versions("mt_fp").size)
    // Idempotence: a maintain on an already-maintained store folds
    // nothing and leaves the stats untouched.
    val again = CurationIngest.maintain(maint, "mt", policy)
    assert(again.compacted.isEmpty, s"second maintain refolded: $again")
    assert(again.after.map(t => (t.table, t.version, t.chainLength, t.rows))
      === sm.map(t => (t.table, t.version, t.chainLength, t.rows)))
    // Crash-window safety: compact WITHOUT vacuum (the state a crash
    // between the two steps leaves behind) keeps every table readable,
    // and the next maintain finishes the vacuum.
    val (half, _, _) = ingest5(withMaintain = false)
    val r1 = CurationIngest.maintain(half, "mt",
      policy.copy(vacuum = false))
    assert(r1.compacted.nonEmpty && !r1.vacuumed)
    val preVacuumStats = CurationIngest.stats(half, "mt")
    assert(preVacuumStats.forall(_.chainLength == 1))
    val r2 = CurationIngest.maintain(half, "mt", policy)
    assert(r2.compacted.isEmpty && r2.vacuumed)
    // and the final state answers a fresh ingest identically
    val lin6 = CurationIngest.ingestBatchOnce(half, "mt", regime,
      docsDF.filter(col("doc_id") === 0L), "text", "doc_id", "s", 6L)
    val lin6p = CurationIngest.ingestBatchOnce(plain, "mt", regime,
      docsDF.filter(col("doc_id") === 0L), "text", "doc_id", "s", 6L)
    assert(lin6.as[(Long, Long, String)].collect().toSet
      === lin6p.as[(Long, Long, String)].collect().toSet,
      "post-maintenance store answers a replay batch differently")
    Seq(lin6, lin6p).foreach(_.unpersist(blocking = false))
  }

  test("closeLineage is the CHAIN contract, not component-min (documented divergence)") {
    // Pairs (1,4), (2,3), (3,4) in id-arrival order: 3's only smaller
    // partner is 2, 4's smallest is 1. Component min of {1,2,3,4} is 1,
    // but 3 was never compared against 1 — the chain closure keeps 3→2.
    val onehop = Seq((1L, 1L, "new"), (2L, 2L, "new"),
      (3L, 2L, "near"), (4L, 1L, "near"))
    val closed = CurationIngest.closeLineage(onehop.toDF("id", "keep_id", "regime"))
      .select(col("id"), col("keep_id")).as[(Long, Long)].collect().toMap
    assert(closed(3L) == 2L && closed(4L) == 1L,
      "chain closure must not collapse to component-min")
    val comp = Dedup.connectedComponents(
      Seq((1L, 4L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b"), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(comp(3L) == 1L, "fixture really does diverge from component-min")
  }
}
