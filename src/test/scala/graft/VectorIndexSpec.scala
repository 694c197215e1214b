package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.store.{SnapshotStore, VectorIndex}

/** Persistent IVFPQ index: build-once-query-many over the snapshot store,
  * parameters atomic with the data, rebuilds as new versions. */
class VectorIndexSpec extends SparkSpec {
  import spark.implicits._

  private def clustered(seed: Int) = {
    val rnd = new scala.util.Random(seed)
    val dim = 16; val nClusters = 20; val perCluster = 60
    def unit(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val centers = Array.fill(nClusters)(
      unit(Array.fill(dim)(rnd.nextGaussian().toFloat)))
    for {
      c <- 0 until nClusters
      i <- 0 until perCluster
    } yield {
      val v = unit(centers(c).map(x => x + 0.15f * rnd.nextGaussian().toFloat))
      ((c * perCluster + i).toLong, v)
    }
  }

  test("build persists; query probes without retraining; reopen works") {
    val dir = TempDirs.create("graft-vindex").toString
    val store = new SnapshotStore(dir, spark)
    val points = clustered(31)
    val corpus = points.toDF("vec_id", "embedding").repartition(8)
    val queries = points.take(5).toDF("query_id", "qvec")

    val v1 = VectorIndex.build(store, "emb_idx", corpus,
      "vec_id", "embedding", dim = 16, nLists = 20, m = 4, kCodes = 16)
    assert(v1 === 1L)
    // the stored table carries codes, not vectors
    assert(store.load("emb_idx").columns.toSet ===
      Set("neighbor_id", "list_id", "codes"))

    val out = VectorIndex.query(store, "emb_idx", queries,
      "query_id", "qvec", k = 10, nProbe = 1)
    assert(out.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() === 0)
    assert(out.filter(floor(col("neighbor_id") / 60) =!=
      floor(col("query_id") / 60)).count() === 0, "neighbor left its cluster")

    // a FRESH store handle over the same directory sees the same index —
    // everything needed to answer queries was committed, nothing lives in
    // driver memory
    // refined query: ADC shortlists, the original vectors rank — probing
    // every list with a corpus-covering shortlist (10·120 ≥ 1200 rows)
    // removes all approximation, so the result must equal exact brute
    // force (nProbe=1 equality would be too strong: the LEARNED lists
    // need not match the true clusters at their boundaries)
    val refined = VectorIndex.queryRefined(store, "emb_idx", corpus,
      "vec_id", "embedding", queries, "query_id", "qvec",
      k = 10, nProbe = 20, refine = 120)
    val truth = graft.functions.Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", queries, "query_id", "qvec", k = 10)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, x) => q -> x.map(_._2).toSet }
    assert(sets(refined) === sets(truth),
      "refined index query differs from brute force")

    val reopened = new SnapshotStore(dir, spark)
    val out2 = VectorIndex.query(reopened, "emb_idx", queries,
      "query_id", "qvec", k = 10, nProbe = 1)
    val a = out.select("query_id", "neighbor_id", "adc").collect().map(_.toString).sorted
    val b = out2.select("query_id", "neighbor_id", "adc").collect().map(_.toString).sorted
    assert(a.toSeq === b.toSeq, "reopened index answered differently")
  }

  test("rebuild commits a new version; time travel keeps the old one") {
    val dir = TempDirs.create("graft-vindex2").toString
    val store = new SnapshotStore(dir, spark)
    val corpus = clustered(32).toDF("vec_id", "embedding").repartition(4)
    val v1 = VectorIndex.build(store, "idx", corpus,
      "vec_id", "embedding", dim = 16, nLists = 10, m = 4, kCodes = 16)
    val v2 = VectorIndex.build(store, "idx", corpus,
      "vec_id", "embedding", dim = 16, nLists = 10, m = 4, kCodes = 16)
    assert(v1 === 1L && v2 === 2L)
    assert(store.versions("idx") === Seq(1L, 2L))
    assert(store.loadVersion("idx", 1L).count() === corpus.count())
  }

  test("append encodes with existing params and versions the index") {
    val dir = TempDirs.create("graft-vindex3").toString
    val store = new SnapshotStore(dir, spark)
    val points = clustered(33)
    val (seed, late) = points.partition(_._1 % 5 != 0L) // hold out 20%
    VectorIndex.build(store, "idx", seed.toDF("vec_id", "embedding").repartition(4),
      "vec_id", "embedding", dim = 16, nLists = 20, m = 4, kCodes = 16)
    val v2 = VectorIndex.append(store, "idx",
      late.toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(v2 === 2L)
    assert(VectorIndex.load(store, "idx").count() === points.size.toLong)
    // an appended vector is retrievable and its neighborhood is its cluster
    val q = late.take(3).toDF("query_id", "qvec")
    val out = VectorIndex.query(store, "idx", q, "query_id", "qvec",
      k = 10, nProbe = 2)
    assert(out.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() === 0)
    assert(out.filter(floor(col("neighbor_id") / 60) =!=
      floor(col("query_id") / 60)).count() === 0)
  }

  test("corpusTag is recorded at build and survives appends") {
    val dir = TempDirs.create("graft-vindex-tag").toString
    val store = new SnapshotStore(dir, spark)
    val points = clustered(37)
    val corpus = points.toDF("vec_id", "embedding").repartition(4)
    VectorIndex.build(store, "idx", corpus, "vec_id", "embedding",
      dim = 16, nLists = 10, m = 4, kCodes = 16, corpusTag = Some("fp-v1"))
    assert(VectorIndex.corpusTagOf(store, "idx").contains("fp-v1"))
    // an append changes the index CONTENTS but not the build-corpus tag
    VectorIndex.append(store, "idx",
      Seq((9000L, points.head._2)).toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    assert(VectorIndex.corpusTagOf(store, "idx").contains("fp-v1"))
    // indexes built without a tag report None
    VectorIndex.build(store, "idx2", corpus, "vec_id", "embedding",
      dim = 16, nLists = 10, m = 4, kCodes = 16)
    assert(VectorIndex.corpusTagOf(store, "idx2").isEmpty)
  }

  test("simIndexTopK rebuilds when the corpus content drifts") {
    import graft.queries.ExtensionQueries
    val dir = TempDirs.create("graft-simindex-drift").toString
    def writeCorpus(n: Int, planted: Boolean): Unit = {
      val rnd = new scala.util.Random(64)
      def unit(v: Array[Float]): Array[Float] = {
        val nm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
        v.map(_ / nm)
      }
      val vecs = Array.fill(n)(unit(Array.fill(64)(rnd.nextGaussian().toFloat)))
      if (planted) vecs(310) = vecs(0) // exact duplicate of query 0's vector
      vecs.zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }.toSeq
        .toDF("vec_id", "embedding", "label").repartition(2)
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    }
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
        .as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, x) => q -> x.map(_._2).toSet }

    writeCorpus(300, planted = false)
    val fp1 = ExtensionQueries.corpusFingerprint(spark, dir)
    assert(ExtensionQueries.simIndexTopK(spark, dir).count() === 50L)
    // unchanged corpus ⇒ stable fingerprint ⇒ the built index is reused
    assert(ExtensionQueries.corpusFingerprint(spark, dir) === fp1)

    // REWRITE the corpus in place: 20 extra vectors, one of them (310) a
    // planted twin of query 0. The stale index's shortlist cannot contain
    // id 310 (it was never encoded), so only a rebuild makes the result
    // match brute force over the new corpus.
    writeCorpus(320, planted = true)
    assert(ExtensionQueries.corpusFingerprint(spark, dir) !== fp1)
    val r2 = ExtensionQueries.simIndexTopK(spark, dir)
    assert(sets(r2)(0L).contains(310L), "rebuilt index must see the twin")
    val corpus = Tables.embeddings(spark, dir)
    val queries = corpus.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val truth = graft.functions.Similarity.bruteForceTopK(
      corpus, "vec_id", "embedding", queries, "query_id", "qvec", k = 10)
    assert(sets(r2) === sets(truth),
      "post-drift index query differs from brute force on the new corpus")
  }

  test("simIndexTopK's index root is per process: a second call reuses the build") {
    import graft.queries.ExtensionQueries
    val dir = TempDirs.create("graft-simindex-durable").toString
    val rnd = new scala.util.Random(77)
    def unit(v: Array[Float]): Array[Float] = {
      val nm = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / nm)
    }
    Array.fill(300)(unit(Array.fill(64)(rnd.nextGaussian().toFloat)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v, 0) }.toSeq
      .toDF("vec_id", "embedding", "label").repartition(2)
      .write.parquet(s"$dir/embeddings.parquet")

    // The root is a pure function of the data dir within the process
    // (under its TempDirs directory, so every process starts cold).
    // Assert the first call commits version 1 and the second serves from
    // it without a rebuild (version unchanged).
    val root = ExtensionQueries.indexRootFor(dir)
    assert(root === ExtensionQueries.indexRootFor(dir))
    assert(ExtensionQueries.simIndexTopK(spark, dir).count() === 50L)
    val store = new SnapshotStore(root, spark)
    assert(store.currentVersion("emb_ivfpq") === 1L)
    assert(ExtensionQueries.simIndexTopK(spark, dir).count() === 50L)
    assert(store.currentVersion("emb_ivfpq") === 1L,
      "a second call must reuse the committed index, not rebuild")
  }

  test("queryRefined keeps appended neighbors when the corpus misses them") {
    // The refine re-join can only be exact where the caller's corpus has
    // the vector; an index entry from a post-build append that the corpus
    // predates must NOT silently vanish (the old inner-join failure mode)
    // — it stays in the result ranked by its ADC estimate.
    val dir = TempDirs.create("graft-vindex6").toString
    val store = new SnapshotStore(dir, spark)
    val points = clustered(36)
    // interleaved holdout so the trained quantizers saw every cluster
    val (late, seedPts) = points.partition(_._1 % 8 == 0L)
    val seedDf = seedPts.toDF("vec_id", "embedding").repartition(4)
    VectorIndex.build(store, "idx", seedDf,
      "vec_id", "embedding", dim = 16, nLists = 20, m = 4, kCodes = 16)
    VectorIndex.append(store, "idx",
      late.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val q = late.take(3).toDF("query_id", "qvec")

    // STALE corpus (build-time vectors only): still k rows per query, and
    // each query — itself an appended vector, so exact-sim-1 but absent
    // from the corpus — surfaces via its ADC self-estimate (~1.0, far
    // above the ~0.96 within-cluster exact sims).
    val stale = VectorIndex.queryRefined(store, "idx", seedDf,
      "vec_id", "embedding", q, "query_id", "qvec",
      k = 10, nProbe = 20, refine = 120)
    assert(stale.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() === 0,
      "coverage loss truncated the result")
    assert(stale.filter(col("query_id") === col("neighbor_id")).count() > 0,
      "appended vectors were silently dropped from the refined result")

    // FULL corpus at exhaustive settings: the fallback never fires and the
    // result equals brute force exactly (coverage-complete behavior is
    // unchanged by the fallback path).
    val full = VectorIndex.queryRefined(store, "idx",
      points.toDF("vec_id", "embedding"), "vec_id", "embedding",
      q, "query_id", "qvec", k = 10, nProbe = 20, refine = 120)
    val truth = graft.functions.Similarity.bruteForceTopK(
      points.toDF("vec_id", "embedding"), "vec_id", "embedding",
      q, "query_id", "qvec", k = 10)
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k2, x) => k2 -> x.map(_._2).toSet }
    assert(sets(full) === sets(truth),
      "coverage-complete refined query no longer matches brute force")
  }

  test("streamed vector batches append exactly once") {
    val dir = TempDirs.create("graft-vindex4").toString
    val store = new SnapshotStore(dir, spark)
    val points = clustered(34)
    val (seed, late) = points.partition(_._1 < 900L)
    VectorIndex.build(store, "idx", seed.toDF("vec_id", "embedding").repartition(4),
      "vec_id", "embedding", dim = 16, nLists = 20, m = 4, kCodes = 16)

    val inbox = TempDirs.create("graft-vinbox")
    val ckpt = TempDirs.create("graft-vckpt")
    val lateDf = late.toDF("vec_id", "embedding")
    val schema = lateDf.schema
    val stream = spark.readStream.schema(schema).parquet(inbox.toString)
    val query = VectorIndex.maintainFromStream(store, "idx", stream,
      "vec_id", "embedding", ckpt.toString)
    try {
      // stage a single parquet file at the inbox ROOT (the file source
      // does not recurse into subdirectories)
      val tmp = TempDirs.create("graft-vstage")
      lateDf.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).iterator()
      val found = Iterator.continually(part)
        .takeWhile(_.hasNext).map(_.next())
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(found, inbox.resolve("batch1.parquet"))
      query.processAllAvailable()
      assert(VectorIndex.load(store, "idx").count() === points.size.toLong)
    } finally query.stop()

    // a replayed batch id is skipped — no duplicate vectors
    val applied = VectorIndex.appendBatchOnce(store, "idx", lateDf,
      "vec_id", "embedding", "vector-inbox", batchId = 0L)
    assert(!applied, "stale batch id must be skipped")
    assert(VectorIndex.load(store, "idx").count() === points.size.toLong)
  }

  test("append writes O(batch) deltas; compaction folds; vacuum keeps the chain") {
    val dir = TempDirs.create("graft-vindex5").toString
    val store = new SnapshotStore(dir, spark)
    val points = clustered(35)
    // interleaved holdout: every 8th point (150 of 1200), so the trained
    // quantizers have seen every cluster the appended batches land in
    val (rest, seedPts) = points.partition(_._1 % 8 == 0L)
    val batches = rest.grouped(50).toSeq // 3 × 50
    VectorIndex.build(store, "idx", seedPts.toDF("vec_id", "embedding").repartition(4),
      "vec_id", "embedding", dim = 16, nLists = 20, m = 4, kCodes = 16)

    // Deltas: each appended VERSION DIRECTORY holds only its batch — the
    // write cost of an append is O(batch), not a full corpus rewrite.
    val v2 = VectorIndex.append(store, "idx",
      batches(0).toDF("vec_id", "embedding"), "vec_id", "embedding",
      compactEvery = 3)
    assert(store.loadVersion("idx", v2).count() === 50L, "append rewrote the corpus")
    val v3 = VectorIndex.append(store, "idx",
      batches(1).toDF("vec_id", "embedding"), "vec_id", "embedding",
      compactEvery = 3)
    assert(store.loadVersion("idx", v3).count() === 50L)
    // ... while the live index unions the whole chain
    assert(VectorIndex.load(store, "idx").count() === 1150L)

    // Third chain member hits compactEvery=3: the chain folds into a full
    // snapshot and the parts list resets.
    val v4 = VectorIndex.append(store, "idx",
      batches(2).toDF("vec_id", "embedding"), "vec_id", "embedding",
      compactEvery = 3)
    assert(store.loadVersion("idx", v4).count() === 1200L, "compaction did not fold")
    assert(store.metaForVersion("idx", v4)("ivfpq.parts") === "")

    // Chain-aware vacuum drops everything outside the live chain...
    VectorIndex.vacuumIndex(store, "idx")
    assert(store.versions("idx") === Seq(v4))
    // ...and the index still answers (cluster-true for an appended vector)
    val q = batches(2).take(3).toDF("query_id", "qvec")
    val out = VectorIndex.query(store, "idx", q, "query_id", "qvec",
      k = 10, nProbe = 2)
    assert(out.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() === 0)
    assert(out.filter(floor(col("neighbor_id") / 60) =!=
      floor(col("query_id") / 60)).count() === 0)
  }

  test("matrix/cube metadata serialization round-trips bit-exactly") {
    val mx = Seq(Seq(1.5, -2.25, 1e-17), Seq(0.0, Double.MinPositiveValue, 3.0))
    assert(VectorIndex.decodeMatrix(VectorIndex.encodeMatrix(mx)) === mx)
    val cube = Seq(mx, Seq(Seq(42.0)))
    assert(VectorIndex.decodeCube(VectorIndex.encodeCube(cube)) === cube)
  }
}
