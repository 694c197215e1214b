package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.functions.Retrieval
import graft.store.{BroadcastGate, CurationIngest, PhraseIndex, SnapshotStore, TextIndex}

/** The eager serve results are self-contained checkpoints: a call
  * leaves no CacheManager entry (and so no cached plan pinning the
  * query's broadcasts) and returns a checkpoint leaf, with the rows the
  * entry points' own specs expect. Nothing here waits on GC. */
class ServeResultSpec extends SparkSpec {
  import spark.implicits._

  private def cacheIsEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  private def freshStore(name: String): SnapshotStore =
    new SnapshotStore(Files.createTempDirectory(s"graft-$name").toString, spark)

  private def assertCheckpointLeaf(df: DataFrame): Unit = {
    val plan = df.queryExecution.analyzed
    plan match {
      case r: LogicalRDD =>
        assert(r.rdd.isCheckpointed, "result RDD is not checkpointed")
      case other => fail(s"expected a checkpoint leaf, got:\n$other")
    }
    assert(plan.collectFirst { case m: InMemoryRelation => m }.isEmpty)
  }

  /** Runs `call` twice; each result is checked, collected and dropped.
    * The cache must be empty before, between and after. */
  private def twice[T](call: => DataFrame)(rows: DataFrame => T): T = {
    assert(cacheIsEmpty, "cache not empty before the call")
    val got = (1 to 2).map { _ =>
      val df = call
      assertCheckpointLeaf(df)
      val r = rows(df)
      assert(cacheIsEmpty, "the call left a cache entry")
      r
    }
    assert(got(0) == got(1), "the two calls disagree")
    got(0)
  }

  private def ranked(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.select(col("query_id"), col("neighbor_id"), col("score"), col("rank"))
      .as[(Long, Long, Double, Int)].collect().toSeq.sortBy(r => (r._1, r._4))

  test("converted serve entry points leave no cache entry and return checkpoint leaves") {
    spark.catalog.clearCache()

    // TextIndex.queryMaxScore / Retrieval.bm25TopK: the TextIndexSpec
    // per-file-bound fixture, on which the bounded MaxScore path runs;
    // both must equal the exact index probe.
    val base = (0L until 10L)
      .map(i => i -> (Seq.fill(8)("alpha") :+ "beta").mkString(" "))
    val delta = (10L until 40L).map { i =>
      val core = if (i < 25L) Seq("alpha", "beta") else Seq("beta", s"p${i}q")
      i -> (core ++ (0 until 28).map(j => s"p${i}x$j")).mkString(" ")
    }
    val docs = (base ++ delta).toDF("doc_id", "text")
    val text = freshStore("serve-text")
    TextIndex.build(text, "idx", base.toDF("doc_id", "text"), "text", "doc_id")
    (0 until 3).foreach { g =>
      TextIndex.append(text, "idx", delta.filter(_._1 % 3 == g)
        .toDF("doc_id", "text"), "text", "doc_id", compactEvery = 100)
    }
    TextIndex.refreshChampions(text, "idx", m = 60)
    val qs = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    val exact = ranked(TextIndex.query(text, "idx", qs, "query_id", "qtext", k = 3))
    spark.catalog.clearCache() // fixture set-up is not under test

    val maxScore = twice {
      val (df, io) = TextIndex.queryMaxScoreWithIo(text, "idx", qs,
        "query_id", "qtext", k = 3)
      assert(io.isDefined, "the bounded MaxScore path did not run")
      df
    }(ranked)
    assert(maxScore === exact)
    val scan = twice(Retrieval.bm25TopK(docs, "doc_id", "text", qs,
      "query_id", "qtext", k = 3))(ranked)
    assert(scan === exact)

    // PhraseIndex.phraseQueryRanked: a JVM BM25 recompute over the
    // index's own match set, as in PhraseIndexSpec.
    val corpus = Seq(1L -> "a b a b a", 2L -> "a b c", 3L -> "c a b",
      4L -> "b a", 5L -> "a b a b a b a b", 6L -> "x y z")
    val phrases = Seq(0L -> "a b", 1L -> "b a", 2L -> "c a b")
      .toDF("query_id", "phrase")
    val pos = freshStore("serve-phrase")
    PhraseIndex.build(pos, "pos", corpus.toDF("doc_id", "text"), "text", "doc_id")
    val dl = corpus.map { case (id, t) => id -> t.split(" ").length }.toMap
    val avgdl = dl.values.sum.toDouble / corpus.size
    val want = PhraseIndex.phraseQuery(pos, "pos", phrases, "query_id", "phrase")
      .select(col("query_id"), col("doc_id"), col("phrase_tf"))
      .as[(Long, Long, Int)].collect().groupBy(_._1).toSeq.flatMap {
        case (q, ms) =>
          val df = ms.length.toDouble
          val idf = math.log(1.0 + (corpus.size - df + 0.5) / (df + 0.5))
          ms.toSeq.map { case (_, d, tf) =>
            d -> idf * tf * 2.2 / (tf + (dl(d) * (0.75 / avgdl) + 0.25) * 1.2)
          }.sortBy { case (d, s) => (-s, d) }.take(2).zipWithIndex
            .map { case ((d, _), i) => (q, d, i + 1) }
      }.sorted
    spark.catalog.clearCache()
    assert(want.map(_._1).distinct.size === 3, "fixture needs a match per phrase")
    val phraseRanks = twice(PhraseIndex.phraseQueryRanked(pos, "pos", phrases,
        "query_id", "phrase", k = 2))(
      _.select(col("query_id"), col("doc_id"), col("rank"))
        .as[(Long, Long, Int)].collect().toSeq.sorted)
    assert(phraseRanks === want)

    // CurationIngest.takedownLineage: the TombstoneSpec hand truth.
    val lineage = Seq(
      (1L, 1L, "new"), (2L, 1L, "near"), (3L, 2L, "near"), (7L, 1L, "exact"),
      (4L, 4L, "new"), (5L, 4L, "near"),
      (6L, 6L, "new"),
      (8L, 8L, "new"), (9L, 8L, "near")).toDF("id", "keep_id", "regime")
    val taken = twice(CurationIngest.takedownLineage(lineage,
        Seq(1L, 4L, 5L, 6L, 9L).toDF("id")))(
      _.select(col("id"), col("keep_id"), col("regime"))
        .as[(Long, Long, String)].collect().toSet)
    assert(taken === Set((2L, 2L, "promoted"), (3L, 2L, "near"),
      (7L, 2L, "exact"), (8L, 8L, "new")))
  }

  test("bm25TopK refuses an over-bound query batch before touching the corpus") {
    // a corpus whose evaluation throws: any corpus job fails the call
    // with THIS error instead of the gate's
    val touched = udf { (t: String) =>
      if (t != null) throw new IllegalStateException("corpus evaluated")
      t
    }
    val corpus = Seq(1L -> "alpha").toDF("doc_id", "raw")
      .select(col("doc_id"), touched(col("raw")).as("text"))
    val bound = BroadcastGate.maxRows(StructType(Seq(
      StructField("query_id", LongType), StructField("term", StringType))),
      BroadcastGate.DefaultKeyLimit)
    // one term per query: bound + 1 pairs, one partition
    val queries = spark.range(0L, bound + 1, 1L, 1)
      .select(col("id").as("query_id"), lit("alpha").as("qtext"))
    val e = intercept[IllegalArgumentException] {
      Retrieval.bm25TopK(corpus, "doc_id", "text", queries, "query_id", "qtext")
    }
    assert(e.getMessage.contains(s"more than $bound"), e.getMessage)
    // within the bound the same corpus is read and throws: above, the
    // gate refused first
    val e2 = intercept[Exception] {
      Retrieval.bm25TopK(corpus, "doc_id", "text", queries.limit(1),
        "query_id", "qtext")
    }
    assert(Iterator.iterate[Throwable](e2)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("corpus evaluated")), e2)
  }
}
