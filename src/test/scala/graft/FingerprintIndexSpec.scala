package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Dedup
import graft.store.{FingerprintIndex, SnapshotStore}

/** Incremental exact/reformatting dedup over the persistent fingerprint
  * index: with ascending-id appends the per-batch results must compose to
  * the batch operator's global keep-min, the index must hold exactly one
  * row per distinct content, appends must be O(batch) deltas with
  * exactly-once replay semantics. */
class FingerprintIndexSpec extends SparkSpec {
  import spark.implicits._

  /** ids 0..29 base docs; 100+i (i<10) = whitespace-reformatted copy of i
    * (tab indentation — same token sequence, different text); 200..202 =
    * verbatim copies of 0..2; 300 = a doc equal to 301 (both in the SAME
    * second batch — in-batch dup). */
  private def corpus: Seq[(Long, String)] = {
    val base = (0 until 30).map(i => i.toLong -> s"alpha b$i c$i delta e$i")
    val reform = (0 until 10).map(i => (100 + i).toLong -> s"\talpha  b$i\nc$i  delta\te$i ")
    val copies = (0 until 3).map(i => (200 + i).toLong -> base(i)._2)
    val inBatch = Seq(300L -> "omega shared text", 301L -> "omega shared text")
    base ++ reform ++ copies ++ inBatch
  }

  private def run(splits: Seq[Long => Boolean]): (Seq[DataFrame], SnapshotStore, String) = {
    val docs = corpus.toDF("doc_id", "text").repartition(4)
    val root = TempDirs.create("graft-fpidx").toString
    val store = new SnapshotStore(root, spark)
    FingerprintIndex.build(store, "t", docs.limit(0), "text", "doc_id")
    val parts = splits.zipWithIndex.map { case (p, i) =>
      val f = udf(p)
      FingerprintIndex.appendBatchOnce(store, "t",
        docs.filter(f(col("doc_id"))), "text", "doc_id", "s", i.toLong).get
    }
    (parts, store, "t")
  }

  test("ascending-id appends compose to the batch keep-min, any batching") {
    val docs = corpus.toDF("doc_id", "text")
    val want = Dedup.fingerprintGroups(docs, "text", "doc_id")
      .select(col("keep_id"), col("dup_count"))
      .as[(Long, Long)].collect().toMap
    // two different ascending-id batchings must both reproduce it
    val batchings: Seq[Seq[Long => Boolean]] = Seq(
      Seq(_ < 150, _ >= 150),
      Seq(_ < 10, id => id >= 10 && id < 210, _ >= 210))
    for (splits <- batchings) {
      val (parts, store, t) = run(splits)
      val resolved = parts.reduce(_ unionByName _)
      val got = resolved.groupBy(col("keep_id")).agg(count(lit(1)).as("c"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"incremental keep-min diverged for $splits")
      // reformatting variants map to their originals, verbatim copies too
      val keepOf = resolved.select(col("id"), col("keep_id"))
        .as[(Long, Long)].collect().toMap
      for (i <- 0 until 10) assert(keepOf(100L + i) == i.toLong)
      for (i <- 0 until 3) assert(keepOf(200L + i) == i.toLong)
      assert(keepOf(301L) == 300L, "in-batch dup must keep the min id")
      // index invariant: one row per distinct content = number of groups
      assert(FingerprintIndex.load(store, t).count() == want.size)
      parts.foreach(_.unpersist(blocking = false))
    }
  }

  test("replayed batch id is skipped; append before build throws") {
    val docs = corpus.toDF("doc_id", "text")
    val root = TempDirs.create("graft-fpidx2").toString
    val store = new SnapshotStore(root, spark)
    intercept[IllegalStateException] {
      FingerprintIndex.appendBatchOnce(store, "t", docs, "text", "doc_id", "s", 0L)
    }
    FingerprintIndex.build(store, "t", docs.limit(0), "text", "doc_id")
    val first = FingerprintIndex.appendBatchOnce(store, "t", docs, "text", "doc_id", "s", 0L)
    assert(first.isDefined)
    first.foreach(_.unpersist(blocking = false))
    val n = FingerprintIndex.load(store, "t").count()
    assert(FingerprintIndex.appendBatchOnce(store, "t", docs, "text", "doc_id", "s", 0L).isEmpty,
      "replayed batchId must be skipped")
    assert(FingerprintIndex.load(store, "t").count() == n, "replay must not change the index")
  }

  test("appends are O(batch) deltas; compaction folds the chain") {
    val docs = corpus.toDF("doc_id", "text")
    val root = TempDirs.create("graft-fpidx3").toString
    val store = new SnapshotStore(root, spark)
    FingerprintIndex.build(store, "t", docs.filter(col("doc_id") < 5), "text", "doc_id")
    // compactEvery = 3: the third append folds into a full snapshot
    for (i <- 0 until 4) {
      FingerprintIndex.appendBatchOnce(store, "t",
        docs.filter(col("doc_id") >= 5 + i * 3 && col("doc_id") < 8 + i * 3),
        "text", "doc_id", "s", i.toLong, compactEvery = 3)
        .foreach(_.unpersist(blocking = false))
    }
    val meta = store.metaForVersion("t", store.currentVersion("t"))
    val chainLen = meta.get("fpdedup.parts").filter(_.nonEmpty)
      .map(_.split(",").length).getOrElse(0)
    assert(chainLen < 4, s"chain never compacted: $meta")
    FingerprintIndex.vacuumIndex(store, "t")
    // post-vacuum the index still reads fully
    assert(FingerprintIndex.load(store, "t").count() ==
      docs.filter(col("doc_id") < 17).select(countDistinct(col("text"))).as[Long].head())
  }
}
