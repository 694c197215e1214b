package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Dsir, NgramLm}
import graft.store.{CurationIngest, MinHashRegime, SnapshotStore}

/** The COMPOSED production pipeline end-to-end: statistical quality
  * gates (bigram-LM + DSIR, trained once on trusted splits) in front
  * of the exactly-once dedup-on-ingest with benchmark decontamination.
  * The gates are stateless row maps, so gating each trickle batch must
  * compose with CurationIngest's batching-invariance: three ascending
  * gated batches produce the identical lineage as gating the whole
  * corpus and ingesting it once. */
class PipelineComposeSpec extends SparkSpec {

  private def planted: DataFrame = {
    val idS = col("doc_id").cast("string")
    val junk = concat_ws(" ",
      (0 until 8).map(i => concat(lit("zq"), idS, lit("x" + i))): _*)
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 11 === 7, junk).otherwise(col("text")).as("text"))
  }

  test("gated trickle ingest ≡ gated one-shot ingest, lineage-for-lineage") {
    val corpus = planted.persist()
    try {
      // models trained ONCE on the trusted splits (production: from a
      // static snapshot), shared by every batch
      val model = NgramLm.train(
        corpus.filter(col("doc_id") % 7 < 3), "text", minCount = 1)
        .persist()
      model.count()
      val w = Dsir.importanceWeights(
        corpus.filter(col("doc_id") % 8 === 1), corpus, "text", dim = 64)
      val bench = corpus.filter(col("doc_id") % 23 === 0)

      def gate(df: DataFrame): DataFrame = {
        val lmKeep = NgramLm.scoreDocs(df, "doc_id", "text", model,
          penalty = -30L, threshold = -12L)
          .filter(col("keep")).select(col("doc_id"))
        val dsKeep = Dsir.scoreDocs(df, "doc_id", "text", w,
          thresholdNum = -2L)
          .filter(col("keep")).select(col("doc_id"))
        df.join(lmKeep, Seq("doc_id"), "left_semi")
          .join(dsKeep, Seq("doc_id"), "left_semi")
      }

      val total = corpus.count()
      val kept = gate(corpus).count()
      assert(kept > 0 && kept < total,
        s"gates must bite for the test to mean anything ($kept/$total)")

      def lineageMap(store: SnapshotStore, batches: Seq[DataFrame])
          : Map[Long, (Long, String)] = {
        CurationIngest.init(store, "cur", MinHashRegime(),
          corpus, "text", "doc_id")
        batches.zipWithIndex.flatMap { case (b, i) =>
          CurationIngest.ingestBatchOnce(store, "cur", MinHashRegime(),
            gate(b), "text", "doc_id", "s", i.toLong,
            benchmark = Some(bench))
            .select(col("id"), col("keep_id"), col("regime"))
            .collect()
            .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2))))
        }.toMap
      }

      // ascending id ranges — the first-arrival ≡ keep-min precondition
      val cut1 = total / 3; val cut2 = 2 * total / 3
      val trickle = lineageMap(
        new SnapshotStore(TempDirs.create("graft-pipe1").toString, spark),
        Seq(corpus.filter(col("doc_id") < cut1),
          corpus.filter(col("doc_id") >= cut1 && col("doc_id") < cut2),
          corpus.filter(col("doc_id") >= cut2)))
      val oneShot = lineageMap(
        new SnapshotStore(TempDirs.create("graft-pipe2").toString, spark),
        Seq(corpus))
      assert(trickle === oneShot,
        "stateless gates must compose with ingest batching-invariance")
      model.unpersist(blocking = false)
    } finally corpus.unpersist(blocking = false)
  }
}
