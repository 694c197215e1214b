package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.functions.{Dsir, NgramLm}

/** The scored-filter stages (bigram-LM quality, DSIR importance) are
  * stateless projections, so they run unchanged as Structured Streaming
  * transforms: stream the documents table through scoreDocs and pin
  * every scored row to its batch twin exactly (integer scores — no
  * float tolerance needed). The model/weights are trained in batch
  * first; the stream only scores — the production trickle-ingest shape
  * (train on the trusted snapshot, score arrivals as they land). */
class StreamingScoreSpec extends SparkSpec {

  private def streamDocs(name: String)(
      score: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val inDir = TempDirs.create(s"graft-$name-in")
    val ckpt = TempDirs.create(s"graft-$name-ckpt")
    val src = Paths.get(s"$sfDir/documents.parquet")
    Files.copy(src, inDir.resolve("documents.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src.toString).schema
    val stream = spark.readStream.schema(schema).parquet(inDir.toString)
    val q = score(stream).writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append").format("memory").queryName(name).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(name)
  }

  private def assertRowEqual(streamed: org.apache.spark.sql.DataFrame,
                             batch: org.apache.spark.sql.DataFrame): Unit = {
    assert(streamed.count() === batch.count())
    assert(streamed.exceptAll(batch).isEmpty &&
      batch.exceptAll(streamed).isEmpty,
      "streamed scoring must equal the batch scoring row-for-row")
  }

  test("streamed LM scoring ≡ batch (stateless projection)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val model = NgramLm.train(docs.filter(col("doc_id") % 7 < 3), "text",
      minCount = 1)
    def score(df: org.apache.spark.sql.DataFrame) =
      NgramLm.scoreDocs(df, "doc_id", "text", model)
    assertRowEqual(streamDocs("lm_stream")(score), score(docs))
  }

  test("streamed DSIR scoring ≡ batch (stateless projection)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val w = Dsir.importanceWeights(
      docs.filter(col("doc_id") % 8 === 1), docs, "text", dim = 64)
    def score(df: org.apache.spark.sql.DataFrame) =
      Dsir.scoreDocs(df, "doc_id", "text", w, thresholdNum = 0L)
    assertRowEqual(streamDocs("dsir_stream")(score), score(docs))
  }
}
