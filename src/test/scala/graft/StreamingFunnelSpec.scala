package graft

import org.apache.spark.sql.functions._

import graft.streaming.StreamingFunnel

/** Streaming funnel ≡ batch funnel: step-reach rows emitted by the
  * stateful fold, aggregated per step, must equal EventQueries.funnel's
  * counts — across multiple event-time-ordered micro-batches (the
  * source contract), with intra-batch disorder absorbed by the
  * per-group sort. */
class StreamingFunnelSpec extends SparkSpec {

  private val HorizonUs = 7L * 86400L * 1000000L

  test("streamed step counts equal the batch funnel across ordered micro-batches") {
    val ev = Tables.eventsUs(spark, sfDir)
    val (tsMin, tsMax) = {
      val r = ev.agg(min(col("ts_us")), max(col("ts_us"))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val c1 = tsMin + (tsMax - tsMin) / 3
    val c2 = tsMin + 2 * (tsMax - tsMin) / 3

    val inbox = TempDirs.create("graft-funnel-in").toString
    val slices = Seq(
      col("ts_us") < c1,
      col("ts_us") >= c1 && col("ts_us") < c2,
      col("ts_us") >= c2)
    slices.zipWithIndex.foreach { case (p, i) =>
      ev.filter(p).drop("ts_us").coalesce(1)
        .write.parquet(s"$inbox/b$i.parquet")
      Thread.sleep(100) // distinct mod-times for the file source's ordering
    }

    val schema = spark.read.parquet(s"$inbox/b0.parquet").schema
    val stream = Tables.normalizeEventTs(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(s"$inbox/*.parquet"))
    val query = StreamingFunnel
      .funnelSteps(stream, horizonUs = HorizonUs).writeStream
      .option("checkpointLocation", TempDirs.create("graft-ckpt").toString)
      .outputMode("append")
      .format("memory")
      .queryName("funnel_stream")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("funnel_stream")
        .groupBy(col("step")).agg(countDistinct(col("user_id")).as("users"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.queries.EventQueries
        .funnel(spark, sfDir, horizonUs = HorizonUs)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(batch.values.sum > 0, "batch funnel must be non-trivial")
      // batch emits a row per step even at 0 users; streamed only emits
      // reached steps — compare on the batch's support
      batch.foreach { case (step, n) =>
        assert(streamed.getOrElse(step, 0L) === n,
          s"step $step diverged (streamed=${streamed.get(step)}, batch=$n)")
      }
      // a user reaches each step at most once
      val dups = spark.table("funnel_stream")
        .groupBy(col("user_id"), col("step_idx")).count()
        .filter(col("count") > 1)
      assert(dups.isEmpty, "duplicate step-reach emissions")
    } finally query.stop()
  }
}
