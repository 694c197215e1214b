package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.streaming.StreamingSessions
import graft.streaming.StreamingSessions.{ClosedSession, OpenSession, SessionEvent}

/** Stateful streaming sessionization (flatMapGroupsWithState twin of
  * EventQueries.sessions) + watermark-bounded streaming dedup. */
class StreamingSessionSpec extends SparkSpec {

  private val MIN30 = 1800L * 1000000L

  test("advance: gap splits, accumulation, out-of-order absorption, numbering") {
    def ev(ts: Long, id: Long, cents: Long) = SessionEvent(7L, ts, id, cents)
    // one contiguous run → single open session, nothing closed
    val (c1, o1, s1) = StreamingSessions.advance(7L,
      Array(ev(0L, 1, 100), ev(60L * 1000000L, 2, 50)), None, MIN30)
    assert(c1.isEmpty)
    assert(o1 === Some(OpenSession(0L, 60L * 1000000L, 2L, 150L)))
    assert(s1 === 0L)
    // a gap > 30min closes the first session, numbered from startSeq
    val (c2, o2, s2) = StreamingSessions.advance(7L,
      Array(ev(MIN30 * 2 + 60L * 1000000L, 3, 25)), o1, MIN30, startSeq = 0L)
    assert(c2 === Seq(ClosedSession(7L, 0L, 2L, 150L, 0L)))
    assert(o2.exists(_.n_events == 1L))
    assert(s2 === 1L)
    // two gaps in one run → consecutive seqs continuing the counter
    val (c4, _, s4) = StreamingSessions.advance(7L,
      Array(ev(0L, 1, 10), ev(MIN30 * 2, 2, 20), ev(MIN30 * 4, 3, 30)),
      None, MIN30, startSeq = 5L)
    assert(c4.map(_.session_seq) === Seq(5L, 6L))
    assert(s4 === 7L)
    // exactly-at-gap does NOT split (batch uses strict >)
    val (c3, _, _) = StreamingSessions.advance(7L,
      Array(ev(0L, 1, 10), ev(MIN30, 2, 10)), None, MIN30)
    assert(c3.isEmpty)
  }

  test("streamed closed sessions match the batch sessionization") {
    val eventsDir = TempDirs.create("graft-sess-in")
    val ckpt = TempDirs.create("graft-sess-ckpt")
    val src = Paths.get(s"$sfDir/events.parquet")
    Files.copy(src, eventsDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src.toString).schema

    val stream = Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(eventsDir.toString))
    val query = StreamingSessions.sessionize(stream).writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .format("memory")
      .queryName("sess_stream")
      .start()
    try {
      query.processAllAvailable()
      val streamed = spark.table("sess_stream")
      assert(streamed.count() > 0, "some sessions must have closed")
      // Every closed streamed session must equal its batch twin exactly
      // (keyed by user + start; compare count, exact-cents value, AND the
      // per-user session number — full schema parity with the batch query).
      val batch = graft.queries.EventQueries.sessions(spark, sfDir)
        .select(col("user_id"), col("session_start_us"),
          col("n_events").as("b_n"), col("session_value_cents").as("b_cents"),
          col("session_seq").as("b_seq"))
      val joined = streamed.join(batch, Seq("user_id", "session_start_us"), "left")
      assert(joined.filter(col("b_n").isNull).count() === 0,
        "every streamed session exists in the batch result")
      assert(joined.filter(col("n_events") =!= col("b_n") ||
        col("session_value_cents") =!= col("b_cents")).count() === 0,
        "streamed session aggregates match batch exactly")
      assert(joined.filter(col("session_seq") =!= col("b_seq")).count() === 0,
        "streamed session_seq matches the batch window numbering")
    } finally query.stop()
  }

  test("dropDuplicatesWithinWatermark removes replayed rows") {
    val eventsDir = TempDirs.create("graft-dd-in")
    val ckpt = TempDirs.create("graft-dd-ckpt")
    val src = Paths.get(s"$sfDir/events.parquet")
    // the same file twice = an at-least-once source replaying its batch
    Files.copy(src, eventsDir.resolve("a.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    Files.copy(src, eventsDir.resolve("b.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src.toString).schema

    val stream = Tables.normalizeEventTs(
      spark.readStream.schema(schema).parquet(eventsDir.toString))
    val query = StreamingSessions
      .dedupWithinWatermark(stream, Seq("event_id"), watermark = "1 hour")
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .outputMode("append")
      .format("memory")
      .queryName("dd_stream")
      .start()
    try {
      query.processAllAvailable()
      val n = spark.table("dd_stream").count()
      val distinct = spark.read.parquet(src.toString)
        .select("event_id").distinct().count()
      assert(n === distinct,
        s"doubled input must dedup to the distinct key count ($n vs $distinct)")
    } finally query.stop()
  }
}
