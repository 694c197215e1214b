package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.operators.{CatalogQueries, Mutations}
import graft.store.SnapshotStore
import graft.streaming.StreamingIngest

/** ST1/ST2: file-inbox streaming ingest drives the same snapshot-append
  * path as batch E1; ST3: watermarked window agg over an event stream. */
class StreamingSpec extends SparkSpec {

  test("ST1: files dropped in inbox flow into the store per micro-batch") {
    val inbox = TempDirs.create("graft-inbox")
    val ckpt = TempDirs.create("graft-ckpt")
    val storeDir = TempDirs.create("graft-sstore")
    val store = new SnapshotStore(storeDir.toString, spark)
    val mut = new Mutations(store, spark)
    val q = new CatalogQueries(store, spark)

    val query = StreamingIngest.start(
      spark, inbox.toString, ckpt.toString, mut)
    try {
      Files.writeString(inbox.resolve("batch1.csv"),
        "s_no,tool_name,team_name\n,Stream Tool A,FCS\n,Stream Tool B,GCSS\n")
      query.processAllAvailable()
      assert(q.getAllTools.count() === 2)

      Files.writeString(inbox.resolve("batch2.csv"),
        "s_no,tool_name,team_name\n,Stream Tool C,FCS\n")
      query.processAllAvailable()
      assert(q.getAllTools.count() === 3)
      // keys assigned max+1 across micro-batches
      val keys = q.getAllTools.select("s_no").collect().map(_.getInt(0)).sorted
      assert(keys.toSeq === Seq(1, 2, 3))
    } finally query.stop()
  }

  test("ST3: watermarked 1h tumbling window aggregates an event stream") {
    val eventsDir = TempDirs.create("graft-events")
    val ckpt = TempDirs.create("graft-eckpt")
    // stage the real events parquet as the "arriving" file
    val src = Paths.get(s"$sfDir/events.parquet")
    Files.copy(src, eventsDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src.toString).schema

    val query = StreamingIngest.startEventWindowStream(
      spark, eventsDir.toString, schema, ckpt.toString, "ev_windows")
    try {
      query.processAllAvailable()
      // append-mode emits only closed windows (watermark passed); with a
      // single static batch the final windows stay open, so compare the
      // CLOSED subset against the batch computation.
      val streamed = spark.table("ev_windows")
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
      val batch = StreamingIngest.windowedEventAgg(
        Tables.normalizeEventTs(spark.read.parquet(src.toString)))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
      val joined = streamed.alias("s")
        .join(batch.alias("b"), Seq("ws", "event_type"))
        .filter(col("s.n") =!= col("b.n"))
      assert(joined.count() === 0, "closed streamed windows must match batch")
      assert(streamed.count() > 0, "at least one window closed")
    } finally query.stop()
  }

  test("ST3 sliding: overlapping 10m/5m windows close and match batch") {
    val eventsDir = TempDirs.create("graft-sevents")
    val ckpt = TempDirs.create("graft-seckpt")
    val src = Paths.get(s"$sfDir/events.parquet")
    Files.copy(src, eventsDir.resolve("events.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    val schema = spark.read.parquet(src.toString).schema

    val query = StreamingIngest.startEventWindowStream(
      spark, eventsDir.toString, schema, ckpt.toString, "ev_sliding",
      window_ = "10 minutes", slide = Some("5 minutes"))
    try {
      query.processAllAvailable()
      val streamed = spark.table("ev_sliding")
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
      val batch = StreamingIngest.windowedEventAgg(
        Tables.normalizeEventTs(spark.read.parquet(src.toString)),
        window_ = "10 minutes", slide = Some("5 minutes"))
        .select(col("window.start").as("ws"), col("event_type"), col("n"))
      val joined = streamed.alias("s")
        .join(batch.alias("b"), Seq("ws", "event_type"))
        .filter(col("s.n") =!= col("b.n"))
      assert(joined.count() === 0, "closed sliding windows must match batch")
      assert(streamed.count() > 0, "at least one sliding window closed")
      // overlap sanity: consecutive window starts are 5 minutes apart
      // somewhere in the closed set (i.e. the slide actually overlapped)
      val starts = spark.table("ev_sliding")
        .select(col("window.start").cast("long")).distinct()
        .collect().map(_.getLong(0)).sorted
      assert(starts.zip(starts.drop(1)).exists { case (a, b) => b - a == 300 },
        "no 5-minute-apart window starts — slide did not take effect")
    } finally query.stop()
  }
}
