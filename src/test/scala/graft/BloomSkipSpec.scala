package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.store.{BloomSkip, FingerprintIndex, SnapshotStore}

/** Parquet bloom-filter file skipping ([[BloomSkip]]) and the
  * fingerprint-index trickle-probe path built on it: skipping must be
  * observable, conservative where sketches are missing, and INVISIBLE
  * to results (probe path ≡ scan path row-for-row). */
class BloomSkipSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): (SnapshotStore, java.nio.file.Path) = {
    val root = TempDirs.create("graft-bloom")
    (new SnapshotStore(root.toString, spark), root)
  }

  /** (fp, id) rows with spread-out hash-like keys, 4 hash files. */
  private def idxRows: DataFrame =
    (0 until 400).map(i => (i.toLong * 2654435761L, i.toLong))
      .toDF("fp", "id").repartition(4, col("fp"))

  private def noAqe[A](body: => A): A = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("bloom commit: absent keys skip files, present keys never do") {
    val (store, root) = freshStore()
    noAqe { store.commit("t", idxRows, sortKey = Some("fp"),
      bloomCols = Seq("fp")) }
    val dir = root.resolve("t").resolve("v00001")
    // a fingerprint that is present: its file must survive
    val present = 7L * 2654435761L
    val (kp, total) = BloomSkip.filesMaybeContaining(dir, "fp", Array(present))
    assert(total === 4)
    assert(kp.nonEmpty, "bloom may never reject a present value")
    // an absent fingerprint: w.h.p. every sketch rejects it
    val (ka, _) = BloomSkip.filesMaybeContaining(dir, "fp", Array(999999999L))
    assert(ka.size < total, s"absent key kept ${ka.size}/$total files")
    // empty probe set keeps nothing
    assert(BloomSkip.filesMaybeContaining(dir, "fp", Array.empty)._1.isEmpty)
  }

  test("commits without bloomCols are conservatively kept") {
    val (store, root) = freshStore()
    noAqe { store.commit("t", idxRows, sortKey = Some("fp")) }
    val dir = root.resolve("t").resolve("v00001")
    val (kept, total) = BloomSkip.filesMaybeContaining(
      dir, "fp", Array(123456789L))
    assert(kept.size === total, "no sketch -> every file kept")
  }

  private def docsOf(rows: Seq[(Long, String)]): DataFrame =
    rows.toDF("doc_id", "text")

  test("trickle bloom probe ≡ full scan probe, append for append") {
    val corpus = docsOf((0 until 300).map(i => (i.toLong, s"document body $i")))
    val b1 = docsOf(Seq((300L, "document body 5"), (301L, "fresh text one"),
      (302L, "fresh text one")))
    val b2 = docsOf(Seq((303L, "fresh text one"), (304L, "another new doc")))
    def run(bloomMax: Int): (Seq[Row], Seq[Row], Long) = {
      val (store, _) = freshStore()
      noAqe { FingerprintIndex.build(store, "fp", corpus, "text", "doc_id") }
      val r1 = FingerprintIndex.appendBatchOnce(store, "fp", b1, "text",
        "doc_id", "s", 1L, bloomProbeMaxKeys = bloomMax).get
      val rows1 = r1.orderBy("id").collect().toSeq
      r1.unpersist(blocking = false)
      val r2 = FingerprintIndex.appendBatchOnce(store, "fp", b2, "text",
        "doc_id", "s", 2L, bloomProbeMaxKeys = bloomMax).get
      val rows2 = r2.orderBy("id").collect().toSeq
      r2.unpersist(blocking = false)
      (rows1, rows2, FingerprintIndex.load(store, "fp").count())
    }
    val (s1, s2, sn) = run(0)     // scan path
    val (p1, p2, pn) = run(1000)  // bloom-probe path
    assert(p1 === s1) // dup of indexed doc resolves to the same owner
    assert(p2 === s2) // dup of a DELTA-version doc resolves identically
    assert(pn === sn) // the committed index contents agree
    // sanity on the semantics themselves, not just equivalence
    assert(s1.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))) ===
      Seq((300L, 5L, false), (301L, 301L, true), (302L, 301L, false)))
    assert(s2.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))) ===
      Seq((303L, 301L, false), (304L, 304L, true)))
  }

  test("resolve with bloom probe matches resolve without") {
    val corpus = docsOf((0 until 200).map(i => (i.toLong, s"body $i")))
    val batch = docsOf(Seq((500L, "body 42"), (501L, "nothing like it")))
    val (store, _) = freshStore()
    noAqe { FingerprintIndex.build(store, "fp", corpus, "text", "doc_id") }
    val scan = FingerprintIndex.resolve(store, "fp", batch, "text", "doc_id")
      .orderBy("id").collect().toSeq
    val probe = FingerprintIndex.resolve(store, "fp", batch, "text", "doc_id",
      bloomProbeMaxKeys = 100).orderBy("id").collect().toSeq
    assert(probe === scan)
    assert(scan.map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))) ===
      Seq((500L, 42L, false), (501L, 501L, true)))
  }
}
