package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.plans.{ZOrder, ZOrderKey2}
import graft.store.{SnapshotStore, ZoneMap}

/** File-level zone maps + Z-order clustering: pruning must actually skip
  * files on clustered layouts, and must NEVER change an answer — every
  * pruned result here is checked value-identical to the unpruned filter
  * (the same invariant the store_prune_range / store_zorder_rect DuckDB
  * oracles pin end-to-end). */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  private def freshStore(): SnapshotStore =
    new SnapshotStore(TempDirs.create("graft-zm").toString, spark)

  /** 1000 rows, k in [0,1000), two extra dims for rectangle tests. */
  private def table(): DataFrame =
    (0 until 1000).map { i => (i.toLong, i % 32, (i / 32) % 32, s"name_${"%04d".format(i)}") }
      .toDF("k", "x", "y", "name")

  private def collectSorted(df: DataFrame): Seq[Row] =
    df.orderBy(df.columns.toIndexedSeq.map(col): _*).collect().toSeq

  test("range-partitioned sorted layout: narrow key range skips most files") {
    val store = freshStore()
    store.commit("t", table().repartitionByRange(10, col("k")),
      sortKey = Some("k"), statsCols = Seq("k"))
    val pred = Seq(ZoneMap.longRange("k", 150L, 249L))
    val (kept, total) = ZoneMap.selectedFiles(store, "t", pred)
    assert(total === 10)
    assert(kept.size <= 2, s"expected <=2 files kept, got ${kept.size}")
    assert(collectSorted(ZoneMap.prunedScan(store, "t", pred)) ===
      collectSorted(store.load("t").filter(col("k").between(150, 249))))
  }

  test("string zones prune; unsigned byte order matches Spark's") {
    val store = freshStore()
    store.commit("t", table().repartitionByRange(10, col("name")),
      sortKey = Some("name"), statsCols = Seq("name"))
    val pred = Seq(ZoneMap.stringRange("name", "name_0100", "name_0199"))
    val (kept, total) = ZoneMap.selectedFiles(store, "t", pred)
    assert(kept.size < total)
    assert(collectSorted(ZoneMap.prunedScan(store, "t", pred)) ===
      collectSorted(store.load("t")
        .filter(col("name") >= "name_0100" && col("name") <= "name_0199")))
  }

  test("all-null column files are provably unmatched by a range") {
    val store = freshStore()
    val withNulls = table()
      .withColumn("v", when(col("k") < 500, col("k")))   // nulls for k>=500
      .repartitionByRange(4, col("k"))
    store.commit("t", withNulls, sortKey = Some("k"), statsCols = Seq("v"))
    val pred = Seq(ZoneMap.longRange("v", 0L, 10000L))
    val (kept, total) = ZoneMap.selectedFiles(store, "t", pred)
    assert(kept.size < total, "all-null files should be dropped")
    assert(ZoneMap.prunedScan(store, "t", pred).count() === 500)
  }

  test("unharvested column / missing sidecar: conservative keep, same answer") {
    val store = freshStore()
    // statsCols only covers k; predicate on x must keep everything
    store.commit("t", table().repartitionByRange(8, col("k")),
      sortKey = Some("k"), statsCols = Seq("k"))
    val predX = Seq(ZoneMap.longRange("x", 3L, 5L))
    val (kept, total) = ZoneMap.selectedFiles(store, "t", predX)
    assert(kept.size === total)
    assert(ZoneMap.prunedScan(store, "t", predX).count() ===
      store.load("t").filter(col("x").between(3, 5)).count())
    // plain commit (no statsCols): no sidecar at all — still correct
    val store2 = freshStore()
    store2.commit("t", table())
    val predK = Seq(ZoneMap.longRange("k", 0L, 9L))
    val (kept2, total2) = ZoneMap.selectedFiles(store2, "t", predK)
    assert(kept2.size === total2)
    assert(ZoneMap.prunedScan(store2, "t", predK).count() === 10)
  }

  test("empty survivor set returns an empty frame with the table schema") {
    val store = freshStore()
    store.commit("t", table().repartitionByRange(4, col("k")),
      sortKey = Some("k"), statsCols = Seq("k"))
    val out = ZoneMap.prunedScan(store, "t",
      Seq(ZoneMap.longRange("k", 5000L, 6000L)))
    assert(out.count() === 0)
    assert(out.columns.toSeq === store.load("t").columns.toSeq)
  }

  test("footer harvest spends zero Spark jobs at local file counts") {
    val store = freshStore()
    val df = table().repartitionByRange(6, col("k")).cache()
    df.count() // materialize outside the window
    val count = new java.util.concurrent.atomic.AtomicInteger
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        count.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      store.commit("t", df, sortKey = Some("k"), statsCols = Seq("k", "name"))
      Thread.sleep(800)
    } finally spark.sparkContext.removeSparkListener(l)
    df.unpersist()
    // exactly the parquet-write job — the harvest adds none
    assert(count.get <= 1, s"harvest should add no jobs, saw ${count.get}")
  }

  test("timestamp zones: µs-normalized ranges prune a time-ordered layout") {
    val store = freshStore()
    val base = 1700000000000000L // epoch µs
    val df = spark.range(0, 1000).select(col("id"),
      timestamp_micros(lit(base) + col("id") * 60000000L).as("ts")) // 1/min
    store.commit("t", df.repartitionByRange(10, col("ts")),
      sortKey = Some("ts"), statsCols = Seq("ts"))
    val pred = Seq(ZoneMap.tsRangeMicros("ts",
      base + 100L * 60000000L, base + 199L * 60000000L))
    val (kept, total) = ZoneMap.selectedFiles(store, "t", pred)
    assert(total === 10)
    assert(kept.size <= 2, s"kept ${kept.size}/$total")
    assert(ZoneMap.prunedScan(store, "t", pred).count() === 100)
    // the java.sql.Timestamp constructor agrees with the raw-µs form
    val ts0 = new java.sql.Timestamp(base / 1000 + 100L * 60000L)
    val ts1 = new java.sql.Timestamp(base / 1000 + 199L * 60000L)
    assert(ZoneMap.prunedScan(store, "t",
      Seq(ZoneMap.tsRange("ts", ts0, ts1))).count() === 100)
  }

  test("IN predicates: membership prunes by zone, residual decides truth") {
    val store = freshStore()
    store.commit("t", table().repartitionByRange(10, col("k")),
      sortKey = Some("k"), statsCols = Seq("k"))
    // two ids in the same decile + one far away → ≤2 files survive
    val pred = Seq(ZoneMap.longIn("k", Seq(101L, 150L, 950L)))
    val (kept, total) = ZoneMap.selectedFiles(store, "t", pred)
    assert(kept.size <= 2 && kept.size < total)
    assert(ZoneMap.prunedScan(store, "t", pred).count() === 3)
    // a value inside a zone but absent from the data: zones may keep the
    // file, the residual isin must reject the row
    val miss = Seq(ZoneMap.longIn("k", Seq(5000L)))
    assert(ZoneMap.prunedScan(store, "t", miss).count() === 0)
  }

  test("TextIndex postings files own disjoint term ranges; term probes skip files") {
    val store = freshStore()
    val docs = ((0 until 40).map(i => (i.toLong, s"alpha bravo common w${"%03d".format(i)}")) :+
      (99L, "zulu zebra zygote")).toDF("doc_id", "text")
    // At test scale AQE coalesces the range shuffle to ONE partition
    // (the right call at scale — file count tracks data size); pin the
    // partition count here so the multi-file layout is observable.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try graft.store.TextIndex.build(store, "idx", docs, "text", "doc_id")
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    // the build snapshot (v1): a term at the top of the alphabet lives in
    // the last range file only
    val (kept, total) = ZoneMap.selectedFilesAt(store, "idx", 1L,
      Seq(ZoneMap.stringIn("term", Seq("zygote"))))
    assert(total > 1, s"range layout should write >1 file, got $total")
    assert(kept.size < total, s"term probe kept ${kept.size}/$total")
    // and the pruned probe still finds exactly the right postings
    assert(ZoneMap.prunedScanAt(store, "idx", 1L,
      Seq(ZoneMap.stringIn("term", Seq("zygote")))).count() === 1)
    // end-to-end: query through the index (which now prunes via zones)
    // still ranks the right doc first
    val qs = Seq((1L, "zygote zebra")).toDF("query_id", "qtext")
    val top = graft.store.TextIndex.query(store, "idx", qs, "query_id", "qtext", k = 3)
      .orderBy(col("rank")).collect()
    assert(top.nonEmpty && top.head.getAs[Long]("neighbor_id") === 99L)
  }

  // ----------------------------------------------------------- z-order

  /** Straightforward reference interleave, written independently of the
    * expression's loop: spread bits of each 31/20-bit value. */
  private def refZ2(a: Int, b: Int): Long = {
    val ua = (a.toLong + 0x80000000L); val ub = (b.toLong + 0x80000000L)
    var out = 0L
    for (bit <- 0 until 31) {
      out = (out << 1) | ((ua >>> (31 - bit)) & 1L)
      out = (out << 1) | ((ub >>> (31 - bit)) & 1L)
    }
    out
  }

  test("ZOrderKey2 matches an independent reference implementation") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq((0, 0), (1, 0), (0, 1), (Int.MaxValue, Int.MinValue),
      (-5, 17)) ++ (0 until 200).map(_ => (rnd.nextInt(), rnd.nextInt()))
    pairs.foreach { case (a, b) =>
      assert(ZOrder.compute2(a.toLong, b.toLong) === refZ2(a, b), s"($a,$b)")
    }
    // clamping: out-of-int-range longs collapse to the extremes, order kept
    assert(ZOrder.compute2(Long.MaxValue, 0L) ===
      ZOrder.compute2(Int.MaxValue.toLong, 0L))
    assert(ZOrder.compute3(1L, 2L, 3L) >= 0L)
  }

  test("zkey column: codegen path agrees with eval, nulls propagate") {
    val df = Seq((1, 2), (100, 7), (-3, 900)).toDF("a", "b")
      .withColumn("z", ZOrder.zkey(col("a"), col("b")))
    val got = df.collect().map(r => r.getLong(2)).toSeq
    assert(got === Seq(ZOrder.compute2(1, 2), ZOrder.compute2(100, 7),
      ZOrder.compute2(-3, 900)))
    val withNull = Seq((Some(1), None: Option[Int]), (Some(2), Some(3)))
      .toDF("a", "b").withColumn("z", ZOrder.zkey(col("a"), col("b")))
    assert(withNull.collect().map(r => r.isNullAt(2)).toSeq === Seq(true, false))
    intercept[Exception] {
      Seq(("x", 1)).toDF("a", "b")
        .withColumn("z", ZOrder.zkey(col("a"), col("b"))).collect()
    }
  }

  test("z-ordered layout prunes rectangles on BOTH dimensions") {
    val store = freshStore()
    val zk = ZOrder.zkey(col("x"), col("y"))
    store.commit("t", table().repartitionByRange(16, zk).sortWithinPartitions(zk),
      statsCols = Seq("x", "y"))
    val pred = Seq(ZoneMap.longRange("x", 4L, 7L), ZoneMap.longRange("y", 4L, 7L))
    val (kept, total) = ZoneMap.selectedFiles(store, "t", pred)
    assert(total === 16)
    assert(kept.size < total,
      s"rectangle should prune z-ordered files, kept ${kept.size}/$total")
    assert(collectSorted(ZoneMap.prunedScan(store, "t", pred)) ===
      collectSorted(store.load("t")
        .filter(col("x").between(4, 7) && col("y").between(4, 7))))
    // single-key sorted layout for contrast: the y-zones span everything,
    // so the same rectangle prunes on x alone (or not at all) — z-order
    // is what makes BOTH dimensions selective.
    val store2 = freshStore()
    store2.commit("t", table().repartitionByRange(16, col("x")),
      sortKey = Some("x"), statsCols = Seq("x", "y"))
    val (kept2, _) = ZoneMap.selectedFiles(store2, "t", pred)
    assert(kept.size <= kept2.size)
  }
}
