package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.functions._

import graft.store.{CurationIngest, MinHashRegime, SnapshotStore}

/** A curate micro-batch cuts its near-dup intermediates at measured
  * checkpoint leaves: no plan Spark renders for it carries a cached
  * batch-deep subplan, the lineage it returns reports its measured row
  * count and size (so joins over it plan as they did over the cache it
  * replaced), and it leaves no CacheManager entry behind. */
class IngestPlanTextSpec extends SparkSpec {
  import spark.implicits._

  /** Largest and summed physical-plan text Spark rendered for `body`
    * (execution starts and AQE re-plans; the listener feed is async, so
    * it is polled until quiet). */
  private def planText[T](body: => T): (T, Long, Long) = {
    val maxLen = new AtomicLong; val total = new AtomicLong
    val events = new AtomicLong
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        BenchProfile.planDescription(e).foreach { d =>
          maxLen.accumulateAndGet(d.length.toLong, math.max(_, _))
          total.addAndGet(d.length.toLong)
          events.incrementAndGet()
        }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val r = body
      var prev = -1L
      while (events.get != prev) { prev = events.get; Thread.sleep(400) }
      (r, maxLen.get, total.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private def doc(i: Int): String = (0 until 12).map(j => s"w${i}t$j").mkString(" ")

  test("a curate micro-batch renders small plans and returns a measured, cache-free lineage") {
    spark.catalog.clearCache()
    val store = new SnapshotStore(TempDirs.create("graft-plantext").toString, spark)
    val regime = MinHashRegime()
    CurationIngest.build(store, "cur", regime,
      (0 until 60).map(i => i.toLong -> doc(i)).toDF("doc_id", "text"),
      "text", "doc_id")
    // 30 new docs, 10 near-dups of indexed docs (one token changed), 5
    // verbatim copies of indexed docs
    val batch = ((60 until 90).map(i => i.toLong -> doc(i)) ++
      (0 until 10).map(i => (100 + i).toLong ->
        doc(i).replace(s"w${i}t11", "omega")) ++
      (10 until 15).map(i => (200 + i).toLong -> doc(i)))
      .toDF("doc_id", "text").repartition(4)

    val (lineage, maxPlan, totalPlan) = planText {
      CurationIngest.ingestBatchOnce(store, "cur", regime, batch, "text",
        "doc_id", "s", 0L)
    }
    info(s"plan text: largest description $maxPlan chars, $totalPlan in all")
    // With the near-dup intermediates persisted, this micro-batch
    // rendered one 1,317,241-char description (12.1 M chars in all);
    // cut, the largest is 53,894 (0.9 M in all).
    assert(maxPlan < 200000, s"a $maxPlan-char plan: a cached subplan is back")

    assert(spark.sharedState.cacheManager.isEmpty,
      "the micro-batch left a CacheManager entry")
    val n = lineage.count()
    assert(n === 45L)
    val regimes = lineage.groupBy(col("regime")).count()
      .as[(String, Long)].collect().toMap
    assert(regimes === Map("new" -> 30L, "near" -> 10L, "exact" -> 5L))

    val stats = lineage.queryExecution.optimizedPlan.stats
    assert(stats.rowCount === Some(BigInt(n)),
      s"the lineage leaf reports ${stats.rowCount} rows for $n")
    // measured bytes, not the origin plan's join estimate (2.1 EiB and
    // no row count on this fixture): positive and at most 1 KiB a row
    assert(stats.sizeInBytes > 0 && stats.sizeInBytes <= n * 1024,
      s"the lineage leaf reports ${stats.sizeInBytes} B for $n rows")
  }
}
