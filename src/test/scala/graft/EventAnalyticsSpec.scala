package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.queries.EventQueries

/** Funnel and retention-cohort analytics (EventQueries.funnel /
  * retention): ordering semantics on a crafted corpus where the answer is
  * enumerable by hand, plus structural invariants on the real sf0.001
  * events table.
  */
class EventAnalyticsSpec extends SparkSpec {

  /** Crafted events table on disk (funnel/retention read a directory).
    * µs-precision timestamps; user stories:
    *  - u1: view @0s → click @10s → purchase @20s  (full conversion)
    *  - u2: click @0s → view @10s → purchase @20s  (click BEFORE view:
    *        no qualifying click after the view, funnel stops at view)
    *  - u3: view @0s → click @10s                  (no purchase)
    *  - u4: purchase @0s only                      (never enters)
    *  - u5: view @0s → click @8 days               (outside a 7-day horizon)
    * Week spread for retention: u1 events span weeks 0,1,3 (gap at 2);
    * everyone else stays in week 0. */
  private lazy val craftedDir: String = {
    val dir = TempDirs.create("graft-funnel").toString
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC — a Monday
    def ts(offsetSec: Long) = new Timestamp(base + offsetSec * 1000L)
    val day = 86400L
    val rows = Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(10), 1L, "click", 1.0, "{}"),
      (3L, ts(20), 1L, "purchase", 1.0, "{}"),
      (4L, ts(7 * day), 1L, "view", 1.0, "{}"),      // week 1
      (5L, ts(22 * day), 1L, "view", 1.0, "{}"),     // week 3
      (6L, ts(0), 2L, "click", 1.0, "{}"),
      (7L, ts(10), 2L, "view", 1.0, "{}"),
      (8L, ts(20), 2L, "purchase", 1.0, "{}"),
      (9L, ts(0), 3L, "view", 1.0, "{}"),
      (10L, ts(10), 3L, "click", 1.0, "{}"),
      (11L, ts(0), 4L, "purchase", 1.0, "{}"),
      (12L, ts(0), 5L, "view", 1.0, "{}"),
      (13L, ts(8 * day), 5L, "click", 1.0, "{}"))
    import spark.implicits._
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  private def stepMap(df: DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  test("funnel counts only in-order step sequences") {
    val m = stepMap(EventQueries.funnel(spark, craftedDir))
    // views: u1, u2, u3, u5 — u2's view counts even though its click came
    // first (step 1 has no ordering constraint).
    assert(m("1_view") === 4L)
    // clicks strictly after the first view: u1, u3, u5 (u2's click
    // precedes its view; u5's click is 8 days out but horizon is off).
    assert(m("2_click") === 3L)
    // purchase after that click: u1 only (u2 never had a qualifying
    // click, so its purchase can't qualify either).
    assert(m("3_purchase") === 1L)
  }

  test("per-step horizon drops conversions that arrive too late") {
    val m = stepMap(EventQueries.funnel(spark, craftedDir,
      horizonUs = 7L * 86400L * 1000000L))
    assert(m("1_view") === 4L)  // horizon never constrains step 1
    assert(m("2_click") === 2L) // u5's 8-day click now outside the window
    assert(m("3_purchase") === 1L)
  }

  test("repeated step types: each step needs a FRESH later event") {
    // steps = [view, view]: step 2 is a SECOND view strictly after the
    // first (one event can never satisfy two steps — strict >).
    val m = stepMap(EventQueries.funnel(spark, craftedDir,
      steps = Seq("view", "view")))
    assert(m("1_view") === 4L) // u1, u2, u3, u5 viewed at least once
    assert(m("2_view") === 1L) // only u1 has a second, later view
  }

  test("funnel step counts are monotonically non-increasing (sf0.001)") {
    val rows = EventQueries.funnel(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    assert(rows.map(_._1).toSeq === Seq("1_view", "2_click", "3_purchase"))
    assert(rows.sliding(2).forall {
      case Array((_, a), (_, b)) => b <= a
      case _ => true
    })
    assert(rows.head._2 > 0, "no users entered the funnel at sf0.001")
  }

  test("retention triangle on the crafted corpus") {
    val rows = EventQueries.retention(spark, craftedDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // All 5 users first appear in the week of Mon 2024-01-01; u1 returns
    // in weeks +1 and +3 and u5's 8-day click lands in week +1 too
    // (+2 is a gap, so no row for it).
    assert(rows === Set(
      ("2024-01-01", 0L, 5L),
      ("2024-01-01", 1L, 2L),
      ("2024-01-01", 3L, 1L)))
  }

  test("retention offset-0 rows equal cohort sizes and cover all users (sf0.001)") {
    val ret = EventQueries.retention(spark, sfDir)
    assert(ret.filter(col("week_offset") < 0).isEmpty,
      "negative week offset — cohort week later than an active week")
    val offset0 = ret.filter(col("week_offset") === 0)
      .agg(sum(col("n_users"))).collect()(0).getLong(0)
    val users = Tables.events(spark, sfDir)
      .select(col("user_id")).distinct().count()
    // every user is active in their own first week by construction
    assert(offset0 === users)
    // no (cohort, offset) cell can exceed its cohort's size
    val c0 = ret.filter(col("week_offset") === 0)
      .select(col("cohort_week"), col("n_users").as("cohort_size"))
    val over = ret.join(c0, Seq("cohort_week"))
      .filter(col("n_users") > col("cohort_size"))
    assert(over.isEmpty, "a retention cell exceeds its cohort size")
  }
}
