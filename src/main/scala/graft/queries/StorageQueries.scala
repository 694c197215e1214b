package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.ZOrder
import graft.store.{SnapshotStore, ZoneMap}

/** Selective-scan layout queries: zone-map file pruning over a
  * [[SnapshotStore]] snapshot, on a single-key sorted layout and on a
  * 2-D Z-ordered layout ([[ZoneMap]] / [[ZOrder]] scaladocs give the
  * design rationale; this is the Redshift SORTKEY+zone-map discipline
  * from sql/ddl_create_tables.sql:26 rebuilt at file granularity).
  *
  * Both queries write a clustered snapshot, then answer a selective
  * predicate through [[ZoneMap.prunedScan]] — the result is identical
  * to filtering the full table (the DuckDB oracle does exactly that),
  * while the scan itself touches only the files whose min/max admit the
  * predicate. ZoneMapSpec asserts the file-skipping actually happens;
  * here the oracle asserts it never changes an answer.
  */
object StorageQueries {

  /** Zone-pruned range lookup on a range-partitioned, sorted layout.
    * Layout: `repartitionByRange` on the key (files own disjoint key
    * ranges) + commit-time `sortWithinPartitions` → per-file min/max
    * tile the key space, so a narrow range keeps ~1-2 of 16 files. */
  def storePruneRange(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val root = graft.TempDirs.create("graft-zones").toString
    val store = new SnapshotStore(root, s)
    store.commit("li", li.repartitionByRange(16, col("l_orderkey")),
      sortKey = Some("l_orderkey"), statsCols = Seq("l_orderkey"))
    ZoneMap.prunedScan(store, "li",
        Seq(ZoneMap.longRange("l_orderkey", 1200L, 4200L)))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"))
  }

  /** Zone-pruned time-window lookup: events committed range-clustered on
    * `ts` (the layout a time-partitioned streaming sink produces
    * naturally — late data aside, files arrive in event-time order), a
    * 3-day window then touches only the files whose µs-normalized
    * [min,max] intersect it. Bounds are pure epoch-µs integers on BOTH
    * sides (the oracle compares `epoch_ns // 1000`), sidestepping
    * ns-vs-µs truncation at the window edges. */
  def storePruneTime(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val root = graft.TempDirs.create("graft-tzones").toString
    val store = new SnapshotStore(root, s)
    store.commit("ev", ev.repartitionByRange(16, col("ts")),
      sortKey = Some("ts"), statsCols = Seq("ts"))
    // [2024-01-10, 2024-01-13) UTC as inclusive µs bounds
    val lo = 1704844800000000L
    val hi = 1705103999999999L
    ZoneMap.prunedScan(store, "ev", Seq(ZoneMap.tsRangeMicros("ts", lo, hi)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("value") * 100).cast("long")).as("value_cents"))
  }

  /** Zone-pruned rectangle lookup on a Z-ordered layout: files tile the
    * (l_partkey, l_suppkey) Morton curve, so per-file zones are tight in
    * BOTH columns and the rectangle prunes on each. A single-key sort
    * would leave one dimension's zones spanning the whole domain. */
  def storeZorderRect(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val root = graft.TempDirs.create("graft-zorder").toString
    val store = new SnapshotStore(root, s)
    val zk = ZOrder.zkey(col("l_partkey"), col("l_suppkey"))
    store.commit("liz",
      li.repartitionByRange(16, zk).sortWithinPartitions(zk),
      statsCols = Seq("l_partkey", "l_suppkey"))
    ZoneMap.prunedScan(store, "liz",
        Seq(ZoneMap.longRange("l_partkey", 100L, 600L),
            ZoneMap.longRange("l_suppkey", 5L, 60L)))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
  }
}
