package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.store.{BroadcastGate, DedupIndex, FingerprintIndex,
  SimHashIndex, SnapshotStore}
import graft.functions.Dedup

/** The size-gated broadcast fallback in the index append paths: below
  * the limit the batch key sets carry a forced broadcast hint; above it
  * the hint is DROPPED (no forced BroadcastExchange — the planner/AQE
  * picks the side), and the pair/lineage output is unchanged. */
class BroadcastGateSpec extends SparkSpec {
  import spark.implicits._

  private def hints(d: DataFrame): Seq[ResolvedHint] =
    d.queryExecution.analyzed.collect { case h: ResolvedHint => h }.toSeq

  test("gate attaches the hint at/below the limit and drops it above") {
    val df = spark.range(10).toDF("id")
    assert(hints(BroadcastGate(df, 10, 10)).nonEmpty,
      "at the limit: hint expected")
    assert(hints(BroadcastGate(df, 11, 10)).isEmpty,
      "above the limit: no hint")
    assert(hints(BroadcastGate(df, 0, 0)).nonEmpty, "limit 0, 0 keys: hint")
  }

  test("byte gate: a wide (array-bearing) frame loses the hint at key counts the narrow case allows") {
    // 5M narrow (id: long) rows ≈ 80 MB — hint attaches under both the
    // 10M key limit and the 256 MB byte limit. The same 5M keys on an
    // array<long>-bearing frame estimate to ~2.7 GB — the byte gate must
    // drop the hint even though the KEY limit alone would allow it
    // (r9 verdict: the key-count default misapplied to h_arr/embedding
    // frames would be a several-GB broadcast).
    val narrow = spark.range(10).toDF("id")
    val wide = spark.range(10).toDF("id")
      .withColumn("h_arr", array(lit(1L), lit(2L)))
    val n = 5000000L
    assert(hints(BroadcastGate(narrow, n, BroadcastGate.DefaultKeyLimit)).nonEmpty,
      "narrow frame at 5M keys: hint expected")
    assert(hints(BroadcastGate(wide, n, BroadcastGate.DefaultKeyLimit)).isEmpty,
      "wide frame at the same 5M keys: byte gate must drop the hint")
    // A batch-sized wide frame still broadcasts (the normal regime).
    assert(hints(BroadcastGate(wide, 1000L, BroadcastGate.DefaultKeyLimit)).nonEmpty,
      "small wide frame: hint expected")
  }

  test("above the limit the join plans without a forced BroadcastExchange") {
    val conf = spark.conf
    val saved = conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    try {
      // Silence the PLANNER's own small-table broadcast so the only
      // possible BroadcastExchange source is the forced hint under test.
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      def finalPlan(df: DataFrame): String = {
        df.collect()
        (df.queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.executedPlan
          case p => p
        }).toString
      }
      val big = spark.range(5000).toDF("k")
      val probe = spark.range(100).toDF("k")
      val forced = big.join(BroadcastGate(probe, 100, 1000), Seq("k"), "left_semi")
      val unforced = big.join(BroadcastGate(probe, 100, 10), Seq("k"), "left_semi")
      assert(finalPlan(forced).contains("BroadcastExchange"),
        "below the limit the hint must force a broadcast")
      assert(!finalPlan(unforced).contains("BroadcastExchange"),
        "above the limit nothing may force a broadcast")
    } finally saved match {
      case Some(v) => conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  /** 60 docs with exact + near duplicates, split 2 ways. */
  private def docs: DataFrame =
    ((0 until 40).map(i => i.toLong ->
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i") ++
      (0 until 10).map(i => (100 + i).toLong ->
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i omega") ++
      (0 until 10).map(i => (200 + i).toLong ->
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i"))
      .toDF("doc_id", "text").repartition(4)

  test("limit 0 forces every append through the fallback with unchanged output") {
    def collectPairs(limit: Long): (Set[(Long, Long)], Set[(Long, Long)], Set[(Long, Long, Boolean)]) = {
      val root = TempDirs.create("graft-gate").toString
      val store = new SnapshotStore(root, spark)
      DedupIndex.build(store, "mh", docs.limit(0), "text", "doc_id")
      SimHashIndex.build(store, "sh", docs.limit(0)
        .select(col("doc_id").as("id"), Dedup.simhash64(col("text")).as("sh64")),
        nBlocks = Dedup.simhashAutoBlocks(100L, 20), maxHamming = 20)
      FingerprintIndex.build(store, "fp", docs.limit(0), "text", "doc_id")
      val splits: Seq[Long => Boolean] = Seq(_ < 150, _ >= 150)
      val out = splits.zipWithIndex.map { case (p, i) =>
        val f = udf(p)
        val b = docs.filter(f(col("doc_id")))
        val mh = DedupIndex.appendBatchOnce(store, "mh", b, "text", "doc_id",
          "s", i.toLong, broadcastKeyLimit = limit).get
        val sh = SimHashIndex.appendBatchOnce(store, "sh",
          b.select(col("doc_id").as("id"), Dedup.simhash64(col("text")).as("sh64")),
          "s", i.toLong, broadcastKeyLimit = limit).get
        val fp = FingerprintIndex.appendBatchOnce(store, "fp", b, "text",
          "doc_id", "s", i.toLong, broadcastKeyLimit = limit).get
        val r = (mh.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet,
          sh.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet,
          fp.as[(Long, Long, Boolean)].collect().toSet)
        Seq(mh, sh, fp).foreach(_.unpersist(blocking = false))
        r
      }
      (out.flatMap(_._1).toSet, out.flatMap(_._2).toSet, out.flatMap(_._3).toSet)
    }
    val (mhF, shF, fpF) = collectPairs(0L) // everything over the fallback
    val (mhB, shB, fpB) = collectPairs(BroadcastGate.DefaultKeyLimit)
    assert(mhF == mhB, "minhash pairs changed under the fallback")
    assert(shF == shB, "simhash pairs changed under the fallback")
    assert(fpF == fpB, "fingerprint lineage changed under the fallback")
    assert(mhF.nonEmpty && shF.nonEmpty && fpF.exists(!_._3),
      "fixture must actually produce duplicates")
  }
}
