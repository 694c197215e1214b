package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.store.{DedupIndex, FingerprintIndex, SnapshotStore}

/** Driver-action budget of the incremental-index append paths (r9
  * verdict item 1): each blocking action is a separate Spark job whose
  * latency multiplies under host degradation, so the append paths must
  * not spend jobs they can avoid — gate sizing rides on a caller hint
  * (zero jobs) or a narrow count (one job, no exchange), never a
  * distinct() count.
  *
  * Jobs are counted through the status tracker by job group; the
  * listener feed is async, so counts are polled until stable. */
class AppendJobCountSpec extends SparkSpec {
  import spark.implicits._

  /** (total jobs, distinct action callsites among stage names) for the
    * jobs started inside `body`, via a listener (drained by sleep-poll —
    * the feed is async but `body` is synchronous). */
  private def jobsIn(body: => Unit): (Int, Set[String]) = {
    val count = new java.util.concurrent.atomic.AtomicInteger
    val sites = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        count.incrementAndGet()
        j.stageInfos.foreach { s =>
          val n = s.name.takeWhile(_ != '\n')
          // Action callsites look like "count at Foo.scala:123"; AQE's
          // internal stage jobs surface as CompletableFuture frames.
          if (n.contains(" at ") && !n.contains("CompletableFuture"))
            sites.add(n.takeWhile(_ != ':'))
        }
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      body
      var prev = -1
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (count.get != prev && System.nanoTime() < deadline) {
        prev = count.get; Thread.sleep(400)
      }
    } finally spark.sparkContext.removeSparkListener(l)
    (count.get, scala.jdk.CollectionConverters.SetHasAsScala(sites).asScala.toSet)
  }

  /** The eager cut's job callsite: the near-dup append materializes its
    * candidates, signatures and verified pairs through
    * [[graft.store.EagerCut]] (a local checkpoint here — the spec
    * session has no checkpoint dir). */
  private val Cut = "localCheckpoint at EagerCut.scala"

  private def docs: DataFrame =
    ((0 until 60).map(i => i.toLong ->
      s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i theta$i") ++
      (0 until 20).map(i => (100 + i).toLong ->
        s"alpha$i beta$i gamma$i delta$i epsilon$i zeta$i eta$i omega"))
      .toDF("doc_id", "text").repartition(4)

  private def freshStore(): SnapshotStore =
    new SnapshotStore(TempDirs.create("graft-jobs").toString, spark)

  test("DedupIndex append (probe off): one blocking action, no sizing/schema jobs") {
    val store = freshStore()
    DedupIndex.build(store, "mh", docs.limit(0), "text", "doc_id")
    val (jobs, sites) = jobsIn {
      val pairs = DedupIndex.appendBatchOnce(store, "mh", docs, "text",
        "doc_id", "s", 0L, batchCountHint = Some(80L),
        keyProbeMaxKeys = 0).get
      pairs.unpersist(blocking = false)
    }
    info(s"DedupIndex hinted append: $jobs jobs, action callsites=$sites")
    // The ONLY named action callsite may be pairsAmong's eager cuts —
    // a reintroduced sizing count (distinct/count at another line), a
    // schema-inference read ("parquet at SnapshotStore"), or an eager
    // snapshot load under the transaction lock would each surface as
    // an extra callsite here.
    assert(sites == Set(Cut),
      s"unexpected driver actions in the append path: $sites")
    // Absolute ceiling on total jobs (AQE stage jobs included): r9 code
    // measured 31 on this fixture, the persisted pair intermediates
    // 25, the cuts 17. The budget catches a regression that adds
    // blocking actions without tripping on AQE stage-count jitter.
    assert(jobs <= 20, s"append spent $jobs jobs (budget 20)")
  }

  test("DedupIndex append (default probe): exactly one extra bounded take") {
    // The r14 default turns the key-probe prefilter ON (measured 2.4×
    // at the flagship); its price is ONE deliberate extra action — the
    // batch's distinct mixed-key take — and nothing else. Any further
    // callsite is a regression against the r9 budget discipline.
    val store = freshStore()
    DedupIndex.build(store, "mh", docs.limit(0), "text", "doc_id")
    val (jobs, sites) = jobsIn {
      val pairs = DedupIndex.appendBatchOnce(store, "mh", docs, "text",
        "doc_id", "s", 0L, batchCountHint = Some(80L)).get
      pairs.unpersist(blocking = false)
    }
    info(s"DedupIndex default append: $jobs jobs, action callsites=$sites")
    // the probe's one bounded take lives in the shared LshKeyProbe
    // helper since r15 (one decision ladder for all three indexes)
    assert(sites == Set(Cut, "take at LshKeyProbe.scala"),
      s"unexpected driver actions in the probe append path: $sites")
    assert(jobs <= 20, s"probe append spent $jobs jobs (budget 20)")
  }

  test("FingerprintIndex append: one blocking action besides the eager result") {
    val store = freshStore()
    FingerprintIndex.build(store, "fp", docs.limit(0), "text", "doc_id")
    val (jobs, sites) = jobsIn {
      val lineage = FingerprintIndex.appendBatchOnce(store, "fp", docs,
        "text", "doc_id", "s", 0L, batchCountHint = Some(80L)).get
      lineage.unpersist(blocking = false)
    }
    info(s"FingerprintIndex hinted append: $jobs jobs, action callsites=$sites")
    // r18: the commit write is the ONLY blocking action — the result's
    // eager materialization rides the write (newSurvivors joins the
    // cached resolution), so a reintroduced count/distinct/schema job
    // surfaces as an extra callsite here. Measured 13 jobs post-cut
    // (was 18-budget with the separate materializing count).
    assert(sites.forall(_.startsWith("parquet at SnapshotStore")),
      s"unexpected driver actions in the append path: $sites")
    assert(jobs <= 16, s"append spent $jobs jobs (budget 16)")
  }

  test("TextIndex append: the commit write is the only blocking action") {
    val store = freshStore()
    graft.store.TextIndex.build(store, "tx", docs.limit(0), "text", "doc_id")
    val (jobs, sites) = jobsIn {
      graft.store.TextIndex.append(store, "tx", docs, "text", "doc_id")
    }
    info(s"TextIndex append: $jobs jobs, action callsites=$sites")
    // r18: the batch stats aggregate rides the commit write as an
    // ObservedStats observation, so the write is the single permitted
    // driver action; a reintroduced stats collect, sizing count,
    // schema-inference read, or eager chain load would surface as an
    // extra callsite. Measured 5 jobs post-fusion (was 14-budget with
    // the separate stats collect).
    assert(sites.forall(_.startsWith("parquet at SnapshotStore")),
      s"unexpected driver actions in the append path: $sites")
    assert(jobs <= 8, s"append spent $jobs jobs (budget 8)")
  }

  test("hinted and unhinted appends produce identical pairs") {
    def pairsOf(hint: Option[Long]): Set[(Long, Long)] = {
      val store = freshStore()
      DedupIndex.build(store, "mh", docs.limit(0), "text", "doc_id")
      val p = DedupIndex.appendBatchOnce(store, "mh", docs, "text",
        "doc_id", "s", 0L, batchCountHint = hint).get
      val out = p.select(col("id_a"), col("id_b")).as[(Long, Long)]
        .collect().toSet
      p.unpersist(blocking = false)
      out
    }
    val hinted = pairsOf(Some(80L))
    val unhinted = pairsOf(None)
    assert(hinted == unhinted && hinted.nonEmpty,
      "gate-sizing mode must not change the pair set")
  }

  test("catalog mutations: key guards cost no job, a keyed mutation rewrites one file") {
    import graft.operators.{MutationResult, Mutations}
    val store = freshStore()
    val mut = new Mutations(store, spark)
    // a four-file catalog (keys 1..200, one contiguous run per file)
    mut.appendBatch((1 to 200).map(i => s"Tool$i").toDF("tool_name").repartition(4))
    def one(label: String, budget: Int, exact: Boolean)
           (call: => MutationResult, status: Int): Unit = {
      var res: MutationResult = null
      val (jobs, sites) = jobsIn { res = call }
      info(s"$label: $jobs jobs, action callsites=$sites")
      assert(res.status === status, s"$label returned $res")
      if (exact) assert(jobs === budget, s"$label spent $jobs jobs, pinned at $budget")
      else assert(jobs <= budget, s"$label spent $jobs jobs (budget $budget)")
    }
    // the key set answers EXISTS: the write of the one file holding the
    // key is the only job; an unknown key is refused before any job
    one("update", 1, exact = true)(mut.update(17, Map("remarks" -> "x")), 200)
    one("softDelete", 1, exact = true)(mut.softDelete(18), 200)
    one("hardDelete", 1, exact = true)(mut.hardDelete(19), 200)
    one("update 404", 0, exact = true)(mut.update(999, Map("remarks" -> "x")), 404)
    one("hardDelete 404", 0, exact = true)(mut.hardDelete(19), 404)
    // create: the duplicate-name scan (one per-partition probe job) plus
    // the tail-file write; the next key comes from the key set
    one("create", 2, exact = true)(mut.create(Map("tool_name" -> "New")), 201)
    // a 5-row one-file CSV drop, as the S3-event ingest sees it
    val inbox = TempDirs.create("graft-jobs-csv")
    val csv = inbox.resolve("batch.csv")
    java.nio.file.Files.writeString(csv,
      "tool_name,team_name\n" + (1 to 5).map(i => s"Csv$i,FCS").mkString("\n") + "\n")
    val (jobs, sites) = jobsIn {
      assert(mut.appendBatchOnce(
        graft.sources.Ingest.catalogBatch(spark, csv.toString), "inbox", 0L))
    }
    info(s"appendBatchOnce (5-row CSV): $jobs jobs, action callsites=$sites")
    assert(jobs <= 3, s"CSV append spent $jobs jobs (budget 3)")
    val keys = store.load("csp_tools_data").select("s_no").as[Int].collect().sorted
    assert(keys.toSeq === ((1 to 201) ++ (202 to 206)).filter(_ != 19))
  }
}
