package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{CatalogAnalytics, CatalogQueries, MutationResult, Mutations}
import graft.sources.Ingest
import graft.store.SnapshotStore

/** M1-M8 mutation semantics + snapshot-store guarantees (SURVEY §2.3, §5.2
  * item 5): status codes 201/400/404/200, soft-delete visibility, version
  * history, race-free max+1 keying. */
class StoreMutationSpec extends SparkSpec {
  import MutationResult._

  private def freshStore(): (SnapshotStore, Mutations, CatalogQueries) = {
    val dir = TempDirs.create("graft-store").toString
    val store = new SnapshotStore(dir, spark)
    (store, new Mutations(store, spark), new CatalogQueries(store, spark))
  }

  test("M2: create assigns max+1 keys sequentially; returns 201") {
    val (_, mut, q) = freshStore()
    assert(mut.create(Map("tool_name" -> "T1")) === Created(1))
    assert(mut.create(Map("tool_name" -> "T2")) === Created(2))
    assert(mut.create(Map("tool_name" -> "T3")) === Created(3))
    assert(q.getAllTools.count() === 3)
  }

  test("M7: duplicate tool_name create → 400; missing tool_name → 400") {
    val (_, mut, _) = freshStore()
    mut.create(Map("tool_name" -> "Dup"))
    assert(mut.create(Map("tool_name" -> "Dup")).status === 400)
    assert(mut.create(Map("team_name" -> "FCS")).status === 400)
  }

  test("M3: update patches columns by key; missing key → 404") {
    val (_, mut, q) = freshStore()
    mut.create(Map("tool_name" -> "U1", "team_name" -> "FCS"))
    assert(mut.update(1, Map("team_name" -> "GCSS")) === Ok(1))
    assert(q.getBySNo(1).select("team_name").first().getString(0) === "GCSS")
    assert(mut.update(99, Map("team_name" -> "X")) === NotFound(99))
  }

  test("M4: soft delete hides from reads but row survives in snapshot") {
    val (store, mut, q) = freshStore()
    mut.create(Map("tool_name" -> "S1"))
    mut.create(Map("tool_name" -> "S2"))
    assert(mut.softDelete(1) === Ok(1))
    assert(q.getAllTools.count() === 1)        // P1 filters it
    assert(q.getBySNo(1).count() === 0)        // P4+P5 filters it
    val raw = store.load("csp_tools_data")
    assert(raw.count() === 2)                  // physically retained
    assert(raw.filter(col("s_no") === 1).select("is_display")
      .first().getBoolean(0) === false)
    assert(mut.softDelete(99) === NotFound(99))
  }

  test("M5: hard delete removes the row") {
    val (store, mut, _) = freshStore()
    mut.create(Map("tool_name" -> "H1"))
    mut.create(Map("tool_name" -> "H2"))
    assert(mut.hardDelete(1) === Ok(1))
    assert(store.load("csp_tools_data").count() === 1)
  }

  test("M1: keys are reused after hard delete of the max (max+1 semantics)") {
    val (_, mut, _) = freshStore()
    mut.create(Map("tool_name" -> "A"))      // key 1
    mut.create(Map("tool_name" -> "B"))      // key 2
    mut.hardDelete(2)
    assert(mut.create(Map("tool_name" -> "C")) === Created(2))
  }

  test("M6: schema evolution — add/drop/rename; old versions stay readable") {
    val (store, mut, _) = freshStore()
    mut.create(Map("tool_name" -> "E1"))
    val vBefore = store.currentVersion("csp_tools_data")
    mut.addColumn("extra_col", "N/A")
    val evolved = store.load("csp_tools_data")
    assert(evolved.columns.contains("extra_col"))
    assert(evolved.select("extra_col").first().getString(0) === "N/A")
    mut.renameColumn("extra_col", "renamed_col")
    assert(store.load("csp_tools_data").columns.contains("renamed_col"))
    mut.dropColumn("renamed_col")
    assert(!store.load("csp_tools_data").columns.contains("renamed_col"))
    // time travel: the pre-evolution snapshot still reads with old schema
    assert(!store.loadVersion("csp_tools_data", vBefore).columns.contains("extra_col"))
  }

  test("store: versions increment and LATEST pointer swaps atomically") {
    val (store, mut, _) = freshStore()
    mut.create(Map("tool_name" -> "V1"))
    mut.create(Map("tool_name" -> "V2"))
    assert(store.versions("csp_tools_data") === Seq(1L, 2L))
    assert(store.currentVersion("csp_tools_data") === 2L)
    store.vacuum("csp_tools_data", keepFrom = 2L)
    assert(store.versions("csp_tools_data") === Seq(2L))
  }

  test("concurrent creates serialize — no duplicate keys (LOCK TABLE analog)") {
    val (_, mut, q) = freshStore()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 4).map(i => Future(mut.create(Map("tool_name" -> s"C$i"))))
    val results = Await.result(Future.sequence(fs), 120.seconds)
    val keys = results.collect { case Created(k) => k }
    assert(keys.sorted === Seq(1, 2, 3, 4))
    assert(q.getAllTools.count() === 4)
  }

  test("M7 race: concurrent same-name creates → exactly one 201 and one 400") {
    // The guard runs INSIDE store.transact, against the snapshot the insert
    // builds on — the TOCTOU window of guard-outside-transact (both calls
    // passing the duplicate-name check) is closed by the table lock.
    val (_, mut, q) = freshStore()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fs = (1 to 2).map(_ => Future(mut.create(Map("tool_name" -> "SameName"))))
    val results = Await.result(Future.sequence(fs), 120.seconds)
    assert(results.map(_.status).sorted === Seq(201, 400), s"got $results")
    assert(q.getAllTools.count() === 1)
  }

  test("appendBatch: multi-partition batch keeps its parallelism (no 1-task window)") {
    import spark.implicits._
    val (store, mut, _) = freshStore()
    mut.create(Map("tool_name" -> "Seed"))   // offset = 1
    val batch = (1 to 40).map(i => s"Bulk$i").toDF("tool_name").repartition(4)
    // Pre-check the keying path directly: multi-partition input must NOT
    // collapse to one partition (the global Window.orderBy plan would).
    val keyed = Ingest.denseKeys(
      batch, "s_no", offset = 1L, orderBy = Seq("tool_name"))
    assert(keyed.rdd.getNumPartitions === 4,
      "denseKeys collapsed a multi-partition batch to a single task")
    assert(keyed.select("s_no").as[Int].collect().sorted === (2 to 41).toArray)
    // And end-to-end through the store transaction:
    mut.appendBatch(batch)
    val all = store.load("csp_tools_data")
    assert(all.count() === 41)
    assert(all.select("s_no").distinct().count() === 41) // dense, no dup keys
  }

  test("ST1 exactly-once: a replayed micro-batch appends no duplicate rows") {
    // foreachBatch is at-least-once: a crash between append and checkpoint
    // commit replays the same batchId on restart. appendBatchOnce records
    // the applied batchId atomically with the snapshot; the replay is a
    // no-op.
    import spark.implicits._
    val (store, mut, _) = freshStore()
    val b0 = Seq("S1", "S2").toDF("tool_name")
    assert(mut.appendBatchOnce(b0, "inbox", batchId = 0L))
    assert(!mut.appendBatchOnce(b0, "inbox", batchId = 0L)) // replay → skipped
    assert(store.load("csp_tools_data").count() === 2)
    // next batch applies; an out-of-order older id is also refused
    assert(mut.appendBatchOnce(Seq("S3").toDF("tool_name"), "inbox", 1L))
    assert(!mut.appendBatchOnce(b0, "inbox", 0L))
    assert(store.load("csp_tools_data").count() === 3)
    // the watermark survives unrelated commits (meta carried forward)
    mut.create(Map("tool_name" -> "Other"))
    assert(!mut.appendBatchOnce(b0, "inbox", 1L))
    // independent streams have independent watermarks
    assert(mut.appendBatchOnce(Seq("T1").toDF("tool_name"), "inbox2", 0L))
  }

  test("commit recovers from an orphaned next-version directory (crash liveness)") {
    import spark.implicits._
    val dir = TempDirs.create("graft-orphan")
    val store = new SnapshotStore(dir.toString, spark)
    store.commit("t", Seq((1, "a")).toDF("k", "v"))
    // Simulate a writer that died after v2's parquet write but before the
    // pointer flip: an orphaned v00002 exists, LATEST still points at v1.
    // The next commit (e.g. the replayed micro-batch) must land as v2
    // instead of wedging forever on SaveMode.ErrorIfExists.
    val orphan = dir.resolve("t").resolve("v00002")
    Files.createDirectories(orphan)
    Files.writeString(orphan.resolve("part-00000-junk.parquet"), "garbage")
    val v = store.commit("t", Seq((2, "b")).toDF("k", "v"))
    assert(v === 2L)
    assert(store.loadVersion("t", 2).as[(Int, String)].collect().toSet === Set((2, "b")))
    assert(store.loadVersion("t", 1).as[(Int, String)].collect().toSet === Set((1, "a")))
  }

  test("E1+E2 slice: ingest real sample → getAllTools → JSON envelope") {
    val path = "/root/reference/sample-data/Sample_Input.csv"
    assume(new java.io.File(path).exists())
    val (_, mut, q) = freshStore()
    mut.appendBatch(Ingest.readCsv(spark, path))
    val env = q.jsonEnvelope(q.getAllTools)
    assert(env.startsWith("""{"total_count":50,"""))
    // dashboard analytics run over the ingested table
    val analytics = new CatalogAnalytics(q.getAllTools)
    assert(analytics.toolCountByTeam.count() > 0)
    assert(analytics.recordsByTeamAndStatusFlat.count() > 0)
  }

  test("schema-in-metadata: loadVersion plans without footer inference, per-version schemas survive evolution, pre-upgrade dirs fall back") {
    import spark.implicits._
    val dir = TempDirs.create("graft-schema").toString
    val store = new SnapshotStore(dir, spark)
    val v1 = store.commit("t", Seq((1L, "a")).toDF("id", "name"))
    val v2 = store.commit("t",
      Seq((1L, "a", 3.5)).toDF("id", "name", "score"))
    // Each version reports ITS OWN schema (M6 evolution stays
    // per-version correct even though meta is carried forward).
    assert(store.loadVersion("t", v1).columns.toSeq == Seq("id", "name"))
    assert(store.loadVersion("t", v2).columns.toSeq == Seq("id", "name", "score"))
    assert(store.loadVersion("t", v2).as[(Long, String, Double)].collect()
      .toSeq == Seq((1L, "a", 3.5)))
    // The recorded schema matches what parquet inference would report
    // (all-nullable), so downstream schema comparisons are unchanged.
    val inferred = spark.read.parquet(s"$dir/t/v%05d".format(v2))
    assert(store.loadVersion("t", v2).schema == inferred.schema)
    // A version dir WITHOUT the schema key (pre-upgrade layout) still
    // loads via inference: strip the key from v1's meta file.
    val metaFile = java.nio.file.Paths.get(dir, "t", "v%05d".format(v1), "_graft_meta")
    val stripped = Files.readString(metaFile).linesIterator
      .filterNot(_.startsWith("_graft.schema64=")).mkString("\n")
    Files.writeString(metaFile, stripped)
    assert(store.loadVersion("t", v1).as[(Long, String)].collect()
      .toSeq == Seq((1L, "a")))
  }
}
