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

  // ---- file-granular commits -------------------------------------------

  private val T = "csp_tools_data"

  /** A four-file catalog: keys 1..40, one contiguous run per file. */
  private def fourFiles(): (java.nio.file.Path, SnapshotStore, Mutations) = {
    import spark.implicits._
    val dir = TempDirs.create("graft-files")
    val store = new SnapshotStore(dir.toString, spark)
    val mut = new Mutations(store, spark)
    mut.appendBatch((1 to 40).map(i => s"F$i").toDF("tool_name").repartition(4))
    (dir, store, mut)
  }

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def dataFiles(store: SnapshotStore, dir: java.nio.file.Path,
                        v: Long): Map[String, java.nio.file.Path] =
    graft.store.ZoneMap.dataFiles(dir.resolve(T).resolve(f"v$v%05d"))
      .map(p => p.getFileName.toString -> p).toMap

  test("file-granular commits: a mutation writes one file, links the rest, and every older version reads back unchanged") {
    import spark.implicits._
    val (dir, store, mut) = fourFiles()
    val history = scala.collection.mutable.LinkedHashMap(
      store.currentVersion(T) -> rowsOf(store.load(T)))
    def step(expectWritten: Int)(op: => Any): Unit = {
      val before = store.currentVersion(T)
      op
      val v = store.currentVersion(T)
      assert(v === before + 1)
      val (old, cur) = (dataFiles(store, dir, before), dataFiles(store, dir, v))
      val written = cur.keySet -- old.keySet
      assert(written.size === expectWritten, s"v$v wrote $written")
      (cur.keySet -- written).foreach { f =>
        assert(Files.isSameFile(cur(f), old(f)), s"$f is not the base's file")
      }
      history(v) = rowsOf(store.load(T))
    }
    step(1)(assert(mut.update(5, Map("remarks" -> "patched")) === Ok(5)))
    step(1)(assert(mut.hardDelete(12) === Ok(12)))
    step(1)(assert(mut.softDelete(33) === Ok(33)))
    step(1)(assert(mut.create(Map("tool_name" -> "Folded")) === Created(41)))
    step(1)(assert(mut.appendBatchOnce(Seq("Trickle").toDF("tool_name")
      .coalesce(1), "s", 0L)))
    // time travel: every version, old and new, reads back row for row
    history.foreach { case (v, rows) =>
      assert(rowsOf(store.loadVersion(T, v)) === rows, s"v$v changed")
    }
    val latest = store.load(T)
    assert(latest.filter(col("s_no") === 5).select("remarks").as[String]
      .collect().toSeq === Seq("patched"))
    assert(latest.select("s_no").as[Int].collect().sorted.toSeq ===
      (1 to 42).filter(_ != 12))
  }

  test("file-granular commits: vacuum to the current version leaves a complete snapshot equal to the model") {
    import spark.implicits._
    val (_, store, mut) = fourFiles()
    def table = store.load(T).select("s_no", "tool_name", "is_display")
      .as[(Int, String, Boolean)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    val model = scala.collection.mutable.TreeMap(table.toSeq: _*)
    assert(model.keySet === (1 to 40).toSet)
    assert(mut.update(3, Map("tool_name" -> "Renamed")) === Ok(3))
    model(3) = ("Renamed", true)
    assert(mut.softDelete(20) === Ok(20))
    model(20) = (model(20)._1, false)
    assert(mut.hardDelete(40) === Ok(40))
    model.remove(40)
    assert(mut.create(Map("tool_name" -> "Reused")) === Created(40))
    model(40) = ("Reused", true)
    store.vacuum(T, keepFrom = store.currentVersion(T))
    assert(store.versions(T) === Seq(store.currentVersion(T)))
    assert(table === model.toMap)
    // the surviving version still serves the guards and further writes
    assert(mut.hardDelete(99) === NotFound(99))
    assert(mut.update(7, Map("tool_name" -> "Later")) === Ok(7))
    model(7) = ("Later", true)
    assert(table === model.toMap)
    assert(mut.keySetRebuilds === 0L)
  }

  test("file-granular commits: an orphaned next version of linked files is cleared without touching its base") {
    val (dir, store, mut) = fourFiles()
    assert(mut.update(2, Map("remarks" -> "v2")) === Ok(2))
    val v = store.currentVersion(T)
    val before = rowsOf(store.loadVersion(T, v))
    // a writer that died after linking v+1's carried files, before the flip
    val orphan = dir.resolve(T).resolve(f"v${v + 1}%05d")
    Files.createDirectories(orphan)
    dataFiles(store, dir, v).foreach { case (n, p) => Files.createLink(orphan.resolve(n), p) }
    Files.writeString(orphan.resolve("part-99999-junk.parquet"), "garbage")
    assert(mut.update(9, Map("remarks" -> "v3")) === Ok(9))
    assert(store.currentVersion(T) === v + 1)
    assert(rowsOf(store.loadVersion(T, v)) === before, "the orphan's links took base data")
    assert(store.load(T).count() === 40L)
    assert(store.load(T).filter(col("remarks") === "v3").count() === 1L)
  }

  test("key set: rebuilt by one counted scan after M6 and for a pre-upgrade version; guards stay exact") {
    import spark.implicits._
    val (dir, store, mut) = fourFiles()
    mut.addColumn("extra_col")
    assert(mut.update(3, Map("remarks" -> "a")) === Ok(3))
    assert(mut.keySetRebuilds === 1L)
    assert(mut.update(999, Map("remarks" -> "a")) === NotFound(999))
    assert(mut.keySetRebuilds === 1L, "the committed update recorded a key set")
    mut.dropColumn("extra_col")
    assert(mut.hardDelete(40) === Ok(40))
    assert(mut.keySetRebuilds === 2L)
    // a version without the sidecar, as written before key sets existed
    Files.delete(dir.resolve(T).resolve(f"v${store.currentVersion(T)}%05d")
      .resolve("_graft_keys"))
    assert(mut.hardDelete(40) === NotFound(40))
    assert(mut.keyExists(39) && !mut.keyExists(40))
    assert(mut.create(Map("tool_name" -> "Next")) === Created(40))
    assert(mut.keySetRebuilds === 4L) // the 404 committed nothing to carry it
    assert(mut.create(Map("tool_name" -> "After")) === Created(41))
    assert(mut.keySetRebuilds === 4L)
    assert(store.load(T).select("s_no").as[Int].collect().sorted.toSeq === (1 to 41))
  }
}
