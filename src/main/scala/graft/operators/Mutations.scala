package graft.operators

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.roaringbitmap.RoaringBitmap

import graft.schema.Schemas
import graft.sources.Ingest
import graft.store.{DeltaChain, KeySet, SnapshotStore, ZoneMap}

/** Outcome ADT mirroring the reference's HTTP status-code semantics
  * (lambda_function.py:343-352,469-475,506-516,598-631). */
sealed trait MutationResult { def status: Int }
object MutationResult {
  /** 201 — row created; carries the generated key (lambda_function.py:319). */
  final case class Created(sNo: Int) extends MutationResult { val status = 201 }
  /** 200 — update/delete applied. */
  final case class Ok(sNo: Int) extends MutationResult { val status = 200 }
  /** 400 — guard rejected (duplicate name / missing key field). */
  final case class BadRequest(reason: String) extends MutationResult { val status = 400 }
  /** 404 — key not found. */
  final case class NotFound(sNo: Int) extends MutationResult { val status = 404 }
}

/** E3 write surface (SURVEY.md §2.3, §3): create / update / soft-delete /
  * hard-delete / schema-evolve over the snapshot store, with the
  * reference's guard-then-act composition (M7) and status codes.
  *
  * Concurrency: every mutation runs under the table's writer lock
  * (`store.locked`) — the analog of the reference's
  * `LOCK TABLE … IN EXCLUSIVE MODE` (lambda_function.py:268), which is what
  * makes `COALESCE(MAX(s_no),0)+1` keying race-free. Guards read the
  * locked version the commit builds on.
  *
  * File-granular writes: a mutation rewrites only the data files its
  * change touches, and the commit links every other file of the base
  * version into the new one ([[SnapshotStore.commit]]'s `carry`):
  *  - update, soft delete and hard delete rewrite the file whose `s_no`
  *    zone holds the key;
  *  - create and a single-partition append fold into the tail file (the
  *    one holding the largest key) while it is no larger in bytes than
  *    the largest other file, and otherwise start a new file; a
  *    multi-partition batch writes its own files at its own parallelism.
  * A table's first commit and the M6 schema changes write every file.
  *
  * Guards from metadata: each commit records an `s_no` zone map and the
  * version's exact key set ([[KeySet]]). Key existence (every 404) and
  * the next key are answered from the key set with no Spark job. An
  * append's keys come from the write itself: [[Ingest.denseKeys]]
  * assigns `offset+1 … offset+n` contiguously, and `n` is the rows of the
  * written files minus the rows of the replaced tail, both footer row
  * counts the zone harvest already reads; the new files' largest key
  * must equal `offset+n`, or the version gets no key set. A version
  * without a key set (pre-upgrade, after an M6 change, or one whose
  * append failed that check) gets one built inside the transaction by
  * one `s_no` scan, counted in [[keySetRebuilds]] and logged. The
  * duplicate-name guard of create stays a scan: `tool_name` is
  * hash-uniform, so zones cannot prune it.
  */
final class Mutations(store: SnapshotStore, spark: SparkSession,
                      table: String = "csp_tools_data") {
  import MutationResult._

  private val key = Schemas.cspKey
  private val flag = Schemas.displayFlag
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val rebuilds = new AtomicLong

  /** How many transactions built their base version's key set by a scan
    * (the fallback for a version that has none). */
  def keySetRebuilds: Long = rebuilds.get

  /** The locked version a mutation builds on (0: no table yet). */
  private final class Base(val version: Long) {
    lazy val df: DataFrame =
      if (version == 0)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.cspTools)
      else store.loadVersion(table, version)

    lazy val keys: RoaringBitmap =
      if (version == 0) new RoaringBitmap
      else KeySet.read(store, table, version, key).getOrElse {
        rebuilds.incrementAndGet()
        log.warn(s"$table v$version has no key set; building it with one $key scan")
        KeySet.scan(df, key)
      }

    /** COALESCE(MAX(s_no),0) (lambda_function.py:269-271). */
    def maxKey: Int = KeySet.maxKey(keys).getOrElse(0)

    /** Data file → footer row count, for the files the zone map covers. */
    private lazy val rows: Map[String, Long] =
      if (version == 0) Map.empty
      else ZoneMap.zonesAt(store, table, version)
        .collect { case z if z.column == key => z.file -> z.rows }.toMap

    private def filesWhere(preds: Seq[ZoneMap.ZonePred]): Seq[Path] =
      if (version == 0) Nil
      else ZoneMap.selectedFilesAt(store, table, version, preds)._1

    private lazy val paths: Seq[Path] = filesWhere(Nil)
    lazy val files: Seq[String] = paths.map(nameOf)

    /** The files whose `s_no` zone may hold `k` (all of them, unzoned). */
    def holding(k: Int): Seq[String] =
      filesWhere(Seq(ZoneMap.longEq(key, k))).map(nameOf)

    /** The fold target of a single-partition append, with its rows: the
      * one file holding the largest key, while it is no larger in bytes
      * than the largest other file. None starts a new file. */
    def tail: Option[(String, Long)] =
      if (keys.isEmpty || rows.size != files.size) None
      else holding(maxKey) match {
        case Seq(t) =>
          val (tailFile, others) = paths.partition(nameOf(_) == t)
          val largestOther = others.map(Files.size).maxOption.getOrElse(0L)
          if (tailFile.map(Files.size).sum <= largestOther) Some(t -> rows(t)) else None
        case _ => None
      }
  }

  private def nameOf(p: Path): String = p.getFileName.toString

  /** What a mutation commits: `df` replaces the base files `replaced`,
    * and `keys` maps the `s_no` zones of the files the commit wrote to
    * the new version's key set (None: the version gets none). */
  private final class Change(val df: DataFrame, val replaced: Seq[String],
                             val keys: Seq[ZoneMap.Zone] => Option[RoaringBitmap])

  /** One locked read-modify-write: `fn` sees the base version and
    * returns Right(change) to commit or Left(a) to abort (nothing is
    * written). */
  private def transaction[A](meta: Map[String, String] = Map.empty)
                            (fn: Base => Either[A, Change]): Either[A, Long] =
    store.locked(table) {
      val base = new Base(store.currentVersion(table))
      fn(base).map { c =>
        val carry = base.files.filterNot(c.replaced.contains)
        store.commit(table, c.df, sortKey = Some(key), meta = meta,
          statsCols = Seq(key), carry = carry, sidecar = dir => {
            val written = ZoneMap.dataFiles(dir).map(nameOf).filterNot(carry.contains)
            val zones = ZoneMap.zonesIn(dir)
              .filter(z => z.column == key && written.contains(z.file))
            // one line per written file, or the harvest missed a footer
            (if (zones.size == written.size) c.keys(zones) else None) match {
              case Some(k) => KeySet.write(dir, key, k)
              case None => log.warn(s"$table: the commit over v${base.version} " +
                "wrote no key set; the next mutation builds one by a scan")
            }
          })
      }
    }

  /** EXISTS guard against a specific snapshot (P7 shape,
    * lambda_function.py:172-178,652-658): each partition reports whether
    * it holds a matching row — one job over the scan. A global
    * `limit(1).count()` plans an exchange, which is two jobs under AQE. */
  private def existsIn(df: DataFrame, cond: org.apache.spark.sql.Column): Boolean =
    df.filter(cond).select()
      .mapPartitions(rows => Iterator.single(rows.hasNext))(
        org.apache.spark.sql.Encoders.scalaBoolean)
      .collect().contains(true)

  /** Read-only EXISTS by tool_name — API surface; mutations re-check
    * inside their transaction. */
  def nameExists(name: String): Boolean =
    store.loadIfExists(table).exists(df => existsIn(df, col("tool_name") === name))

  /** Read-only EXISTS by key — API surface; mutations re-check inside
    * their transaction. Reads the key set; a version without one is
    * scanned. */
  def keyExists(sNo: Int): Boolean = {
    val v = store.currentVersion(table)
    v > 0 && KeySet.read(store, table, v, key).map(_.contains(sNo))
      .getOrElse(existsIn(store.loadVersion(table, v), col(key) === sNo))
  }

  /** `rows` (already keyed `offset+1 …` by [[Ingest.denseKeys]]) as new
    * data of `base`: folded into the tail file when `single`, else
    * written as files of their own. */
  private def appendRows(base: Base, rows: DataFrame, offset: Int,
                         single: Boolean): Change = {
    val aligned = rows.select(base.df.columns.map(col).toIndexedSeq: _*)
    val (df, replaced, tailRows) = base.tail.filter(_ => single) match {
      case Some((t, n)) =>
        (store.loadFiles(table, base.version, Seq(t)).unionByName(aligned)
          .coalesce(1), Seq(t), n)
      case None => (aligned, Nil, 0L)
    }
    new Change(df, replaced, zones => {
      val n = zones.map(_.rows).sum - tailRows
      val top = zones.filter(_.kind == "long").map(_.maxLong).maxOption
      if (n == 0) Some(base.keys)
      else if (n > 0 && offset >= 0 && top.contains(offset + n)) {
        base.keys.add(offset + 1L, offset + n + 1L)
        Some(base.keys)
      } else None
    })
  }

  /** The files holding `sNo` rewritten by `edit`, or Left(404). */
  private def rewriteKey(base: Base, sNo: Int)(edit: DataFrame => DataFrame)
                        (keys: RoaringBitmap => RoaringBitmap)
      : Either[MutationResult, Change] =
    if (!base.keys.contains(sNo)) Left(NotFound(sNo))
    else {
      val files = base.holding(sNo)
      Right(new Change(edit(store.loadFiles(table, base.version, files)), files,
        _ => Some(keys(base.keys))))
    }

  /** M2+M7: guarded transactional create (check_And_Insert,
    * lambda_function.py:338-396). Returns 201+key, or 400 on duplicate
    * name / missing tool_name.
    *
    * The duplicate-name guard runs INSIDE the transaction, against the
    * snapshot the insert builds on: two concurrent `create("X")` calls
    * serialize on the table lock and the second sees the first's row —
    * exactly one 201 and one 400, like the reference's guard under
    * `LOCK TABLE` (lambda_function.py:267-272). Guard-outside-transact
    * was a TOCTOU race: both could pass, committing duplicate names. */
  def create(record: Map[String, Any]): MutationResult = {
    record.get("tool_name") match {
      case None | Some(null) | Some("") => BadRequest("tool_name is required")
      case Some(name) =>
        var assigned = 0
        transaction[MutationResult]() { base =>
          if (existsIn(base.df, col("tool_name") === name.toString))
            Left(BadRequest(s"tool with name '$name' already exists"))
          else {
            assigned = base.maxKey + 1
            Right(appendRows(base, rowDf(record + (key -> assigned)),
              base.maxKey, single = true))
          }
        }.fold(identity, _ => Created(assigned))
    }
  }

  /** M3+M7: guarded multi-column update by key (check_And_Update,
    * lambda_function.py:466-546). SET clause = patch minus the key,
    * matching the reference's request-dict handling (:412-421).
    * Existence guard inside the transaction (see create). */
  def update(sNo: Int, patch: Map[String, Any]): MutationResult = {
    val sets = patch - key
    transaction[MutationResult]() { base =>
      rewriteKey(base, sNo) { df =>
        sets.foldLeft(df) { case (acc, (c, v)) =>
          val target = acc.schema(c).dataType
          acc.withColumn(c,
            when(col(key) === sNo, lit(v).cast(target)).otherwise(col(c)))
        }
      }(identity)
    }.fold(identity, _ => Ok(sNo))
  }

  /** M4+M7: guarded soft delete — `SET is_display = FALSE WHERE s_no = k`
    * (soft_delete_tool, lambda_function.py:549-592). The row survives in
    * the snapshot; all read paths filter it out (P1/P5). */
  def softDelete(sNo: Int): MutationResult = update(sNo, Map(flag -> false))

  /** M5: hard DELETE (analyst-only, ddl_create_tables.sql:61-62).
    * Existence guard inside the transaction (see create). */
  def hardDelete(sNo: Int): MutationResult =
    transaction[MutationResult]() { base =>
      rewriteKey(base, sNo)(_.filter(!(col(key) <=> sNo))) { keys =>
        keys.remove(sNo)
        keys
      }
    }.fold(identity, _ => Ok(sNo))

  /** M6: schema evolution (ddl_create_tables.sql:38-50), a whole-snapshot
    * commit. Old snapshots remain readable under the old schema (store
    * keeps every version); the new version has no key set, so the next
    * mutation builds one. */
  private def evolve(f: DataFrame => DataFrame): Long =
    store.locked(table) {
      val base = new Base(store.currentVersion(table))
      store.commit(table, f(base.df), statsCols = Seq(key))
    }
  def dropColumn(c: String): Long = evolve(_.drop(c))
  def addColumn(c: String, default: String = "N/A"): Long =
    evolve(_.withColumn(c, lit(default)))
  def renameColumn(from: String, to: String): Long =
    evolve(_.withColumnRenamed(from, to))

  /** Shared E1 transform: align → normalize → dedup against loaded →
    * assign dense keys from max+1 → append. */
  private def appended(base: Base, batch: DataFrame,
                       dedupKey: Option[String]): Change = {
    val aligned = Ingest.applyDisplayDefault(
      Ingest.normalizeNulls(Ingest.alignByName(batch, Schemas.cspTools)))
    val deduped = dedupKey match {
      case Some(k) if base.version > 0 => Ingest.dropAlreadyLoaded(aligned, base.df, k)
      case _ => aligned
    }
    // one Dataset: denseKeys reads the same lazily built RDD, so the
    // partition count costs no second planning
    val input = deduped.drop(key)
    val single = input.rdd.getNumPartitions <= 1
    // orderBy applies only to single-partition batches; multi-partition
    // batches take denseKeys' per-partition path (no 1-task window).
    val keyed = Ingest.denseKeys(input, key, base.maxKey, orderBy = Seq("tool_name"))
    appendRows(base, keyed, base.maxKey, single)
  }

  /** E1 batch append: one call ≙ one S3-event Lambda invocation
    * (README.md:105-110). */
  def appendBatch(batch: DataFrame,
                  dedupKey: Option[String] = None): Long =
    transaction[Nothing]()(base => Right(appended(base, batch, dedupKey)))
      .fold(identity, identity)

  /** ST1 exactly-once append: apply a streaming micro-batch at most once.
    *
    * `foreachBatch` is at-least-once — after a crash between the append
    * and the checkpoint commit, the restarted query REPLAYS the last
    * batchId. The last applied batchId per (table, streamId) is recorded
    * in the snapshot's metadata ATOMICALLY with the data commit (same
    * version directory, same pointer flip), so the replay check inside
    * the transaction sees exactly the state of the last applied batch:
    * replays are skipped, no duplicate rows. Returns true if applied,
    * false if skipped as a replay. */
  def appendBatchOnce(batch: DataFrame, streamId: String, batchId: Long,
                      dedupKey: Option[String] = None): Boolean =
    transaction[Unit](meta = DeltaChain.mark(streamId, batchId)) { base =>
      if (DeltaChain.replayed(store.latestMeta(table), streamId, batchId))
        Left(())
      else Right(appended(base, batch, dedupKey))
    }.isRight

  private def rowDf(record: Map[String, Any]): DataFrame = {
    val values = Schemas.cspTools.fields.map { f =>
      record.get(f.name).map {
        case null => null
        case v: Boolean => java.lang.Boolean.valueOf(v)
        case v: Int => java.lang.Integer.valueOf(v)
        case v => v.toString
      }.orNull
    }
    val casted = Schemas.cspTools.fields.map { f =>
      (f.dataType, record.get(f.name)) match {
        case (_, None) => null
        case (_, Some(null)) => null
        case (IntegerType, Some(v)) => java.lang.Integer.valueOf(v.toString.toInt)
        case (BooleanType, Some(v)) => java.lang.Boolean.valueOf(v.toString.toBoolean)
        case (_, Some(v)) => v.toString
      }
    }
    val df = spark.createDataFrame(
      java.util.List.of(Row.fromSeq(casted.toIndexedSeq)), Schemas.cspTools)
    Ingest.applyDisplayDefault(Ingest.normalizeNulls(df))
  }
}
