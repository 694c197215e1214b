package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.schema.Schemas
import graft.sources.Ingest
import graft.store.{DeltaChain, SnapshotStore}

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
  * Concurrency: every mutation runs inside `store.transact`, whose per-table
  * lock serializes writers — the analog of the reference's
  * `LOCK TABLE … IN EXCLUSIVE MODE` (lambda_function.py:268), which is what
  * makes `COALESCE(MAX(s_no),0)+1` keying race-free.
  */
final class Mutations(store: SnapshotStore, spark: SparkSession,
                      table: String = "csp_tools_data") {
  import MutationResult._

  private val key = Schemas.cspKey
  private val flag = Schemas.displayFlag

  private def currentOrEmpty(cur: Option[DataFrame]): DataFrame =
    cur.getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], Schemas.cspTools))

  /** M1: next key = COALESCE(MAX(s_no),0)+1 (lambda_function.py:269-271). */
  private def nextKey(df: DataFrame): Int =
    df.agg(coalesce(max(col(key)), lit(0))).first().getInt(0) + 1

  /** EXISTS guard against a specific snapshot (P7 shape,
    * lambda_function.py:172-178,652-658). Always called INSIDE a
    * transaction on the snapshot the commit will build on. */
  private def existsIn(df: DataFrame, cond: org.apache.spark.sql.Column): Boolean =
    df.filter(cond).limit(1).count() > 0

  /** Read-only EXISTS by tool_name — API surface; mutations re-check
    * inside their transaction. */
  def nameExists(name: String): Boolean =
    store.loadIfExists(table).exists(df => existsIn(df, col("tool_name") === name))

  /** Read-only EXISTS by key — API surface; mutations re-check inside
    * their transaction. */
  def keyExists(sNo: Int): Boolean =
    store.loadIfExists(table).exists(df => existsIn(df, col(key) === sNo))

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
        store.transactEither[MutationResult](table, sortKey = Some(key)) { cur =>
          val df = currentOrEmpty(cur)
          if (existsIn(df, col("tool_name") === name.toString))
            Left(BadRequest(s"tool with name '$name' already exists"))
          else {
            assigned = nextKey(df)
            Right(df.unionByName(rowDf(record + (key -> assigned))))
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
    store.transactEither[MutationResult](table, sortKey = Some(key)) { cur =>
      val df = currentOrEmpty(cur)
      if (!existsIn(df, col(key) === sNo)) Left(NotFound(sNo))
      else Right(sets.foldLeft(df) { case (acc, (c, v)) =>
        val target = acc.schema(c).dataType
        acc.withColumn(c,
          when(col(key) === sNo, lit(v).cast(target)).otherwise(col(c)))
      })
    }.fold(identity, _ => Ok(sNo))
  }

  /** M4+M7: guarded soft delete — `SET is_display = FALSE WHERE s_no = k`
    * (soft_delete_tool, lambda_function.py:549-592). The row survives in
    * the snapshot; all read paths filter it out (P1/P5). */
  def softDelete(sNo: Int): MutationResult =
    update(sNo, Map(flag -> false)) match {
      case Ok(n) => Ok(n)
      case other => other
    }

  /** M5: hard DELETE (analyst-only, ddl_create_tables.sql:61-62).
    * Existence guard inside the transaction (see create). */
  def hardDelete(sNo: Int): MutationResult =
    store.transactEither[MutationResult](table, sortKey = Some(key)) { cur =>
      val df = currentOrEmpty(cur)
      if (!existsIn(df, col(key) === sNo)) Left(NotFound(sNo))
      else Right(df.filter(!(col(key) === sNo)))
    }.fold(identity, _ => Ok(sNo))

  /** M6: schema evolution (ddl_create_tables.sql:38-50). Old snapshots
    * remain readable under the old schema (store keeps every version). */
  def dropColumn(c: String): Long =
    store.transact(table)(cur => currentOrEmpty(cur).drop(c))
  def addColumn(c: String, default: String = "N/A"): Long =
    store.transact(table)(cur => currentOrEmpty(cur).withColumn(c, lit(default)))
  def renameColumn(from: String, to: String): Long =
    store.transact(table)(cur => currentOrEmpty(cur).withColumnRenamed(from, to))

  /** Shared E1 transform: align → normalize → dedup against loaded →
    * assign dense keys from max+1 → union. */
  private def appended(cur: Option[DataFrame], batch: DataFrame,
                       dedupKey: Option[String]): DataFrame = {
    val df = currentOrEmpty(cur)
    val aligned = Ingest.applyDisplayDefault(
      Ingest.normalizeNulls(Ingest.alignByName(batch, Schemas.cspTools)))
    val deduped = dedupKey match {
      case Some(k) if cur.isDefined => Ingest.dropAlreadyLoaded(aligned, df, k)
      case _ => aligned
    }
    val offset = df.agg(coalesce(max(col(key)), lit(0))).first().getInt(0).toLong
    // orderBy applies only to single-partition batches; multi-partition
    // batches take denseKeys' per-partition path (no 1-task window).
    val keyed = Ingest.denseKeys(deduped.drop(key), key, offset,
      orderBy = Seq("tool_name"))
    df.unionByName(keyed.select(df.columns.map(col).toIndexedSeq: _*))
  }

  /** E1 batch append: one call ≙ one S3-event Lambda invocation
    * (README.md:105-110). */
  def appendBatch(batch: DataFrame,
                  dedupKey: Option[String] = None): Long =
    store.transact(table, sortKey = Some(key))(appended(_, batch, dedupKey))

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
                      dedupKey: Option[String] = None): Boolean = {
    store.transactEither[Unit](table, sortKey = Some(key),
      meta = DeltaChain.mark(streamId, batchId)) { cur =>
      if (DeltaChain.replayed(store.latestMeta(table), streamId, batchId))
        Left(())
      else Right(appended(cur, batch, dedupKey))
    }.isRight
  }

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
