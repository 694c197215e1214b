package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/** Delta-chain versioning over a [[SnapshotStore]] table — the one
  * parser of a chained table's `*.parts` metadata, and (companion
  * object) the one owner of the exactly-once stream watermark every
  * append and takedown path commits beside it. The indexes use it
  * through [[ChainedIndex]] (both text layouts included); [[TextIndex]]
  * uses it directly for its takedown and its champion chain.
  *
  * A chained table's version directory holds only that commit's DELTA
  * rows; the version's metadata records (under `partsKey`) the parent
  * version dirs whose union completes the table. N appends therefore cost
  * O(sum of batch sizes), not N full rewrites. Once the chain reaches
  * `compactEvery` members, the next append folds everything into a fresh
  * full snapshot (empty parts), bounding read fan-in; a chain-aware
  * vacuum then drops the dirs outside the live chain.
  *
  * Version dirs and their metadata are immutable once the LATEST pointer
  * has flipped, so resolving one version number and reading both its
  * chain and its data is a consistent lock-free read. Chain WRITES
  * (`next`) must run under the table lock (SnapshotStore.transactMeta) —
  * a concurrent commit invalidates a chain read taken before locking.
  *
  * `canonCols` (when non-empty) projects EVERY chain member to those
  * columns before the union. This is how an index sheds a stored column
  * without orphaning old tables: members written by older code carry the
  * extra column (e.g. SimHashIndex's pre-r13 `bks`, DedupIndex's pre-r14
  * `bks`), members written after the slimming don't, and a strict
  * `unionByName` over the mixed chain would throw AnalysisException on
  * the FIRST post-upgrade append (old fat base + new slim delta). The
  * projection makes old- and new-format members union cleanly on reads,
  * appends and compactions — and a compaction then rewrites the table in
  * the slim canonical layout, completing the migration.
  *
  * ==Tombstones (document takedown, r18)==
  *
  * The index family's mutation model is append-only, but a production
  * training corpus receives deletion requests (copyright, PII) that must
  * propagate into every derived index without a full rebuild. A DELETE
  * commits a TOMBSTONE member: an ordinary chain commit whose version
  * dir holds only the deleted ids (one column, `tombIdCol`), recorded
  * under `tombsKey` instead of the data chain — `partsKey` keeps the
  * pre-delete data chain, so the data rows are untouched (O(ids) write,
  * never O(corpus)). Reads hide tombstoned rows with a member-version
  * epoch rule:
  *
  *   a data row is visible iff NO tombstone with the same id sits in a
  *   member committed AFTER the row's member.
  *
  * Epochs are what make delete-then-reinsert well-defined: a tombstone
  * at version t hides only rows from members < t, so a later append of
  * the same id (member > t) serves normally — no per-append tombstone
  * rewrite, zero append-path cost. Double-deleting an id stacks a
  * second tombstone at a higher version, hiding the reinsert too. When
  * no tombstones are pending (the overwhelmingly common state) every
  * read keeps its exact pre-r18 plan — the anti-join exists only while
  * a delete awaits its fold.
  *
  * Physical removal happens at the next FOLD (compaction, retrain, or
  * any full-snapshot rewrite): the fold unions the chain through the
  * visibility filter, so tombstoned bytes leave disk and both keys
  * reset — the takedown completes. The maintenance fold policy
  * ([[ChainedIndex.foldDue]]) folds a chain with pending tombstones
  * unconditionally (a takedown must not wait out `maxChainLength`).
  * Tombstone members count toward the chain length ([[fanIn]]) and
  * are kept by the chain-aware vacuum until the fold retires them.
  *
  * Scale shape of the visibility filter: the tombstone side is the
  * accumulated UNRESOLVED takedown set — bounded by delete traffic
  * between maintenance folds, not by the corpus — and joins the data
  * scan as an equi-key hash anti-join (the member-epoch comparison is a
  * residual condition), so the corpus side streams through without a
  * shuffle when the tombstone side broadcasts (AQE sizes it from the
  * member's parquet stats). Tombstone members commit sorted by id with
  * id zones, so candidate-restricted readers could prune them like any
  * member. */
private[store] final class DeltaChain(val partsKey: String,
                                      canonCols: Seq[String] = Nil,
                                      val tombIdCol: String = "id") {

  private[store] val tombsKey = s"$partsKey.tombs"

  /** The owning index's metadata key prefix (`dedup.` for `dedup.parts`):
    * its committed parameters and corpus stats sit beside the chain keys. */
  private[store] val keyPrefix = partsKey.stripSuffix("parts")

  /** The version list recorded under `key` (absent or empty ⇒ none). */
  private def versionsAt(meta: Map[String, String], key: String): Seq[Long] =
    meta.get(key).filter(_.nonEmpty)
      .map(_.split(",").toSeq.map(_.toLong)).getOrElse(Seq.empty)

  /** Metadata entries that reset BOTH chain keys — every full-snapshot
    * rewrite (build/rebuild, retrain, fold) must include these: commit
    * metadata merges over the previous version's, so a rebuild over a
    * table with pending tombstones would otherwise carry them forward
    * and silently hide the fresh rows. */
  private[store] def resetMeta: Map[String, String] =
    Map(partsKey -> "", tombsKey -> "")

  private def canon(df: DataFrame): DataFrame =
    if (canonCols.isEmpty) df
    else df.select(canonCols.map(org.apache.spark.sql.functions.col): _*)

  /** Versions of the TOMBSTONE members pending in `meta` (ascending —
    * they were appended in commit order). */
  private[store] def tombVersionsOf(meta: Map[String, String]): Seq[Long] =
    versionsAt(meta, tombsKey)

  /** True iff version `v`'s chain carries tombstones awaiting a fold —
    * the maintenance policies fold such a chain unconditionally. */
  private[store] def tombsPending(meta: Map[String, String]): Boolean =
    tombVersionsOf(meta).nonEmpty

  /** Version dirs whose DATA rows make up table version `v`: the
    * recorded parent deltas/base, then v itself — unless v is a
    * tombstone member, whose parts already name the complete data
    * chain. Empty parts ⇒ v is a full snapshot. */
  def chainOf(meta: Map[String, String], v: Long): Seq[Long] = {
    val parts = versionsAt(meta, partsKey)
    if (tombVersionsOf(meta).contains(v)) parts else parts :+ v
  }

  /** Read fan-in of version `v`: data members plus pending tombstone
    * members (each is one more version dir every read opens). */
  def fanIn(meta: Map[String, String], v: Long): Int =
    chainOf(meta, v).length + tombVersionsOf(meta).length

  /** The pending tombstones as (`_graft_tid`, `_graft_dv`) rows — the
    * deleted id and the tombstone's member version (its epoch). The
    * renamed columns keep the visibility anti-join unambiguous against
    * any data schema. Caller guarantees tombsPending. */
  private def loadTombs(store: SnapshotStore, table: String,
                        meta: Map[String, String]): DataFrame =
    tombVersionsOf(meta).map { t =>
      store.loadVersion(table, t)
        .select(col(tombIdCol).as("_graft_tid"), lit(t).as("_graft_dv"))
    }.reduce(_ unionByName _)

  /** Union `members` (already canonicalized, paired with their member
    * versions) under the tombstone visibility rule. With no pending
    * tombstones this is the plain union — the exact pre-tombstone plan;
    * with tombstones each member is tagged with its version and rows
    * lose to any same-id tombstone in a NEWER member (equi-key hash
    * anti-join, epoch comparison as the residual condition). */
  private[store] def assemble(store: SnapshotStore, table: String,
                              meta: Map[String, String],
                              members: Seq[(Long, DataFrame)]): DataFrame =
    if (!tombsPending(meta)) members.map(_._2).reduce(_ unionByName _)
    else {
      val tagged = members.map { case (m, df) =>
        df.withColumn("_graft_mv", lit(m))
      }.reduce(_ unionByName _)
      val tombs = loadTombs(store, table, meta)
      tagged.join(tombs,
          tagged(tombIdCol) === tombs("_graft_tid") &&
            tagged("_graft_mv") < tombs("_graft_dv"), "left_anti")
        .drop("_graft_mv")
    }

  /** The live table contents (delta-chain union, tombstones applied) as
    * of version `v`. */
  def load(store: SnapshotStore, table: String, v: Long,
           meta: Map[String, String]): DataFrame =
    assemble(store, table, meta,
      chainOf(meta, v).map(m => (m, canon(store.loadVersion(table, m)))))

  /** Zone-pruned chain read: each chain member version is pruned by its
    * OWN `_graft_zones` sidecar (immutable alongside its data), so a
    * selective predicate skips whole delta files before any footer is
    * opened. Members without a sidecar (pre-zone-map commits) fall back
    * to a full read of that member; the predicate is re-applied as an
    * ordinary filter either way, so results ≡ `load(...).filter(preds)`. */
  def loadPruned(store: SnapshotStore, table: String, v: Long,
                 meta: Map[String, String],
                 preds: Seq[ZoneMap.ZonePred],
                 keepFile: (String, Map[String, ZoneMap.Zone]) => Boolean =
                   ZoneMap.KeepAll): DataFrame =
    assemble(store, table, meta,
      chainOf(meta, v).map(m =>
        (m, canon(ZoneMap.prunedScanAt(store, table, m, preds, keepFile)))))

  /** Delta-or-compact decision for the next commit: below the threshold
    * the new version is `delta` alone (O(batch) write); at it, the chain
    * folds into a full snapshot (amortized O(corpus/compactEvery) per
    * append). Tombstone members count toward the threshold ([[fanIn]])
    * and a fold retires them — the union reads through the visibility
    * filter, so tombstoned rows are physically absent from the folded
    * snapshot. `layout` re-establishes a physical layout (e.g. a range
    * partition) on COMPACTING commits only — chain unions interleave
    * the members' file layouts, so a fold is where clustering must be
    * re-applied; plain deltas pass through untouched (the producer laid
    * them out). Returns (rows to commit, metadata to commit). */
  def next(store: SnapshotStore, table: String, v: Long,
           meta: Map[String, String], delta: DataFrame,
           compactEvery: Int, extraMeta: Map[String, String],
           layout: DataFrame => DataFrame = identity)
      : (DataFrame, Map[String, String]) = {
    if (fanIn(meta, v) >= compactEvery)
      (layout(load(store, table, v, meta).unionByName(canon(delta))),
        extraMeta ++ resetMeta)
    else
      (canon(delta), extraMeta + (partsKey -> chainOf(meta, v).mkString(",")))
  }

  /** Tombstone commit for the ids in `ids`: (rows, metadata) to commit
    * under the table lock. A single-column frame (any name) is the
    * plain form — renamed to `tombIdCol` and deduplicated. A
    * MULTI-column frame must lead with `tombIdCol` and be one row per
    * id: the extra columns are index-specific payload riding in the
    * tombstone member (e.g. TextIndex's per-doc deleted-term arrays,
    * which make the champion delete-merge's touched-term discovery
    * O(tombstone bytes) instead of an O(corpus) chain scan) — the
    * visibility filter reads only the id column either way. The
    * committed version number is `v + 1` by the store's commit
    * discipline (next = currentVersion + 1, computed under the same
    * lock this runs in; orphaned dirs past LATEST are cleared, so the
    * number can never skip). */
  def tombNext(v: Long, meta: Map[String, String], ids: DataFrame,
               extraMeta: Map[String, String] = Map.empty)
      : (DataFrame, Map[String, String]) = {
    val rows =
      if (ids.columns.length == 1) ids.toDF(tombIdCol).distinct()
      else {
        require(ids.columns.head == tombIdCol,
          s"multi-column tombstone rows must lead with '$tombIdCol', " +
            s"got ${ids.columns.mkString(", ")}")
        ids.dropDuplicates(tombIdCol)
      }
    (rows, extraMeta ++ Map(
      partsKey -> chainOf(meta, v).mkString(","),
      tombsKey -> (tombVersionsOf(meta) :+ (v + 1)).mkString(",")))
  }

  /** [[tombNext]] under the shared exactly-once (streamId, batchId)
    * watermark — the takedown-QUEUE form. Replay protection is a
    * CORRECTNESS matter for deletes, not just frugality: a tombstone
    * commits at the next version number, so an at-least-once redelivery
    * of an old delete batch would land at a HIGHER epoch and hide rows
    * re-ingested since (the one case the epoch rule cannot distinguish
    * from a genuine re-delete). Left(()) = replay, skip. Takedowns
    * share the per-stream watermark ([[DeltaChain.replayed]]) with the
    * append paths: one monotone batch sequence per streamId. */
  def tombNextOnce(v: Long, meta: Map[String, String], ids: DataFrame,
                   streamId: String, batchId: Long,
                   extraMeta: Map[String, String] = Map.empty)
      : Either[Unit, (DataFrame, Map[String, String])] =
    if (DeltaChain.replayed(meta, streamId, batchId)) Left(())
    else Right(tombNext(v, meta, ids,
      extraMeta ++ DeltaChain.mark(streamId, batchId)))

  /** On-demand fold of the whole chain into a full snapshot — the
    * maintenance-triggered form of the compactEvery path in [[next]]:
    * (rows, metadata) for the compacting commit, or None when version
    * `v` is already a full snapshot (chain length ≤ 1, no pending
    * tombstones) and committing would only rewrite identical data.
    * Pending tombstones force the fold regardless of chain length —
    * this is where a takedown's bytes physically leave disk. Must run
    * under the table lock like every chain write. */
  def compactNow(store: SnapshotStore, table: String, v: Long,
                 meta: Map[String, String],
                 layout: DataFrame => DataFrame = identity)
      : Option[(DataFrame, Map[String, String])] =
    if (chainOf(meta, v).length <= 1 && !tombsPending(meta)) None
    else Some((layout(load(store, table, v, meta)), resetMeta))

  /** Version dirs referenced by the CURRENT version — data members plus
    * pending tombstone members: everything a chain-aware vacuum must
    * keep (a vacuumed tombstone would silently resurrect its rows). */
  def liveVersions(store: SnapshotStore, table: String): Set[Long] = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    chainOf(meta, v).toSet ++ tombVersionsOf(meta)
  }
}

/** The exactly-once (streamId, batchId) watermark — Structured
  * Streaming's idempotent-sink contract for at-least-once sources. The
  * last applied batchId per stream rides in a table's commit metadata,
  * atomically with the rows it applied, so a redelivered batch is
  * recognised under the table lock and skipped. One monotone sequence
  * per streamId per table, shared by appends and takedowns. */
private[graft] object DeltaChain {

  private val Prefix = "stream."
  private val Suffix = ".lastBatchId"

  /** True iff `batchId` was already applied to the version whose
    * metadata is `meta` (a replay: skip it). */
  def replayed(meta: Map[String, String], streamId: String,
               batchId: Long): Boolean =
    batchId <= meta.get(Prefix + streamId + Suffix).map(_.toLong)
      .getOrElse(-1L)

  /** The metadata entry that records `batchId` as applied — committed
    * with the batch's rows. */
  def mark(streamId: String, batchId: Long): Map[String, String] =
    Map(Prefix + streamId + Suffix -> batchId.toString)

  /** Every stream's last applied batchId in `meta`. */
  def watermarks(meta: Map[String, String]): Map[String, Long] =
    meta.collect {
      case (k, v) if k.startsWith(Prefix) && k.endsWith(Suffix) =>
        k.stripPrefix(Prefix).stripSuffix(Suffix) -> v.toLong
    }
}
