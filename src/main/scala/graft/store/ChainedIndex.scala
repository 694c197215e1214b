package graft.store

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The [[DeltaChain]] lifecycle of a persistent index, written once for
  * the eight that share it — the six compact-only indexes
  * ([[DedupIndex]], [[SimHashIndex]], [[EmbedIndex]], [[SemIndex]],
  * [[FingerprintIndex]], [[VectorIndex]]) and the two text layouts
  * ([[TextLayout]]: TextIndex's postings, [[PhraseIndex]]'s positions):
  * the exactly-once APPEND transaction, the committed parameter read,
  * the live read, the tombstone TAKEDOWN (plain and exactly-once), the
  * on-demand fold, the chain-aware vacuum and the maintenance fold
  * policy. An index keeps only what is its own — encode, keys, verify,
  * the body of its append (the three LSH indexes share theirs through
  * [[BandedPairs]]) — and declares here its chain, its commit
  * layout (sort key, zone and bloom columns, and the fold's physical
  * layout) and its compatibility check, which every entry point runs.
  *
  * The text layouts override the takedown (their deletes adjust corpus
  * statistics and carry payload tombstones) and keep their maintenance
  * (the champion refresh) in [[TextIndex]]; their registry rows route
  * through TextIndex's layout-aware entry points and stay out of the
  * compact-only count ([[ChainedIndex.kindOf]]). */
trait ChainedIndex {

  /** The index's delta chain; its `partsKey` is the table's marker. */
  private[store] def chain: DeltaChain

  /** Physical layout of the index's commits (build, append, fold): sort
    * key, zone-map columns, bloom columns, and the layout a FOLD
    * re-establishes over the chain union ([[DeltaChain.next]]). */
  protected def foldSortKey: String = "id"
  protected def foldStatsCols: Seq[String] = Nil
  protected def foldBloomCols: Seq[String] = Nil
  protected def foldLayout: DataFrame => DataFrame = identity

  /** Compatibility check on the committed metadata, run by every entry
    * point before it touches the chain — writes run it under the table
    * lock. VectorIndex refuses a foreign encoding scheme; a text layout
    * refuses a table whose latest build is the other layout, or a
    * foreign tokenizer. */
  private[store] def checkCompatible(meta: Map[String, String],
                                     table: String): Unit = ()

  /** The index's name in refusals. */
  protected def name: String = getClass.getSimpleName.stripSuffix("$")

  /** The current version and its metadata, refusing a table the index
    * was never built on or is not compatible with. Writes run it under
    * the table lock. */
  private[store] def built(store: SnapshotStore, table: String, doing: String)
      : (Long, Map[String, String]) = {
    val v = store.currentVersion(table)
    if (v == 0)
      throw new IllegalStateException(
        s"$table: build the index before $doing ($name.build)")
    val meta = store.metaForVersion(table, v)
    checkCompatible(meta, table)
    (v, meta)
  }

  /** One committed build parameter (`<prefix><key>`, e.g. `dedup.bands`),
    * refusing metadata that lacks it. */
  protected def param(meta: Map[String, String], key: String): String = {
    val k = chain.keyPrefix + key
    meta.getOrElse(k, throw new IllegalStateException(
      s"no committed $name metadata '$k' — build the index first ($name.build)"))
  }

  /** Commit `rows` as a fresh full snapshot (build or rebuild) in the
    * index's layout: the chain resets and `params` — unprefixed keys,
    * read back through [[param]] — ride in the metadata. */
  protected def commitBuild(store: SnapshotStore, table: String,
                            rows: DataFrame, params: Map[String, String])
      : Long =
    store.commit(table, rows, sortKey = Some(foldSortKey),
      meta = chain.resetMeta ++
        params.map { case (k, v) => (chain.keyPrefix + k) -> v },
      statsCols = foldStatsCols, bloomCols = foldBloomCols)

  /** The APPEND transaction, written once for the family. Under the table
    * lock it refuses an unbuilt or incompatible table and skips a
    * replayed `once` (streamId, batchId) — None is the plain,
    * non-idempotent form. It then encodes the batch from the committed
    * metadata, persisted when `persist` (the body reads it several
    * times) and unpersisted once the commit returns. `body` maps
    * (version, metadata, encoding) to (result, delta, extra metadata);
    * the delta commits through [[DeltaChain.next]] with the watermark,
    * in the index's layout. `metaDeferred` maps the pre-append metadata
    * to entries the commit's own write pass computes (the text layouts'
    * observed nDocs/sumDl), evaluated after the parquet write.
    *
    * The body runs against the pre-append version (its dirs are
    * immutable, so its plans stay valid after the pointer flips) and
    * materializes its result before the commit: a failure anywhere
    * leaves the index unchanged, so a retry reruns the whole batch.
    * Returns (result, committed version), or None for a replay. */
  protected final def appendTx[R](store: SnapshotStore, table: String,
                                  once: Option[(String, Long)],
                                  compactEvery: Int, persist: Boolean = true,
                                  metaDeferred: Map[String, String] => Map[String, String] =
                                    _ => Map.empty)
                                 (encode: Map[String, String] => DataFrame)
                                 (body: (Long, Map[String, String], DataFrame) =>
                                   (R, DataFrame, Map[String, String]))
      : Option[(R, Long)] = {
    var enc: DataFrame = null
    var result: Option[R] = None
    var before = Map.empty[String, String]
    val committed =
      try store.transactMeta[Unit](table, sortKey = Some(foldSortKey),
          statsCols = foldStatsCols, bloomCols = foldBloomCols,
          metaDeferred = () => metaDeferred(before)) {
        val (v, meta) = built(store, table, "appending")
        if (once.exists { case (s, b) => DeltaChain.replayed(meta, s, b) })
          Left(())
        else {
          before = meta
          enc = encode(meta)
          if (persist) enc = enc.persist(StorageLevel.MEMORY_AND_DISK)
          val (r, delta, extraMeta) = body(v, meta, enc)
          result = Some(r)
          Right(chain.next(store, table, v, meta, delta, compactEvery,
            extraMeta ++ once.map { case (s, b) => DeltaChain.mark(s, b) }
              .getOrElse(Map.empty), layout = foldLayout))
        }
      } finally if (persist && enc != null) enc.unpersist(blocking = false)
    for (cv <- committed.toOption; r <- result) yield (r, cv)
  }

  /** The live index contents (delta-chain union, tombstones applied) as
    * of the current version. */
  def load(store: SnapshotStore, table: String): DataFrame = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    if (v > 0) checkCompatible(meta, table)
    chain.load(store, table, v, meta)
  }

  /** TAKEDOWN: delete rows by id (`ids` is a single-column frame of the
    * ids the index was built with) — an O(ids) tombstone commit
    * ([[DeltaChain]] epoch rule). A deleted id goes invisible to every
    * read and append path immediately and its bytes leave disk at the
    * next fold; pairs already emitted stand (they were correct when
    * computed), and a re-appended id serves again from its new rows.
    * The `*_deleted` oracle queries pin serve ≡ rebuild-without-docs.
    * Idempotent. Returns the committed tombstone version. */
  def deleteDocs(store: SnapshotStore, table: String, ids: DataFrame): Long =
    tombstone[Nothing](store, table) { (v, meta) =>
      Right(chain.tombNext(v, meta, ids.toDF(chain.tombIdCol)))
    }.merge

  /** [[deleteDocs]] under the exactly-once (streamId, batchId)
    * watermark ([[DeltaChain.tombNextOnce]]'s correctness rationale: a
    * redelivered delete batch would out-epoch rows re-ingested since).
    * Returns true if applied, false if skipped as a replay. */
  def deleteDocsOnce(store: SnapshotStore, table: String, ids: DataFrame,
                     streamId: String, batchId: Long): Boolean =
    tombstone[Unit](store, table) { (v, meta) =>
      chain.tombNextOnce(v, meta, ids.toDF(chain.tombIdCol), streamId, batchId)
    }.isRight

  /** A tombstone commit under the table lock, sorted and zoned by the
    * id column it holds. */
  private def tombstone[A](store: SnapshotStore, table: String)
      (rows: (Long, Map[String, String]) => Either[A, (DataFrame, Map[String, String])])
      : Either[A, Long] =
    store.transactMeta[A](table, sortKey = Some(chain.tombIdCol),
        statsCols = Seq(chain.tombIdCol)) {
      val (v, meta) = built(store, table, "deleting")
      rows(v, meta)
    }

  /** On-demand chain fold into a full snapshot (maintenance-triggered;
    * appends also fold themselves every `compactEvery`). Returns true if
    * a compacting commit happened, false if already compact — IDEMPOTENT,
    * and the commit is the store's atomic version flip, so a crash
    * mid-compaction leaves the old chain fully live. */
  def compactIndex(store: SnapshotStore, table: String): Boolean =
    store.transactMeta[Unit](table, sortKey = Some(foldSortKey),
        statsCols = foldStatsCols, bloomCols = foldBloomCols) {
      val v = store.currentVersion(table)
      if (v == 0) Left(())
      else {
        val meta = store.metaForVersion(table, v)
        checkCompatible(meta, table)
        chain.compactNow(store, table, v, meta, layout = foldLayout).toRight(())
      }
    }.isRight

  /** Drop every version dir NOT referenced by the current version's
    * chain (data members and pending tombstones) — the chain-aware
    * replacement for SnapshotStore.vacuum, which assumes every version
    * is a full snapshot. Time travel to the dropped versions is gone.
    * The compatibility check runs first: "live" computed from a chain
    * the latest build no longer writes (a text table migrated in place
    * to the other layout) would drop the current chain's members. */
  def vacuumIndex(store: SnapshotStore, table: String): Unit = {
    val v = store.currentVersion(table)
    if (v > 0) checkCompatible(store.metaForVersion(table, v), table)
    store.dropVersions(table,
      store.versions(table).toSet -- chain.liveVersions(store, table))
  }

  /** The maintenance fold policy: fold when the current chain has more
    * than `maxChainLength` data members, or whenever tombstones are
    * pending — a takedown's physical removal must not wait out the
    * length policy. */
  private[store] def foldDue(store: SnapshotStore, table: String,
                             maxChainLength: Int): Boolean = {
    val v = store.currentVersion(table)
    val meta = store.metaForVersion(table, v)
    chain.chainOf(meta, v).length > maxChainLength || chain.tombsPending(meta)
  }
}

object ChainedIndex {

  /** One row of the marker registry: the committed metadata key that
    * identifies a table's index, the kind tag [[graft.Graft.maintainAll]]
    * reports, and the kind's store-wide entry points. `maintain` takes
    * (store, table, maxChainLength, retrainAppendFraction); None marks
    * a derived table that is never maintained directly. `index` is the
    * shared lifecycle for the compact-only kinds. */
  private[graft] final case class Kind(
      marker: String, tag: String,
      maintain: Option[(SnapshotStore, String, Int, Option[Double]) => Unit],
      deleteDocs: (SnapshotStore, String, DataFrame) => Long,
      deleteDocsOnce: (SnapshotStore, String, DataFrame, String, Long) => Boolean,
      index: Option[ChainedIndex] = None)

  /** A compact-only kind: the fold policy, then the chain-aware vacuum. */
  private def chained(tag: String, idx: ChainedIndex): Kind =
    Kind(idx.chain.partsKey, tag,
      Some { (store, table, maxChainLength, _) =>
        if (idx.foldDue(store, table, maxChainLength))
          idx.compactIndex(store, table)
        idx.vacuumIndex(store, table)
      },
      idx.deleteDocs, idx.deleteDocsOnce, Some(idx))

  /** Both text layouts route to the layout-aware TextIndex entry points.
    * Champion policy is COMMITTED on the champion table (its m): refresh
    * at that m when stale; a table that never had champions built gets
    * none forced on it. */
  private def text(marker: String, tag: String): Kind =
    Kind(marker, tag,
      Some { (store, table, maxChainLength, _) =>
        val ct = TextIndex.champTable(table)
        val cv = store.currentVersion(ct)
        val championM =
          if (cv > 0) store.metaForVersion(ct, cv).get("text.champ.m").map(_.toInt)
          else None
        TextIndex.maintain(store, table, maxChainLength, championM)
      },
      TextIndex.deleteDocs, TextIndex.deleteDocsOnce)

  private def derivedCache(table: String): Nothing =
    throw new IllegalArgumentException(
      s"$table is a derived champion cache — delete on its postings " +
        "table; the staleness rule propagates")

  /** The registry, in match order. Champion tables carry `text.`-prefixed
    * keys too and must match their own marker first: they are DERIVED
    * caches, maintained by their postings table's maintenance and never
    * deleted from directly. */
  private[graft] val kinds: Seq[Kind] = Seq(
    Kind("text.champ.forVersion", "champion", None,
      (_, table, _) => derivedCache(table),
      (_, table, _, _, _) => derivedCache(table)),
    text("text.parts", "text"),
    chained("sem", SemIndex).copy(maintain = Some(SemIndex.maintain _)),
    chained("fingerprint", FingerprintIndex),
    chained("minhash", DedupIndex),
    chained("simhash", SimHashIndex),
    chained("embed", EmbedIndex),
    chained("vector", VectorIndex),
    // the unified positional store (r17)
    text("phrase.parts", "phrase"))

  /** The registry row of `table`'s committed marker (None: a plain
    * snapshot table, or a table not built yet). Metadata carries
    * forward, so a table rebuilt as another compact-only kind keeps the
    * old kind's stale chain key; it throws rather than let a fold or
    * vacuum follow the wrong chain and drop live members. */
  private[graft] def kindOf(store: SnapshotStore, table: String): Option[Kind] = {
    val meta = store.metaForVersion(table, store.currentVersion(table))
    val chained = kinds.filter(k => k.index.isDefined && meta.contains(k.marker))
    if (chained.size > 1) throw new IllegalStateException(s"$table carries " +
      s"compact-only markers ${chained.map(_.marker).mkString(", ")} — cannot pick one")
    kinds.find(k => meta.contains(k.marker))
  }

  /** The compact-only index behind `table`, resolved through the
    * registry; throws when the table is not one. */
  private[store] def of(store: SnapshotStore, table: String): ChainedIndex =
    kindOf(store, table).flatMap(_.index).getOrElse(
      throw new IllegalArgumentException(
        s"$table carries no compact-only index marker"))
}
