package graft

import graft.store._

/** Operator-facing entry points that span the whole store, rather than
  * one index (reference analog: none — its single mutable table needs
  * no maintenance; a lakehouse of delta-chained index tables does).
  *
  * [[maintainAll]] is the ONE call a scheduler runs: every persistent
  * index in this library identifies itself through a committed
  * metadata marker, and one ordered marker registry
  * ([[graft.store.ChainedIndex.kinds]]) maps the marker to the index's
  * maintenance and takedown entry points — for [[maintainAll]],
  * [[deleteDocs]], [[deleteDocsOnce]] and CurationIngest alike. The
  * operator keeps no list of which table is which index type: add an
  * index table, and the next maintenance cycle covers it. */
object Graft {

  /** What [[maintainAll]] did to one table — returned for logs/specs. */
  final case class MaintenanceAction(table: String, kind: String)

  /** Apply every index's maintenance policy across the whole store in
    * one idempotent call — what an operator actually schedules (cron /
    * post-ingest hook), instead of wiring per-index maintain calls for
    * each table they create:
    *
    *  - delta chains longer than `maxChainLength` members fold into a
    *    full snapshot (every index type),
    *  - TextIndex champion tables refresh when stale, at the m they
    *    were COMMITTED with (a postings table without champions gets
    *    none forced on it),
    *  - SemIndex retrains when its committed drift counters exceed
    *    `retrainAppendFraction` (None disables retraining),
    *  - dead version dirs outside each live chain are vacuumed.
    *
    * Tables without a known index marker (plain snapshot tables,
    * curation lineage/catalog) are left untouched. Curation ingest
    * prefixes need no special casing: their `_fp`/`_nd` tables ARE
    * fingerprint/minhash/simhash/embed index tables and self-identify.
    *
    * Crash-window contract: every step is one index-level maintenance
    * call whose commit is the store's atomic version flip (the
    * per-index compaction/refresh/retrain pins in DedupIndexSpec,
    * TextIndexSpec, SemIndexSpec…), so a crash mid-`maintainAll`
    * leaves every table either fully maintained or exactly as it was —
    * rerunning completes the remainder and re-running a completed pass
    * is a no-op (version numbers unchanged; GraftMaintainSpec pins
    * both). Honor consume-before-vacuum: like the per-index calls,
    * schedule this only when no outstanding append's pair frame is
    * still unmaterialized.
    *
    * Returns one action row per maintained table (skipped tables are
    * absent). */
  def maintainAll(store: SnapshotStore, maxChainLength: Int = 4,
                  retrainAppendFraction: Option[Double] = Some(0.5))
      : Seq[MaintenanceAction] =
    store.tables.flatMap { table =>
      ChainedIndex.kindOf(store, table).flatMap { k =>
        k.maintain.map { m =>
          m(store, table, maxChainLength, retrainAppendFraction)
          MaintenanceAction(table, k.tag)
        }
      }
    }

  /** Build THE text index for a corpus — the default path (r18,
    * closing the r17 layout decision): the unified POSITIONAL
    * (pos-vb-v2) layout, which serves BOTH ranked retrieval (the
    * TextIndex exact/champion/MaxScore paths read it through a slim
    * projection in which parquet column pruning never touches the
    * position payload) AND exact-phrase/proximity queries — one build,
    * one append path, one champion/maintenance cycle, one takedown
    * path. At rest it measured 2.417 GB vs the postings-only layout's
    * 1.665 GB at the 5M-doc flagship: ~45% more bytes for the whole
    * phrase capability, and no second store (r16 kept BOTH tables —
    * 3.1 GB and two maintenance cycles).
    *
    * A corpus that will NEVER run a phrase query and wants the slimmer
    * at-rest footprint remains first-class: build it with
    * [[graft.store.TextIndex.build]] (standalone postings layout —
    * servable by every BM25 path, oracle-pinned by
    * `retrieve_bm25_postings`). */
  def buildTextIndex(store: SnapshotStore, table: String,
                     corpus: org.apache.spark.sql.DataFrame,
                     textCol: String, idCol: String,
                     corpusTag: Option[String] = None): Long =
    PhraseIndex.build(store, table, corpus, textCol, idCol, corpusTag)

  /** TAKEDOWN across the store: delete `ids` (a single-column frame of
    * document/vector ids) from the named index table, dispatched by the
    * committed metadata marker exactly like [[maintainAll]] — the one
    * call an operator wires a takedown queue to, per affected table.
    * O(ids) tombstone commit; serving reflects the delete immediately,
    * the next [[maintainAll]] cycle folds the bytes off disk. Text
    * tables (both layouts) route to the layout-aware TextIndex entry
    * point. Throws on a derived champion cache (delete on its postings
    * table; the staleness rule propagates) and on tables that are not a
    * known index (plain snapshot tables delete through
    * [[graft.operators.Mutations]] M4/M5). */
  def deleteDocs(store: SnapshotStore, table: String,
                 ids: org.apache.spark.sql.DataFrame): Long =
    indexKind(store, table).deleteDocs(store, table, ids)

  /** [[deleteDocs]] under the shared exactly-once (streamId, batchId)
    * watermark — what a TAKEDOWN QUEUE consumer (foreachBatch over a
    * stream of deletion requests) calls per micro-batch and per
    * affected table. Replay protection here is a CORRECTNESS matter,
    * not frugality: tombstones hide rows by member-version epoch, so
    * an at-least-once redelivery of an old delete batch would land at
    * a higher epoch and silently hide documents legitimately
    * RE-INGESTED since the original delete ([[store.DeltaChain
    * .tombNextOnce]]). Returns true if applied, false on replay. */
  def deleteDocsOnce(store: SnapshotStore, table: String,
                     ids: org.apache.spark.sql.DataFrame,
                     streamId: String, batchId: Long): Boolean =
    indexKind(store, table).deleteDocsOnce(store, table, ids, streamId, batchId)

  private def indexKind(store: SnapshotStore, table: String): ChainedIndex.Kind =
    ChainedIndex.kindOf(store, table).getOrElse(
      throw new IllegalArgumentException(
        s"$table carries no known index marker — takedown applies to the " +
          "persistent index family; mutate plain tables via Mutations"))

  /** Wire a TAKEDOWN QUEUE to the whole store: every micro-batch of
    * deletion ids (a single-column stream — one shared id domain across
    * `tables`, the curation-pipeline shape where doc ids key every
    * derived index) is applied to each named table via
    * [[deleteDocsOnce]] under ONE (streamId, batchId) watermark per
    * table. Cross-table application is deliberately NOT atomic — each
    * table's watermark advances with its own commit — and does not need
    * to be: a crash between tables leaves the batch applied to a prefix,
    * and foreachBatch's at-least-once replay completes the rest while
    * the already-applied tables skip it (their watermark), so the
    * store converges to exactly-once per table with no cross-table
    * coordination. The index family's maintainFromStream contract,
    * pointed at deletes. Caller stops the query; schedule
    * [[maintainAll]] as usual to fold the tombstones off disk. */
  def takedownFromStream(store: SnapshotStore, tables: Seq[String],
                         stream: org.apache.spark.sql.DataFrame,
                         checkpointDir: String,
                         streamId: String = "takedown")
      : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          // batch is read once per table: persist the micro-batch
          // (takedown-sized) instead of re-running its source N times
          batch.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try tables.foreach { t =>
            deleteDocsOnce(store, t, batch, streamId, batchId); ()
          } finally batch.unpersist(blocking = false)
        }
      }
      .start()
}
