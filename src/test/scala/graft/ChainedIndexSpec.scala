package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Dedup
import graft.store._

/** The lifecycle contract of the shared [[ChainedIndex]] body, driven
  * through the marker registry exactly as Graft dispatches it. The body
  * exists once, so one row per declaration that differs is enough:
  * SimHashIndex (the default fold layout), SemIndex (its own fold sort
  * and zone-map columns, and its own maintain row) and VectorIndex
  * (`neighbor_id` tombstones and the `checkCompatible` scheme check). Only
  * what TombstoneSpec and GraftMaintainSpec leave open is pinned here:
  *  - a replayed `deleteDocsOnce` returns false and commits nothing;
  *  - a vacuum before the fold keeps the tombstone member (and so the
  *    delete stays visible);
  *  - `compactIndex` folds once (true), then is a no-op (false, version
  *    unchanged);
  *  - deletes on a derived champion cache or an unmarked table throw.
  * Text and phrase keep their own delete; TombstoneSpec pins both. */
class ChainedIndexSpec extends SparkSpec {
  import spark.implicits._

  private def docs: DataFrame =
    (0L until 12L).map(i => i -> s"alpha w${i % 5} beta tok$i end")
      .toDF("doc_id", "text")

  private def vecs(n: Int): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(5)
    (0L until n.toLong).map(i => i -> Array.fill(16)(r.nextFloat() - 0.5f))
  }

  /** One store for every case; each case owns its tables. */
  private lazy val store = new SnapshotStore(
    TempDirs.create("graft-chained").toString, spark)

  /** (kind tag, index, the id column of its live rows, build `table`). */
  private val rows: Seq[(String, ChainedIndex, String, String => Unit)] = Seq(
    ("simhash", SimHashIndex, "id", t => {
      SimHashIndex.build(store, t, docs.select(col("doc_id").as("id"),
        Dedup.simhash64(col("text")).as("sh64")), nBlocks = 4, maxHamming = 3)
      ()
    }),
    ("sem", SemIndex, "id", t => {
      SemIndex.build(store, t, vecs(12).toDF("id", "vec"), dim = 16,
        eps = 0.999, nClusters = 1)
      ()
    }),
    ("vector", VectorIndex, "neighbor_id", t => {
      VectorIndex.build(store, t, vecs(20).toDF("vec_id", "embedding"),
        "vec_id", "embedding", dim = 16, nLists = 4, m = 4, kCodes = 16)
      ()
    }))

  for ((kind, idx, idCol, build) <- rows) {
    test(s"$kind: the lifecycle contract holds through its registry row") {
      val t = s"${kind}_t"
      build(t)
      assert(ChainedIndex.kindOf(store, t).map(_.tag).contains(kind),
        s"$kind must resolve through its own registry row")
      val gone = Seq(3L).toDF("id")
      def visible(): Long = idx.load(store, t).filter(col(idCol) === 3L).count()
      assert(visible() > 0)

      assert(Graft.deleteDocsOnce(store, t, gone, "tdq", 0L))
      val tombV = store.currentVersion(t)
      assert(!Graft.deleteDocsOnce(store, t, gone, "tdq", 0L),
        "a replayed delete batch must be skipped")
      assert(store.currentVersion(t) == tombV,
        "a skipped replay must commit nothing")
      idx.vacuumIndex(store, t)
      assert(store.versions(t).contains(tombV),
        "a vacuumed tombstone would resurrect its rows")
      assert(visible() == 0)

      // pending tombstones make the chain foldable; the second call
      // finds a full snapshot and commits nothing
      assert(idx.compactIndex(store, t))
      val folded = store.currentVersion(t)
      assert(!idx.compactIndex(store, t))
      assert(store.currentVersion(t) == folded)
      assert(visible() == 0)
    }
  }

  test("champion caches and unmarked tables refuse both delete forms") {
    TextIndex.build(store, "docs_text", docs, "text", "doc_id")
    TextIndex.refreshChampions(store, "docs_text", m = 4)
    store.commit("plain", docs)
    assert(ChainedIndex.kindOf(store, "docs_text").map(_.tag).contains("text"))
    assert(ChainedIndex.kindOf(store, "docs_text__champ").map(_.tag)
      .contains("champion"))
    val gone = Seq(3L).toDF("doc_id")
    for (t <- Seq("docs_text__champ", "plain")) {
      val v = store.currentVersion(t)
      intercept[IllegalArgumentException](Graft.deleteDocs(store, t, gone))
      intercept[IllegalArgumentException](
        Graft.deleteDocsOnce(store, t, gone, "tdq", 0L))
      assert(store.currentVersion(t) == v, s"$t was written")
    }
  }
}
