package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, Similarity}
import graft.store.{DedupIndex, EmbedIndex, SimHashIndex, SnapshotStore}

/** The bucket cap every banded-pair regime shares (graft.store.BandedPairs):
  * a bucket of exactly maxBucketSize members pairs, and one of
  * maxBucketSize + 1 is dropped whole — through the batch operator over
  * the whole corpus, and through an index append whose buckets straddle
  * the committed corpus and the batch (the cap counts the union).
  *
  * Each regime plants two groups of identical documents, which share
  * every one of their own buckets and none of the other group's: group A
  * with Cap members, group B with Cap + 1. The first two members of each
  * group are committed by the build, the rest arrive in one append. */
class BandedPairsSpec extends SparkSpec {
  import spark.implicits._

  private val Cap = 4
  private val groupA = 1L to Cap.toLong
  private val groupB = 101L to 101L + Cap
  private val committed = Set(1L, 2L, 101L, 102L)

  private def allPairs(ids: Seq[Long]): Set[(Long, Long)] =
    (for (a <- ids; b <- ids if a < b) yield (a, b)).toSet

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a"), col("id_b")).as[(Long, Long)].collect().toSet

  /** One regime: its planted corpus (id first), its batch operator and its
    * index (build over the committed rows, then append the batch, both
    * under the given cap). */
  private case class Regime(
      name: String,
      corpus: () => DataFrame,
      batch: (DataFrame, Int) => DataFrame,
      index: (SnapshotStore, DataFrame, DataFrame, Int) => DataFrame)

  private val Dim = 8
  private val unit = Seq.tabulate(Dim)(i => if (i == 0) 1.0 else 0.0)

  private def embedding(floatExchangeMinDim: Int, label: String) = Regime(
    s"embedding ($label)",
    // antipodal vectors: every plane separates them, so no shared bucket
    () => (groupA.map(i => (i, unit)) ++ groupB.map(i => (i, unit.map(-_))))
      .toDF("id", "vec"),
    (df, cap) => Similarity.embeddingNearDupPairs(df, "id", "vec", Dim,
      threshold = 0.9, nTables = 4, bitsPerTable = EmbedIndex.autoBits(100, cap),
      maxBucketSize = cap, floatExchangeMinDim = floatExchangeMinDim),
    { (store, base, batch, cap) =>
      EmbedIndex.build(store, "t", base, Dim, 0.9, nTables = 4,
        expectedCorpus = 100, maxBucketSize = cap)
      EmbedIndex.appendBatchOnce(store, "t", batch, "s", 0L,
        floatExchangeMinDim = floatExchangeMinDim).get
    })

  private val regimes = Seq(
    Regime("minhash",
      () => (groupA.map(i => (i, "the quick brown fox jumps over the lazy dog by the river")) ++
        groupB.map(i => (i, "lorem ipsum dolor sit amet consectetur adipiscing elit sed do")))
        .toDF("id", "text"),
      (df, cap) => Dedup.nearDuplicatePairs(df, "text", "id", maxBucketSize = cap),
      { (store, base, batch, cap) =>
        DedupIndex.build(store, "t", base, "text", "id")
        DedupIndex.appendBatch(store, "t", batch, "text", "id",
          maxBucketSize = cap)
      }),
    Regime("simhash",
      // complementary hashes: Hamming distance 64, no block in common
      () => (groupA.map(i => (i, 0x0123456789ABCDEFL)) ++
        groupB.map(i => (i, ~0x0123456789ABCDEFL))).toDF("id", "sh64"),
      (df, cap) => Dedup.simhashPairsFromHashes(df, 3, maxBucketSize = cap,
        nBlocks = 7),
      { (store, base, batch, cap) =>
        SimHashIndex.build(store, "t", base, nBlocks = 7, maxHamming = 3,
          maxBucketSize = cap)
        SimHashIndex.appendBatchOnce(store, "t", batch, "s", 0L).get
      }),
    embedding(Int.MaxValue, "double path"),
    embedding(0, "float path"))

  for (r <- regimes) {
    test(s"${r.name}: a bucket of maxBucketSize members pairs, " +
        "one of maxBucketSize + 1 is dropped whole") {
      val corpus = r.corpus().repartition(2)
      // control: one more slot and group B pairs too
      assert(pairSet(r.batch(corpus, Cap + 1)) == allPairs(groupA) ++ allPairs(groupB))
      assert(pairSet(r.batch(corpus, Cap)) == allPairs(groupA),
        "batch operator: group A must pair and group B be dropped whole")

      val inBase = col("id").isin(committed.toSeq: _*)
      val store = new SnapshotStore(TempDirs.create("graft-banded").toString, spark)
      val appended = r.index(store, corpus.filter(inBase), corpus.filter(!inBase), Cap)
      // the append emits the pairs that touch the batch: all of group A's
      // but the committed (1, 2); group B's union bucket is over the cap
      assert(pairSet(appended) == allPairs(groupA) - ((1L, 2L)),
        "index append: group A must pair and group B be dropped whole")
      appended.unpersist(blocking = false)
    }
  }
}
