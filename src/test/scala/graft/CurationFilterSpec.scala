package graft

import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextFunctions => TF}
import graft.plans.{TextExpressions => TX}
import graft.queries.ExtensionQueries

/** Repetition-filter and decontamination queries: the registered entry
  * points must agree with independent brute-force formulations on real
  * testdata, and the decon operator must obey its benchmark/train
  * contract (no eval doc in the output, hit counts exact). */
class CurationFilterSpec extends SparkSpec {

  private val docsPath = s"$sfDir/documents.parquet"

  test("text_repetition equals brute-force counts and covers every doc") {
    val docs = spark.read.parquet(docsPath)
    val out = ExtensionQueries.textRepetition(spark, sfDir)
    assert(out.count() === docs.count(), "one row per document")

    // Brute force: explode 2-/3-gram windows, count per (doc, gram).
    def brute(n: Int) = docs
      .select(col("doc_id"), TF.tokens(col("text")).as("tk"))
      .select(col("doc_id"),
        explode(when(size(col("tk")) < n, array().cast("array<string>"))
          .otherwise(transform(sequence(lit(0), size(col("tk")) - n),
            i => concat_ws(" ", slice(col("tk"), i + 1, lit(n)))))).as("g"))
      .groupBy(col("doc_id"), col("g")).count()
    val ref2 = brute(2).groupBy("doc_id")
      .agg(sum("count").as("t2"), max("count").as("m2"))
    val ref3 = brute(3).groupBy("doc_id")
      .agg(sum("count").as("t3"), (sum("count") - count(lit(1))).as("d3"))
    val joined = out
      .join(ref2, Seq("doc_id"), "left").join(ref3, Seq("doc_id"), "left")
    val bad = joined.filter(
      col("ng2_total") =!= coalesce(col("t2"), lit(0L)) ||
      col("ng2_top")   =!= coalesce(col("m2"), lit(0L)) ||
      col("ng3_total") =!= coalesce(col("t3"), lit(0L)) ||
      col("ng3_dup")   =!= coalesce(col("d3"), lit(0L))).count()
    assert(bad === 0, "repetition counts diverge from brute force")

    // The Gopher thresholds are ratios of these integers — exactness of
    // a threshold decision needs no floats: top-2-gram fraction > 0.2
    // ⟺ 5·top > total.
    val flagged = out.filter(col("ng2_top") * 5 > col("ng2_total")).count()
    assert(flagged >= 0) // computable; count depends on corpus
  }

  test("decon overlap counts match a collected-benchmark brute force") {
    val docs = spark.read.parquet(docsPath)
    val out = ExtensionQueries.deconDocs(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // no benchmark (eval-slice) doc may appear in the training output
    assert(out.keys.forall(_ % 23 != 0), "eval doc leaked into decon output")

    // brute force: collect the benchmark gram set to the driver, then
    // count per-train-doc distinct-gram membership locally (n = 4, the
    // registered query's width)
    val grams = TX.wordShingles(TF.tokens(col("text")), 4)
    val benchSet = docs.filter(col("doc_id") % 23 === 0)
      .select(explode(grams).as("g")).distinct()
      .collect().map(_.getString(0)).toSet
    val expected = docs.filter(col("doc_id") % 23 =!= 0)
      .select(col("doc_id"), grams.as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).count(benchSet).toLong)
      .filter(_._2 > 0L).toMap
    assert(out === expected, "decon hit counts diverge from brute force")
    assert(expected.nonEmpty,
      "fixture produced zero contamination — test has no signal")
  }

  test("oversized-benchmark fallback path emits identical hit counts") {
    // Force fusedProbeMaxHashes below the eval set size so the
    // explode + broadcast-semi-join fallback engages; output must be
    // row-identical to the in-expression probe path.
    val docs = spark.read.parquet(docsPath)
    val bench = docs.filter(col("doc_id") % 23 === 0)
    val train = docs.filter(col("doc_id") % 23 =!= 0)
    val fused = Dedup.benchmarkOverlap(train, bench, "text", "doc_id", n = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fallback = Dedup.benchmarkOverlap(train, bench, "text", "doc_id",
        n = 4, fusedProbeMaxHashes = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fused === fallback, "fallback path diverged from fused probe")
  }

  test("decontamination composes with streaming ingest (per-batch ≡ batch)") {
    // Decon is per-document (no cross-doc state), so a crawl stream can
    // run the SAME operator inside foreachBatch and the union of
    // per-micro-batch hits must equal the one-shot batch run. The
    // benchmark set is fixed (a batch frame) — the realistic topology.
    import java.nio.file.Files
    val docs = spark.read.parquet(docsPath)
    val bench = docs.filter(col("doc_id") % 23 === 0)
    val train = docs.filter(col("doc_id") % 23 =!= 0)
    val inDir = TempDirs.create("graft-decon-in")
    val ckpt = TempDirs.create("graft-decon-ck")
    val results = scala.collection.mutable.Map[Long, Long]()
    val query = spark.readStream.schema(docs.schema).parquet(inDir.toString)
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val hits = Dedup.benchmarkOverlap(batch, bench, "text", "doc_id", n = 4)
          .collect()
        results.synchronized {
          hits.foreach(r => results += r.getLong(0) -> r.getLong(1))
        }
        ()
      }
      .start()
    try {
      def arrive(half: org.apache.spark.sql.DataFrame, tag: String): Unit = {
        val stage = TempDirs.create(s"graft-decon-$tag")
        half.coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = Files.list(stage).filter(_.toString.endsWith(".parquet"))
          .findFirst().get()
        Files.copy(part, inDir.resolve(s"$tag.parquet"))
        query.processAllAvailable()
      }
      arrive(train.filter(col("doc_id") % 2 === 0), "even")
      arrive(train.filter(col("doc_id") % 2 =!= 0), "odd")
    } finally query.stop()

    val expected = ExtensionQueries.deconDocs(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(results.toMap === expected,
      "streamed per-batch decon diverged from the batch operator")
  }

  test("mix_temperature: α=1/2 weights relative to the largest group") {
    val docs = spark.read.parquet(docsPath)
    val out = ExtensionQueries.mixTemperature(spark, sfDir).collect()
    assert(out.length ===
      docs.select(col("lang")).distinct().count(), "one row per language")
    val byLang = out.map(r => r.getString(0) ->
      ((r.getLong(1), r.getDouble(3), r.getLong(4)))).toMap
    val maxDocs = byLang.values.map(_._1).max
    byLang.foreach { case (lang, (n, w, q)) =>
      assert(w > 0.0 && w <= 1.0, s"$lang weight out of range: $w")
      assert(math.abs(w - math.sqrt(n.toDouble) / math.sqrt(maxDocs.toDouble)) == 0.0,
        s"$lang weight diverges from sqrt ratio")
      assert(q === math.floor(100000.0 * math.sqrt(n.toDouble) / math.sqrt(maxDocs.toDouble)).toLong)
      if (n == maxDocs) { assert(w === 1.0); assert(q === 100000L) }
    }
  }

  test("mix_sampled hash bucket decorrelates from ingest order (why not doc_id % 100)") {
    // The r10 sample keyed on `doc_id % 100`: ids are assigned in ingest
    // order, so that filter keeps a PERIODIC stripe of the ingest
    // sequence — a corpus interleaved round-robin across sources with a
    // period sharing a factor with 100 (batch loaders, sharded id
    // blocks) lands whole stripes in or out of the sample instead of
    // sampling each stratum uniformly. The multiplicative hash must
    // break exactly that structure while staying a pure integer chain
    // (oracle-exact; asserted against DuckDB by the mix_sampled row).
    val ids = spark.range(0, 10000)
      .select(col("id"), ExtensionQueries.mixHashBucket(col("id")).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val buckets = ids.map(_._2)
    assert(buckets.forall(b => b >= 0 && b < 100), "bucket range")
    // All 100 buckets are hit, roughly uniformly (10k ids -> mean 100/bucket).
    val hist = buckets.groupBy(identity).view.mapValues(_.length)
    assert(hist.size === 100, "every bucket populated")
    assert(hist.values.min > 50 && hist.values.max < 200, "rough uniformity")
    // The id-modulus pathology: ids in one ingest stripe (id % 100 == k)
    // all share a bucket under the old scheme. Under the hash they
    // spread over ~all buckets.
    val stripe = ids.filter(_._1 % 100 == 7).map(_._2)
    assert(stripe.distinct.length > 60,
      "an ingest-period stripe must spread across buckets, not stay in one")
    // Adjacent ids land in unrelated buckets (no residual periodicity).
    val adjacentSame = ids.sortBy(_._1).sliding(2)
      .count { case Array((_, a), (_, b)) => a == b }
    assert(adjacentSame < 300, s"adjacent-id bucket collisions: $adjacentSame")
  }

  test("curate_filtered equals the composition of its pinned stages") {
    // Rebuild the funnel from the independently oracle-pinned pieces — exact-dedup
    // keep set, decon hits, per-doc repetition counts, per-doc stats —
    // composed in DataFrame space, and require group-for-group equality.
    val docs = spark.read.parquet(docsPath)
    val train = docs.filter(col("doc_id") % 23 =!= 0)
    val keptIds = Dedup.dropExactDuplicates(train, "text", "doc_id")
      .select(col("doc_id"))
    val cont = ExtensionQueries.deconDocs(spark, sfDir).select(col("doc_id"))
    val rep = ExtensionQueries.textRepetition(spark, sfDir)
    val stats = ExtensionQueries.textStats(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("digit_ratio"))
    val expected = train
      .join(keptIds, Seq("doc_id"), "left_semi")
      .join(cont, Seq("doc_id"), "left_anti")
      .join(rep, Seq("doc_id")).join(stats, Seq("doc_id"))
      .filter(col("ng2_top") * 5 <= col("ng2_total"))
      .filter(col("ng3_dup") * 50 <= col("ng3_total") * 9)
      .filter(col("n_tokens").between(5, 5000) && col("digit_ratio") < 0.3)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    val actual = ExtensionQueries.curateFiltered(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(actual === expected, "composed funnel diverged from its stages")
    assert(actual.nonEmpty && actual.values.map(_._1).sum > 0)
  }

  test("curate_scored is curate_filtered plus the learned margin gate") {
    import graft.functions.Featurize
    val docs = spark.read.parquet(docsPath)
    val weights = Featurize.fixtureWeights(64)
    // the margin gate composed OUTSIDE the operator, on top of the
    // independently-verified funnel stages
    val train = docs.filter(col("doc_id") % 23 =!= 0)
    val keptIds = Dedup.dropExactDuplicates(train, "text", "doc_id")
      .select(col("doc_id"))
    val cont = ExtensionQueries.deconDocs(spark, sfDir).select(col("doc_id"))
    val rep = ExtensionQueries.textRepetition(spark, sfDir)
    val stats = ExtensionQueries.textStats(spark, sfDir)
      .select(col("doc_id"), col("n_tokens"), col("digit_ratio"))
    val expected = train
      .join(keptIds, Seq("doc_id"), "left_semi")
      .join(cont, Seq("doc_id"), "left_anti")
      .join(rep, Seq("doc_id")).join(stats, Seq("doc_id"))
      .filter(col("ng2_top") * 5 <= col("ng2_total"))
      .filter(col("ng3_dup") * 50 <= col("ng3_total") * 9)
      .filter(col("n_tokens").between(5, 5000) && col("digit_ratio") < 0.3)
      .withColumn("margin",
        Featurize.qualityMargin(col("text"), weights, bias = 3L))
      .filter(col("margin") >= 0)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens").cast("long")).as("total_tokens"),
        sum(col("margin")).as("margin_sum"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val actual = ExtensionQueries.curateScored(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(actual === expected, "scored funnel diverged from its composition")
    // the gate must actually reject something at this corpus, and keep
    // something — otherwise the fixture threshold is not exercising both
    // branches
    val filteredTotal = ExtensionQueries.curateFiltered(spark, sfDir)
      .agg(sum(col("n_docs"))).collect()(0).getLong(0)
    val scoredTotal = actual.values.map(_._1).sum
    assert(scoredTotal > 0 && scoredTotal < filteredTotal,
      s"margin gate inert: $scoredTotal of $filteredTotal kept")
  }

  test("benchmarkOverlap flags planted eval text inside a training doc") {
    import spark.implicits._
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val train = Seq(
      (1L, "intro text then the quick brown fox jumps over it ends"),
      (2L, "completely unrelated content about spark physical plans"),
      (3L, "quick brown fox jumps over the lazy dog verbatim tail here"))
      .toDF("doc_id", "text")
    val hits = Dedup.benchmarkOverlap(train, bench, "text", "doc_id", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // doc 1 shares two 5-grams ("the quick brown fox jumps", "quick
    // brown fox jumps over"); doc 3 shares four ("quick brown fox jumps
    // over" … "jumps over the lazy dog"); doc 2 shares none.
    assert(hits === Map(1L -> 2L, 3L -> 4L))
  }
}
