package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExprUtils.{let, let2}
import graft.plans.TopKAggregate

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths, per the builder prompt:
  *  - `bruteForceTopK` — exact cosine top-k; the baseline. Cost O(N·Q):
  *    fine when the query set is small (it is broadcast; the corpus is
  *    scanned once, never shuffled).
  *  - `annTopK` — random-hyperplane LSH buckets; the 100 TB path. The
  *    corpus is bucketed ONCE (one codegen scan + shuffle on a short int
  *    key); each query probes only its own bucket ± multiprobe neighbors.
  *
  * All math is higher-order Column functions (`zip_with`/`aggregate`) —
  * codegen, no UDF, no MLlib dependency. Floats are widened to double
  * before multiply so accumulation is stable.
  */
object Similarity {

  /** Dot product of two equal-length float arrays — native compiled
    * expression (graft.plans.DotProduct); the HOF formulation
    * (`aggregate(zip_with(...))`) evaluates interpreted per element and
    * measured ~100× slower on the sf0.1 similarity workload. */
  def dot(a: Column, b: Column): Column =
    graft.plans.VectorExpressions.dotProduct(a, b)

  def l2Norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, 0.0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column =
    let2(dot(a, b), l2Norm(a) * l2Norm(b)) { (d, denom) =>
      when(denom === 0.0, lit(0.0)).otherwise(d / denom)
    }

  /** Unit-normalized copy of a float vector (array<double>); zero vectors
    * stay zero. Normalizing ONCE per row turns every downstream cosine
    * into a single dot product — at N·Q score volume that divides the
    * hot-loop work by ~3. */
  def unitVector(a: Column): Column =
    let(l2Norm(a)) { n =>
      // n is a lambda variable: without the let, the captured norm
      // subexpression re-evaluates (a full dot product) per ELEMENT.
      when(n === 0.0, transform(a, _ => lit(0.0)))
        .otherwise(transform(a, x => x.cast("double") / n))
    }

  /** Per-query top-k of scored candidate rows, two-phase.
    *
    * The obvious formulation — `row_number() over (partition by query_id
    * order by score desc)` — hash-exchanges EVERY scored row to the one
    * task owning its query and sorts the query's whole candidate set
    * there. For the full-scan paths (brute force, PQ-ADC) that is an
    * N-row single-task spill-sort per query: fine at 1 M rows, dead at
    * 100×. `bounded_top_k` is a TypedImperativeAggregate, so Spark runs
    * it two-phase: the partial (map-side) pass folds each partition's
    * rows into a k-entry heap, the exchange carries Q·partitions·k heap
    * entries instead of Q·N score rows, and the final merge per query is
    * a heap-merge. Ordering contract is identical to the window it
    * replaces: (score desc, neighbor_id asc), java.lang.Double.compare
    * total order — results are bit-for-bit the same.
    *
    * Output: (query_id, neighbor_id, <scoreName> rounded to 6, rank).
    * `roundScore = false` keeps the raw score — REQUIRED for internal
    * shortlists that feed refineExact, whose coverage fallback compares
    * the shortlist's ADC estimate against unrounded exact dots in one
    * heap ordering (rounding one side of that comparison would let a
    * ±5e-7 rounding step reorder near-ties between covered and
    * uncovered neighbors). */
  private def topKPerQuery(scored: DataFrame, scoreName: String, k: Int,
                           roundScore: Boolean = true): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(TopKAggregate.boundedTopK(col("neighbor_id"), col(scoreName), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"),
        col("col.neighbor_id").as("neighbor_id"),
        (if (roundScore) round(col("col.score"), 6) else col("col.score"))
          .as(scoreName),
        (col("pos") + 1).cast("int").as("rank"))

  /** Exact brute-force cosine top-k.
    *
    * `queries` must be small (it is broadcast): (queryIdCol, queryVecCol).
    * Returns (query_id, neighbor_id, sim, rank), rank 1..k per query,
    * ties broken by neighbor id for determinism.
    *
    * Plan: corpus scan → broadcast nested-loop join (no corpus shuffle) →
    * two-phase bounded top-k (topKPerQuery). The only shuffled data is the
    * partial heaps — Q·partitions·k (id, sim) entries, not the N·Q scored
    * rows and not the vectors. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, queryIdCol: String, queryVecCol: String,
                     k: Int = 10): DataFrame = {
    // Normalize each side once; the N·Q hot loop is then a single dot.
    val corpusN = corpus.select(col(idCol).as("neighbor_id"),
      unitVector(col(vecCol)).as("uv"))
    val queriesN = queries.select(col(queryIdCol).as("query_id"),
      unitVector(col(queryVecCol)).as("quv"))
    val scored = corpusN.crossJoin(broadcast(queriesN))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("uv"), col("quv")).as("sim"))
    topKPerQuery(scored, "sim", k)
  }

  /** Deterministic random hyperplanes (seeded), dim × nPlanes. */
  private[functions] def hyperplanes(dim: Int, nPlanes: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** LSH bucket id: sign bits of the vector against `nPlanes` hyperplanes,
    * packed into a long. Same planes ⇒ same bucketing for corpus and
    * queries. */
  def lshBucket(vec: Column, dim: Int, nPlanes: Int = 12, seed: Long = 42L): Column =
    graft.plans.VectorExpressions.hyperplaneBucket(vec, dim, nPlanes, seed)

  /** Approximate top-k with margin-ordered multiprobe: each query probes
    * its home bucket plus the `multiprobe` NEAREST perturbation buckets
    * (ranked by the summed |margin| of the flipped hyperplanes — the
    * buckets a true neighbor most plausibly fell into; see
    * graft.plans.HyperplaneProbes). Probe sets are nested in the budget,
    * so recall is monotone in `multiprobe` without re-bucketing the
    * corpus. `multiprobe = 0` probes the home bucket only.
    *
    * Scale shape: corpus bucketed once (shuffle on 8-byte key); query side
    * explodes to (bucket, query) pairs and joins bucket-to-bucket. Each
    * task handles one bucket's candidates; skew bounded by bucket count
    * (2^nPlanes ≫ executors). No candidate dedup pass is needed: probed
    * buckets are distinct and a corpus vector lives in exactly one. */
  def annTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, queryIdCol: String, queryVecCol: String,
              dim: Int, k: Int = 10, nPlanes: Int = 12,
              multiprobe: Int = 8, seed: Long = 42L): DataFrame = {
    import graft.plans.VectorExpressions.hyperplaneProbes
    val bucketed = corpus.select(col(idCol).as("neighbor_id"),
      unitVector(col(vecCol)).as("uv"),
      lshBucket(col(vecCol), dim, nPlanes, seed).as("bucket"))

    val qProbes = queries
      .select(col(queryIdCol).as("query_id"),
        unitVector(col(queryVecCol)).as("quv"),
        hyperplaneProbes(col(queryVecCol), dim, nPlanes,
          math.max(multiprobe, 0), seed).as("probes"))
      .withColumn("bucket", explode(col("probes")))
      .select(col("query_id"), col("quv"), col("bucket"))

    val scored = bucketed.join(broadcast(qProbes), Seq("bucket"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("uv"), col("quv")).as("sim"))

    topKPerQuery(scored, "sim", k)
  }

  // ---- IVF (inverted-file) ANN ----------------------------------------

  /** At-cut multiplicities up to this ride the single-job union fetch
    * (per-task shipping ≤ this many wide rows — ~400 KB at dim 768);
    * genuine duplicate floods take the two-job split. */
  private val TieFetchUnionCap = 64

  /** Representative bounded training sample: the `sampleSize` rows with the
    * SMALLEST xxhash64 of the vector bytes — a deterministic uniform draw
    * over the whole corpus, independent of file layout, partitioning, and
    * row order. A plain `limit(n)` takes rows from the first partitions:
    * on a real corpus laid out by source/crawl-date that sample describes
    * ONE shard and the trained quantizers inherit its bias corpus-wide.
    * Hash-order top-k plans as TakeOrderedAndProject (per-partition heap +
    * driver merge of n rows): one scan, fixed driver cost, no shuffle.
    * Vectors are unit-normalized on the driver; zero/non-finite vectors
    * are dropped (dirty rows must not steer the quantizers). */
  private[graft] def sampleUnitVectors(corpus: DataFrame, vecCol: String,
                                       sampleSize: Int): Array[Array[Double]] = {
    val hashed = corpus
      .select(col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
      .select(xxhash64(col("v")).as("h"), col("v"))
    // Two-phase draw (r16): the single-phase TakeOrdered on (h, v)
    // returned sampleSize WIDE rows from EVERY task — ~25 MB/task at
    // dim 768, which tripped spark.driver.maxResultSize on the hidim
    // corpus. Phase 1 finds the sampleSize-th smallest hash over
    // 8-byte rows (per-task results are KBs at any dim); phase 2
    // fetches just the matching vectors. Hash ties at the cut are
    // fetched through a BOUNDED limit (r16 ADVICE): a corpus with
    // massive exact-dup vectors puts arbitrarily many rows AT the cut
    // hash, and a `h <= cut` TakeOrdered would re-trip the wide-row
    // trap. Strictly-below rows number < sampleSize globally
    // (definition of the cut); at-cut rows share a hash — equal vector
    // bytes, collisions aside — so an arbitrary-but-bounded pick of
    // exactly the missing count is value-deterministic. The returned
    // vector MULTISET equals the single-phase form's
    // (|below| = sampleSize − nTied exactly).
    val cutRows = hashed.select(col("h"))
      .orderBy(col("h")).limit(sampleSize).collect()
    if (cutRows.isEmpty) return Array.empty
    val cut = cutRows.last.getLong(0)
    val nTied = cutRows.count(_.getLong(0) == cut)
    val fetched: Array[org.apache.spark.sql.Row] =
      if (nTied <= TieFetchUnionCap) {
        // common case (few at-cut rows in the budget): ONE phase-2 job —
        // the strictly-below rows union an nTied-limited at-cut branch,
        // whose LocalLimit caps every task at nTied wide rows (trap-free
        // at any duplication of the cut vector). A separate CollectLimit
        // job here cost sem_dedup ~+50% at sf0.1 (r17 bench window): its
        // incremental partition rounds re-scanned the corpus hunting for
        // the one at-cut row.
        hashed.filter(col("h") < cut).select(col("h"), col("v"))
          .unionByName(hashed.filter(col("h") === cut)
            .select(col("h"), col("v")).limit(nTied))
          .collect()
      } else {
        // tie flood: below-rows (< sampleSize globally) via a plain
        // collect; at-cut rows via CollectLimit of exactly the missing
        // count — bounded, and floods make the rows cheap to find
        hashed.filter(col("h") < cut).select(col("h"), col("v")).collect() ++
          hashed.filter(col("h") === cut)
            .select(col("h"), col("v")).limit(nTied).collect()
      }
    fetched.sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
      .filter(v => v.forall(java.lang.Double.isFinite) && v.exists(_ != 0.0))
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        v.map(_ / n)
      }
  }

  /** Train the IVF coarse quantizer: spherical k-means (Lloyd on the unit
    * sphere) over a BOUNDED sample of the corpus, on the driver.
    *
    * Scale rationale: IVF quantizers are always trained on a sample (the
    * centroids describe the density shape, not every point), so the only
    * driver-side materialization is `sampleSize` unit vectors — fixed
    * cost, independent of corpus size. The sample is a hash-ordered draw
    * (see sampleUnitVectors), so it is representative of the WHOLE corpus
    * even when the files are laid out by source or date. Assignment of the
    * full corpus to lists happens distributed, in one scan, via the
    * NearestCentroids compiled expression. Deterministic for a given
    * (corpus content, seed) — partitioning does not matter. */
  def trainIvfCentroids(corpus: DataFrame, vecCol: String, nLists: Int,
                        seed: Long = 42L, sampleSize: Int = 4096,
                        iters: Int = 10): Seq[Seq[Double]] =
    trainIvfCentroidsFromSample(
      sampleUnitVectors(corpus, vecCol, sampleSize), nLists, seed, iters)

  /** The degenerate single-list "quantizer": any centroid assigns every
    * vector to list 0, so no sample/train pass is owed (shared by
    * [[semDedupPairs]] and [[graft.store.SemIndex]]). */
  private[graft] def trivialCentroids(dim: Int): Seq[Seq[Double]] =
    Seq(Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0))

  /** [[trainIvfCentroids]] over a PRE-DRAWN unit-vector sample — lets a
    * builder that trains BOTH quantizers (IVF + PQ) share one
    * hash-ordered draw instead of paying the two-action sampling pass
    * twice (r19, guide §1.2). Bit-identical to the wrapper when handed
    * the same sample. */
  private[graft] def trainIvfCentroidsFromSample(
      sample: Array[Array[Double]], nLists: Int,
      seed: Long = 42L, iters: Int = 10): Seq[Seq[Double]] = {
    require(sample.length >= nLists,
      s"sample ${sample.length} smaller than nLists=$nLists")
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    // init: nLists distinct sample points
    var centroids = rnd.shuffle(sample.indices.toList).take(nLists)
      .map(sample(_).clone()).toArray

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nLists)(new Array[Double](dim))
      val counts = new Array[Int](nLists)
      sample.foreach { v =>
        var best = 0; var bestS = Double.NegativeInfinity
        var c = 0
        while (c < nLists) {
          val s = dot(v, centroids(c))
          if (s > bestS) { best = c; bestS = s }
          c += 1
        }
        val acc = sums(best)
        var i = 0
        while (i < dim) { acc(i) += v(i); i += 1 }
        counts(best) += 1
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c) // empty list keeps its centroid
        else {
          val m = sums(c)
          val norm = math.sqrt(dot(m, m))
          if (norm == 0.0) centroids(c) else m.map(_ / norm)
        }
      }.toArray
      it += 1
    }
    centroids.map(_.toSeq).toSeq
  }

  /** IVF ANN top-k: assign the corpus to `nLists` inverted lists by
    * nearest trained centroid (one compiled scan); each query probes its
    * `nProbe` nearest lists. On clustered real-world embeddings this
    * scans ~nProbe/nLists of the corpus at near-exact recall — the
    * data-learned counterpart of the data-oblivious hyperplane LSH.
    *
    * Scale shape: centroids ride inside the expression (no literal tree);
    * the corpus never shuffles (broadcast query probes join on list_id);
    * only the bounded partial top-k heaps shuffle (topKPerQuery). */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, queryIdCol: String, queryVecCol: String,
              k: Int = 10, nLists: Int = 64, nProbe: Int = 8,
              seed: Long = 42L,
              centroidsOpt: Option[Seq[Seq[Double]]] = None): DataFrame = {
    import graft.plans.VectorExpressions.nearestCentroids
    val centroids = centroidsOpt.getOrElse(
      trainIvfCentroids(corpus, vecCol, nLists, seed))
    val corpusN = corpus.select(col(idCol).as("neighbor_id"),
        unitVector(col(vecCol)).as("uv"))
      .withColumn("list_id",
        element_at(nearestCentroids(col("uv"), centroids, 1), 1))
    val qProbes = queries.select(col(queryIdCol).as("query_id"),
        unitVector(col(queryVecCol)).as("quv"))
      .withColumn("list_id",
        explode(nearestCentroids(col("quv"), centroids, nProbe)))
    val scored = corpusN.join(broadcast(qProbes), Seq("list_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("uv"), col("quv")).as("sim"))
    topKPerQuery(scored, "sim", k)
  }

  // ---- PQ (product quantization) ANN ----------------------------------

  /** Train PQ codebooks: per-subspace Lloyd k-means (L2) over a BOUNDED
    * unit-normalized sample, on the driver — the same fixed-cost,
    * hash-ordered-draw training posture as the IVF quantizer (centroids
    * describe the space, not every point; the sample must describe the
    * whole corpus, not its first partitions — see sampleUnitVectors).
    * Returns m × k × (dim/m) centroids. */
  def trainPqCodebooks(corpus: DataFrame, vecCol: String, dim: Int,
                       m: Int = 16, k: Int = 16, seed: Long = 42L,
                       sampleSize: Int = 4096, iters: Int = 10,
                       residualOf: Option[Seq[Seq[Double]]] = None)
      : Seq[Seq[Seq[Double]]] =
    trainPqCodebooksFromSample(
      // ≥32 samples per centroid: 8-bit codebooks (k=256) need more than
      // the 4096 default or the k-means is fitting noise.
      sampleUnitVectors(corpus, vecCol, math.max(sampleSize, 32 * k)),
      dim, m, k, seed, iters, residualOf)

  /** [[trainPqCodebooks]] over a PRE-DRAWN unit-vector sample (see
    * [[trainIvfCentroidsFromSample]] — the shared-draw form). The caller
    * must hand a sample of ≥ max(sampleSize, 32·k) draw size for the
    * same fitting quality. */
  private[graft] def trainPqCodebooksFromSample(
      raw: Array[Array[Double]], dim: Int, m: Int, k: Int,
      seed: Long = 42L, iters: Int = 10,
      residualOf: Option[Seq[Seq[Double]]] = None)
      : Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subDim = dim / m
    // residualOf = IVF centroids → train on (v − nearest centroid), the
    // IVFADC layout: within-list residuals are what the codes must rank,
    // and codebooks trained on raw vectors waste all their resolution on
    // the between-list structure the coarse quantizer already encodes.
    val sample: Array[Array[Double]] = residualOf match {
      case None => raw
      case Some(cents) =>
        val cm = cents.map(_.toArray).toArray
        raw.map { v =>
          var best = 0; var bestS = Double.NegativeInfinity
          var c = 0
          while (c < cm.length) {
            val cent = cm(c); val lim = math.min(v.length, cent.length)
            var s = 0.0; var i = 0
            while (i < lim) { s += v(i) * cent(i); i += 1 }
            if (s > bestS) { best = c; bestS = s }
            c += 1
          }
          val cent = cm(best)
          Array.tabulate(v.length)(i =>
            v(i) - (if (i < cent.length) cent(i) else 0.0))
        }
    }
    require(sample.length >= k, s"sample ${sample.length} < k=$k")
    val rnd = new scala.util.Random(seed)

    (0 until m).map { s =>
      val base = s * subDim
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, base, base + subDim))
      var cents = rnd.shuffle(sub.indices.toList).take(k)
        .map(sub(_).clone()).toArray
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](subDim))
        val counts = new Array[Int](k)
        sub.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var d = 0.0; var i = 0
            while (i < subDim) { val t = v(i) - cents(c)(i); d += t * t; i += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < subDim) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }.toArray
        it += 1
      }
      cents.map(_.toSeq).toSeq
    }
  }

  /** PQ ANN top-k: the corpus is encoded ONCE to m-byte-scale codes (a
    * ~16× cut of what the scan reads and the score stage touches — at
    * 100 TB of embeddings this is the difference between a memory-resident
    * index and disk thrash); each query precomputes an ADC lookup table;
    * scoring is m table-adds per pair instead of a dim-wide dot.
    *
    * Same join shape as the brute-force baseline (corpus never shuffles,
    * query side broadcast) — PQ compresses the per-pair cost and the
    * corpus bytes; combine with IVF list-pruning for the full FAISS-style
    * IVFPQ when both compute and memory need cutting.
    *
    * `refine > 1` adds the same FAISS-style exact re-rank as ivfPqTopK:
    * the ADC pass shortlists k·refine candidates, the true dot ranks
    * them (refineExact) — the memory-compressed-scan + exact-order
    * configuration for corpora that fit one inverted list. A
    * corpus-covering refine (k·refine ≥ N) removes ALL approximation,
    * which is how sim_pq_oracle pins this machinery to brute force.
    *
    * Score column naming contract (here, ivfPqTopK, VectorIndex.query):
    * an UNREFINED result names its score "adc" — it is a quantization
    * ESTIMATE of the cosine, and naming it "sim" would invite treating
    * it as one; every refined result names the exact score "sim".
    * Downstream code selecting the score column must branch on the
    * refine setting it asked for. */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, queryIdCol: String, queryVecCol: String,
             dim: Int, k: Int = 10, m: Int = 16, kCodes: Int = 16,
             seed: Long = 42L,
             codebooksOpt: Option[Seq[Seq[Seq[Double]]]] = None,
             refine: Int = 1): DataFrame = {
    import graft.plans.VectorExpressions.{pqAdc, pqEncode, pqLut}
    val codebooks = codebooksOpt.getOrElse(
      trainPqCodebooks(corpus, vecCol, dim, m, kCodes, seed))
    val encoded = corpus.select(col(idCol).as("neighbor_id"),
      pqEncode(unitVector(col(vecCol)), codebooks).as("codes"))
    val qLut = queries.select(col(queryIdCol).as("query_id"),
      pqLut(unitVector(col(queryVecCol)), codebooks).as("lut"))
    val scored = encoded.crossJoin(broadcast(qLut))
      .select(col("query_id"), col("neighbor_id"),
        pqAdc(col("codes"), col("lut"), kCodes).as("adc"))
    val shortlist = topKPerQuery(scored, "adc", math.max(k, k * refine),
      roundScore = refine <= 1)
    if (refine <= 1) shortlist
    else refineExact(shortlist,
      corpus.select(col(idCol).as("neighbor_id"), unitVector(col(vecCol)).as("uv")),
      queries, queryIdCol, queryVecCol, k)
  }

  /** IVFPQ top-k: IVF list pruning (compute: scan ~nProbe/nLists of the
    * corpus) composed with PQ code scoring (memory: ~16× fewer bytes per
    * stored vector) — the standard billion-scale ANN index layout. The
    * corpus is assigned to lists and PQ-encoded in ONE scan; queries
    * explode to their nProbe lists carrying their ADC lookup table; the
    * bucket join scores codes only. Candidate set identical to ivfTopK;
    * ordering is ADC-approximate like pqTopK.
    *
    * `refine` defaults to 128, picked from the measured 1M-vector
    * flagship curve at the production setting (nLists=1024, nProbe=16,
    * kCodes=256): recall@10 was r1=0.04, r8=0.16, r32=0.64, r128=1.00 —
    * within tight clusters ADC noise exceeds the neighbor gaps, so a
    * shallow shortlist silently ships single-digit recall while the
    * coarse quantizer looks perfect. The re-rank join is
    * shortlist-sized (k·refine rows per query), so the deeper default
    * costs little; lower it only with a measured recall curve for the
    * target corpus (SimilaritySpec pins the default's floor). */
  def ivfPqTopK(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, queryIdCol: String, queryVecCol: String,
                dim: Int, k: Int = 10, nLists: Int = 64, nProbe: Int = 8,
                m: Int = 16, kCodes: Int = 16, seed: Long = 42L,
                refine: Int = 128,
                centroidsOpt: Option[Seq[Seq[Double]]] = None,
                codebooksOpt: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    // One shared sample draw when both quantizers train here and their
    // draw sizes agree (kCodes ≤ 128 keeps PQ at the 4096 default) —
    // the hash-ordered draw is deterministic, so the shared sample is
    // bit-identical to two independent draws (r19, guide §1.2).
    val (centroids, codebooks) = (centroidsOpt, codebooksOpt) match {
      case (None, None) if math.max(4096, 32 * kCodes) == 4096 =>
        val sample = sampleUnitVectors(corpus, vecCol, 4096)
        val cents = trainIvfCentroidsFromSample(sample, nLists, seed)
        (cents, trainPqCodebooksFromSample(sample, dim, m, kCodes, seed,
          residualOf = Some(cents)))
      case _ =>
        val cents = centroidsOpt.getOrElse(
          trainIvfCentroids(corpus, vecCol, nLists, seed))
        (cents, codebooksOpt.getOrElse(
          trainPqCodebooks(corpus, vecCol, dim, m, kCodes, seed,
            residualOf = Some(cents))))
    }
    val encoded = ivfPqEncode(corpus, idCol, vecCol, centroids, codebooks)
    val shortlist = ivfPqScore(encoded, queries, queryIdCol, queryVecCol,
      centroids, codebooks, math.max(k, k * refine), nProbe, kCodes,
      roundScore = refine <= 1)
    if (refine <= 1) shortlist
    else refineExact(shortlist,
      corpus.select(col(idCol).as("neighbor_id"), unitVector(col(vecCol)).as("uv")),
      queries, queryIdCol, queryVecCol, k)
  }

  /** Exact re-rank of an ADC shortlist (FAISS-style refine): join the
    * shortlist's (query_id, neighbor_id) back to the full vectors, score
    * the true dot, keep the top k. ADC on m-subspace codes cannot resolve
    * cosine gaps below its quantization noise (within a tight cluster the
    * rank-10/rank-50 gap is ~0.005 — under the ~0.01–0.03 ADC error even
    * for residual codes), so the codes' job is the SHORTLIST (k·refine of
    * the ~corpus/nLists·nProbe scanned codes) and the exact pass ranks
    * it. Cost: one broadcast-semi-joined scan of the corpus restricted to
    * shortlisted ids — Q·k·refine exact dots, not corpus-sized. Output
    * matches ivfTopK: (query_id, neighbor_id, sim, rank).
    *
    * Coverage-safe: a shortlisted neighbor whose vector is ABSENT from
    * `corpusUnit` (e.g. an index that holds appended batches the caller's
    * corpus table predates) keeps its ADC estimate as the ranking score
    * instead of silently vanishing from the result — residual ADC
    * approximates the same dot product the exact pass computes, so the
    * scales are commensurable and the query still returns k neighbors.
    * With full coverage the fallback never fires and the output is
    * bit-identical to a pure exact re-rank. `shortlist` must carry its
    * ADC score in `scoreCol`. */
  private[graft] def refineExact(shortlist: DataFrame, corpusUnit: DataFrame,
                                 queries: DataFrame, queryIdCol: String,
                                 queryVecCol: String, k: Int,
                                 scoreCol: String = "adc"): DataFrame = {
    val quv = queries.select(col(queryIdCol).as("query_id"),
      unitVector(col(queryVecCol)).as("quv"))
    val sl = shortlist.select(col("query_id"), col("neighbor_id"),
      col(scoreCol).as("adc_est"))
    // Broadcast the (Q·k·refine)-row shortlist into the corpus scan — the
    // corpus must never shuffle for a re-rank.
    val exact = corpusUnit
      .join(broadcast(sl.select(col("query_id"), col("neighbor_id"))),
        Seq("neighbor_id"))
      .join(broadcast(quv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        dot(col("uv"), col("quv")).as("exact_sim"))
    // Left join keeps uncovered shortlist rows; both sides are
    // shortlist-sized (the corpus was already cut down by the inner join
    // above), so broadcasting the exact side keeps this exchange-free.
    val merged = sl.join(broadcast(exact), Seq("query_id", "neighbor_id"), "left")
      .select(col("query_id"), col("neighbor_id"),
        coalesce(col("exact_sim"), col("adc_est")).as("sim"))
    topKPerQuery(merged, "sim", k)
  }

  /** One-scan corpus side of IVFPQ: (neighbor_id, list_id, codes). This is
    * the persisted layout of a VectorIndex table — codes instead of
    * vectors is the ~16× byte cut. */
  private[graft] def ivfPqEncode(corpus: DataFrame, idCol: String,
                                 vecCol: String, centroids: Seq[Seq[Double]],
                                 codebooks: Seq[Seq[Seq[Double]]]): DataFrame = {
    import graft.plans.VectorExpressions.{ivfResidual, pqEncode}
    // Residual (IVFADC) encoding: codes quantize v − centroid(list), so
    // they carry the within-list structure ADC must rank (see IvfResidual).
    // `codebooks` must be residual-trained (trainPqCodebooks residualOf).
    corpus
      .select(col(idCol).as("neighbor_id"), unitVector(col(vecCol)).as("uv"))
      .select(col("neighbor_id"), ivfResidual(col("uv"), centroids).as("ir"))
      .select(col("neighbor_id"),
        col("ir.list_id").as("list_id"),
        pqEncode(col("ir.residual"), codebooks).as("codes"))
  }

  /** Query side of IVFPQ over an already-encoded corpus (fresh or loaded
    * from a VectorIndex snapshot). */
  private[graft] def ivfPqScore(encoded: DataFrame, queries: DataFrame,
                                queryIdCol: String, queryVecCol: String,
                                centroids: Seq[Seq[Double]],
                                codebooks: Seq[Seq[Seq[Double]]],
                                k: Int, nProbe: Int, kCodes: Int,
                                roundScore: Boolean = true): DataFrame = {
    import graft.plans.VectorExpressions.{centroidDots, pqAdc, pqLut}
    // Residual-ADC score: dot(q, v) ≈ dot(q, c_list) + dot(q, residual̂).
    // The centroid term rides the probe row (CentroidDots); the residual
    // term is the LUT/ADC pair over the residual-trained codebooks.
    val qProbes = queries
      .select(col(queryIdCol).as("query_id"), unitVector(col(queryVecCol)).as("quv"))
      .select(col("query_id"), pqLut(col("quv"), codebooks).as("lut"),
        explode(centroidDots(col("quv"), centroids, nProbe)).as("cd"))
      .select(col("query_id"), col("lut"),
        col("cd.list_id").as("list_id"), col("cd.cdot").as("cdot"))
    val scored = encoded.join(broadcast(qProbes), Seq("list_id"))
      .select(col("query_id"), col("neighbor_id"),
        (col("cdot") + pqAdc(col("codes"), col("lut"), kCodes)).as("adc"))
    topKPerQuery(scored, "adc", k, roundScore)
  }

  /** Embedding-cosine near-duplicate pairs: multi-table hyperplane LSH.
    *
    * A single hash table of b bits catches a cos-θ pair with probability
    * (1-θ/π)^b — too low for anything but near-identical vectors. Like
    * MinHash banding, `nTables` independent tables OR-ed together lift
    * recall to 1-(1-p)^T (cos 0.95 with 8×8: ≈0.99) while keeping the
    * per-table bucket join small. The embedding analog of
    * Dedup.nearDuplicatePairs — no cross join at any scale; candidate
    * volume is bounded by bucket size caps per table.
    *
    * `bitsPerTable = 0` (the default) sizes the table to the corpus:
    * ceil(log2(N·8 / maxBucketSize)), clamped to [8, 24]. Bucket count
    * must track corpus size — at 1M vectors a fixed 8-bit table (256
    * buckets) averages ~4k members, so EVERY bucket trips the cap and
    * recall silently collapses; 16 bits keeps the average ~15. A fixed
    * value is still accepted for reproducing a specific layout.
    *
    * LAZY contract (matches Dedup.simhashPairsFromHashes): returns an
    * unexecuted plan, persists nothing — multi-action consumers should
    * cache the result themselves. (The auto-sizing corpus count() is a
    * metadata-scale action, not a materialization of this plan.)
    *
    * `floatExchangeMinDim` is OPT-IN (default disabled — r16 review: a
    * silently-engaging gate would flip this public operator's lazy
    * contract to an eager persisted result at high dims, a cache leak
    * for contract-following callers). Opting in (e.g. pass
    * [[graft.store.EmbedIndex.DefaultFloatExchangeMinDim]]) is worth
    * it at production dims — the dim-768 flagship A/B measured the
    * float path 0.57× the classic one (embdedup_hidim_batch_*: 25.9 s
    * vs 45.1 s, identical pairs) — but the result then comes back
    * PERSISTED + materialized (the candidate count sizes the broadcast
    * gates): unpersist it when done. */
  /** Shared EXACT re-verify tail of every float-exchange path
    * ([[graft.store.EmbedIndex]] appends, [[graft.store.SemIndex]]
    * appends, the batch operators here — one implementation, the
    * LshKeyProbe consolidation rule): candidates (id_a, id_b) from the
    * float band are resolved to their stored DOUBLE unit vectors
    * through one candidate-restricted broadcast-semi lookup against
    * `uvSource` (id, uv — must cover every candidate id; duplicate ids
    * resolve to the deterministic lexicographic max, see the EmbedIndex
    * duplicate-id note) and re-filtered at the true threshold, so the
    * output is pair-for-pair the double path's — ids AND rounded cos.
    * `cand` must be persisted by the caller (read 3×: two id columns +
    * the join spine); `nCand` its counted size, which sizes the
    * broadcast gates with zero extra actions here. Returns a PERSISTED,
    * materialized (id_a, id_b, cos) frame — callers unpersist. */
  private[graft] def exactReverify(cand: DataFrame, nCand: Long,
                                   uvSource: DataFrame, threshold: Double,
                                   broadcastKeyLimit: Long): DataFrame = {
    import graft.store.BroadcastGate
    val needIds = cand.select(col("id_a").as("id"))
      .unionByName(cand.select(col("id_b").as("id"))).distinct()
    val uvNeeded = uvSource
      .join(BroadcastGate(needIds, 2L * nCand, broadcastKeyLimit),
        Seq("id"), "left_semi")
      .groupBy(col("id")).agg(max(col("uv")).as("uv"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val verified = cand
      .join(BroadcastGate(uvNeeded.select(col("id").as("id_a"),
          col("uv").as("uv_a")), 2L * nCand, broadcastKeyLimit),
        Seq("id_a"))
      .join(BroadcastGate(uvNeeded.select(col("id").as("id_b"),
          col("uv").as("uv_b")), 2L * nCand, broadcastKeyLimit),
        Seq("id_b"))
      .withColumn("cos", dot(col("uv_a"), col("uv_b")))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Stays persist + count, not a checkpoint: PlanSpec reads the eager
    // pair generators' plans through the cache, which a checkpoint hides.
    verified.count()
    uvNeeded.unpersist(blocking = false)
    verified
  }

  def embeddingNearDupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                            dim: Int, threshold: Double = 0.95,
                            nTables: Int = 8, bitsPerTable: Int = 0,
                            seed: Long = 42L,
                            maxBucketSize: Int = 2000,
                            floatExchangeMinDim: Int = Int.MaxValue)
      : DataFrame = {
    val bits =
      if (bitsPerTable > 0) bitsPerTable
      else {
        val n = math.max(1L, corpus.count())
        math.min(24, math.max(8,
          math.ceil(math.log(n * 8.0 / maxBucketSize) / math.log(2)).toInt))
      }
    // ONE shuffle, verify INSIDE the bucket. The previous shape (keys-only
    // buckets → count/anti-join cap → bucket-key self-join → dropDuplicates
    // → join vectors back → dot filter) was built on the assumption that
    // candidate pairs are sparse. On clustered corpora — the realistic
    // embedding distribution, and the flagship 1M-vector bench (1024 tight
    // clusters, within-cluster cos ≈ 0.986) — every bucket holds a whole
    // cluster (~1000 members, under the cap), so the self-join emitted
    // billions of candidate rows into a dropDuplicates that OOM'd
    // execution memory. Here the unit vectors ride the single bucket
    // shuffle (nTables × corpus rows — linear, spillable), a row_number
    // window caps degenerate buckets at bounded memory, and CosinePairs
    // computes the verify dot products in-bucket, emitting ONLY true
    // near-dups. The final distinct sees ≤ nTables × true-pair rows.
    // Cross-table duplicate verify work costs ≤ nTables× CPU on in-bucket
    // pairs — linear state, no quadratic materialization anywhere.
    // fused per-table keys (r15): one vector extraction + plain-array
    // plane dots for all nTables buckets, bit-identical to the
    // per-table lshBucket builder array it replaces
    val tableKeys = graft.plans.VectorExpressions
      .hyperplaneTableKeys(col(vecCol), dim, nTables, bits, seed)
    val rows = corpus
      .select(col(idCol).as("id"), unitVector(col(vecCol)).as("uv"),
        explode(tableKeys).as("tk"))
      .select(col("tk.table").as("table"), col("tk.bucket").as("bucket"),
        col("id"), col("uv"))
    if (graft.store.EmbedIndex.floatExchangeActive(dim, floatExchangeMinDim)) {
      // FLOAT exchange (r16, extending the r15 index-append mechanism
      // to the batch shape): the bucket exchange — here paid nTables
      // times per row — ships a float copy of the unit vector (the
      // bounded heap keeps the same smallest-id member set as the
      // row_number cap below), CosineCandidatesF emits candidates at
      // threshold − margin, and the shared exactReverify resolves them
      // against the double vectors re-derived from the corpus (one
      // candidate-restricted columnar scan). Output is pair-for-pair
      // the double path's; eager-persisted per the opt-in contract in
      // the scaladoc above — callers unpersist when done.
      val cand = rows
        .groupBy(col("table"), col("bucket"))
        .agg(TopKAggregate.boundedVecMembersF(col("id"),
          col("uv").cast("array<float>"), lit(true), maxBucketSize + 1)
          .as("members"))
        .filter(size(col("members")).between(2, maxBucketSize))
        .select(explode(graft.plans.VectorExpressions
          .cosineCandidatesF(col("members"),
            threshold - graft.store.EmbedIndex.FloatVerifyMargin)).as("p"))
        .select(col("p.id_a"), col("p.id_b"))
        .dropDuplicates("id_a", "id_b")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val nCand = cand.count()
      val verified = exactReverify(cand, nCand,
        corpus.select(col(idCol).as("id"), unitVector(col(vecCol)).as("uv")),
        threshold, graft.store.BroadcastGate.DefaultKeyLimit)
      cand.unpersist(blocking = false)
      return verified
    }
    val w = Window.partitionBy(col("table"), col("bucket")).orderBy(col("id"))
    val members = rows
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxBucketSize + 1)
      .groupBy(col("table"), col("bucket"))
      .agg(collect_list(struct(col("id"), col("uv"))).as("members"))
      // size == maxBucketSize+1 marks a truncated degenerate bucket:
      // dropped whole, same cap semantics as the anti-join version.
      .filter(size(col("members")).between(2, maxBucketSize))

    members
      .select(explode(graft.plans.VectorExpressions
        .cosinePairs(col("members"), threshold)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), round(col("p.cos"), 6).as("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): SEMANTIC
    * deduplication — k-means-cluster the embedding space, find
    * near-duplicate pairs WITHIN each cluster (pairwise cosine > eps),
    * and keep one representative per duplicate group. The clustering is
    * what makes web-scale feasible: candidate generation is n²/k per
    * cluster instead of n² — the paper's own scaling argument — so
    * `nClusters` must grow with the corpus (N / nClusters bounded by
    * what one task can pair; the cap below guards the degenerate case).
    *
    * Differences from the paper, both deliberate: (a) the survivor is
    * the MIN ID of each duplicate component (the library-wide
    * deterministic dedup contract — the paper keeps the example
    * farthest from the centroid, a choice it reports as low-impact);
    * (b) groups are closed transitively (connectedComponents) rather
    * than greedily, matching [[Dedup.dropDuplicateClusters]].
    *
    * Returns (idCol, keep_id, kept): every input row, its component
    * survivor (itself when unpaired), kept = (keep_id == id).
    *
    * Scale shape: one trainer sample collect, one assignment scan
    * (centroids ride in the NearestCentroids expression), ONE exchange
    * keyed by cluster (linear, spillable), in-task CosinePairs verify
    * emitting only true near-dup pairs, then pointer-jumping components
    * over the PAIR GRAPH only (never the corpus). Clusters past
    * `maxClusterSize` are dropped whole from pairing — their members
    * are all kept — the same loud-cap semantics as
    * [[embeddingNearDupPairs]]; size nClusters so real clusters fit. */
  /** The cluster-assignment step of [[semDedup]], exposed for the
    * incremental index ([[graft.store.SemIndex]] encodes batches with
    * the index's COMMITTED centroids): (id, uv, cluster_id). */
  private[graft] def semAssign(corpus: DataFrame, idCol: String,
                               vecCol: String,
                               centroids: Seq[Seq[Double]]): DataFrame = {
    import graft.plans.VectorExpressions.nearestCentroids
    corpus.select(col(idCol).as("id"), unitVector(col(vecCol)).as("uv"))
      .select(col("id"), col("uv"),
        element_at(nearestCentroids(col("uv"), centroids, 1), 1)
          .as("cluster_id"))
  }

  /** Within-cluster cosine pairs over an assigned frame — the pair
    * stage [[semDedup]] closes into components, shared with the
    * incremental index: (id_a, id_b, cos rounded to 6 places). */
  private[graft] def semPairsOfAssigned(assigned: DataFrame, eps: Double,
                                        maxClusterSize: Int): DataFrame = {
    val w = Window.partitionBy(col("cluster_id")).orderBy(col("id"))
    assigned
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxClusterSize + 1)
      .groupBy(col("cluster_id"))
      .agg(collect_list(struct(col("id"), col("uv"))).as("members"))
      // size == maxClusterSize+1 marks a truncated degenerate cluster:
      // dropped whole (members kept), same semantics as the LSH caps.
      .filter(size(col("members")).between(2, maxClusterSize))
      .select(explode(graft.plans.VectorExpressions
        .cosinePairs(col("members"), eps)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), round(col("p.cos"), 6).as("cos"))
  }

  /** [[semPairsOfAssigned]] with a freshness flag riding through the
    * member cap (r15, the EmbedIndex trade): pairs where neither member
    * is fresh are skipped INSIDE CosinePairs — the incremental append
    * only emits batch-touching pairs, and on clustered corpora the
    * corpus-corpus dot products the old post-hoc restrict discarded are
    * ~(corpus/union)² of the in-cluster work. Member sets (and so the
    * cap semantics) are identical to the window form: the bounded heap
    * keeps the maxClusterSize+1 smallest ids.
    *
    * r15 recorded a reasoned negative on applying EmbedIndex's FLOAT
    * exchange here (one cluster per vector ⇒ the payload rides the
    * exchange once, not nTables times, so the saving is smaller while
    * the re-verify costs the same); r16 built the gated twin
    * ([[semPairsTouchingF]]) and MEASURED it at dim 768 (ScaleBench
    * sem_hidim_*, order-reversed pairs): float lost both windows
    * (14.0/18.5 s vs 10.9/8.3 s) — the negative confirmed, so the
    * SemIndex gate defaults OFF. The batch LSH operator is the
    * opposite verdict: its payload ships nTables times and the float
    * path won 0.57× there (embdedup_hidim_batch_*). */
  private[graft] def semPairsTouching(tagged: DataFrame, eps: Double,
                                      maxClusterSize: Int): DataFrame =
    tagged
      .groupBy(col("cluster_id"))
      .agg(graft.plans.TopKAggregate
        .boundedVecMembers(col("id"), col("uv"), col("fresh"),
          maxClusterSize + 1).as("members"))
      // size == maxClusterSize+1 marks a truncated degenerate cluster:
      // dropped whole (members kept), same semantics as the LSH caps.
      .filter(size(col("members")).between(2, maxClusterSize))
      .select(explode(graft.plans.VectorExpressions
        .cosinePairs(col("members"), eps)).as("p"))
      .select(col("p.id_a"), col("p.id_b"), round(col("p.cos"), 6).as("cos"))

  /** The FLOAT-exchange twin of [[semPairsTouching]] (r16): the cluster
    * exchange ships float unit vectors (the bounded heap keeps the
    * identical smallest-id member set), [[graft.plans.CosineCandidatesF]]
    * emits batch-touching candidates at eps − margin, and the shared
    * [[exactReverify]] resolves them against `uvSource` (id, uv — the
    * same tagged union, so one candidate-restricted recompute) at the
    * true eps. Output is pair-for-pair [[semPairsTouching]]'s — ids AND
    * rounded cos (SemIndexSpec pins both forced paths). EAGER like
    * every float path: returns a persisted, materialized frame. */
  private[graft] def semPairsTouchingF(tagged: DataFrame, eps: Double,
                                       maxClusterSize: Int,
                                       uvSource: DataFrame,
                                       broadcastKeyLimit: Long): DataFrame = {
    val cand = tagged
      .groupBy(col("cluster_id"))
      .agg(graft.plans.TopKAggregate
        .boundedVecMembersF(col("id"), col("uv").cast("array<float>"),
          col("fresh"), maxClusterSize + 1).as("members"))
      .filter(size(col("members")).between(2, maxClusterSize))
      .select(explode(graft.plans.VectorExpressions
        .cosineCandidatesF(col("members"),
          eps - graft.store.EmbedIndex.FloatVerifyMargin)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .dropDuplicates("id_a", "id_b")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nCand = cand.count()
    val verified = exactReverify(cand, nCand, uvSource, eps,
      broadcastKeyLimit)
    cand.unpersist(blocking = false)
    verified
  }

  /** [[semDedup]]'s pair graph: within-cluster cosine pairs under
    * trained (or supplied) centroids. */
  def semDedupPairs(corpus: DataFrame, idCol: String, vecCol: String,
                    dim: Int, nClusters: Int = 64, eps: Double = 0.95,
                    seed: Long = 42L, maxClusterSize: Int = 100000,
                    centroidsOpt: Option[Seq[Seq[Double]]] = None): DataFrame = {
    // nClusters == 1 needs no training (r19, guide §1.2): nearest-of-one
    // assigns every vector to cluster 0 whatever the centroid, and the
    // in-cluster pairing works on uv — the trivial basis vector saves
    // the sample draw's two driver actions with identical output.
    val centroids = centroidsOpt.getOrElse(
      if (nClusters == 1) trivialCentroids(dim)
      else trainIvfCentroids(corpus, vecCol, nClusters, seed))
    semPairsOfAssigned(semAssign(corpus, idCol, vecCol, centroids), eps,
      maxClusterSize)
  }

  def semDedup(corpus: DataFrame, idCol: String, vecCol: String, dim: Int,
               nClusters: Int = 64, eps: Double = 0.95, seed: Long = 42L,
               maxClusterSize: Int = 100000,
               centroidsOpt: Option[Seq[Seq[Double]]] = None): DataFrame = {
    val pairs = semDedupPairs(corpus, idCol, vecCol, dim, nClusters, eps,
      seed, maxClusterSize, centroidsOpt).select(col("id_a"), col("id_b"))
    val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
    corpus.select(col(idCol))
      .join(comps.select(col("id").as(idCol), col("component_id")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("component_id"), col(idCol)).as("keep_id"))
      .withColumn("kept", col("keep_id") === col(idCol))
  }
}
