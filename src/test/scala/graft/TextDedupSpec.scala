package graft

import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextFunctions => TF}

/** Text-analysis + dedup operators on known inputs (extension ops). */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("t").select(c).first().get(0)

  test("tokenCount: whitespace tokens, empty-safe") {
    assert(one(TF.tokenCount(col("t")), "a b  c") === 3)
    assert(one(TF.tokenCount(col("t")), "") === 0)
    assert(one(TF.tokenCount(col("t")), "   ") === 0)
  }

  test("subwordCount: letter runs + digits + punctuation") {
    // "don't stop 42" → don / ' / t / stop / 4 / 2 = 6
    assert(one(TF.subwordCount(col("t")), "don't stop 42") === 6)
  }

  test("ratios are exact int/int divisions") {
    assert(one(TF.digitRatio(col("t")), "a1b2") === 0.5)
    assert(one(TF.punctRatio(col("t")), "ab,.") === 0.5)
    assert(one(TF.digitRatio(col("t")), "") === 0.0)
  }

  test("langId picks the stopword-dominant language") {
    assert(one(TF.langId(col("t")), "the cat sat on the mat and it is happy") === "en")
    assert(one(TF.langId(col("t")), "le chat est dans la maison et les oiseaux") === "fr")
    assert(one(TF.langId(col("t")), "el perro y la casa que es una maravilla") === "es")
    assert(one(TF.langId(col("t")), "der hund und die katze ist nicht hier") === "de")
    assert(one(TF.langId(col("t")), "zzz qqq xxx") === "und")
  }

  test("fingerprint: whitespace-insensitive, content-sensitive") {
    val a = one(TF.fingerprint(col("t")), "hello   world\tfoo")
    val b = one(TF.fingerprint(col("t")), "hello world foo")
    val c = one(TF.fingerprint(col("t")), "hello world bar")
    assert(a === b)
    assert(a !== c)
  }

  test("exact dedup keeps min-id doc per duplicate group") {
    val df = Seq(
      (1L, "same text here"), (2L, "same text here"),
      (3L, "unique text one"), (4L, "same text here")).toDF("doc_id", "text")
    val groups = Dedup.exactGroups(df, "text", "doc_id")
    assert(groups.count() === 2)
    val dupRow = groups.filter(col("dup_count") === 3).first()
    assert(dupRow.getAs[Long]("keep_id") === 1L)
    val kept = Dedup.dropExactDuplicates(df, "text", "doc_id")
      .select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq === Seq(1L, 3L))
  }

  test("minhash LSH finds planted near-duplicates, not unrelated docs") {
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"w$i").mkString(" ") + " x1 x2"
    val unrelated = (1 to 40).map(i => s"z$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, unrelated)).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(df, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("minhash LSH recalls a planted pair just above the declared 0.5 threshold") {
    // A: w1..w40 → 38 shingles; B: w1..w28 ++ v1..v12 → 38 shingles.
    // Shared shingles = those fully inside w1..w28 = 26; union = 50;
    // J = 26/50 = 0.52 — just above the declared threshold. Under the old
    // b=8, r=4 banding (S-curve midpoint ≈ 0.59) this pair was missed more
    // often than found; b=16, r=2 catches it w.p. ≈ 0.99.
    val a = (1 to 40).map(i => s"w$i").mkString(" ")
    val b = ((1 to 28).map(i => s"w$i") ++ (1 to 12).map(i => s"v$i")).mkString(" ")
    val df = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val pairs = Dedup.nearDuplicatePairs(df, "text", "doc_id", threshold = 0.5)
      .select("id_a", "id_b", "jaccard")
      .as[(Long, Long, Double)].collect()
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 >= 0.5),
      s"planted J=0.52 pair not recalled: ${pairs.toSeq}")
  }

  test("simhash banding recalls any pair within the declared maxHamming") {
    // Hamming-5 pair with the differing bits spread across ALL FOUR of the
    // old 16-bit bands (bits 2, 18, 34, 50, 60) — the old banding silently
    // missed exactly this shape; maxHamming+1 bands guarantee recall.
    val base = 0x0123456789ABCDEFL
    val other = Seq(2, 18, 34, 50, 60).foldLeft(base)((h, i) => h ^ (1L << i))
    assert(java.lang.Long.bitCount(base ^ other) === 5)
    val df = Seq((1L, base), (2L, other)).toDF("id", "sh64")
    val pairs = Dedup.simhashPairsFromHashes(df, maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)), s"hamming-5 pair missed: $pairs")
  }

  test("chunkDocs: overlap-windowed chunks cover every token exactly") {
    import graft.queries.ExtensionQueries
    val dir = TempDirs.create("graft-chunk")
    val docs = Seq(
      (1L, (1 to 100).map(i => s"t$i").mkString(" ")), // 2 chunks: [0,64) [48,100)
      (2L, (1 to 64).map(i => s"u$i").mkString(" ")),  // exactly one full chunk
      (3L, (1 to 65).map(i => s"v$i").mkString(" ")),  // tail chunk of 17 (> overlap)
      (4L, "solo"),                                    // one short chunk
      (5L, "   ")).toDF("doc_id", "text")              // no tokens → no chunks
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = ExtensionQueries.chunkDocs(spark, dir.toString)
      .select("doc_id", "chunk_id", "n_chunk_tokens")
      .as[(Long, Int, Int)].collect().sorted.toSeq
    assert(out === Seq((1L, 0, 64), (1L, 1, 52), (2L, 0, 64),
      (3L, 0, 64), (3L, 1, 17), (4L, 0, 1)))
    // chunk i starts at token i·stride: the overlap region is shared and
    // the union of half-open windows covers [0, n) with no gaps
    val texts = ExtensionQueries.chunkDocs(spark, dir.toString)
      .filter(col("doc_id") === 1L).orderBy("chunk_id")
      .select("chunk_text").as[String].collect()
    assert(texts(0).startsWith("t1 ") && texts(0).endsWith(" t64"))
    assert(texts(1).startsWith("t49 ") && texts(1).endsWith(" t100"))
  }

  test("simhash64Md5 matches an independent JVM reference implementation") {
    // Pins the Column-expression md5-simhash (the DuckDB-oracle-portable
    // leaf hash of dedup_simhash_oracle) to a from-scratch MessageDigest
    // reference: same tokenization, same nibble-order bit votes, same
    // MSB-first packing. A drift in any of those silently diverges the
    // Spark side of the oracle twin from the SQL recomputation.
    def refSimhash(text: String): Long = {
      val toks = text.split("[ \t\n\f\r]+").filter(_.nonEmpty)
      val votes = new Array[Int](64)
      val mdig = java.security.MessageDigest.getInstance("MD5")
      for (t <- toks) {
        val hex = mdig.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
        for (j <- 0 until 64) {
          val nib = Integer.parseInt(hex.substring(j / 4, j / 4 + 1), 16)
          votes(j) += ((nib >> (3 - j % 4)) & 1) * 2 - 1
        }
      }
      votes.foldLeft(0L)((acc, v) => (acc << 1) | (if (v >= 0) 1L else 0L))
    }
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog",
      "hello world", "a",
      "tabs\tand\nnewlines  doubled  spaces")
    val got = texts.toDF("t")
      .select(Dedup.simhash64Md5(col("t"))).as[Long].collect().toSeq
    assert(got === texts.map(refSimhash))
  }

  test("simhash pairs equal exhaustive brute force on a random corpus") {
    // The in-bucket pair generator (window cap → collect_list →
    // HammingPairs) must produce EXACTLY the brute-force pair set:
    // pigeonhole banding guarantees recall, the inline hamming filter
    // guarantees precision. 200 seeded random hashes → ~20k candidate
    // pairs checked both directions.
    // 40 random bases × 5 variants at 0–10 flipped bits: plenty of true
    // pairs on both sides of the h=6 boundary (pure-random longs would
    // never land within hamming 6 of each other).
    val rnd = new scala.util.Random(7)
    val hashes = (for (b <- 0 until 40; v <- 0 until 5) yield {
      val base = new scala.util.Random(b).nextLong()
      val h = (0 until rnd.nextInt(11)).foldLeft(base)(
        (acc, _) => acc ^ (1L << rnd.nextInt(64)))
      (b * 5L + v + 1L, h)
    }).toSeq
    val expected = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 6
    } yield (ia, ib)).toSet
    assert(expected.size >= 50, s"weak fixture: only ${expected.size} true pairs")
    val df = hashes.toDF("id", "sh64")
    val got = Dedup.simhashPairsFromHashes(df, maxHamming = 6)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === expected)
  }

  test("simhash auto block count: smallest sound keyspace for the corpus") {
    // tiny corpus → h+1 blocks (single-block keys suffice)
    assert(Dedup.simhashAutoBlocks(200, 6) === 7)
    // 5M docs at h=6 → 8 blocks: C(8,2)=28 combos of 16-bit keys (the
    // size-blind default is 210 combos — 7.5× the shuffle rows)
    assert(Dedup.simhashAutoBlocks(5000000L, 6) === 8)
    // 10B docs still bounded (≤4096 combos) with adequate keyspace
    val big = Dedup.simhashAutoBlocks(10000000000L, 6)
    assert(big > 6 && big <= 18)
    assert(Dedup.simhashComboKeyspace(big, 6) >= 10000000000L * 8.0 / 1000)
    // chosen count is always pigeonhole-valid
    for (n <- Seq(0L, 1000L, 100000L, 10000000L, 1000000000L); h <- Seq(3, 6, 8))
      assert(Dedup.simhashAutoBlocks(n, h) > h)
  }

  test("simhash band ranges tile all 64 bits") {
    for (nBands <- Seq(4, 7, 9, 10)) {
      val ranges = Dedup.simhashBandRanges(nBands)
      assert(ranges.size === nBands)
      assert(ranges.map(_._2).sum === 64)
      // contiguous, no overlap
      assert(ranges.sliding(2).forall {
        case Seq((s1, w1), (s2, _)) => s1 + w1 == s2
        case _ => true
      })
    }
  }

  test("simhash combo keyspace at h=6 defaults is ≥ 10⁶ buckets per combo") {
    // The old (h+1)-band scheme had 64/7 ≈ 9-bit keys → 512 buckets: past
    // ~512·maxBucketSize docs every bucket trips the cap and recall is 0.
    // Multi-block combo keys must keep the keyspace big enough that the
    // cap only trims degenerate hash values.
    val b = Dedup.simhashDefaultBlocks(6)
    assert(Dedup.simhashComboKeyspace(b, 6) >= 1e6,
      s"keyspace ${Dedup.simhashComboKeyspace(b, 6)} too small at nBlocks=$b")
    // and the per-row key count stays bounded
    assert(Dedup.simhashBlockCombos(b, 6).size === 210) // C(10,4)
  }

  test("simhash combo-count guard holds on the expression itself") {
    // The native expression is the execution path; it must reject a
    // combinatorial key explosion even when simhashBlockCombos is
    // bypassed — (32, 6) would emit ~906k structs per row.
    intercept[IllegalArgumentException] {
      graft.plans.VectorExpressions.simhashComboKeys(
        org.apache.spark.sql.functions.lit(0L), nBlocks = 32, maxHamming = 6)
    }
  }

  test("simhash combo keys: every ≤h pair shares a key, exhaustively") {
    // Exhaustive pigeonhole check in local Scala (no Spark): for a base
    // hash and EVERY set of ≤h flipped bit positions drawn from a spread
    // sample, the keyed blocks must collide on ≥1 combo.
    val h = 3; val b = Dedup.simhashDefaultBlocks(h)
    val ranges = Dedup.simhashBandRanges(b)
    val combos = Dedup.simhashBlockCombos(b, h)
    def keys(x: Long): Set[(Int, Long)] = combos.zipWithIndex.map {
      case (blocks, id) =>
        (id, blocks.foldLeft(0L) { (acc, i) =>
          val (shift, width) = ranges(i)
          (acc << width) | ((x >>> shift) & ((1L << width) - 1))
        })
    }.toSet
    val base = 0x0123456789ABCDEFL
    val positions = Seq(0, 9, 17, 25, 31, 38, 45, 52, 63)
    for (flips <- positions.combinations(h)) {
      val other = flips.foldLeft(base)((x, i) => x ^ (1L << i))
      assert(keys(base).intersect(keys(other)).nonEmpty,
        s"pair at hamming $h with flips $flips shares no combo key")
    }
  }

  test("simhash native combo-key expression matches the Scala reference") {
    // The banding runs through graft.plans.SimHashComboKeys (one compiled
    // node); the pigeonhole spec above uses a local Scala reimplementation.
    // Pin the two to identical (band, bucket) sets so the proof transfers.
    val h = 3; val b = Dedup.simhashDefaultBlocks(h)
    val ranges = Dedup.simhashBandRanges(b)
    val combos = Dedup.simhashBlockCombos(b, h)
    def refKeys(x: Long): Set[(Int, Long)] = combos.zipWithIndex.map {
      case (blocks, id) =>
        (id, blocks.foldLeft(0L) { (acc, i) =>
          val (shift, width) = ranges(i)
          (acc << width) | ((x >>> shift) & ((1L << width) - 1))
        })
    }.toSet
    for (hash <- Seq(0x0123456789ABCDEFL, -1L, 0L, 0x8000000000000001L)) {
      val got = Seq(hash).toDF("sh64")
        .select(explode(graft.plans.VectorExpressions.simhashComboKeys(
          col("sh64"), b, h)).as("bk"))
        .select(col("bk.band"), col("bk.bucket"))
        .as[(Int, Long)].collect().toSet
      assert(got === refKeys(hash), s"native keys diverge for hash $hash")
    }
  }

  test("simhash: near-identical docs have small hamming distance") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 58).map(i => s"tok$i").mkString(" ") + " aaa bbb"
    val far = (1 to 60).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "t")
      .select(col("id"), Dedup.simhash64(col("t")).as("h"))
    val hs = df.orderBy("id").as[(Long, Long)].collect().map(_._2)
    val hammingNear = java.lang.Long.bitCount(hs(0) ^ hs(1))
    val hammingFar = java.lang.Long.bitCount(hs(0) ^ hs(2))
    assert(hammingNear < 10, s"near pair hamming=$hammingNear")
    assert(hammingFar > 15, s"far pair hamming=$hammingFar")
  }

  test("simhash near-dup pairs via banding finds the planted pair") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val near = (1 to 59).map(i => s"tok$i").mkString(" ") + " zz"
    val far = (1 to 60).map(i => s"unrel$i").mkString(" ")
    val df = Seq((1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(df, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
  }

  test("quality score is in [0,1] and favors clean prose") {
    val clean = "The quick brown fox jumps over the lazy dog and keeps " +
      "running through the quiet forest with steady pace for a while longer."
    val noisy = "!!! ??? 123 456 789 ,,, ;;; ### !!!"
    val qc = one(TF.qualityScore(col("t")), clean).asInstanceOf[Double]
    val qn = one(TF.qualityScore(col("t")), noisy).asInstanceOf[Double]
    assert(qc >= 0.0 && qc <= 1.0 && qn >= 0.0 && qn <= 1.0)
    assert(qc > qn)
  }
}
