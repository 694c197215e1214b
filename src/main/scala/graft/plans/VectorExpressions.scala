package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the vector/hash hot loops.
  *
  * The higher-order-function formulations (`aggregate`+`zip_with`) are
  * semantically clean but evaluate INTERPRETED, with per-element lambda
  * binding and array allocation — measured ~100× slower than a compiled
  * loop on the similarity workload (76 s → sub-second for the LSH bucket
  * scan at sf0.1). These expressions keep the eval in one tight compiled
  * Scala loop.
  *
  * Each implements `doGenCode` as a single call into its own `compute`
  * method (registered via `ctx.addReferenceObj`) rather than
  * `CodegenFallback`: the generated code stays inside the whole-stage
  * span (no InternalRow materialization, no interpreted-projection
  * fallback for the enclosing operator), at the cost of one virtual call
  * per row — noise next to the per-element loop.
  */

/** Dot product of two float/double arrays → double. Null if either side
  * is null; arrays shorter side bounds the loop. */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dot_product needs array<float|double> inputs, got " +
        s"${left.dataType.simpleString}, ${right.dataType.simpleString}")
  }

  @inline private def isFloat(e: Expression): Boolean =
    e.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(a: ArrayData, b: ArrayData): Double = {
    val lf = isFloat(left); val rf = isFloat(right)
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    s
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dotProduct", this, classOf[DotProduct].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash of a string-token array → long.
  *
  * Per token: xxhash64 (same `XxHash64Function` the builtin `xxhash64`
  * uses, seed 42) votes each of the 64 bits ±1; the sign of each vote
  * column becomes the output bit. One compiled loop per row replaces a
  * 64-wide interpreted HOF pipeline. */
case class SimHash64(child: Expression)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash64 needs array<string>, got ${other.simpleString}")
    }

  def compute(arr: ArrayData): Long = {
    val votes = new Array[Int](64)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = XxHash64Function.hash(
          arr.getUTF8String(i).asInstanceOf[UTF8String], StringType, 42L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simHash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Hyperplane-LSH bucket id: sign bit of the dot product against each of
  * `nPlanes` seeded gaussian hyperplanes, packed into a long. The planes
  * live in the expression instance (deterministic from the seed) — no
  * thousand-literal tree for Catalyst to chew through, no per-plane
  * interpreted dot. */
case class HyperplaneBucket(child: Expression, dim: Int, nPlanes: Int, seed: Long)
    extends UnaryExpression {

  @transient private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_bucket needs array<float|double>, got ${other.simpleString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(v: ArrayData): Long = {
    val n = math.min(v.numElements(), dim)
    var bucket = 0L
    var p = 0
    while (p < nPlanes) {
      val plane = planes(p)
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s += x * plane(i)
        i += 1
      }
      if (s > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplane", this, classOf[HyperplaneBucket].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Margin-ordered multiprobe: the home hyperplane-LSH bucket plus the
  * `nProbes` NEAREST perturbation buckets → array<long>, home first.
  *
  * A query vector close to a hyperplane could land on either side —
  * flipping that near-boundary bit reaches the bucket its near-neighbors
  * most plausibly fell into. Perturbations are ranked by the summed
  * |margin| of their flipped planes and generated best-first with the
  * standard expand/shift heap (each subset of planes reached exactly
  * once, in nondecreasing-score order), so probe budget T buys the T
  * most promising buckets — not an indiscriminate ring of single-bit
  * flips. Probe sets are NESTED in T: recall is monotone in the budget
  * by construction. */
case class HyperplaneProbes(child: Expression, dim: Int, nPlanes: Int,
                            nProbes: Int, seed: Long)
    extends UnaryExpression {

  require(nPlanes >= 1 && nPlanes <= 62, s"nPlanes=$nPlanes out of range")
  require(nProbes >= 0, s"nProbes=$nProbes must be non-negative")

  @transient private lazy val planes: Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(nPlanes)(Array.fill(dim)(rnd.nextGaussian()))
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_probes needs array<float|double>, got ${other.simpleString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(v: ArrayData): ArrayData = {
    val n = math.min(v.numElements(), dim)
    val margins = new Array[Double](nPlanes)
    var home = 0L
    var p = 0
    while (p < nPlanes) {
      val plane = planes(p)
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s += x * plane(i)
        i += 1
      }
      margins(p) = s
      if (s > 0) home |= (1L << p)
      p += 1
    }
    // order(j) = plane index of the j-th cheapest flip
    val order = Array.range(0, nPlanes).sortBy(j => math.abs(margins(j)))
    val cost = order.map(j => math.abs(margins(j)))
    val avail = (1L << nPlanes) - 1 // non-empty subsets
    val t = math.min(nProbes.toLong, avail).toInt
    val out = new Array[Any](t + 1)
    out(0) = home
    if (t > 0) {
      // (score, sorted-position mask, max position) — expand/shift heap
      val pq = new java.util.PriorityQueue[(Double, Long, Int)](
        11, (a, b) => java.lang.Double.compare(a._1, b._1))
      pq.add((cost(0), 1L, 0))
      var emitted = 0
      while (emitted < t && !pq.isEmpty) {
        val (score, mask, maxPos) = pq.poll()
        var flip = 0L
        var j = 0
        while (j <= maxPos) {
          if (((mask >>> j) & 1L) == 1L) flip |= (1L << order(j))
          j += 1
        }
        emitted += 1
        out(emitted) = home ^ flip
        if (maxPos + 1 < nPlanes) {
          pq.add((score + cost(maxPos + 1),
            mask | (1L << (maxPos + 1)), maxPos + 1))
          pq.add((score - cost(maxPos) + cost(maxPos + 1),
            (mask & ~(1L << maxPos)) | (1L << (maxPos + 1)), maxPos + 1))
        }
      }
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hyperplaneProbes", this,
      classOf[HyperplaneProbes].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature of a string-shingle array → array<long> of `k` slots.
  *
  * Each shingle is hashed ONCE with xxhash64 (the same `XxHash64Function`
  * as the builtin), then the k "independent permutations" are multiply-add
  * mixes of that 64-bit base (h_j = a_j·h + b_j with seeded odd a_j —
  * standard universal-hash simulation); each slot keeps the min over the
  * shingle set. One compiled loop per row replaces a k-wide interpreted
  * HOF pipeline (`array_min(transform(...xxhash64...))` per seed), which
  * re-hashed every shingle string k times AND evaluated interpreted —
  * measured as ~half the whole sf0.1 bench.
  *
  * Empty or all-null shingle arrays yield a signature of Long.MaxValue
  * slots (empty docs are exact duplicates of each other anyway). */
case class MinHashSignature(child: Expression, k: Int, seed: Long = 42L)
    extends UnaryExpression {

  @transient private lazy val mixA: Array[Long] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(k)(rnd.nextLong() | 1L) // odd multipliers
  }
  @transient private lazy val mixB: Array[Long] = {
    val rnd = new scala.util.Random(seed + 0x9E3779B9L)
    Array.fill(k)(rnd.nextLong())
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // strings hash here; longs are PRE-hashed bases (WordShingleHashes
      // with the same seed) — identical signatures, no shingle strings
      // ever materialized on the scan side
      case ArrayType(StringType, _) | ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"minhash_signature needs array<string> or array<bigint>, got ${other.simpleString}")
    }

  private lazy val preHashed =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType

  def compute(arr: ArrayData): ArrayData = {
    val mins = Array.fill(k)(Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val base =
          if (preHashed) arr.getLong(i)
          else XxHash64Function.hash(
            arr.getUTF8String(i).asInstanceOf[UTF8String], StringType, seed)
        var j = 0
        while (j < k) {
          val h = mixA(j) * base + mixB(j)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minHash", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Multi-block SimHash banding keys → array<struct<band:int,bucket:long>>.
  *
  * One compiled node replacing a Column-tree of C(nBlocks, nBlocks−h)
  * struct builders (210 at h=6, 495 at h=8), each a fold of bitwise ops —
  * a tree that size breaks janino (64 KB method limit) and takes Catalyst
  * minutes to optimize, and its interpreted fallback re-walks ~10k
  * expression nodes per row. Here the combo table is precomputed once in
  * the instance and each row is a tight loop over (comboId, blockIdxs).
  *
  * Key layout matches Dedup.simhashBlockCombos/simhashBandRanges: 64 bits
  * split into nBlocks contiguous ranges (widths differing by ≤1); each
  * combo of (nBlocks − maxHamming) block indices packs its blocks'
  * bits, in index order, into one long. */
case class SimHashComboKeys(child: Expression, nBlocks: Int, maxHamming: Int)
    extends UnaryExpression {

  require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming out of range")
  require(nBlocks > maxHamming && nBlocks <= 64,
    s"nBlocks=$nBlocks must exceed maxHamming=$maxHamming (pigeonhole)")
  // Same guard as Dedup.simhashBlockCombos, enforced HERE because direct
  // callers bypass that helper: C(nBlocks, maxHamming) keys materialize
  // per row — (32, 6) would silently emit ~906k structs per document.
  require({
    val kk = math.min(maxHamming, nBlocks - maxHamming)
    (1 to kk).foldLeft(BigInt(1))((acc, i) => acc * (nBlocks - kk + i) / i) <= 4096
  }, s"C($nBlocks, ${nBlocks - maxHamming}) combo keys per row is " +
    "unreasonable; pick nBlocks closer to maxHamming")

  // (shift, width) per block: contiguous tiling of the 64 bits.
  @transient private lazy val ranges: Array[(Int, Int)] = {
    val base = 64 / nBlocks
    val extra = 64 % nBlocks
    val widths = Array.tabulate(nBlocks)(i => base + (if (i < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).init.zip(widths)
  }
  @transient private lazy val combos: Array[Array[Int]] =
    (0 until nBlocks).combinations(nBlocks - maxHamming).map(_.toArray).toArray

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_combo_keys needs bigint, got ${other.simpleString}")
    }

  def compute(h: Long): ArrayData = {
    val out = new Array[Any](combos.length)
    var c = 0
    while (c < combos.length) {
      val blocks = combos(c)
      var packed = 0L
      var i = 0
      while (i < blocks.length) {
        val (shift, width) = ranges(blocks(i))
        packed = (packed << width) | ((h >>> shift) & ((1L << width) - 1))
        i += 1
      }
      out(c) = org.apache.spark.sql.catalyst.InternalRow(c, packed)
      c += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("comboKeys", this, classOf[SimHashComboKeys].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashKeyHits {
  /** Deterministic 64-bit mix of a combo key (band, bucket) — shared by
    * the expression's per-row probe and the driver-side batch-key
    * collection so both sides mix identically. Collisions across
    * distinct (band, bucket) pairs are possible and harmless: the probe
    * is a PREFILTER (false positives survive into the exact
    * (band, bucket) semi-join downstream; false negatives cannot happen
    * because the mix is a pure function). */
  @inline def mix(band: Int, bucket: Long): Long =
    (bucket ^ (band.toLong * 0x9E3779B97F4A7C15L)) * 0xC2B2AE3D27D4EB4FL
}

/** True iff ANY of a SimHash's combo keys (the [[SimHashComboKeys]]
  * tiling, recomputed here from the raw sh64) hits a fixed sorted
  * MIXED-key set — the in-expression prefilter of the incremental
  * SimHash append: instead of exploding every indexed document's
  * C(nBlocks, nBlocks−maxHamming) stored keys through the bucket
  * semi-join (~140M rows at 5M docs, the append's dominant cost), the
  * index scan keeps only documents that can share a bucket with the
  * batch — a pure map of ~28 membership tests per row inside
  * whole-stage codegen. Membership is a [[LshKeyTester]]: the exact
  * sorted key set when the batch fits the driver budget, a Bloom
  * above it (r14 — callers never lose the probe to batch size). */
case class SimHashKeyHits(child: Expression, nBlocks: Int, maxHamming: Int,
                          tester: LshKeyTester)
    extends UnaryExpression {

  require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming out of range")
  require(nBlocks > maxHamming && nBlocks <= 64,
    s"nBlocks=$nBlocks must exceed maxHamming=$maxHamming (pigeonhole)")

  @transient private lazy val ranges: Array[(Int, Int)] = {
    val base = 64 / nBlocks
    val extra = 64 % nBlocks
    val widths = Array.tabulate(nBlocks)(i => base + (if (i < extra) 1 else 0))
    widths.scanLeft(0)(_ + _).init.zip(widths)
  }
  @transient private lazy val combos: Array[Array[Int]] =
    (0 until nBlocks).combinations(nBlocks - maxHamming).map(_.toArray).toArray

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"simhash_key_hits needs bigint, got ${other.simpleString}")
    }

  def compute(h: Long): Boolean = {
    var c = 0
    while (c < combos.length) {
      val blocks = combos(c)
      var packed = 0L
      var i = 0
      while (i < blocks.length) {
        val (shift, width) = ranges(blocks(i))
        packed = (packed << width) | ((h >>> shift) & ((1L << width) - 1))
        i += 1
      }
      if (tester.hits(c, packed)) return true
      c += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[Long])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("keyHits", this, classOf[SimHashKeyHits].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Key-membership tester behind [[SimHashKeyHits]] and
  * [[MinHashKeyHits]]: does the batch's key set (possibly) contain
  * (band, bucket)? Both variants may only err toward TRUE (prefilter
  * contract — false positives survive into the exact (band, bucket)
  * semi-join downstream; false negatives would drop pairs and are
  * impossible by construction). */
sealed trait LshKeyTester extends Serializable {
  def hits(band: Int, bucket: Long): Boolean
}

/** Exact membership over the sorted [[SimHashKeyHits.mix]]-ed key set —
  * the shape for batches whose distinct key count fits the driver
  * budget. */
final case class SortedMixedKeys(keys: Array[Long]) extends LshKeyTester {
  def hits(band: Int, bucket: Long): Boolean =
    java.util.Arrays.binarySearch(keys, SimHashKeyHits.mix(band, bucket)) >= 0
}

/** Approximate membership for batches ABOVE the exact-set budget: a
  * Bloom filter over `bucket ^ ((band+1) << 56)` — the same key the
  * builder columns in DedupIndex/SimHashIndex produce (shiftleft + xor
  * only: safe under ANSI arithmetic, unlike the multiplicative mix;
  * band counts past 255 wrap the top byte identically on both sides —
  * still deterministic, collisions only add false positives). ~1%
  * false positives just widen the semi-join input; recall stays
  * exact. */
final case class BloomMixedKeys(
    bloom: org.apache.spark.util.sketch.BloomFilter) extends LshKeyTester {
  def hits(band: Int, bucket: Long): Boolean =
    bloom.mightContainLong(bucket ^ ((band + 1L) << 56))
}

/** True iff ANY of a document's MinHash-LSH band keys hits the batch's
  * key set — the MinHash twin of [[SimHashKeyHits]], the in-expression
  * prefilter of the incremental dedup append
  * (DedupIndex.keyProbeMaxKeys). The band keys are recomputed from the
  * stored shingle-hash array bit-for-bit like the Column path
  * (`Dedup.lshBandKeys(Dedup.minhashSignature(h_arr, k), k, bands)`):
  * the signature via an embedded [[MinHashSignature]] (same class, same
  * seed ⇒ identical mins), the per-band bucket as
  * `xxhash64(concat_ws(",", slice(sig, b*r+1, r)))` — a comma-joined
  * decimal rendering of the band's slots hashed with Spark's default
  * xxhash64 seed (42), matching Cast(long→string) + ConcatWs + XxHash64
  * exactly. Membership is delegated to a [[LshKeyTester]] (exact
  * sorted set, or a Bloom for over-budget batches); either may only
  * err toward keeping a row. */
case class MinHashKeyHits(child: Expression, k: Int, bands: Int,
                          tester: LshKeyTester, seed: Long = 42L)
    extends UnaryExpression {

  require(k > 0 && bands > 0 && k % bands == 0,
    s"k=$k must be a positive multiple of bands=$bands")

  @transient private lazy val sigOf = MinHashSignature(child, k, seed)
  @transient private lazy val r = k / bands

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    sigOf.checkInputDataTypes()

  def compute(arr: ArrayData): Boolean = {
    val sig = sigOf.compute(arr)
    val sb = new java.lang.StringBuilder(r * 20)
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var i = 0
      while (i < r) {
        if (i > 0) sb.append(',')
        sb.append(sig.getLong(b * r + i))
        i += 1
      }
      val bucket = XxHash64Function.hash(
        UTF8String.fromString(sb.toString), StringType, 42L)
      if (tester.hits(b, bucket)) return true
      b += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("mhKeyHits", this, classOf[MinHashKeyHits].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All `nTables` hyperplane-LSH table buckets of a vector in ONE pass —
  * array<struct<table:int, bucket:long>>, bit-identical to the
  * per-table [[HyperplaneBucket]] builder construction (same
  * seed + t·7919 plane draws, same ascending-index accumulation order)
  * but with the vector extracted to a primitive array ONCE: the
  * 8-expression builder form re-reads the ArrayData element-by-element
  * for every one of nTables·bits plane dots (~6k accessor calls per row
  * at 8×12×64), where this runs plain-array inner loops the JIT can
  * vectorize. This is the key-side scan expression of the slim
  * [[graft.store.EmbedIndex]] (r15). */
case class HyperplaneTableKeys(child: Expression, dim: Int, nTables: Int,
                               bits: Int, seed: Long)
    extends UnaryExpression {

  require(nTables > 0 && bits > 0 && bits <= 63,
    s"nTables=$nTables, bits=$bits out of range")

  // plane(t)(p): the SAME deterministic draws as HyperplaneBucket(seed +
  // t·7919) — one Random stream per table, planes in emission order.
  @transient private lazy val planes: Array[Array[Array[Double]]] =
    Array.tabulate(nTables) { t =>
      val rnd = new scala.util.Random(seed + t * 7919)
      Array.fill(bits)(Array.fill(dim)(rnd.nextGaussian()))
    }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("table", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_table_keys needs array<float|double>, got ${other.simpleString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private[plans] def extract(v: ArrayData): Array[Double] = {
    val n = math.min(v.numElements(), dim)
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      x(i) = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    x
  }

  private[plans] def bucketOf(x: Array[Double], t: Int): Long = {
    val tp = planes(t)
    var bucket = 0L
    var p = 0
    while (p < bits) {
      val plane = tp(p)
      var s = 0.0
      var i = 0
      while (i < x.length) { s += x(i) * plane(i); i += 1 }
      if (s > 0) bucket |= (1L << p)
      p += 1
    }
    bucket
  }

  def compute(v: ArrayData): ArrayData = {
    val x = extract(v)
    val out = new Array[Any](nTables)
    var t = 0
    while (t < nTables) {
      out(t) = InternalRow(t, bucketOf(x, t))
      t += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hpTableKeys", this, classOf[HyperplaneTableKeys].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** True iff ANY of a unit vector's hyperplane-LSH table buckets hits the
  * batch's key set — the EmbedIndex twin of [[SimHashKeyHits]] /
  * [[MinHashKeyHits]] (r15, completing the in-scan prefilter across all
  * three near-dup indexes): table t's bucket is recomputed from the
  * stored unit vector exactly like the builder-side key columns
  * (an embedded [[HyperplaneBucket]] per table, seed + t·7919 — same
  * class, same planes ⇒ identical buckets), so instead of exploding
  * every indexed vector's nTables keys WITH its ~8·dim-byte payload
  * through the bucket semi-join, the scan drops non-candidates with
  * nTables·bits·dim fused multiply-adds per row inside whole-stage
  * codegen. Membership is a [[LshKeyTester]] (exact sorted set | Bloom);
  * either may only err toward keeping a row — the exact (table, bucket)
  * semi-join downstream makes false positives harmless. */
case class HyperplaneKeyHits(child: Expression, dim: Int, nTables: Int,
                             bits: Int, seed: Long, tester: LshKeyTester)
    extends UnaryExpression {

  require(nTables > 0 && bits > 0 && bits <= 63,
    s"nTables=$nTables, bits=$bits out of range")

  @transient private lazy val keyer = HyperplaneTableKeys(child, dim, nTables, bits, seed)

  override def dataType: DataType = BooleanType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hyperplane_key_hits needs array<float|double>, got ${other.simpleString}")
    }

  def compute(v: ArrayData): Boolean = {
    val x = keyer.extract(v) // one accessor pass, then plain-array dots
    var t = 0
    while (t < nTables) {
      if (tester.hits(t, keyer.bucketOf(x, t))) return true
      t += 1
    }
    false
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hpKeyHits", this, classOf[HyperplaneKeyHits].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Verified near-dup pairs within one LSH bucket: all (id_a, id_b,
  * hamming) with id_a < id_b and hamming ≤ maxHamming over an
  * array<struct<id:long, sh64:long>> of bucket members.
  *
  * Generating pairs INSIDE the per-bucket aggregate (instead of a
  * bucket-key self-join followed by a hamming filter) means the O(n²)
  * candidate set never hits a shuffle or an aggregation map: the 5M-doc
  * flagship bench spent >20 min in a single dropDuplicates task fed by
  * the join's unfiltered candidates, while the survivors here are only
  * the true near-dups (≤ maxBucketSize² per bucket in the worst case,
  * typically ~0–2). */
case class HammingPairs(child: Expression, maxHamming: Int)
    extends UnaryExpression {

  require(maxHamming >= 0 && maxHamming < 64, s"maxHamming=$maxHamming out of range")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("hamming", IntegerType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(a, b)), _)
        if a.dataType == LongType && b.dataType == LongType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"hamming_pairs needs array<struct<bigint,bigint>>, got ${other.simpleString}")
    }

  def compute(members: ArrayData): ArrayData = {
    val n = members.numElements()
    val ids = new Array[Long](n)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val row = members.getStruct(i, 2)
      ids(i) = row.getLong(0)
      hs(i) = row.getLong(1)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val ham = java.lang.Long.bitCount(hs(i) ^ hs(j))
        if (ham <= maxHamming && ids(i) != ids(j)) {
          val (lo, hi) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
          out += org.apache.spark.sql.catalyst.InternalRow(lo, hi, ham)
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hammingPairs", this, classOf[HammingPairs].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** All distinct id pairs within one LSH bucket: array<long> of member ids
  * → array<struct<id_a:long, id_b:long>> with id_a < id_b. The candidate
  * generator for verify-by-rejoin paths (MinHash: the verify needs the
  * shingle SETS, which are far too wide to ride the bucket shuffle the
  * way simhash's 8-byte hashes or the embeddings' unit vectors do — so
  * pairs are emitted in-bucket and only candidate docs are re-shingled).
  * Buckets are capped upstream, so the output is ≤ cap²/2 per bucket. */
case class AllPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"all_pairs needs array<bigint>, got ${other.simpleString}")
    }

  def compute(members: ArrayData): ArrayData = {
    val n = members.numElements()
    val ids = new Array[Long](n)
    var i = 0
    while (i < n) { ids(i) = members.getLong(i); i += 1 }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (ids(i) != ids(j)) {
          val (lo, hi) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
          out += org.apache.spark.sql.catalyst.InternalRow(lo, hi)
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("allPairs", this, classOf[AllPairs].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Verified embedding near-dup pairs within one LSH bucket: all
  * (id_a, id_b, cos) with id_a < id_b and cos ≥ threshold over an
  * array<struct<id:long, uv:array<double>>> of unit-normalized bucket
  * members (cos = plain dot on unit vectors).
  *
  * Same rationale as HammingPairs: on naturally clustered corpora (the
  * realistic case for embeddings) hyperplane buckets hold whole clusters
  * — ~1000 members each on the 1M-vector flagship corpus — so a
  * bucket-key self-join materializes billions of candidate rows through
  * a shuffle + dropDuplicates before the verify filter sees them
  * (measured: execution-memory OOM at 1M vectors). Verifying inside the
  * bucket keeps the quadratic part pure CPU on ≤ maxBucketSize vectors
  * and emits only true near-dups.
  *
  * Members are array<struct<id, uv, fresh>> ([[BoundedVecMembers]]):
  * pairs where neither member is fresh are SKIPPED (r15) — in an
  * incremental append corpus-corpus pairs were emitted by the append
  * that introduced their younger member, and on a 100k batch against a
  * 1M corpus they are ~91% of the in-bucket dot products the old shape
  * computed only for restrictToTouching to discard. A whole-corpus
  * caller marks every member fresh. */
case class CosinePairs(child: Expression, threshold: Double)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("cos", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      // compute() reads members via getArray(1).toDoubleArray(), which
      // misreads any non-double element type (e.g. the raw array<float>
      // embedding column) — require double elements; unitVector already
      // widens float embeddings to double.
      case ArrayType(StructType(Array(a, b, f)), _)
        if a.dataType == LongType &&
          b.dataType.isInstanceOf[ArrayType] &&
          b.dataType.asInstanceOf[ArrayType].elementType == DoubleType &&
          f.dataType == BooleanType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_pairs needs array<struct<bigint,array<double>,boolean>>, got ${other.simpleString}")
    }

  def compute(members: ArrayData): ArrayData = {
    val n = members.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Double]](n)
    val fresh = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val row = members.getStruct(i, 3)
      ids(i) = row.getLong(0)
      vecs(i) = row.getArray(1).toDoubleArray()
      fresh(i) = row.getBoolean(2)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i < n) {
      val vi = vecs(i)
      val fi = fresh(i)
      var j = i + 1
      while (j < n) {
        if (fi || fresh(j)) {
          val vj = vecs(j)
          val d = math.min(vi.length, vj.length)
          var s = 0.0
          var k = 0
          while (k < d) { s += vi(k) * vj(k); k += 1 }
          if (s >= threshold && ids(i) != ids(j)) {
            val (lo, hi) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
            out += org.apache.spark.sql.catalyst.InternalRow(lo, hi, s)
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosinePairs", this, classOf[CosinePairs].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** CANDIDATE pair generation over FLOAT bucket members — the in-bucket
  * half of [[graft.store.EmbedIndex]]'s float-exchange append path: the
  * bucket heap ships a float copy of the unit vector (4·dim vs 8·dim
  * bytes per member per table through the partial-aggregate exchange,
  * the append's dominant cost at production embedding dims), this
  * expression emits (id_a, id_b) whenever the float dot clears
  * `cutoff` = threshold − margin, and survivors are re-verified EXACTLY
  * against the stored doubles outside.
  *
  * Soundness of the margin (why no true pair can be lost): each float
  * member is the correctly-rounded conversion of a unit double vector,
  * so component i carries relative error ≤ 2⁻²⁴; products of two floats
  * are EXACT in double, and the loop below accumulates those products
  * in a double. Hence |float_dot − exact_dot| ≤ 2·2⁻²⁴·Σ|a_i·b_i| +
  * dim·2⁻⁵³ ≤ 2·2⁻²⁴ + dim·2⁻⁵³ ≲ 1.3e-7 on unit vectors
  * (Cauchy–Schwarz bounds Σ|a_i·b_i| by 1). EmbedIndex passes
  * cutoff = threshold − 1e-4, ~800× that bound: a pair with exact
  * cos ≥ threshold always floats above the cutoff, and the ≤1e-4-wide
  * candidate band below threshold is dropped by the exact re-verify —
  * the float path's output is IDENTICAL to [[CosinePairs]]'s.
  *
  * Input is always the 3-field array<struct<id, uvf:array<float>,
  * fresh>> shape ([[graft.plans.BoundedVecMembersF]]): corpus-corpus
  * pairs are skipped exactly as in CosinePairs' fresh-tagged form. No
  * cos rides out — the float value is only a candidate gate; the exact
  * re-verify recomputes it from the stored doubles. */
case class CosineCandidatesF(child: Expression, cutoff: Double)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(StructType(Array(a, b, f)), _)
        if a.dataType == LongType &&
          b.dataType.isInstanceOf[ArrayType] &&
          b.dataType.asInstanceOf[ArrayType].elementType == FloatType &&
          f.dataType == BooleanType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cosine_candidates_f needs array<struct<bigint,array<float>,boolean>>, " +
            s"got ${other.simpleString}")
    }

  def compute(members: ArrayData): ArrayData = {
    val n = members.numElements()
    val ids = new Array[Long](n)
    val vecs = new Array[Array[Float]](n)
    val fresh = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val row = members.getStruct(i, 3)
      ids(i) = row.getLong(0)
      vecs(i) = row.getArray(1).toFloatArray()
      fresh(i) = row.getBoolean(2)
      i += 1
    }
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    i = 0
    while (i < n) {
      val vi = vecs(i)
      val fi = fresh(i)
      var j = i + 1
      while (j < n) {
        if (fi || fresh(j)) {
          val vj = vecs(j)
          val d = math.min(vi.length, vj.length)
          var s = 0.0
          var k = 0
          // double promotion BEFORE the multiply: float×float products
          // are exact in double, which is what the margin bound assumes
          while (k < d) { s += vi(k).toDouble * vj(k); k += 1 }
          if (s >= cutoff && ids(i) != ids(j)) {
            val (lo, hi) = if (ids(i) < ids(j)) (ids(i), ids(j)) else (ids(j), ids(i))
            out += org.apache.spark.sql.catalyst.InternalRow(lo, hi)
          }
        }
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineCandidatesF", this,
      classOf[CosineCandidatesF].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** IVF coarse-quantizer probe: the `nProbe` nearest centroid ids for a
  * vector, by dot product (= cosine when both sides are unit-normalized) →
  * array<int>, nearest first.
  *
  * The centroid matrix lives in the expression instance (it comes from a
  * driver-side training pass over a bounded sample) — ~nLists·dim doubles,
  * serialized once with the plan, no literal tree for Catalyst to chew
  * through. `nProbe = 1` is the corpus-side list assignment; queries use
  * larger nProbe to trade scan fraction for recall. */
case class NearestCentroids(child: Expression, centroids: Seq[Seq[Double]],
                            nProbe: Int)
    extends UnaryExpression {

  require(nProbe >= 1 && nProbe <= centroids.size,
    s"nProbe=$nProbe out of range for ${centroids.size} centroids")

  @transient private lazy val cm: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"nearest_centroids needs array<float|double>, got ${other.simpleString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(v: ArrayData): ArrayData = {
    val nC = cm.length
    val scores = new Array[Double](nC)
    var c = 0
    while (c < nC) {
      val cent = cm(c)
      val n = math.min(v.numElements(), cent.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s += x * cent(i)
        i += 1
      }
      scores(c) = s
      c += 1
    }
    // partial selection of the nProbe best (nProbe is small; O(nProbe·nC))
    val out = new Array[Any](nProbe)
    val taken = new Array[Boolean](nC)
    var p = 0
    while (p < nProbe) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var j = 0
      while (j < nC) {
        if (!taken(j) && scores(j) > bestS) { best = j; bestS = scores(j) }
        j += 1
      }
      // A NaN-poisoned vector makes every comparison false and leaves
      // best = -1. Route-don't-throw: assign the dirty row an arbitrary
      // (deterministic) untaken list instead of failing the whole
      // corpus-assignment job on one bad row.
      if (best < 0) best = p
      taken(best) = true
      out(p) = best
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCentroids", this,
      classOf[NearestCentroids].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** IVF list assignment + residual in one pass: struct<list_id:int,
  * residual:array<double>> where residual = v − centroid(list).
  *
  * Residual (IVFADC) encoding is what makes PQ usable inside IVF lists:
  * raw-vector PQ quantizes the GLOBAL space, so every member of a tight
  * cluster maps to (nearly) the same code and ADC cannot rank within the
  * list — measured recall@10 = 0.04 on the 1M-vector flagship corpus
  * (1024 tight clusters) while the coarse quantizer itself was perfect.
  * Residuals re-center each list at its centroid, so the codebooks spend
  * their resolution on exactly the within-list structure the ranking
  * needs (the IVFADC construction of Jégou et al., "Product Quantization
  * for Nearest Neighbor Search"). Same NaN routing as NearestCentroids:
  * a dirty vector routes to list 0 and its residual subtracts centroid 0
  * like any list-0 member (the NaN components stay NaN through the
  * subtraction, so the poison is preserved, not laundered). */
case class IvfResidual(child: Expression, centroids: Seq[Seq[Double]])
    extends UnaryExpression {

  @transient private lazy val cm: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def dataType: DataType = StructType(Seq(
    StructField("list_id", IntegerType, nullable = false),
    StructField("residual", ArrayType(DoubleType, containsNull = false),
      nullable = false)))

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"ivf_residual needs array<float|double>, got ${other.simpleString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(v: ArrayData): Any = {
    val nC = cm.length
    val n = v.numElements()
    var best = -1
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < nC) {
      val cent = cm(c)
      val lim = math.min(n, cent.length)
      var s = 0.0
      var i = 0
      while (i < lim) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s += x * cent(i)
        i += 1
      }
      if (s > bestS) { best = c; bestS = s }
      c += 1
    }
    if (best < 0) best = 0 // NaN-poisoned vector: route, don't throw
    val cent = cm(best)
    val res = new Array[Any](n)
    var i = 0
    while (i < n) {
      val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
      res(i) = x - (if (i < cent.length) cent(i) else 0.0)
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(best, new GenericArrayData(res))
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ivfResidual", this, classOf[IvfResidual].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Query-side probe list WITH centroid dot products: the nProbe nearest
  * centroids as array<struct<list_id:int, cdot:double>>, nearest first.
  * The residual-ADC score of a candidate in list L is dot(q, c_L) +
  * dot(q, residual̂): the first term is per-(query, probed list) and
  * comes from here; the second is the PqLut/PqAdc pair over residual
  * codebooks. Same selection loop and NaN routing as NearestCentroids. */
case class CentroidDots(child: Expression, centroids: Seq[Seq[Double]],
                        nProbe: Int)
    extends UnaryExpression {

  require(nProbe >= 1 && nProbe <= centroids.size,
    s"nProbe=$nProbe out of range for ${centroids.size} centroids")

  @transient private lazy val cm: Array[Array[Double]] =
    centroids.map(_.toArray).toArray

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("list_id", IntegerType, nullable = false),
      StructField("cdot", DoubleType, nullable = false))),
    containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"centroid_dots needs array<float|double>, got ${other.simpleString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(v: ArrayData): ArrayData = {
    val nC = cm.length
    val scores = new Array[Double](nC)
    var c = 0
    while (c < nC) {
      val cent = cm(c)
      val n = math.min(v.numElements(), cent.length)
      var s = 0.0
      var i = 0
      while (i < n) {
        val x = if (isFloat) v.getFloat(i).toDouble else v.getDouble(i)
        s += x * cent(i)
        i += 1
      }
      scores(c) = s
      c += 1
    }
    val out = new Array[Any](nProbe)
    val taken = new Array[Boolean](nC)
    var p = 0
    while (p < nProbe) {
      var best = -1
      var bestS = Double.NegativeInfinity
      var j = 0
      while (j < nC) {
        if (!taken(j) && scores(j) > bestS) { best = j; bestS = scores(j) }
        j += 1
      }
      if (best < 0) best = p // NaN-poisoned query: route, don't throw
      taken(best) = true
      out(p) = org.apache.spark.sql.catalyst.InternalRow(best, scores(best))
      p += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("centroidDots", this, classOf[CentroidDots].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Product-quantization encode: split the vector into `m` contiguous
  * subspaces and emit, per subspace, the index of the nearest (L2)
  * codebook centroid → array<int> of m small codes.
  *
  * The 100 TB rationale: a 64-dim float vector is 256 bytes; its PQ codes
  * (m=16, k=16) are 16 small ints — a ~16× cut of the bytes every ANN
  * scan reads and every shuffle moves. Codebooks ride in the expression
  * (m·k·subDim doubles, driver-trained on a bounded sample). */
case class PqEncode(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val m = cb.length
  @transient private lazy val subDim = cb(0)(0).length

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_encode needs array<float|double>, got ${other.simpleString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(v: ArrayData): ArrayData = {
    val n = v.numElements()
    val out = new Array[Any](m)
    var s = 0
    while (s < m) {
      val base = s * subDim
      val codes = cb(s)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < codes.length) {
        val cent = codes(c)
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val idx = base + i
          val x = if (idx >= n) 0.0
            else if (isFloat) v.getFloat(idx).toDouble else v.getDouble(idx)
          val diff = x - cent(i)
          d += diff * diff
          i += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = best
      s += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqEncode", this, classOf[PqEncode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Per-query ADC lookup table: dot products of each query subvector
  * against every codebook centroid → array<double> of m·k entries
  * (lut[s·k + c] = q_sub(s) · centroid(s,c)). Computed ONCE per query row
  * and broadcast with it, so scoring a corpus row is m table lookups
  * instead of a dim-wide multiply. */
case class PqLut(child: Expression, codebooks: Seq[Seq[Seq[Double]]])
    extends UnaryExpression {

  @transient private lazy val cb: Array[Array[Array[Double]]] =
    codebooks.map(_.map(_.toArray).toArray).toArray
  @transient private lazy val m = cb.length
  @transient private lazy val k = cb(0).length
  @transient private lazy val subDim = cb(0)(0).length

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType | DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_lut needs array<float|double>, got ${other.simpleString}")
    }

  private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  def compute(q: ArrayData): ArrayData = {
    val n = q.numElements()
    val lut = new Array[Double](m * k)
    var s = 0
    while (s < m) {
      val base = s * subDim
      var c = 0
      while (c < k) {
        val cent = cb(s)(c)
        var d = 0.0
        var i = 0
        while (i < subDim) {
          val idx = base + i
          val x = if (idx >= n) 0.0
            else if (isFloat) q.getFloat(idx).toDouble else q.getDouble(idx)
          d += x * cent(i)
          i += 1
        }
        lut(s * k + c) = d
        c += 1
      }
      s += 1
    }
    new GenericArrayData(lut)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqLut", this, classOf[PqLut].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ADC score: approximate dot(query, vector) from the vector's PQ codes
  * and the query's lookup table — m adds per pair (vs dim multiplies for
  * the exact dot). */
case class PqAdc(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  // left = codes array<int>, right = lut array<double>

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(DoubleType, _)) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"pq_adc needs (array<int>, array<double>), got " +
            s"${l.simpleString}, ${r.simpleString}")
    }

  def compute(codes: ArrayData, lut: ArrayData): Double = {
    val m = codes.numElements()
    var score = 0.0
    var s = 0
    while (s < m) {
      score += lut.getDouble(s * k + codes.getInt(s))
      s += 1
    }
    score
  }

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdc", this, classOf[PqAdc].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object VectorExpressions {
  /** Expose as Columns (Spark 4 classic bridge). */
  def dotProduct(a: Column, b: Column): Column =
    GraftColumnBridge.column(DotProduct(
      GraftColumnBridge.expression(a), GraftColumnBridge.expression(b)))

  def simhash64(tokens: Column): Column =
    GraftColumnBridge.column(SimHash64(GraftColumnBridge.expression(tokens)))

  def minhashSignature(shingles: Column, k: Int, seed: Long = 42L): Column =
    GraftColumnBridge.column(MinHashSignature(
      GraftColumnBridge.expression(shingles), k, seed))

  def hyperplaneBucket(vec: Column, dim: Int, nPlanes: Int, seed: Long): Column =
    GraftColumnBridge.column(HyperplaneBucket(
      GraftColumnBridge.expression(vec), dim, nPlanes, seed))

  def hyperplaneProbes(vec: Column, dim: Int, nPlanes: Int, nProbes: Int,
                       seed: Long): Column =
    GraftColumnBridge.column(HyperplaneProbes(
      GraftColumnBridge.expression(vec), dim, nPlanes, nProbes, seed))

  def simhashComboKeys(sh64: Column, nBlocks: Int, maxHamming: Int): Column =
    GraftColumnBridge.column(SimHashComboKeys(
      GraftColumnBridge.expression(sh64), nBlocks, maxHamming))

  def simhashKeyHits(sh64: Column, nBlocks: Int, maxHamming: Int,
                     keys: Array[Long]): Column =
    GraftColumnBridge.column(SimHashKeyHits(
      GraftColumnBridge.expression(sh64), nBlocks, maxHamming,
      SortedMixedKeys(keys)))

  def simhashKeyHitsBloom(sh64: Column, nBlocks: Int, maxHamming: Int,
                          bloom: org.apache.spark.util.sketch.BloomFilter)
      : Column =
    GraftColumnBridge.column(SimHashKeyHits(
      GraftColumnBridge.expression(sh64), nBlocks, maxHamming,
      BloomMixedKeys(bloom)))

  def minhashKeyHits(hArr: Column, k: Int, bands: Int,
                     keys: Array[Long]): Column =
    GraftColumnBridge.column(MinHashKeyHits(
      GraftColumnBridge.expression(hArr), k, bands, SortedMixedKeys(keys)))

  def minhashKeyHitsBloom(hArr: Column, k: Int, bands: Int,
                          bloom: org.apache.spark.util.sketch.BloomFilter)
      : Column =
    GraftColumnBridge.column(MinHashKeyHits(
      GraftColumnBridge.expression(hArr), k, bands, BloomMixedKeys(bloom)))

  def hyperplaneTableKeys(uv: Column, dim: Int, nTables: Int, bits: Int,
                          seed: Long): Column =
    GraftColumnBridge.column(HyperplaneTableKeys(
      GraftColumnBridge.expression(uv), dim, nTables, bits, seed))

  def hyperplaneKeyHits(uv: Column, dim: Int, nTables: Int, bits: Int,
                        seed: Long, keys: Array[Long]): Column =
    GraftColumnBridge.column(HyperplaneKeyHits(
      GraftColumnBridge.expression(uv), dim, nTables, bits, seed,
      SortedMixedKeys(keys)))

  def hyperplaneKeyHitsBloom(uv: Column, dim: Int, nTables: Int, bits: Int,
                             seed: Long,
                             bloom: org.apache.spark.util.sketch.BloomFilter)
      : Column =
    GraftColumnBridge.column(HyperplaneKeyHits(
      GraftColumnBridge.expression(uv), dim, nTables, bits, seed,
      BloomMixedKeys(bloom)))

  def hammingPairs(members: Column, maxHamming: Int): Column =
    GraftColumnBridge.column(HammingPairs(
      GraftColumnBridge.expression(members), maxHamming))

  def cosinePairs(members: Column, threshold: Double): Column =
    GraftColumnBridge.column(CosinePairs(
      GraftColumnBridge.expression(members), threshold))

  def cosineCandidatesF(members: Column, cutoff: Double): Column =
    GraftColumnBridge.column(CosineCandidatesF(
      GraftColumnBridge.expression(members), cutoff))

  def allPairs(members: Column): Column =
    GraftColumnBridge.column(AllPairs(GraftColumnBridge.expression(members)))

  def nearestCentroids(vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    GraftColumnBridge.column(NearestCentroids(
      GraftColumnBridge.expression(vec), centroids, nProbe))

  def ivfResidual(vec: Column, centroids: Seq[Seq[Double]]): Column =
    GraftColumnBridge.column(IvfResidual(
      GraftColumnBridge.expression(vec), centroids))

  def centroidDots(vec: Column, centroids: Seq[Seq[Double]], nProbe: Int): Column =
    GraftColumnBridge.column(CentroidDots(
      GraftColumnBridge.expression(vec), centroids, nProbe))

  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftColumnBridge.column(PqEncode(
      GraftColumnBridge.expression(vec), codebooks))

  def pqLut(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    GraftColumnBridge.column(PqLut(
      GraftColumnBridge.expression(vec), codebooks))

  def pqAdc(codes: Column, lut: Column, k: Int): Column =
    GraftColumnBridge.column(PqAdc(
      GraftColumnBridge.expression(codes), GraftColumnBridge.expression(lut), k))
}
