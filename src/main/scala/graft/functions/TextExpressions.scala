package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import org.apache.spark.sql.graft.ColumnBridge.{colOf, exprOf}

/** Native Catalyst expressions for the text/dedup pipeline (SURVEY.md §7
  * phase 4). All are deterministic, seed-driven, and single-pass — each doc's
  * signature is computed map-side with no shuffle, so they scale linearly
  * with the corpus.
  *
  * Codegen: each expression emits a direct call to its own `compute` method
  * through the codegen `references` array, so it participates in whole-stage
  * codegen (a `CodegenFallback` would interpret the ENTIRE subtree per row,
  * including the upstream `split`/`lower` — the r1 minhash bottleneck).
  */
private[functions] object TextHashing {
  /** splitmix64 — stateless counter-mode 64-bit mixer. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** FNV-1a over UTF-8 bytes, then mixed — cheap, good-dispersion base hash. */
  def hashUtf8(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ (bytes(i) & 0xffL)) * 0x100000001b3L
      i += 1
    }
    mix(h)
  }
}

/** MinHash signature of a token array: `numHashes` min-values over the
  * doc's `shingleSize`-token shingles, each shingle hashed once and then
  * re-dispersed through `numHashes` affine transforms (the standard
  * one-base-hash minhash family). Output: array<bigint> of length
  * `numHashes`.
  *
  * Shingling happens inside the expression (combined hash of consecutive
  * token hashes) — shingle strings are never materialized.
  */
case class MinHashSignature(child: Expression, numHashes: Int, shingleSize: Int, seed: Long)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_signature"

  @transient private lazy val coeffs: Array[(Long, Long)] =
    Array.tabulate(numHashes) { i =>
      (TextHashing.mix(seed + 2L * i) | 1L, TextHashing.mix(seed + 2L * i + 1))
    }

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("minhash", this, classOf[MinHashSignature].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($c);")
  }

  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    val mins = Array.fill(numHashes)(Long.MaxValue)
    if (n >= shingleSize) {
      val tokenHashes = new Array[Long](n)
      var i = 0
      while (i < n) {
        tokenHashes(i) = TextHashing.hashUtf8(tokens.getUTF8String(i))
        i += 1
      }
      var s = 0
      while (s <= n - shingleSize) {
        var base = 0L
        var j = 0
        while (j < shingleSize) {
          base = TextHashing.mix(base ^ tokenHashes(s + j))
          j += 1
        }
        var h = 0
        while (h < numHashes) {
          val (a, b) = coeffs(h)
          val hv = a * base + b
          if (hv < mins(h)) mins(h) = hv
          h += 1
        }
        s += 1
      }
    }
    new GenericArrayData(mins)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** 64-bit SimHash of a token array: per-bit voting over token hashes.
  * Near-duplicate docs land within a small Hamming distance; pair search
  * buckets on 16-bit chunks (pigeonhole: distance ≤ 3 ⇒ ≥ 1 equal chunk).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhash", this, classOf[SimHash64].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(tokens: ArrayData): Long = {
    // votes(b) = 2·ones(b) − n, so the sign bit only needs the ONES count
    // per position. SWAR form (r21): eight 8-bit lanes per accumulator
    // long count bit positions {j, j+8, …, j+56} at once — 8 shift+mask
    // adds per token instead of 64 branchy updates; lanes flush to the
    // exact 32-bit counters every 255 tokens (an 8-bit lane's capacity),
    // so the counts — and the resulting hash — are bit-identical to the
    // per-bit loop at any document length.
    val ones = new Array[Int](64)
    val acc = new Array[Long](8)
    val n = tokens.numElements()
    var pending = 0
    var i = 0
    while (i < n) {
      val h = TextHashing.hashUtf8(tokens.getUTF8String(i))
      var j = 0
      while (j < 8) {
        acc(j) += (h >>> j) & 0x0101010101010101L
        j += 1
      }
      pending += 1
      if (pending == 255 || i == n - 1) {
        var jj = 0
        while (jj < 8) {
          val a = acc(jj)
          var k = 0
          while (k < 8) {
            ones(jj + 8 * k) += ((a >>> (8 * k)) & 0xffL).toInt
            k += 1
          }
          acc(jj) = 0L
          jj += 1
        }
        pending = 0
      }
      i += 1
    }
    var out = 0L
    var b = 0
    // votes(b) > 0  ⇔  2·ones(b) > n
    while (b < 64) { if (2L * ones(b) > n) out |= (1L << b); b += 1 }
    out
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Distinct, ASCENDING-SORTED 64-bit hashes of the doc's `shingleSize`-token
  * shingles — the exact-Jaccard companion of [[MinHashSignature]]: one
  * tokenization, one rolling combine pass, shingle strings never
  * materialized. Output is sorted so [[JaccardLongSorted]] merge-counts the
  * intersection in O(|a|+|b|) with no per-row hash-set allocation.
  *
  * Replaces the r2 `transform(sequence(...), i -> xxhash64(concat_ws(' ',
  * slice(split(...), i, n))))` form, which re-split the whole document per
  * shingle index (O(words²)) AND interpreted the entire subtree per row
  * (higher-order functions are CodegenFallback) — 65 of BENCH_r02's 148
  * seconds.
  */
case class ShingleHashes(child: Expression, shingleSize: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingles", this, classOf[ShingleHashes].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($c);")
  }

  def compute(tokens: ArrayData): ArrayData = {
    val n = tokens.numElements()
    if (n < shingleSize) return new GenericArrayData(Array.emptyLongArray)
    val tokenHashes = new Array[Long](n)
    var i = 0
    while (i < n) {
      tokenHashes(i) = TextHashing.hashUtf8(tokens.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](n - shingleSize + 1)
    var s = 0
    while (s <= n - shingleSize) {
      var h = 0L
      var j = 0
      while (j < shingleSize) { h = TextHashing.mix(h ^ tokenHashes(s + j)); j += 1 }
      out(s) = h
      s += 1
    }
    java.util.Arrays.sort(out)
    var w = 1
    var r = 1
    while (r < out.length) {
      if (out(r) != out(r - 1)) { out(w) = out(r); w += 1 }
      r += 1
    }
    new GenericArrayData(if (w == out.length) out else java.util.Arrays.copyOf(out, w))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Exact Jaccard similarity of two ascending-sorted distinct long arrays
  * ([[ShingleHashes]] output): single merge pass, no allocation. Two empty
  * sets score 0.0 (they carry no shared content worth pairing).
  *
  * Replaces `size(array_intersect(a, b)) / size(array_union(a, b))`, which
  * builds two hash sets and two result arrays per candidate pair.
  */
case class JaccardLongSorted(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sorted"

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jaccard", this, classOf[JaccardLongSorted].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
  }

  def compute(a: ArrayData, b: ArrayData): Double = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var inter = 0
    // prev trackers: the merge is only correct on ascending-sorted distinct
    // input ([[ShingleHashes]] output); a violation on the visited prefix
    // fails loud instead of silently under-counting the intersection
    var prevA = Long.MinValue
    var prevB = Long.MinValue
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if ((i > 0 && x <= prevA) || (j > 0 && y <= prevB)) notSorted()
      if (x == y) { inter += 1; prevA = x; prevB = y; i += 1; j += 1 }
      else if (x < y) { prevA = x; i += 1 }
      else { prevB = y; j += 1 }
    }
    val union = na + nb - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  private def notSorted(): Nothing =
    throw new IllegalArgumentException(
      "jaccard_sorted requires ascending-sorted distinct arrays " +
        "(shingle_hashes output); got an unsorted or duplicated element")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Fraction of positions where two equal-length signature arrays agree —
  * the minhash Jaccard estimate. Replaces the per-candidate-pair
  * `aggregate(zip_with(sig_a, sig_b, ...))` form (CodegenFallback + two
  * 64-element array allocations per pair — the other half of the r2 dedup
  * regression).
  */
case class SignatureAgreement(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "signature_agreement"

  override def nullSafeEval(l: Any, r: Any): Any =
    compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sigagree", this, classOf[SignatureAgreement].getName)
    nullSafeCodeGen(ctx, ev, (l, r) => s"${ev.value} = $ref.compute($l, $r);")
  }

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    require(b.numElements() == n, s"signature lengths differ: $n vs ${b.numElements()}")
    if (n == 0) return 0.0
    var i = 0
    var eq = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) eq += 1
      i += 1
    }
    eq.toDouble / n
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** LSH band hashes of a minhash signature: the signature is cut into `bands`
  * equal runs and each run is mix-combined into one 64-bit value. Replaces
  * `transform(sequence(0, b-1), i -> hash(slice(sig, i*r+1, r)))`
  * (CodegenFallback, per-band array slices).
  */
case class BandHashes(child: Expression, bands: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_hashes"

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandhashes", this, classOf[BandHashes].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($c);")
  }

  def compute(sig: ArrayData): ArrayData = {
    val n = sig.numElements()
    require(n % bands == 0, s"signature length $n not divisible by $bands bands")
    val r = n / bands
    val out = new Array[Long](bands)
    var b = 0
    var i = 0
    while (b < bands) {
      var h = 0L
      var j = 0
      while (j < r) { h = TextHashing.mix(h ^ sig.getLong(i)); i += 1; j += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Two-level pigeonhole bucket keys for SimHash Hamming search, as
  * (maxHamming+1)² mixed 64-bit keys.
  *
  * Level 1 cuts the 64-bit simhash into c = maxHamming+1 chunks: a pair
  * within the distance budget has ≥ 1 chunk with zero differing bits
  * (pigeonhole). Level 2 re-applies the same argument inside each chunk's
  * candidate set: the OTHER 64-width(i) bits still differ in ≤ maxHamming
  * positions, so cutting them into c sub-chunks guarantees ≥ 1 equal
  * sub-chunk. Key (i, j, chunk_i, subchunk_j) is therefore shared by every
  * true pair for some (i, j) — and carries width(i)+width(j) ≈ 28 bits of
  * value (vs 16 for level 1 alone), which is what keeps buckets from
  * saturating on big corpora (the r2 scale-killer: ≤ 65,536 distinct
  * level-1 buckets meant every bucket overflowed at sf0.1 already).
  *
  * The four parts are mix-combined into a single long key; a hash collision
  * between different (i, j, chunk, sub) tuples only adds a candidate that
  * the exact-Hamming verify then discards (~2⁻⁶⁴ per pair — no recall
  * loss, since equal tuples always produce equal keys).
  */
case class SimHashBucketKeys(child: Expression, maxHamming: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(maxHamming >= 0 && maxHamming <= 15,
    s"maxHamming must be in [0, 15], got $maxHamming")

  override def inputTypes: Seq[DataType] = Seq(LongType)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_bucket_keys"

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("simhashkeys", this, classOf[SimHashBucketKeys].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($c);")
  }

  def compute(sh: Long): ArrayData = {
    val c = maxHamming + 1
    val w = 64 / c
    val out = new Array[Long](c * c)
    var idx = 0
    var i = 0
    while (i < c) {
      val lo = i * w
      val hi = if (i == c - 1) 64 else (i + 1) * w // last chunk takes the remainder bits
      val chunkLen = hi - lo
      val chunkVal = if (chunkLen == 64) sh else (sh >>> lo) & ((1L << chunkLen) - 1)
      // remaining bits (chunk i removed), packed low-to-high in original order
      var rem = 0L
      var remLen = 0
      var b = 0
      while (b < 64) {
        if (b < lo || b >= hi) {
          if (((sh >>> b) & 1L) == 1L) rem |= (1L << remLen)
          remLen += 1
        }
        b += 1
      }
      val sw = remLen / c
      var j = 0
      while (j < c) {
        val slo = j * sw
        val shi = if (j == c - 1) remLen else (j + 1) * sw
        val subLen = shi - slo
        val subVal = if (subLen <= 0) 0L else (rem >>> slo) & ((1L << subLen) - 1)
        out(idx) = TextHashing.mix(
          TextHashing.mix(TextHashing.mix(i.toLong * 0x9e3779b97f4a7c15L + j) ^ chunkVal) ^ subVal)
        idx += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Polynomial rolling-hash fingerprint of a string (Rabin-style, base 257
  * mod 2^64) — an order-sensitive whole-document fingerprint that, unlike
  * md5, can be computed incrementally over a stream of chunks.
  */
case class RollingHash(child: Expression)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("rollhash", this, classOf[RollingHash].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(s: UTF8String): Long = {
    val bytes = s.getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = h * 257L + (bytes(i) & 0xffL); i += 1 }
    TextHashing.mix(h)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Single-pass n-gram repetition profile of a token array: (n_grams,
  * n_distinct, top_count, dup_total) where dup_total sums the multiplicities
  * of grams occurring more than once. Grams are compared by the same
  * combined token-hash the minhash family uses — gram strings are never
  * materialized; multiplicities accumulate in one open-addressed long table
  * sized to the doc (O(g) time/space per row, no sort). NULL for docs
  * shorter than n tokens (no gram exists).
  *
  * The interpreted higher-order-function formulation of the same pass
  * (aggregate over array_sort with a struct accumulator) measured ~10×
  * slower at sf0.1 — per-element struct allocation in the HOF interpreter —
  * which is why this is a native expression.
  *
  * Gram equality is 64-bit-hash equality, not string equality: a WITHIN-DOC
  * collision (the only kind that can shift a count) needs two distinct
  * grams of one document to collide, ≈ g²/2⁶⁵ per doc — ~10⁻¹⁵ for a
  * 10k-gram doc, vanishing even corpus-wide. `CurationSpec`'s relational
  * reference profile compares exact gram strings, and its equality check
  * against [[graft.pipeline.Repetition.ngramRepetition]] would surface
  * any realized collision.
  */
case class RepetitionProfile(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"n must be >= 1, got $n")

  override def dataType: DataType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_distinct", LongType, nullable = false),
    StructField("top_count", LongType, nullable = false),
    StructField("dup", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "repetition_profile"

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("repprofile", this, classOf[RepetitionProfile].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($c);
      ${ev.isNull} = (${ev.value} == null);""")
  }

  def compute(tokens: ArrayData): Any = {
    val nTok = tokens.numElements()
    val g = nTok - n + 1
    if (g <= 0) return null
    val tokenHashes = new Array[Long](nTok)
    var i = 0
    while (i < nTok) {
      tokenHashes(i) = TextHashing.hashUtf8(tokens.getUTF8String(i))
      i += 1
    }
    // open-addressed multiplicity table, power-of-two capacity ≥ 2g;
    // cnts(idx) == 0 marks an empty slot. Long arithmetic for the target:
    // g * 2 as Int could overflow on a pathological billion-gram row and
    // leave the table smaller than g (an unterminating probe loop). The
    // 2^30-slot array is the per-row ceiling — a row above 2^29 grams would
    // fill a clamped table and leave the probe loop unterminating too, so
    // it fails FAST instead (a half-billion-token single document is a
    // data defect; split it upstream, e.g. Packing.chunkDocuments).
    if (g > (1 << 29)) throw new IllegalArgumentException(
      s"repetition_profile: row has $g $n-grams, above the 2^29 per-row " +
        "limit — split oversized documents upstream")
    val target = math.min(g.toLong * 2L, 1L << 30)
    var cap = 4
    while (cap < target) cap <<= 1
    val keys = new Array[Long](cap)
    val cnts = new Array[Int](cap)
    var s = 0
    while (s < g) {
      var base = 0L
      var j = 0
      while (j < n) { base = TextHashing.mix(base ^ tokenHashes(s + j)); j += 1 }
      var idx = base.toInt & (cap - 1)
      while (cnts(idx) != 0 && keys(idx) != base) idx = (idx + 1) & (cap - 1)
      keys(idx) = base
      cnts(idx) += 1
      s += 1
    }
    var top = 0L; var dup = 0L; var nd = 0L
    i = 0
    while (i < cap) {
      val c = cnts(i)
      if (c > 0) { nd += 1; if (c > top) top = c; if (c > 1) dup += c }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](g.toLong, nd, top, dup))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Unicode normalization (`java.text.Normalizer`, in every JDK) — the
  * canonicalization step corpus pipelines run before dedup/fingerprinting
  * so composed vs decomposed accents (NFC) and compatibility variants
  * (NFKC: fullwidth digits, ligatures) stop defeating exact-match
  * operators. Fast path: `isNormalized` is a scan (always true for ASCII),
  * and an already-normal string returns UNCHANGED with zero allocation —
  * at 100 TB the overwhelmingly-ASCII common case pays one pass, no copy.
  */
case class UnicodeNormalize(child: Expression, form: String)
    extends UnaryExpression with ExpectsInputTypes {
  private val normForm = java.text.Normalizer.Form.valueOf(form) // validates form
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = StringType
  override def prettyName: String = s"${form.toLowerCase}_normalize"

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("uninorm", this, classOf[UnicodeNormalize].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  def compute(s: UTF8String): UTF8String = {
    // pure-ASCII bytes are normal under every form: check the raw bytes
    // and return the input itself — no String decode, no allocation
    var i = 0
    val n = s.numBytes
    var ascii = true
    while (ascii && i < n) {
      if (s.getByte(i) < 0) ascii = false
      i += 1
    }
    if (ascii) return s
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, normForm)) s
    else UTF8String.fromString(java.text.Normalizer.normalize(str, normForm))
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The WARC/CDX content digest (`sha1:` + RFC 4648 base32 of the SHA-1)
  * as a native codegen expression — the marker join
  * ([[graft.sources.WarcSink.markRevisits]]) digests every payload of a
  * crawl segment, which is a corpus-wide map pass: a scala UDF there
  * would pay per-row encoder boxing on the hot path (the r12 interpreted
  * lambda lesson), where this emits one direct `compute` call inside
  * whole-stage codegen. Mirrors
  * [[graft.sources.WarcSink.sha1Base32]] exactly (spec-pinned).
  */
case class Sha1Base32Digest(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(BinaryType)
  override def dataType: DataType = StringType
  override def prettyName: String = "sha1_base32_digest"

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sha1b32", this, classOf[Sha1Base32Digest].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($c);")
  }

  def compute(bytes: Array[Byte]): UTF8String =
    UTF8String.fromString("sha1:" + graft.sources.WarcSink.sha1Base32(bytes))

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Feature-hashed bag-of-words vector of a text column — the fused map-side
  * form of [[graft.pipeline.Similarity.hashEmbed]]'s convention: tokenize
  * like `split(lower(text), " ")`, bucket each token by
  * `conv(substring(md5(token), 1, 4), 16, 10) % dim` (the
  * [[graft.pipeline.Sampling.md5Uniform]] construction — the first two md5
  * bytes as an unsigned 16-bit int), and return the per-bucket counts as
  * `array<long>` of length `dim`.
  *
  * Bit-equivalence with the declarative chain it replaces (r21): the
  * tokenizer is `UTF8String.toLowerCase` + regex-split on " " with limit -1
  * (trailing empties kept — exactly Spark's `split`, the same pairing
  * [[WordShingleHashes]] documents), and the bucket of a token is the
  * integer value of the md5 digest's first two bytes (== parsing the first
  * 4 hex chars, what `conv(substring(md5(t),1,4),16,10)` computes) mod
  * `dim` — both operands non-negative, so `%` and `pmod` agree. Counts are
  * exact longs, so the output replays bitwise in any engine.
  *
  * Why it exists: the pre-r21 chain exploded the corpus to one row per
  * token and rebuilt vectors through two hash aggregations plus a
  * zero-fill join-back — three exchanges carrying token-level rows for a
  * result that is a pure per-document map (guide §2.4: remove shuffles
  * outright). This expression computes the vector in the scan's own
  * whole-stage-codegen pass; a null text yields NULL (callers that want
  * the zero vector coalesce it, preserving the old left-join semantics).
  */
case class HashEmbedVector(child: Expression, dim: Int)
    extends UnaryExpression {
  require(dim >= 2 && dim <= 4096, s"dim must be in [2, 4096], got $dim")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hash_embed_vector"

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument")
    }

  // one digest instance per thread — MessageDigest is stateful and tasks
  // share a JVM in local mode
  @transient private lazy val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  private val space = UTF8String.fromString(" ")

  override def nullSafeEval(v: Any): Any = compute(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("hashEmbed", this, classOf[HashEmbedVector].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (${CodeGenerator.javaType(dataType)}) $ref.compute($c);")
  }

  def compute(s: UTF8String): ArrayData = {
    val counts = new Array[Long](dim)
    val md = md5Local.get()
    // limit -1 keeps trailing empty tokens — Spark's split() semantics
    val tokens = s.toLowerCase.split(space, -1)
    var i = 0
    while (i < tokens.length) {
      md.reset()
      val digest = md.digest(tokens(i).getBytes)
      // first two md5 bytes as an unsigned 16-bit int == md5Uniform
      val u = ((digest(0) & 0xff) << 8) | (digest(1) & 0xff)
      counts(u % dim) += 1L
      i += 1
    }
    new GenericArrayData(counts)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object TextFunctions {
  def sha1Base32Digest(payload: Column): Column =
    colOf(Sha1Base32Digest(exprOf(payload)))
  /** 64 minhashes of the token array's 3-token shingles, seed 42. */
  def minhashSignature(tokens: Column): Column =
    colOf(MinHashSignature(exprOf(tokens), 64, 3, 42L))
  def repetitionProfile(tokens: Column, n: Int): Column =
    colOf(RepetitionProfile(exprOf(tokens), n))
  def simhash64(tokens: Column): Column = colOf(SimHash64(exprOf(tokens)))
  def rollingHash(text: Column): Column = colOf(RollingHash(exprOf(text)))
  def shingleHashes(tokens: Column, shingleSize: Int = 3): Column =
    colOf(ShingleHashes(exprOf(tokens), shingleSize))
  def jaccardSorted(a: Column, b: Column): Column =
    colOf(JaccardLongSorted(exprOf(a), exprOf(b)))
  def signatureAgreement(a: Column, b: Column): Column =
    colOf(SignatureAgreement(exprOf(a), exprOf(b)))
  def bandHashes(sig: Column, bands: Int): Column =
    colOf(BandHashes(exprOf(sig), bands))
  def simhashBucketKeys(sh: Column, maxHamming: Int): Column =
    colOf(SimHashBucketKeys(exprOf(sh), maxHamming))
  def unicodeNormalize(text: Column, form: String = "NFC"): Column =
    colOf(UnicodeNormalize(exprOf(text), form))
  def hashEmbedVector(text: Column, dim: Int): Column =
    colOf(HashEmbedVector(exprOf(text), dim))
}
