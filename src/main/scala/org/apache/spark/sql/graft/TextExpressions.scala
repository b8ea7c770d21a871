// Lives under org.apache.spark.sql to reach the private[sql] Column<->
// Expression bridge (ExpressionUtils) — the conventional home for
// third-party native expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native expressions for the two hottest scalar kernels of the dedup
  * pipelines (SURVEY.md §2 LLM-pipeline operators), replacing the last two
  * `ScalaUDF`s on any benched path. A ScalaUDF costs catalyst↔Scala
  * converters on every input/output (UTF8String→String→Seq boxing and
  * back) and an opaque non-codegen call; these stay inside whole-stage
  * codegen as a static-kernel call with no converter layer — the minhash
  * kernel in particular reads its input longs straight out of `ArrayData`
  * with zero boxing.
  *
  * Semantics are bit-identical to the UDFs they replace (pinned by
  * equivalence tests in ExtSpec and by every dedup gate's unchanged oracle
  * hash).
  */
object TextKernels {

  /** Number of leading CODE POINTS shared by `a` and `b` — exactly the
    * value of the interpreted `substr(i,1)`-comparison fold it replaces
    * (SuffixDedup.lcpCol), computed allocation-free on the UTF-8 bytes:
    * find the byte-level common prefix, then count the COMPLETE code
    * points inside it (a byte mismatch mid-code-point means that code
    * point differs, so the partial code point is correctly not counted;
    * UTF-8 prefix-codes code points, so equal byte prefixes and equal
    * char prefixes coincide).
    */
  def commonPrefixLength(a: UTF8String, b: UTF8String): Int = {
    val n = math.min(a.numBytes, b.numBytes)
    var i = 0
    while (i < n && a.getByte(i) == b.getByte(i)) i += 1
    var chars = 0
    var j = 0
    while (j < i) {
      val step = UTF8String.numBytesForFirstByte(a.getByte(j))
      if (j + step <= i) { chars += 1; j += step } else j = i
    }
    chars
  }

  /** Content-defined chunks of `text`, computed in one allocation-light
    * pass: codes[i] is the code point at 1-based position i; a cut lands
    * after position i (8 ≤ i ≤ len) when the 8-char rolling polynomial
    * Σ_{j=0..7} codes[i−j]·31^j is ≡ 0 (mod 32); boundaries are
    * [0] ++ cuts ++ [len unless already a cut]; chunk k is the code-point
    * substring (bnds[k], bnds[k+1]]. Text shorter than 8 chars is one
    * chunk, empty text yields one empty chunk.
    *
    * Codes are CODE POINTS, on any text: this is the DuckDB oracle's
    * definition (`Dedup.cdcChunksSql`, whose `ascii` returns the code
    * point of the first character), and the value of the interpreted HOF
    * chain it replaced (graft.ext.Dedup.withCdcChunks), which read
    * `ascii(substring(text, i, 1))`: Spark 4.1's `ascii` also returns the
    * first character's code point, not its first UTF-8 byte. PropertySpec
    * pins the cuts on non-ASCII text against a plain evaluation of the
    * polynomial, and Spark's `ascii` against the code points.
    */
  def cdcChunks(text: UTF8String): ArrayData = {
    val cps = text.toString.codePoints().toArray
    val n = cps.length
    val p31 = Array(1L, 31L, 961L, 29791L, 923521L, 28629151L,
      887503681L, 27512614111L)
    val bnds = scala.collection.mutable.ArrayBuffer(0)
    if (n >= 8) {
      var i = 8
      while (i <= n) {
        var acc = 0L
        var j = 0
        while (j < 8) { acc += cps(i - 1 - j).toLong * p31(j); j += 1 }
        if (acc % 32 == 0) bnds += i
        i += 1
      }
    }
    // the HOF appends len iff it is not already a cut (cuts = bnds minus
    // the leading 0) — for empty text this yields [0, 0], one "" chunk
    if (!(bnds.length > 1 && bnds.last == n)) bnds += n
    val out = new Array[Any](bnds.length - 1)
    var k = 0
    while (k < out.length) {
      out(k) = UTF8String.fromString(
        new String(cps, bnds(k), bnds(k + 1) - bnds(k)))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Word 3-gram distinct shingles in first-occurrence order — the exact
    * contract of the former `shinglesUdf`: Java `split(" ", -1)` (keep
    * trailing empties, same tokens as DuckDB `string_split`), fewer than 3
    * words → empty array. Works on UTF8String in and out; the split itself
    * runs on the decoded String (the shingle strings must concatenate with
    * spaces anyway, and one decode per row is far cheaper than the UDF's
    * full converter stack).
    */
  def shingles3(text: UTF8String): ArrayData = {
    val words = text.toString.split(" ", -1)
    if (words.length < 3) new GenericArrayData(Array.empty[Any])
    else {
      val out = new java.util.LinkedHashSet[String]
      var i = 0
      while (i + 2 < words.length) {
        out.add(words(i) + " " + words(i + 1) + " " + words(i + 2))
        i += 1
      }
      val arr = new Array[Any](out.size)
      val it = out.iterator()
      var j = 0
      while (it.hasNext) { arr(j) = UTF8String.fromString(it.next()); j += 1 }
      new GenericArrayData(arr)
    }
  }

  /** Distinct deletion neighborhood of `text` up to `maxDist` codepoint
    * removals, the string itself first — the blocking-key kernel of the
    * fuzzy join (graft.ext.FuzzyJoin). BFS with a global seen-set: depth-k
    * variants of already-seen strings are subsets of what their first
    * discovery generates, so each distinct variant is expanded once.
    * Codepoint-based deletion matches Spark's `levenshtein` (UTF8String
    * codepoint distance), so the necessary-condition proof (distance ≤ d
    * ⇒ shared key) holds beyond the BMP too.
    */
  def deletionNeighborhood(text: UTF8String, maxDist: Int): ArrayData = {
    val s = text.toString
    val seen = new java.util.LinkedHashSet[String]
    seen.add(s)
    var frontier = new java.util.ArrayList[String]
    frontier.add(s)
    var depth = 0
    while (depth < maxDist && !frontier.isEmpty) {
      val next = new java.util.ArrayList[String]
      val it = frontier.iterator()
      while (it.hasNext) {
        val f = it.next()
        val cps = f.codePoints().toArray
        var i = 0
        while (i < cps.length) {
          val sb = new java.lang.StringBuilder(f.length)
          var j = 0
          while (j < cps.length) {
            if (j != i) sb.appendCodePoint(cps(j)); j += 1
          }
          val v = sb.toString
          if (seen.add(v)) next.add(v)
          i += 1
        }
      }
      frontier = next
      depth += 1
    }
    val arr = new Array[Any](seen.size)
    val sit = seen.iterator()
    var j = 0
    while (sit.hasNext) { arr(j) = UTF8String.fromString(sit.next()); j += 1 }
    new GenericArrayData(arr)
  }

  /** Exact `editDistanceCapped(a, b, 1)` without the DP: strip the maximal
    * common byte prefix and (non-overlapping) suffix, back each end off to
    * a codepoint boundary, and classify the remainders — {0,0} → 0, both
    * ≤ 1 codepoint → 1, anything else → 2. The classic one-edit check
    * (greedy prefix/suffix capture the single edit's alignment), O(n) on
    * the raw UTF-8 bytes with ZERO allocation — the general banded kernel
    * decodes both strings to codepoint arrays per call (4 allocations +
    * full transcode), and the fuzzy verify stage calls this once per
    * candidate pair, tens of millions of times per gate at sf1. Codepoint
    * semantics are preserved exactly (boundary back-off: a byte mismatch
    * inside a codepoint means that codepoint differs), pinned by the
    * kernel fuzz test against the reference DP incl. multi-byte alphabets.
    */
  private def editDistance1(a: UTF8String, b: UTF8String): Int = {
    val na = a.numBytes
    val nb = b.numBytes
    def cont(x: UTF8String, i: Int): Boolean = (x.getByte(i) & 0xC0) == 0x80
    // maximal common byte prefix, backed off to a codepoint boundary
    val minLen = math.min(na, nb)
    var p = 0
    while (p < minLen && a.getByte(p) == b.getByte(p)) p += 1
    if (p == na && p == nb) return 0
    while (p > 0 && p < na && p < nb && cont(a, p)) p -= 1
    // maximal common byte suffix over the remainder, boundary-aligned
    var s = 0
    val maxS = minLen - p
    while (s < maxS && a.getByte(na - 1 - s) == b.getByte(nb - 1 - s)) s += 1
    while (s > 0 && cont(a, na - s)) s -= 1
    // classify the middles by codepoint count (0 or 1, else give up at 2)
    def midIsAtMostOneCp(x: UTF8String, from: Int, to: Int): Boolean =
      from == to ||
        from + UTF8String.numBytesForFirstByte(x.getByte(from)) == to
    if (midIsAtMostOneCp(a, p, na - s) && midIsAtMostOneCp(b, p, nb - s)) 1
    else 2
  }

  /** Levenshtein distance of `a`/`b` CAPPED at `d`: returns the exact
    * distance when ≤ d, else d+1. Ukkonen's band — only the 2d+1 diagonal
    * strip of the DP matrix is computed (O(n·d) instead of the full O(n·m)
    * of the built-in `levenshtein`), with an early exit once a whole row
    * of the band exceeds d. Codepoint-based like the built-in, so capped
    * values agree with `levenshtein(a, b)` exactly wherever ≤ d — the
    * fuzzy join's verify stage only ever needs that range.
    */
  def editDistanceCapped(a: UTF8String, b: UTF8String, d: Int): Int = {
    if (d == 0) return if (a.equals(b)) 0 else 1
    if (d == 1) return editDistance1(a, b)
    val x = a.toString.codePoints().toArray
    val y = b.toString.codePoints().toArray
    val n = x.length
    val m = y.length
    if (math.abs(n - m) > d) return d + 1
    val INF = d + 1
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev, INF)
    var j = 0
    while (j <= math.min(m, d)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      if (i <= d) cur(0) = i
      var best = cur(0)
      val lo = math.max(1, i - d)
      val hi = math.min(m, i + d)
      j = lo
      while (j <= hi) {
        var c = prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1)
        if (prev(j) + 1 < c) c = prev(j) + 1
        if (cur(j - 1) + 1 < c) c = cur(j - 1) + 1
        cur(j) = if (c < INF) c else INF
        if (cur(j) < best) best = cur(j)
        j += 1
      }
      if (best >= INF) return INF
      val t = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) < INF) prev(m) else INF
  }

  /** OSA (optimal string alignment / restricted Damerau-Levenshtein)
    * distance CAPPED at `d`: like [[editDistanceCapped]] plus the
    * adjacent-transposition operation, banded the same way. For values
    * ≤ 1 OSA coincides with FULL Damerau-Levenshtein (the restricted/full
    * divergence — e.g. "CA"→"ABC" — needs ≥ 2 ops), which is what makes
    * a d=1 gate comparable against DuckDB's `damerau_levenshtein`.
    */
  def osaDistanceCapped(a: UTF8String, b: UTF8String, d: Int): Int = {
    val x = a.toString.codePoints().toArray
    val y = b.toString.codePoints().toArray
    val n = x.length
    val m = y.length
    if (math.abs(n - m) > d) return d + 1
    val INF = d + 1
    var prev2 = new Array[Int](m + 1)
    var prev = new Array[Int](m + 1)
    var cur = new Array[Int](m + 1)
    java.util.Arrays.fill(prev2, INF)
    java.util.Arrays.fill(prev, INF)
    var j = 0
    while (j <= math.min(m, d)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= n) {
      java.util.Arrays.fill(cur, INF)
      if (i <= d) cur(0) = i
      var best = cur(0)
      val lo = math.max(1, i - d)
      val hi = math.min(m, i + d)
      j = lo
      while (j <= hi) {
        var c = prev(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1)
        if (prev(j) + 1 < c) c = prev(j) + 1
        if (cur(j - 1) + 1 < c) c = cur(j - 1) + 1
        if (i > 1 && j > 1 && x(i - 1) == y(j - 2) && x(i - 2) == y(j - 1) &&
            prev2(j - 2) + 1 < c) c = prev2(j - 2) + 1
        cur(j) = if (c < INF) c else INF
        if (cur(j) < best) best = cur(j)
        j += 1
      }
      if (best >= INF) return INF
      val t = prev2; prev2 = prev; prev = cur; cur = t
      i += 1
    }
    if (prev(m) < INF) prev(m) else INF
  }

  /** Jaro-Winkler similarity over the UTF-8 BYTES of `a`/`b`, in the
    * exact variant DuckDB's `jaro_winkler_similarity` computes (verified
    * bit-for-bit on 5 000 fuzzed pairs incl. multi-byte codepoints):
    * byte-level Jaro (match window max(l1,l2)/2−1, transpositions over
    * matched order), empty string → 0, Winkler prefix boost (scale 0.1,
    * prefix cap 4) applied only when Jaro ≥ 0.7, and the same
    * floating-point evaluation order — so scores hash-compare across
    * engines with no rounding contract needed.
    */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val x = a.getBytes
    val y = b.getBytes
    val l1 = x.length
    val l2 = y.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val hi = math.min(l2 - 1, i + window)
      var j = math.max(0, i - window)
      var open = true
      while (j <= hi && open) {
        if (!m2(j) && x(i) == y(j)) {
          m1(i) = true; m2(j) = true; m += 1; open = false
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (x(i) != y(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val md = m.toDouble
    val j0 = (md / l1 + md / l2 + (md - t) / md) / 3
    if (j0 < 0.7) j0
    else {
      val cap = math.min(4, math.min(l1, l2))
      var pre = 0
      while (pre < cap && x(pre) == y(pre)) pre += 1
      j0 + pre * 0.1 * (1 - j0)
    }
  }

  private final val NumHashes = 32

  private def mix(h0: Long): Long = {
    var h = h0 + 0x9e3779b97f4a7c15L
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** The 32-slot minhash signature over a doc's shingle hashes — the exact
    * loop of the former `sigOfHashes` UDF (splitmix64 chain over each base
    * hash, per-slot running minimum), reading primitive longs directly from
    * `ArrayData`.
    */
  def minhashSig(hs: ArrayData): ArrayData = {
    val buf = Array.fill(NumHashes)(Long.MaxValue)
    val n = hs.numElements()
    var k = 0
    while (k < n) {
      var x = hs.getLong(k)
      var i = 0
      while (i < NumHashes) {
        x = mix(x)
        if (x < buf(i)) buf(i) = x
        i += 1
      }
      k += 1
    }
    new GenericArrayData(buf)
  }
}

/** `shingles3(text)` as a codegen'd unary expression (null in → null out). */
case class Shingles3(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles3"

  override def nullSafeEval(a: Any): Any =
    TextKernels.shingles3(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graft.TextKernels.shingles3($a)")

  override protected def withNewChildInternal(newChild: Expression): Shingles3 =
    copy(child = newChild)
}

/** `minhashSig(array<long>)` as a codegen'd unary expression. */
case class MinhashSig(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def nullSafeEval(a: Any): Any =
    TextKernels.minhashSig(a.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graft.TextKernels.minhashSig($a)")

  override protected def withNewChildInternal(newChild: Expression): MinhashSig =
    copy(child = newChild)
}

/** `deletionNeighborhood(text, maxDist)` as a codegen'd unary expression
  * (`maxDist` is a plan-time constant, not a child).
  */
case class DeletionNeighborhood(child: Expression, maxDist: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(maxDist >= 1, s"maxDist must be >= 1, got $maxDist")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_deletion_neighborhood"

  override def nullSafeEval(a: Any): Any =
    TextKernels.deletionNeighborhood(a.asInstanceOf[UTF8String], maxDist)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graft.TextKernels.deletionNeighborhood($a, $maxDist)")

  override protected def withNewChildInternal(newChild: Expression): DeletionNeighborhood =
    copy(child = newChild)
}

/** `editDistanceCapped(a, b, maxDist)` as a codegen'd binary expression:
  * the exact Levenshtein distance when ≤ maxDist, else maxDist+1.
  */
case class EditDistanceCapped(left: Expression, right: Expression, maxDist: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_edit_distance_capped"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.editDistanceCapped(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxDist)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.TextKernels.editDistanceCapped($a, $b, $maxDist)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EditDistanceCapped =
    copy(left = newLeft, right = newRight)
}

/** `osaDistanceCapped(a, b, maxDist)` as a codegen'd binary expression. */
case class OsaDistanceCapped(left: Expression, right: Expression, maxDist: Int)
    extends BinaryExpression with ExpectsInputTypes {
  require(maxDist >= 0, s"maxDist must be >= 0, got $maxDist")

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_osa_distance_capped"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.osaDistanceCapped(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], maxDist)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.TextKernels.osaDistanceCapped($a, $b, $maxDist)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): OsaDistanceCapped =
    copy(left = newLeft, right = newRight)
}

/** `cdcChunks(text)` as a codegen'd unary expression: the content-defined
  * chunk array of [[graft.ext.Dedup.withCdcChunks]]'s rolling-hash rule —
  * the interpreted HOF chain it replaces evaluated an O(W) lambda
  * aggregate per character with per-element `element_at` lookups.
  */
case class CdcChunks(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_cdc_chunks"

  override def nullSafeEval(a: Any): Any =
    TextKernels.cdcChunks(a.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a =>
      s"org.apache.spark.sql.graft.TextKernels.cdcChunks($a)")

  override protected def withNewChildInternal(newChild: Expression): CdcChunks =
    copy(child = newChild)
}

/** `commonPrefixLength(a, b)` as a codegen'd binary expression: the number
  * of leading code points the two strings share (the capped-suffix LCP
  * kernel of [[graft.ext.SuffixDedup]] — the interpreted
  * `transform(sequence(...))` fold it replaces allocated ~2·cap one-char
  * substrings per comparison).
  */
case class CommonPrefixLength(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_common_prefix"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.commonPrefixLength(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.TextKernels.commonPrefixLength($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CommonPrefixLength =
    copy(left = newLeft, right = newRight)
}

/** `jaroWinkler(a, b)` as a codegen'd binary expression. */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_jaro_winkler"

  override def nullSafeEval(a: Any, b: Any): Any =
    TextKernels.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"org.apache.spark.sql.graft.TextKernels.jaroWinkler($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaroWinkler =
    copy(left = newLeft, right = newRight)
}

object TextExpressions {
  def shingles3(text: Column): Column =
    ExpressionUtils.column(Shingles3(ExpressionUtils.expression(text)))
  def minhashSig(hashes: Column): Column =
    ExpressionUtils.column(MinhashSig(ExpressionUtils.expression(hashes)))
  def deletionNeighborhood(text: Column, maxDist: Int): Column =
    ExpressionUtils.column(
      DeletionNeighborhood(ExpressionUtils.expression(text), maxDist))
  def editDistanceCapped(a: Column, b: Column, maxDist: Int): Column =
    ExpressionUtils.column(EditDistanceCapped(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), maxDist))
  def osaDistanceCapped(a: Column, b: Column, maxDist: Int): Column =
    ExpressionUtils.column(OsaDistanceCapped(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b), maxDist))
  def jaroWinkler(a: Column, b: Column): Column =
    ExpressionUtils.column(JaroWinkler(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def commonPrefixLength(a: Column, b: Column): Column =
    ExpressionUtils.column(CommonPrefixLength(
      ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
  def cdcChunks(text: Column): Column =
    ExpressionUtils.column(CdcChunks(ExpressionUtils.expression(text)))
}
