package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** The MinHash hash family, engine-portable: a polynomial base hash of
  * the shingle mod 2⁶¹−1 (same Mersenne arithmetic as Winnow), a
  * second derived hash h2 = (A·h1 + B) mod P, then the classic two-hash
  * construction h_s = (h1 + s·h2) mod P for s = 0..63 (Kirsch–
  * Mitzenmacher: two hashes simulate a family of k) — computed
  * incrementally, so a shingle costs ONE polynomial scan + ONE mulmod
  * + 64 addmods instead of the 64 mulmods of a per-seed affine family.
  * A/B are driver-side literals, so an ANSI SQL engine with 128-bit
  * integers reproduces every signature value exactly (list_reduce fold
  * for h1, one HUGEINT multiply-mod for h2, plain (h1 + s·h2) % P per
  * seed) — what makes dedup_minhash oracle-checkable end to end.
  *
  * One interpreted call per DOCUMENT computes the whole 64-value
  * signature; the surrounding projection (normalization, shingling,
  * element extraction) stays codegen'd.
  *
  * QUALITY TRADE (explicit): the two-hash construction makes every
  * seed hash an affine function of h1 with pairwise-CORRELATED
  * coefficients — strictly weaker min-wise independence than 64
  * independent affine constants. Kirsch–Mitzenmacher proved the
  * construction for Bloom-filter false-positive rates, not for MinHash
  * estimator variance, so on adversarially structured corpora the
  * Jaccard estimate can be noisier than the independent family at the
  * same seed count. The estimator stays UNBIASED per seed (each h_s is
  * still a universal hash), the slots are what correlate. DedupSpec's
  * estimator-quality case pins the observed behavior on real data:
  * the 64-slot estimate tracks exact shingle Jaccard within the
  * binomial error envelope on every verified near-dup pair. If a
  * corpus ever shows estimator drift, revert to per-seed independent
  * affine constants — one line here plus the oracle's `mins` CTE — at
  * 64 mulmods per shingle instead of 1.
  */
object MinhashHash {
  val Seeds = 64

  /** Derivation constants for h2, from one splitmix64 stream, reduced
    * below P; the multiplier is forced nonzero.
    */
  val (deriveA: Long, deriveB: Long) = {
    var state = 0x51ab2e4c9d274f1bL
    def next(): Long = {
      state += 0x9e3779b97f4a7c15L
      var z = state
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    (math.max((next() >>> 3) % Winnow.P, 1L), (next() >>> 3) % Winnow.P)
  }

  /** Polynomial hash of the codepoints mod P (empty string → 0). */
  def polyHash(s: String): Long = {
    var h = 0L
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      h = Winnow.addmod(Winnow.mulmod(h, Winnow.Base), cp)
      i += Character.charCount(cp)
    }
    h
  }

  /** Whole-signature kernel: the 64 per-seed MINIMA over a document's
    * shingle set, in one pass over the array — the signature of a doc
    * is a pure function of its own row, so signatures need NO
    * explode-and-reaggregate shuffle at all (map-side projection).
    * Null elements are skipped; a signature over zero shingles is
    * undefined and the expression returns NULL for it (a sentinel
    * value would make every empty input collide in every LSH band).
    */
  def signature(shingles: Array[String]): Array[Long] = {
    val mins = Array.fill(Seeds)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      if (shingles(i) != null) {
        val h1 = polyHash(shingles(i))
        val h2 = Winnow.addmod(Winnow.mulmod(deriveA, h1), deriveB)
        // h_s = (h1 + s·h2) mod P, built incrementally: one addmod/seed
        var h = h1
        var s = 0
        while (s < Seeds) {
          if (h < mins(s)) mins(s) = h
          h = Winnow.addmod(h, h2)
          s += 1
        }
      }
      i += 1
    }
    mins
  }

  /** Column API. */
  def signature(shingles: Column): Column =
    GraftSqlBridge.column(MinhashSignature(GraftSqlBridge.expression(shingles)))

  /** Pack each LSH band's signature slice into ONE long: a polynomial
    * fold of the band's values mod 2⁶¹−1 (same Base/P as every other
    * portable hash here). The packed key is what shuffles during
    * banding — 8 bytes instead of rowsPerBand longs of array key, which
    * is the difference between moving 8 B and ~50 B per (doc, band) row
    * at corpus scale. Collisions between distinct bands are possible in
    * principle (that is what makes it a hash), but the DuckDB oracle
    * computes the IDENTICAL fold in HUGEINT, so both engines agree on
    * every bucket bit-for-bit and the correctness gate still checks the
    * whole pipeline end to end.
    */
  def bandPack(sig: Array[Long], bands: Int): Array[Long] = {
    val rowsPerBand = sig.length / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = 0L
      var i = b * rowsPerBand
      val end = i + rowsPerBand
      while (i < end) {
        h = Winnow.addmod(Winnow.mulmod(h, Winnow.Base), sig(i))
        i += 1
      }
      out(b) = h
      b += 1
    }
    out
  }

  /** Column API over a full signature array. */
  def bandKeys(sig: Column, bands: Int): Column =
    GraftSqlBridge.column(MinhashBandKeys(GraftSqlBridge.expression(sig), bands))

  /** Column API: element-wise [[polyHash]] of a string array — the
    * portable mod-2⁶¹−1 hash each feature-hashing operator (DSIR
    * importance weights) folds features through. One pass, map-side;
    * null elements hash to null.
    */
  def polyHashes(features: Column): Column =
    GraftSqlBridge.column(PolyHashes(GraftSqlBridge.expression(features)))

  /** Column API: |A ∩ B| of two ASCENDING-sorted arrays as multisets —
    * each value equal on both sides adds ca·cb, the row count an
    * equi-join of the two exploded arrays on the element produces.
    * Null elements match nothing, as in that join. See [[InterCount]].
    */
  def interCount(a: Column, b: Column): Column =
    GraftSqlBridge.column(InterCount(GraftSqlBridge.expression(a), GraftSqlBridge.expression(b)))
}

/** `inter_count(sorted_a, sorted_b)`: one merge walk, O(|A|+|B|), over
  * two arrays that are sorted ascending by the element type's ordering
  * (what `array_sort` produces; its trailing nulls are skipped). Any
  * orderable element type works; long arrays — the hashed shingle sets
  * of the MinHash verify — take an unboxed path. Unsorted input gives
  * a wrong count, not an error. A null array gives null.
  */
case class InterCount(left: Expression, right: Expression)
    extends BinaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(a, _), ArrayType(b, _)) if a == b =>
        TypeUtils.checkForOrderingExpr(a, prettyName)
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"inter_count expects two arrays of one element type, got ${l.catalogString} and ${r.catalogString}")
    }

  private lazy val elementType = left.dataType.asInstanceOf[ArrayType].elementType
  private lazy val ordering = TypeUtils.getInterpretedOrdering(elementType)

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (na, nb) = (a.numElements(), b.numElements())
    val compare: (Int, Int) => Int =
      if (elementType == LongType) (i, j) => java.lang.Long.compare(a.getLong(i), b.getLong(j))
      else (i, j) => ordering.compare(a.get(i, elementType), b.get(j, elementType))
    // the length of the run of values equal to x(i) starting at i
    def run(x: ArrayData, n: Int, i: Int, same: Int => Boolean): Int = {
      var k = i + 1
      while (k < n && !x.isNullAt(k) && same(k)) k += 1
      k - i
    }
    var (i, j, count) = (0, 0, 0L)
    while (i < na && j < nb) {
      if (a.isNullAt(i)) i += 1
      else if (b.isNullAt(j)) j += 1
      else {
        val c = compare(i, j)
        if (c < 0) i += 1
        else if (c > 0) j += 1
        else {
          val (i0, j0) = (i, j)
          val ca = run(a, na, i0, k => compare(k, j0) == 0)
          val cb = run(b, nb, j0, k => compare(i0, k) == 0)
          count += ca.toLong * cb
          i += ca
          j += cb
        }
      }
    }
    count
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): InterCount =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "inter_count"
}

/** `poly_hashes(array<string>)`: element-wise polynomial codepoint hash
  * mod 2⁶¹−1 (see [[MinhashHash.polyHash]]); the DuckDB oracle computes
  * the identical fold via list_reduce in HUGEINT.
  */
case class PolyHashes(child: Expression)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"poly_hashes expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Any](arr.numElements())
    var i = 0
    while (i < out.length) {
      if (!arr.isNullAt(i)) out(i) = MinhashHash.polyHash(arr.getUTF8String(i).toString)
      i += 1
    }
    ArrayData.toArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): PolyHashes =
    copy(child = newChild)

  override def prettyName: String = "poly_hashes"
}

/** `band_pack(signature, bands)`: the per-band packed bucket keys of a
  * 64-value MinHash signature (see [[MinhashHash.bandPack]]).
  */
case class MinhashBandKeys(child: Expression, bands: Int)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) if bands > 0 && MinhashHash.Seeds % bands == 0 =>
        TypeCheckResult.TypeCheckSuccess
      case ArrayType(LongType, _) =>
        TypeCheckResult.TypeCheckFailure(s"bands must evenly divide ${MinhashHash.Seeds}, got $bands")
      case other =>
        TypeCheckResult.TypeCheckFailure(s"band_pack expects array<long>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = arr.toLongArray()
    ArrayData.toArrayData(MinhashHash.bandPack(sig, bands))
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashBandKeys =
    copy(child = newChild)

  override def prettyName: String = "band_pack"
}

case class MinhashSignature(child: Expression)
    extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other =>
        TypeCheckResult.TypeCheckFailure(s"minhash_signature expects array<string>, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val strs = new Array[String](arr.numElements())
    var i = 0
    var nonNull = 0
    while (i < strs.length) {
      if (!arr.isNullAt(i)) { strs(i) = arr.getUTF8String(i).toString; nonNull += 1 }
      i += 1
    }
    if (nonNull == 0) null
    else ArrayData.toArrayData(MinhashHash.signature(strs))
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashSignature =
    copy(child = newChild)

  override def prettyName: String = "minhash_signature"
}

