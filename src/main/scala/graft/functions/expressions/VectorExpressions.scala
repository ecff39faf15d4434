package graft.functions.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Vector kernels for the embedding surface. */
object VectorPrimitives {
  /** Sequential-fold dot product Σ a[i]·b[i] in ascending index order —
    * EXACTLY the double-addition sequence of the HOF formulation
    * (`aggregate(zip_with(a,b,*), 0.0, +)`) and of the DuckDB oracle's
    * `list_reduce` (acc starts at the first product; 0.0 + p₁ ≡ p₁), so
    * results are bit-identical while skipping the per-row intermediate
    * array the HOF pair allocates.
    */
  def dotSeq(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a.getDouble(i) * b.getDouble(i); i += 1 }
    acc
  }
}

/** Sequential-fold dot product (array<double> × array<double> → double).
  * The hot inner operation of every cosine: brute-force is |Q|·N of these,
  * k-means training is k·N per assignment pass. Codegen'd single pass,
  * zero allocation.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorPrimitives.dotSeq(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.expressions.VectorPrimitives.dotSeq($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): DotProduct =
    copy(left = l, right = r)
}

/** Support for [[KmeansBestCell]]: the per-thread decoded-centroid cache
  * and the bit-exact replica of Spark `round(x, 6)` on doubles.
  */
object KmeansKernel {
  /** Spark's `RoundBase` double path (`round(x, 6)`), replicated: NaN/Inf
    * pass through (Spark's Round special-cases them the same way;
    * BigDecimal(NaN) would throw); otherwise java BigDecimal over
    * `Double.toString(d)` (≤17 significant digits, so no MathContext
    * rounding) `.setScale(6, HALF_UP)` back to double. The ONE copy for
    * the kernels here and the operator-side scalar loops (the
    * bucket-local top-k and pair verifies, driver-side probe ranking),
    * which must reproduce the in-plan rounded score exactly.
    * [[KmeansBestCellSpec]] fuzzes it against the real `Round`
    * expression over the cosine range including grid/boundary
    * adversaries; EmbeddingSpec pins the fast path to the decimal form.
    *
    * FAST PATH, because the bucket-local loops call this once per
    * candidate pair (measured: the naive per-pair BigDecimal was 8.7 of
    * 11 s at x16 — allocation + decimal-string parsing, not arithmetic):
    * scale by 10⁶ and decide the half-up digit from the computed
    * fraction. The computed y = d·10⁶ differs from the EXACT decimal
    * value by ≤ ½ulp(10⁶) ≈ 6·10⁻¹¹, so whenever frac is more than 10⁻⁷
    * away from the three decision boundaries (0, ½, 1) the fast decision
    * provably equals the decimal one — integer-valued (f+δ) ≤ 10⁶ is
    * exact in double and n/10⁶ by IEEE division is the correctly-rounded
    * double of the same rational the BigDecimal conversion produces.
    * Inside the boundary zones (measure-zero in practice) it falls back
    * to the BigDecimal form.
    */
  def round6(d: Double): Double = {
    if (java.lang.Double.isNaN(d) || java.lang.Double.isInfinite(d)) return d
    val y = d * 1e6
    val f = math.floor(y)
    val frac = y - f
    val safe = (frac > 1e-7 && frac < 0.4999999) || (frac > 0.5000001 && frac < 0.9999999)
    if (safe) (f + (if (frac >= 0.5) 1.0 else 0.0)) / 1e6
    else new java.math.BigDecimal(java.lang.Double.toString(d))
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }

  /** Centroid table decoded to primitives: flat row-major vectors plus
    * the cl/ncv columns, in the struct's (cl, cv, ncv) field order. */
  final class Decoded(val k: Int, val dim: Int, val cl: Array[Int],
    val ncv: Array[Double], val flat: Array[Double])

  /** Identity-keyed cache entry: an `UnsafeArrayData` read off a
    * broadcast row is a FRESH wrapper per access over the SAME backing
    * bytes, so the stable key is (base object identity, offset). */
  private final class Key(val base: AnyRef, val off: Long) {
    override def hashCode: Int = System.identityHashCode(base) ^ off.toInt
    override def equals(o: Any): Boolean = o match {
      case k: Key => (k.base eq base) && k.off == off
      case _ => false
    }
  }

  private val cache =
    new ThreadLocal[java.util.LinkedHashMap[AnyRef, Decoded]] {
      override def initialValue(): java.util.LinkedHashMap[AnyRef, Decoded] =
        new java.util.LinkedHashMap[AnyRef, Decoded](16, 0.75f, true) {
          // per-subspace PQ assignment alternates between m codebook
          // arrays row-to-row; 64 entries keeps them all resident
          override def removeEldestEntry(
              e: java.util.Map.Entry[AnyRef, Decoded]): Boolean = size() > 64
        }
    }

  def decode(cents: ArrayData): Decoded = {
    val key: AnyRef = cents match {
      case u: org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =>
        new Key(u.getBaseObject, u.getBaseOffset)
      case other => new Key(other, 0L)
    }
    val m = cache.get()
    val hit = m.get(key)
    if (hit != null) return hit
    val k = cents.numElements()
    val cl = new Array[Int](k)
    val ncv = new Array[Double](k)
    var dim = 0
    var flat: Array[Double] = null
    var i = 0
    while (i < k) {
      val row = cents.getStruct(i, 3)
      cl(i) = row.getInt(0)
      val cv = row.getArray(1)
      if (i == 0) { dim = cv.numElements(); flat = new Array[Double](k * dim) }
      var j = 0
      while (j < dim) { flat(i * dim + j) = cv.getDouble(j); j += 1 }
      ncv(i) = row.getDouble(2)
      i += 1
    }
    val d = new Decoded(k, dim, cl, ncv, flat)
    m.put(key, d)
    d
  }

  /** The whole per-row assignment argmax in one primitive pass: csims
    * against every centroid (zero-norm guarded), raw max tracked, then
    * `round6` spent only on candidates within 2e-6 of the raw max —
    * the [[graft.operators.EmbeddingSearch]] `roundedArgmax` eligibility
    * argument, executed at JVM speed. Returns (rounded csim, ncl = -cl)
    * of the winner under (rounded csim desc, lowest cl).
    */
  def bestCell(varr: Array[Double], nv: Double, c: Decoded): (Double, Int) = {
    val csims = new Array[Double](c.k)
    var rawMax = -2.0
    var i = 0
    while (i < c.k) {
      val s =
        if (nv == 0.0 || c.ncv(i) == 0.0) 0.0
        else {
          var acc = 0.0
          var j = 0
          val base = i * c.dim
          while (j < c.dim) { acc += varr(j) * c.flat(base + j); j += 1 }
          acc / (nv * c.ncv(i))
        }
      csims(i) = s
      if (s > rawMax) rawMax = s
      i += 1
    }
    var bestR = -2.0
    var bestNcl = Int.MinValue
    val thresh = rawMax - 2e-6
    i = 0
    while (i < c.k) {
      if (csims(i) >= thresh) {
        val ar = round6(csims(i))
        val ncl = -c.cl(i)
        if (ar > bestR || (ar == bestR && ncl > bestNcl)) {
          bestR = ar; bestNcl = ncl
        }
      }
      i += 1
    }
    (bestR, bestNcl)
  }
}

/** A centroid table as a PLAN-TIME CONSTANT — the k-row (metadata-scale
  * by construction) centroid/codebook frame collected driver-side and
  * carried INSIDE the expression instead of joined per row. Two reasons
  * over a row-delivered array (the r16 first cut): (1) soundness of the
  * [[KmeansKernel]] identity-keyed decode cache — an intermediate
  * projection may copy a row-delivered array into a REUSED buffer (same
  * base+offset, new content per row: the ivfpq hash-gate caught exactly
  * that), while this single immutable ArrayData per plan makes identity
  * caching trivially correct; (2) the 1-row-broadcast cross join it
  * replaces disappears from the plan entirely. A custom leaf rather
  * than `Literal` so explain/PLANS.md print the compact summary, not
  * k·dim doubles.
  */
case class CentroidTable(data: ArrayData, elementType: DataType, k: Int,
    dim: Int) extends org.apache.spark.sql.catalyst.expressions.LeafExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def dataType: DataType = ArrayType(elementType, containsNull = false)
  override def nullable: Boolean = false
  override def foldable: Boolean = false // keep ConstantFolding away from the blob
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = data
  override def toString: String = s"centroid_table(k=$k, dim=$dim)"
}

/** The per-vector top-`np` probed cells as ONE native kernel —
  * [[KmeansBestCell]]'s sibling for the IVF tagging/probe rule:
  * (v, nv, cents) → array<struct<ncsim: -round(cosine,6), cl>> of the
  * `np` best cells in (ncsim asc, cl asc) order — bit-identical
  * elements and order to the HOF
  * `slice(array_sort(transform(cents, struct(-round(csim,6), cl))), 1, np)`
  * it replaces (the n·k interpreted round + full k·log k struct sort
  * behind every cell tagging; the oracle replays the same rule).
  * Eligibility generalizes the argmax bound: only candidates whose RAW
  * cosine is within 2e-6 of the np-th-largest raw cosine can make the
  * ROUNDED top-np (a candidate more than the 1e-6 grid step below the
  * np-th raw max rounds strictly below np rounded values), so `round6`
  * and the sort run on that sliver only.
  */
case class KmeansTopCells(v: Expression, nv: Expression, cents: Expression,
    np: Int)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def first: Expression = v
  override def second: Expression = nv
  override def third: Expression = cents
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("ncsim", DoubleType, nullable = false),
    StructField("cl", IntegerType, nullable = false))), containsNull = false)
  override protected def nullSafeEval(vA: Any, nvA: Any, cA: Any): Any = {
    val varr = vA.asInstanceOf[ArrayData].toDoubleArray()
    val dec = KmeansKernel.decode(cA.asInstanceOf[ArrayData])
    require(dec.k == 0 || varr.length == dec.dim,
      s"vector dim ${varr.length} != centroid dim ${dec.dim}")
    val nv = nvA.asInstanceOf[Double]
    val k = dec.k
    val csims = new Array[Double](k)
    var i = 0
    while (i < k) {
      csims(i) =
        if (nv == 0.0 || dec.ncv(i) == 0.0) 0.0
        else {
          var acc = 0.0
          var j = 0
          val base = i * dec.dim
          while (j < dec.dim) { acc += varr(j) * dec.flat(base + j); j += 1 }
          acc / (nv * dec.ncv(i))
        }
      i += 1
    }
    // np-th largest raw cosine via a small insertion-sorted top buffer
    val nn = math.min(np, k)
    val top = new Array[Double](nn)
    java.util.Arrays.fill(top, -2.0)
    i = 0
    while (i < k) {
      val s = csims(i)
      if (s > top(nn - 1)) {
        var p = nn - 1
        while (p > 0 && top(p - 1) < s) { top(p) = top(p - 1); p -= 1 }
        top(p) = s
      }
      i += 1
    }
    val thresh = top(nn - 1) - 2e-6
    var nElig = 0
    i = 0
    while (i < k) { if (csims(i) >= thresh) nElig += 1; i += 1 }
    val ncsim = new Array[Double](nElig)
    val cl = new Array[Int](nElig)
    var e = 0
    i = 0
    while (i < k) {
      if (csims(i) >= thresh) {
        ncsim(e) = -KmeansKernel.round6(csims(i)); cl(e) = dec.cl(i); e += 1
      }
      i += 1
    }
    // insertion sort of the eligible sliver by (ncsim asc, cl asc) — the
    // struct-sort lexicographic order; sliver size ≈ np + rounding ties
    i = 1
    while (i < nElig) {
      val sv = ncsim(i); val sc = cl(i)
      var p = i - 1
      while (p >= 0 && (ncsim(p) > sv || (ncsim(p) == sv && cl(p) > sc))) {
        ncsim(p + 1) = ncsim(p); cl(p + 1) = cl(p); p -= 1
      }
      ncsim(p + 1) = sv; cl(p + 1) = sc
      i += 1
    }
    val out = new Array[Any](math.min(nn, nElig))
    i = 0
    while (i < out.length) {
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](ncsim(i), cl(i)))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): KmeansTopCells =
    copy(v = f, nv = s, cents = t)
}

/** The k-means assignment argmax as ONE native kernel:
  * (v: array<double>, nv: double, cents: array<struct<cl,cv,ncv>>) →
  * struct(csim: round(cosine,6) of the winner, ncl: -cl), winner by
  * (round(cosine, 6) desc, lowest cl) — selection, tie-break, and the
  * rounded output bit-identical to the HOF
  * `array_max(transform(cents, struct(round(csim,6), -cl)))` it
  * replaces (and to every DuckDB oracle's replay of that rule).
  *
  * WHY (r16, SCALING.md "bimodal Lloyd-round cost"): higher-order
  * lambdas never enter whole-stage codegen, and the interpreted
  * per-candidate expression walk — dominated by `Round`'s
  * scala-BigDecimal path, a `Double.toString` + parse per candidate with
  * VALUE-dependent cost — read 36–93 s per 512k×716 assignment pass.
  * This kernel runs the same n·k loop as primitive JVM code with the
  * centroids decoded once per (thread, broadcast array) and `round6`
  * spent only on the ~1-per-row eligible sliver. CodegenFallback: the
  * loop IS the work; codegen would only inline the call.
  */
case class KmeansBestCell(v: Expression, nv: Expression, cents: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  override def first: Expression = v
  override def second: Expression = nv
  override def third: Expression = cents
  override def dataType: DataType = StructType(Seq(
    StructField("csim", DoubleType, nullable = false),
    StructField("ncl", IntegerType, nullable = false)))
  override protected def nullSafeEval(vA: Any, nvA: Any, cA: Any): Any = {
    val varr = vA.asInstanceOf[ArrayData].toDoubleArray()
    val dec = KmeansKernel.decode(cA.asInstanceOf[ArrayData])
    require(dec.k == 0 || varr.length == dec.dim,
      s"vector dim ${varr.length} != centroid dim ${dec.dim}")
    val (r, ncl) = KmeansKernel.bestCell(varr, nvA.asInstanceOf[Double], dec)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](r, ncl))
  }
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): KmeansBestCell =
    copy(v = f, nv = s, cents = t)
}
