package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Vector kernels the similarity family evaluates per candidate pair
  * ([[Kernels]] rows `graft_float_dot`, `graft_float_double_dot`,
  * `graft_long_sqdist`). Spark's higher-order functions (`zip_with`,
  * `aggregate`) are CodegenFallback — every element costs an
  * interpreted lambda dispatch plus boxing, ~µs each, which made the
  * SemDedup pair stage spend tens of seconds on 126 k trivial pairs.
  * These are tight primitive loops instead (measured: the pair stage
  * fell from ~10–80 s to sub-second at sf0.1) that replicate the fold
  * semantics BIT-EXACTLY, so every DuckDB oracle stays green:
  *
  *  - [[floatDot]]       ≡ aggregate(zip_with(a, b, (x,y) ⇒ x*y), 0.0d, +)
  *                         with a,b array<float>: FLOAT multiply, then
  *                         DOUBLE accumulate, in element order;
  *  - [[floatDoubleDot]] ≡ same with b array<double> (hyperplane
  *                         projections): the float widens, DOUBLE
  *                         multiply, DOUBLE accumulate;
  *  - [[longSqDist]]     ≡ aggregate(zip_with(a, b, (x,y) ⇒ (x−y)²),
  *                         0L, +) with a,b array<long> (fixed-point
  *                         IVF distances): exact integer arithmetic.
  *
  * Null semantics replicate the HOF pipeline: null array → null;
  * length mismatch → null (zip_with pads with null, poisoning the
  * fold); any null element → null.
  */
object VectorExprs {
  def floatDot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += (a.getFloat(i) * b.getFloat(i)).toDouble // FLOAT multiply
      i += 1
    }
    acc
  }

  def floatDoubleDot(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0d
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getDouble(i) // DOUBLE multiply
      i += 1
    }
    acc
  }

  def longSqDist(a: ArrayData, b: ArrayData): java.lang.Long = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0L
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = a.getLong(i) - b.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}
