package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import graft.core.Hashing

/** Kernel `graft_lsh_bucket`: the portable hyperplane-LSH bucket of one
  * vector in one table ([[graft.operators.Similarity]]'s bucketed
  * paths). Bit `p` is set when the projection on plane (table, p) is
  * ≥ 0, each projection the [[VectorExprs.floatDoubleDot]] fold (float
  * widens, double multiply, double accumulate, element order). A null
  * projection (null or wrong-length vector, null element) or NaN sets
  * no bit, so such a vector buckets to 0, as the `when(proj >= 0.0)`
  * chain it replaces did.
  *
  * The planes are the kernel's state ([[LshPlanes]]), derived from
  * (dim, bits, tables) once per call site: the plan carries three ints
  * where it used to carry the tables × bits × dim literal array.
  */
object LshBucket {
  def invoke(vec: ArrayData, table: Int, planes: LshPlanes): Long = {
    if (vec == null) return 0L
    var sig = 0L
    var p = 0
    while (p < planes.bits) {
      val proj = VectorExprs.floatDoubleDot(vec, planes.plane(table, p))
      if (proj != null && proj.doubleValue() >= 0.0) sig |= 1L << p
      p += 1
    }
    sig
  }
}

/** The hyperplanes of a portable LSH family: plane (t, p) component j
  * is [[LshPlanes.component]]. Equality and `toString` use the three
  * sizes only, so plans built twice compare equal and print short.
  */
final case class LshPlanes(dim: Int, bits: Int, tables: Int) {
  require(dim >= 0 && bits >= 1 && bits <= 63 && tables >= 1,
    s"LshPlanes(dim=$dim, bits=$bits, tables=$tables) out of range")

  private val planes: Array[ArrayData] =
    Array.tabulate(tables * bits) { tp =>
      new GenericArrayData(Array.tabulate(dim)(j =>
        LshPlanes.component(tp / bits, tp % bits, j)))
    }

  def plane(table: Int, p: Int): ArrayData = planes(table * bits + p)
}

object LshPlanes {
  /** SQL-portable hyperplane component: md5-derived double in
    * [-0.5, 0.5), computed identically by the DuckDB oracle
    * (`('0x'||substr(md5('hp:t:p:j'),1,8))::BIGINT / 2^32 - 0.5`).
    */
  def component(table: Int, p: Int, j: Int): Double =
    java.lang.Long.parseLong(
      Hashing.md5Hex(s"hp:$table:$p:$j").substring(0, 8), 16).toDouble /
      4294967296.0 - 0.5

  /** The state from its SQL constant, `array(dim, bits, tables)`. */
  def fromSizes(v: Any): LshPlanes = {
    val a = v.asInstanceOf[ArrayData]
    require(a != null && a.numElements() == 3 && !(0 until 3).exists(a.isNullAt),
      "graft_lsh_bucket takes array(dim, bits, tables)")
    LshPlanes(a.getInt(0), a.getInt(1), a.getInt(2))
  }
}

/** Kernels `graft_ivf_nearest` and `graft_ivf_probe`: the portable IVF
  * cluster choice ([[graft.operators.IvfIndex]]) over a quantized
  * vector and the centroids held as state ([[IvfCentroids]]).
  *
  * Distances are the exact integer [[VectorExprs.longSqDist]]; the
  * order is (distance, cid) with a null distance (null or wrong-length
  * vector, null element) first, exactly the struct order the
  * `array_min` / `sort_array` over `(d, cid)` structs they replace
  * used. So a vector with no distance goes to cluster 0 and probes
  * clusters 0, 1, … in cid order.
  */
object IvfNearest {
  private def dists(qv: ArrayData, cents: IvfCentroids): Array[java.lang.Long] =
    Array.tabulate(cents.k)(i => if (qv == null) null
      else VectorExprs.longSqDist(qv, cents.centroid(i)))

  /** (d, cid) order, null d first. */
  private def before(d: Array[java.lang.Long], a: Int, b: Int): Boolean =
    if (d(a) == null || d(b) == null) d(b) != null || (d(a) == null && a < b)
    else d(a) < d(b) || (d(a).longValue() == d(b).longValue() && a < b)

  def nearest(qv: ArrayData, cents: IvfCentroids): Int = {
    val d = dists(qv, cents)
    var best = 0
    var i = 1
    while (i < d.length) {
      if (before(d, i, best)) best = i
      i += 1
    }
    best
  }

  def probe(qv: ArrayData, cents: IvfCentroids, nprobe: Int): ArrayData = {
    val d = dists(qv, cents)
    val order = (0 until d.length).sortWith(before(d, _, _))
    new GenericArrayData(order.take(math.max(nprobe, 0)).map(Int.box).toArray[Any])
  }
}

/** IVF centroids as kernel state: k quantized centroids. Equality is
  * by value; `toString` prints the sizes and a content hash, never the
  * k × dim values.
  */
final class IvfCentroids(cents: Array[Array[Long]]) extends Serializable {
  require(cents.nonEmpty, "IVF needs at least one centroid")
  private val data: Array[AnyRef] = cents.map(_.clone())
  private val rows: Array[ArrayData] = cents.map(c => new GenericArrayData(c))
  private val hash = java.util.Arrays.deepHashCode(data)

  def k: Int = rows.length
  def centroid(i: Int): ArrayData = rows(i)

  override def equals(o: Any): Boolean = o match {
    case c: IvfCentroids => c.hash == hash && java.util.Arrays.deepEquals(c.data, data)
    case _ => false
  }
  override def hashCode: Int = hash
  override def toString: String =
    s"IvfCentroids(k=$k, dim=${rows.map(_.numElements()).max}, hash=${Integer.toHexString(hash)})"
}

object IvfCentroids {
  /** The state from its SQL constant, `array<array<bigint>>`. */
  def fromArray(v: Any): IvfCentroids = {
    val a = v.asInstanceOf[ArrayData]
    require(a != null && a.numElements() > 0 &&
      (0 until a.numElements()).forall(i => !a.isNullAt(i)),
      "IVF centroids must be a non-empty array of non-null arrays")
    new IvfCentroids(Array.tabulate(a.numElements())(i => a.getArray(i).toLongArray()))
  }
}
