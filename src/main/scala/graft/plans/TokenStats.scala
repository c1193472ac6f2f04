package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel `graft_token_stats`: counts, in ONE pass over a string
  * array, the non-empty elements and how many of them belong to a
  * foldable membership list:
  *
  *   n_tokens = size(filter(arr, x -> length(x) > 0))
  *   n_hits   = size(filter(arr, x -> length(x) > 0 AND x IN (list)))
  *
  * — bit-identical to the two-HOF Catalyst statement (`filter` is
  * CodegenFallback, so the statement above evaluated the upstream
  * tokenizing `split` once per filter parent with interpreted lambda
  * dispatch per element; same rationale as [[ClassifierScore]]).
  * Membership is exact binary string equality, as in `isin`. Null
  * array → null struct (size(null) null-poisons the original); null
  * elements are dropped like empties (length(null) > 0 is not true).
  */
object TokenStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("n_hits", IntegerType, nullable = false)))

  /** The member list as a hash set: the kernel's state, built once
    * per call site from the constant list (null list → empty set).
    */
  def memberSet(list: Any): java.util.HashSet[UTF8String] = {
    val arr = list.asInstanceOf[ArrayData]
    val s = new java.util.HashSet[UTF8String]()
    if (arr != null) {
      var i = 0
      while (i < arr.numElements()) {
        val v = arr.getUTF8String(i)
        if (v != null) s.add(v)
        i += 1
      }
    }
    s
  }

  def invoke(arr: ArrayData,
             members: java.util.HashSet[UTF8String]): InternalRow = {
    val len = arr.numElements()
    var n = 0
    var hits = 0
    var i = 0
    while (i < len) {
      val t = arr.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        n += 1
        if (members.contains(t)) hits += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](n, hits))
  }
}
