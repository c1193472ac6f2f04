package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel `graft_adjacent_pairs`: (predecessor, word) pairs of one
  * document's non-empty token sequence in one generated pass — entry i is
  * (t_{i-1} | null when i = 0, t_i), so `explode` reproduces the rows
  * of the former posexplode + doc-keyed `lag` window
  * ([[graft.operators.Curation.knContinuationCounts]]) without
  * shuffling the token stream. (An interpreted zip_with formulation
  * was measured slower than the window it replaced in round 6 — the
  * kernel is one tight generated loop.) Null token array → null,
  * dropped by explode like the former posexplode-of-null.
  */
object AdjacentPairs {
  val Entry: StructType = StructType(Seq(
    StructField("prev", StringType, nullable = true),
    StructField("w", StringType, nullable = false)))

  def invoke(arr: ArrayData): ArrayData = {
    val n0 = arr.numElements()
    val toks = new java.util.ArrayList[UTF8String](n0)
    var i = 0
    while (i < n0) {
      val t = arr.getUTF8String(i)
      if (t != null && t.numBytes() > 0) toks.add(t)
      i += 1
    }
    val n = toks.size()
    val out = new Array[Any](n)
    i = 0
    while (i < n) {
      // UTF8String values from ArrayData may share buffers; clone so
      // the emitted rows own their bytes
      val w = toks.get(i).clone()
      val prev = if (i == 0) null else out(i - 1)
        .asInstanceOf[GenericInternalRow].get(1, StringType)
      out(i) = new GenericInternalRow(Array[Any](prev, w))
      i += 1
    }
    new GenericArrayData(out)
  }
}
