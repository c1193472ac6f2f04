package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

import KernelSupport.{md5, word32}

/** Kernel `graft_portable_simhash`: the portable majority-vote
  * SimHash sketch of one document in one generated pass
  * ([[graft.operators.Dedup]] `portableSketches` semantics): every
  * non-empty token's portableHash (first 4 md5 bytes unsigned —
  * `conv(substring(md5(tok),1,8),16,10)`) votes ±1 on each of `bits`
  * bits; bit b of the sketch is set iff its vote sum is > 0.
  * Token-less documents (including null text — the relational form
  * kept them via explode_outer) sketch to 0.
  *
  * Bit-identical to the relational statement (explode + hash
  * projection + one `bits`-column vote aggregate — kept as
  * `DedupSimilaritySpec.portableSketchesRelational`, equivalence
  * test-pinned) but a PURE
  * MAP: the relational form shuffled every token hash into a doc-keyed
  * aggregate for one per-row long.
  */
object PortableSimhash {
  /** Null array (null text) → 0, the relational explode_outer
    * behavior.
    */
  def invoke(arr: ArrayData, bits: Int): Long = {
    if (arr == null) return 0L
    val votes = new Array[Int](bits)
    val m = md5()
    val n0 = arr.numElements()
    var i = 0
    while (i < n0) {
      val t = arr.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        m.reset()
        val h = word32(m.digest(t.getBytes), 0)
        var b = 0
        while (b < bits) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < bits) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
