package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

import KernelSupport.{md5, word32}

/** Kernel `graft_classifier_score`: the hashing-trick classifier score
  * ([[graft.functions.TextAnalysis.hashClassifierScore]]): the exact
  * integer sum of md5-bucket weights over a token array's unigrams and
  * adjacent bigrams,
  *
  *   Σ_i w(tok_i) + Σ_i w(tok_i ++ " " ++ tok_{i+1}),
  *   w(s) = unsigned32(md5(s)[0..3]) % buckets − buckets/2,
  *
  * bit-identical to the HOF formulation (`aggregate` + `zip_with` of
  * `portableHash % buckets − buckets/2`) and to the DuckDB oracle —
  * but evaluated as one generated call into a tight loop instead of
  * interpreted lambda dispatch per feature (HOFs are CodegenFallback,
  * and each feature's md5+conv+substring expression subtree was
  * re-evaluated through the interpreter; same rationale as
  * [[VectorExprs]]). Null array or any null element yields 0, exactly
  * the coalesced null-poisoned folds of the HOF form.
  */
object ClassifierScore {
  private val Space = UTF8String.fromString(" ")

  /** Null array / null element → 0 (the HOF form's
    * coalesced null-poisoned folds).
    */
  def invoke(arr: ArrayData, buckets: Int): Long = {
    if (arr == null) return 0L
    val half = buckets / 2
    val m = md5()
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val t = arr.getUTF8String(i)
      if (t == null) return 0L
      acc += weight(m, t.getBytes, buckets, half)
      if (i + 1 < n) {
        val nxt = arr.getUTF8String(i + 1)
        if (nxt == null) return 0L
        acc += weight(m, UTF8String.concat(t, Space, nxt).getBytes,
          buckets, half)
      }
      i += 1
    }
    acc
  }

  /** w(s): first 4 md5 bytes as an unsigned 32-bit value — exactly
    * `conv(substring(md5(s), 1, 8), 16, 10)` — mod-centered.
    */
  private def weight(m: java.security.MessageDigest, bytes: Array[Byte],
                     buckets: Int, half: Int): Long = {
    m.reset()
    word32(m.digest(bytes), 0) % buckets - half
  }
}
