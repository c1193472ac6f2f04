package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import KernelSupport.{hex, joinedDigest, nonEmptyTokens}

/** Kernel `graft_gram_key_seq`: ordered (NON-distinct) md5-hex keys
  * of a document's complete word k-grams, one generated pass per row:
  * entry p is the key of the gram starting at token position p, so
  * `posexplode` reproduces the former (pos, hash) rows of the
  * window-lead gram builder exactly — without the doc-keyed
  * token-stream shuffle the window needed.
  * Companion of [[GramKeys]] (which dedups) for consumers that need
  * gram POSITIONS ([[graft.operators.Dedup.duplicateSpanScrub]]).
  * Sub-k docs → empty array; null token array → null.
  */
object GramKeySeq {
  def invoke(arr: ArrayData, k: Int): ArrayData = {
    val toks = nonEmptyTokens(arr)
    val n = toks.size()
    if (n < k) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - k + 1)
    var s = 0
    while (s + k <= n) {
      out(s) = hex(joinedDigest(toks, s, s + k))
      s += 1
    }
    new GenericArrayData(out)
  }
}
