package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import KernelSupport.{hex, joinedDigest, nonEmptyTokens}

/** Kernel `graft_gram_keys`: the DISTINCT md5-hex keys of a
  * document's word k-grams in one generated pass over its token array
  * — the row-local form of the `tokenGramKeys` /
  * `ngramContainment` gram derivation:
  *
  *  - non-empty tokens t_0..t_{n-1} (empties from the upstream split
  *    are dropped here, like the original `filter(length > 0)`);
  *  - complete k-grams joined by one 0x20 byte, md5-hashed to the
  *    32-char lowercase hex key (raw-byte concatenation — identical
  *    to `md5(concat_ws(" ", ...))`);
  *  - within-row DISTINCT (first-occurrence order), replacing the
  *    corpus-wide `.distinct()` exchange under the unique-id contract
  *    every catalog table guarantees;
  *  - `wholeDocFallback`: when n < k, either the single whole-doc
  *    gram (ngramContainment semantics) or an empty array
  *    (tokenGramKeys excluded sub-k docs via its size filter — an
  *    empty array explodes to zero rows, same exclusion).
  *
  * Bit-identical to the relational statement (posexplode + window
  * leads + distinct — equivalence test-pinned) but a PURE MAP: the
  * relational form shuffled the whole token stream into doc-keyed
  * window sorts and then paid a second corpus-wide exchange for the
  * distinct. Gram COUNTS (`size(...)`) become row-local too — the
  * per-doc count aggregates disappear entirely. Null token array
  * (null text upstream) → null, and callers drop the row.
  */
object GramKeys {
  def invoke(arr: ArrayData, k: Int, wholeDocFallback: Boolean): ArrayData = {
    val toks = nonEmptyTokens(arr)
    val n = toks.size()
    def keyOf(from: Int, until: Int): UTF8String =
      hex(joinedDigest(toks, from, until))

    if (n < k) {
      if (!wholeDocFallback) return new GenericArrayData(Array.empty[Any])
      return new GenericArrayData(Array[Any](keyOf(0, n)))
    }
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var s = 0
    while (s + k <= n) {
      seen.add(keyOf(s, s + k))
      s += 1
    }
    val out = new Array[Any](seen.size())
    val it = seen.iterator()
    var p = 0
    while (it.hasNext) { out(p) = it.next(); p += 1 }
    new GenericArrayData(out)
  }
}
