package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import KernelSupport.{joinedDigest, nonEmptyTokens, word32}

/** Kernel `graft_feature_hashes`: hashed uni+bigram feature ids of
  * one document in one generated pass
  * ([[graft.operators.Curation.dsirWeights]] feature space): for each
  * non-empty token t_i the id
  * `pmod(portableHash(t_i), buckets)` and — when a successor exists —
  * `pmod(portableHash(t_i ++ " " ++ t_{i+1}), buckets)` (portableHash
  * = first 4 md5 bytes unsigned; raw-byte concatenation, identical to
  * `concat_ws`). The emitted order (uni_i, bi_i, uni_{i+1}, …)
  * matches the former per-token 2-element array explode, so the
  * OCCURRENCE MULTISET — all any downstream count/sum sees — is
  * identical. Null token array (null text) → null, caller-dropped
  * like the former posexplode-of-null.
  *
  * Replaces the posexplode + doc-keyed lead-window + explode
  * derivation: feature emission is row-local, so the only exchanges
  * left in DSIR are the bounded bucket-count aggregate and the
  * per-doc sum.
  */
object FeatureHashes {
  def invoke(arr: ArrayData, buckets: Int): ArrayData = {
    val toks = nonEmptyTokens(arr)
    val n = toks.size()
    // gram [from, until) → id; the hash is non-negative, so % == pmod
    def id(from: Int, until: Int): Long =
      word32(joinedDigest(toks, from, until), 0) % buckets

    val out = new Array[Any](math.max(2 * n - 1, 0))
    var p = 0
    var i = 0
    while (i < n) {
      out(p) = id(i, i + 1); p += 1
      if (i + 1 < n) { out(p) = id(i, i + 2); p += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }
}
