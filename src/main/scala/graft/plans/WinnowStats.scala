package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import KernelSupport.{joinedDigest, nonEmptyTokens, word32}

/** Kernel `graft_winnow_stats`: the token-winnowing
  * fingerprint summary of one document in one generated pass
  * ([[graft.functions.TextAnalysis.winnowFingerprintsTokens]]
  * semantics):
  *
  *  - non-empty tokens t_0..t_{n-1} (empties from the upstream split
  *    are dropped here);
  *  - n ≥ k: gram hashes gh[p] = portableHash(k-gram at p) (first 4
  *    md5 bytes unsigned — `conv(substring(md5(s),1,8),16,10)`),
  *    window minima wmin[p] = min(gh[p .. min(p+w−1, m−1)]) (the
  *    bounded ROWS frame clips at the partition end), selected
  *    positions p ≤ max(m−w, 0), summary =
  *    (countDistinct, min, max) of the selected minima;
  *  - n < k: the whole-doc gram hashes once → (1, fp, fp);
  *  - null token array (null text) → null struct, caller drops the
  *    row (the relational form excluded those docs via size filters).
  *
  * Bit-identical to the relational statement (posexplode + two
  * doc-keyed windows + one aggregate — kept as
  * `DedupSimilaritySpec.winnowFingerprintsTokensRelational`,
  * equivalence test-pinned) but
  * a PURE MAP: the relational form shuffled the whole token stream
  * into TWO window passes plus an aggregate for three per-row numbers.
  */
object WinnowStats {
  val Schema: StructType = StructType(Seq(
    StructField("n_fingerprints", IntegerType, nullable = false),
    StructField("min_fp", LongType, nullable = false),
    StructField("max_fp", LongType, nullable = false)))

  def invoke(arr: ArrayData, k: Int, w: Int): InternalRow = {
    val toks = nonEmptyTokens(arr)
    val n = toks.size()

    // portableHash of the space-joined tokens [from, until)
    def hashOf(from: Int, until: Int): Long =
      word32(joinedDigest(toks, from, until), 0)

    if (n < k) {
      val fp = hashOf(0, n)
      return new GenericInternalRow(Array[Any](1, fp, fp))
    }
    val mGrams = n - k + 1
    val gh = new Array[Long](mGrams)
    var p = 0
    while (p < mGrams) { gh(p) = hashOf(p, p + k); p += 1 }
    val lastPos = math.max(mGrams - w, 0)
    val seen = new java.util.HashSet[java.lang.Long]()
    var minFp = Long.MaxValue
    var maxFp = Long.MinValue
    p = 0
    while (p <= lastPos) {
      var mn = gh(p)
      var q = p + 1
      val end = math.min(p + w, mGrams)
      while (q < end) { if (gh(q) < mn) mn = gh(q); q += 1 }
      seen.add(mn)
      if (mn < minFp) minFp = mn
      if (mn > maxFp) maxFp = mn
      p += 1
    }
    new GenericInternalRow(Array[Any](seen.size(), minFp, maxFp))
  }
}
