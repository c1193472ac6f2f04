package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

import KernelSupport.{md5, nonEmptyTokens, word32}

/** Kernel `graft_minhash_sig`: the FULL portable MinHash signature
  * of a document in one generated pass over its token array
  * ([[graft.operators.Dedup.minhashPairsPortable]] semantics):
  *
  *  - non-empty tokens t_0..t_{n-1} (empties from the upstream split
  *    are dropped here, like the original `filter(length > 0)`);
  *  - shingles: the n−k+1 complete k-grams joined by one 0x20 byte
  *    when n ≥ k, else the single whole-doc gram (all tokens joined —
  *    "" when there are no tokens);
  *  - permutation j's hash is the unsigned 32-bit word j%4 of
  *    md5((j/4) ':' shingle) — exactly
  *    `conv(substring(md5(concat('g:', sh)), 1+8·(j%4), 8), 16, 10)`;
  *  - sig[j] = min over the document's shingles.
  *
  * Bit-identical to the relational statement (posexplode + window
  * leads + one min aggregate — kept as
  * `DedupSimilaritySpec.minhashSigsRelational`, equivalence
  * test-pinned) and to the
  * DuckDB oracle, but a PURE MAP: the relational form shuffled the
  * whole token stream into doc-keyed window sorts and aggregated 24
  * minima per doc — at any scale, one full exchange of the corpus'
  * tokens for numbers computable row-locally. Shingle bytes are
  * concatenated raw (UTF8String semantics, no String round-trip), so
  * the md5 input is byte-identical to `md5(concat_ws(" ", ...))`.
  *
  * Null token array (null text upstream) → null, and the caller drops
  * the row — the relational form excluded those docs via its size
  * filters.
  */
object MinhashSig {
  // "0:", "1:", ... ASCII prefix bytes per md5 group, cached
  private val Prefixes: Array[Array[Byte]] =
    Array.tabulate(16)(g => s"$g:".getBytes(
      java.nio.charset.StandardCharsets.US_ASCII))

  def invoke(arr: ArrayData, k: Int, numHashes: Int): ArrayData = {
    val groups = (numHashes + 3) / 4
    val toks = nonEmptyTokens(arr)
    val n = toks.size()
    val sig = new Array[Long](numHashes)
    java.util.Arrays.fill(sig, Long.MaxValue)
    val m = md5()

    def updateWith(sh: Array[Byte], off: Int, len: Int): Unit = {
      var g = 0
      while (g < groups) {
        m.reset()
        m.update(Prefixes(g))
        m.update(sh, off, len)
        val d = m.digest()
        val lim = math.min(4, numHashes - 4 * g)
        var w = 0
        while (w < lim) {
          val v = word32(d, 4 * w)
          val j = 4 * g + w
          if (v < sig(j)) sig(j) = v
          w += 1
        }
        g += 1
      }
    }

    def joined(from: Int, until: Int): Array[Byte] = {
      var len = 0
      var j = from
      while (j < until) { len += toks.get(j).length + 1; j += 1 }
      if (len > 0) len -= 1 // j-1 separators for j tokens
      val out = new Array[Byte](math.max(len, 0))
      var pos = 0
      j = from
      while (j < until) {
        val tb = toks.get(j)
        if (j > from) { out(pos) = ' '; pos += 1 }
        System.arraycopy(tb, 0, out, pos, tb.length)
        pos += tb.length
        j += 1
      }
      out
    }

    if (n < k) {
      val sh = joined(0, n)
      updateWith(sh, 0, sh.length)
    } else {
      var s = 0
      while (s + k <= n) {
        val sh = joined(s, s + k)
        updateWith(sh, 0, sh.length)
        s += 1
      }
    }
    new GenericArrayData(sig)
  }
}
