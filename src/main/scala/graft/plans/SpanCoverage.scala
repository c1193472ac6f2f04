package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import KernelSupport.{hex, md5, nonEmptyTokens}

/** Kernel `graft_span_coverage`: the duplicate-span coverage summary
  * of one document in one generated pass
  * ([[graft.operators.Dedup.duplicateSpanScrub]] semantics): given the
  * token array and the (unsorted) positions of its flagged k-grams,
  * token position p is covered iff some flagged gram starts
  * at f ≤ p with p < f + k; the summary is
  *
  *   (n_tokens, n_spans  = number of covered runs,
  *    n_covered = number of covered positions,
  *    kept_hash = md5-hex of the uncovered tokens joined by ' ').
  *
  * Bit-identical to the relational statement (a running-`last` window
  * for the most recent flag, a `lag` for run starts, and a per-doc
  * collect_list sort for the kept text — kept as
  * `DedupSimilaritySpec.duplicateSpanScrubRelational`, equivalence
  * test-pinned), but
  * row-local: the relational form joined the whole token stream
  * against the flags and ran two doc-keyed window passes plus a
  * collect_list aggregate per doc. Null/empty token arrays summarize
  * to (0, 0, 0, md5("")) — exactly the coalesced left-join fallback
  * the relational form applied to docs with no token rows.
  */
object SpanCoverage {
  val Schema: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_spans", LongType, nullable = false),
    StructField("n_covered", LongType, nullable = false),
    StructField("kept_hash", StringType, nullable = false)))

  def invoke(arr: ArrayData, flagged: ArrayData, k: Int): InternalRow = {
    val m = md5()
    m.reset()
    if (arr == null) // null text: no token rows -> coalesced zeros
      return new GenericInternalRow(Array[Any](0L, 0L, 0L, hex(m.digest())))
    // non-empty tokens (empties from the upstream split are dropped,
    // positions refer to the FILTERED sequence, as in the posexplode)
    val toks = nonEmptyTokens(arr)
    val n = toks.size()
    if (n == 0)
      return new GenericInternalRow(Array[Any](0L, 0L, 0L, hex(m.digest())))
    val nf = if (flagged == null) 0 else flagged.numElements()
    val fpos = new Array[Int](nf)
    var j = 0
    while (j < nf) { fpos(j) = flagged.getInt(j); j += 1 }
    java.util.Arrays.sort(fpos)
    var nSpans = 0L
    var nCovered = 0L
    var prevCov = false
    var fi = 0
    var lastf = -1
    var first = true
    var p = 0
    while (p < n) {
      while (fi < nf && fpos(fi) <= p) { lastf = fpos(fi); fi += 1 }
      val cov = lastf >= 0 && p < lastf + k
      if (cov) {
        nCovered += 1
        if (!prevCov) nSpans += 1
      } else {
        if (!first) m.update(' '.toByte)
        m.update(toks.get(p))
        first = false
      }
      prevCov = cov
      p += 1
    }
    new GenericInternalRow(Array[Any](n.toLong, nSpans, nCovered,
      hex(m.digest())))
  }
}
