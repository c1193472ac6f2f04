package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Kernel `graft_lang_pick`: the stopword-ratio language argmax
  * ([[graft.functions.TextAnalysis.langId]]): ONE pass over the token
  * array counts the hits of each of the three vocabulary lists (en,
  * de, es — passed as a foldable array-of-arrays, in that order) plus
  * the non-empty token count, then picks exactly as the original
  * Catalyst when-chain:
  *
  *   ratio_i = (n == 0) ? 0.0 : hits_i / n      (IEEE doubles)
  *   max(ratio) < 0.02        → "und"
  *   en ≥ de && en ≥ es       → "en"
  *   de ≥ en && de ≥ es       → "de"
  *   otherwise                → "es"
  *
  * The whole decision lives in the kernel because a CaseWhen's
  * conditionally-evaluated branches are excluded from whole-stage
  * subexpression elimination — a struct/array-returning kernel
  * referenced from the when-chain was re-evaluated once PER REFERENCE
  * (measured 2× slower than even the interpreted fold). The fold form
  * (`TextAnalysisSpec.langIdFold`, in test sources) remains the
  * executable semantics statement, equivalence test-pinned. Null
  * token array → null (the caller's coalesce supplies the original
  * null-text fallback).
  */
object LangPick {
  private val Und = UTF8String.fromString("und")
  private val En = UTF8String.fromString("en")
  private val De = UTF8String.fromString("de")
  private val Es = UTF8String.fromString("es")

  /** One hash set per vocabulary list: the kernel's state, built once
    * per call site from the constant array-of-arrays.
    */
  def memberSets(lists: Any): java.util.ArrayList[java.util.HashSet[UTF8String]] = {
    val arr = lists.asInstanceOf[ArrayData]
    val out = new java.util.ArrayList[java.util.HashSet[UTF8String]]()
    if (arr != null) {
      var i = 0
      while (i < arr.numElements()) {
        out.add(TokenStats.memberSet(arr.getArray(i)))
        i += 1
      }
    }
    out
  }

  def invoke(arr: ArrayData,
             members: java.util.List[java.util.HashSet[UTF8String]]): UTF8String = {
    var n = 0
    val sets = members.size()
    val hits = new Array[Int](sets)
    val len = arr.numElements()
    var i = 0
    while (i < len) {
      val t = arr.getUTF8String(i)
      if (t != null && t.numBytes() > 0) {
        n += 1
        var s = 0
        while (s < sets) {
          if (members.get(s).contains(t)) hits(s) += 1
          s += 1
        }
      }
      i += 1
    }
    // the original when-chain arithmetic verbatim, IEEE doubles
    val nD = n.toDouble
    def ratio(i: Int): Double = if (n == 0) 0.0 else hits(i) / nD
    val en = ratio(0); val de = ratio(1); val es = ratio(2)
    val mx = math.max(en, math.max(de, es))
    if (mx < 0.02) Und
    else if (en >= de && en >= es) En
    else if (de >= en && de >= es) De
    else Es
  }
}
