package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Kernel `graft_gopher_signals`: ALL Gopher rule signals
  * ([[graft.functions.TextAnalysis.gopherRules]]) in ONE pass over the
  * text — bit-identical to the pure-Catalyst HOF formulation (which
  * remains as `TextAnalysisSpec.gopherRulesHof`, equivalence
  * test-pinned) and to the
  * DuckDB oracle, but evaluated as one generated call instead of ~six
  * interpreted HOF subtrees per row (each `filter`/`aggregate` lambda
  * is CodegenFallback, and the tokenizing `split` child was re-run
  * under every one of them — no CSE across fallback subtrees; same
  * rationale as [[ClassifierScore]]).
  *
  * Fidelity notes (each mirrors the exact Catalyst semantics):
  *  - `trim` strips 0x20 spaces only (StringTrim), not Java trim;
  *  - tokens are `Pattern("\\s+").split(trimmed, -1)` minus empties;
  *  - per-token `length` counts CODE POINTS (UTF8String.numChars);
  *  - `regexp_count` is the non-overlapping find() loop;
  *  - line/bullet/ellipsis regexes are the same java.util.regex
  *    patterns `rlike` compiles;
  *  - `lower` mimics UTF8String.toLowerCase (ASCII fast path,
  *    String.toLowerCase for non-ASCII);
  *  - `round(x, 4)` is the Round codegen: NaN/Inf passthrough, else
  *    BigDecimal.valueOf(x).setScale(4, HALF_UP).
  *
  * Null text yields a null struct (every original output column was
  * null-poisoned through the same chain).
  */
object GopherSignals {
  import java.util.regex.Pattern

  val Schema: StructType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("symbol_ratio", DoubleType, nullable = false),
    StructField("bullet_frac", DoubleType, nullable = false),
    StructField("ellipsis_frac", DoubleType, nullable = false),
    StructField("alpha_word_frac", DoubleType, nullable = false),
    StructField("n_stop_hits", IntegerType, nullable = false),
    StructField("gopher_pass", BooleanType, nullable = false)))

  private val Ws = Pattern.compile("\\s+")
  private val Nl = Pattern.compile("\n")
  private val Bullet = Pattern.compile("^\\s*[-*•]")
  private val Ellipsis = Pattern.compile("(\\.\\.\\.|…)\\s*$")

  // the Gopher stopword set of TextAnalysis.GopherStop, duplicated as
  // plain strings so plans/ stays free of a functions/ dependency;
  // a test pins the two lists equal
  private val Stops: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    Seq("the", "be", "to", "of", "and", "that", "have", "with").foreach(s.add)
    s
  }

  /** StringTrim semantics: strip 0x20 from both ends only. */
  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    if (a == 0 && b == s.length) s else s.substring(a, b)
  }

  /** UTF8String.toLowerCase semantics: per-char Character.toLowerCase
    * when all-ASCII, else String.toLowerCase (the slow path).
    */
  private def lowerCompat(s: String): String = {
    var i = 0
    var ascii = true
    while (ascii && i < s.length) {
      if (s.charAt(i) >= 0x80) ascii = false
      i += 1
    }
    if (!ascii) s.toLowerCase()
    else {
      var j = 0
      var changed = false
      while (!changed && j < s.length) {
        if (s.charAt(j) >= 'A' && s.charAt(j) <= 'Z') changed = true
        j += 1
      }
      if (!changed) s
      else {
        val b = new java.lang.StringBuilder(s.length)
        var k = 0
        while (k < s.length) {
          b.append(Character.toLowerCase(s.charAt(k)))
          k += 1
        }
        b.toString
      }
    }
  }

  /** Round codegen semantics for double: NaN/Inf passthrough, else
    * HALF_UP at scale 4 via BigDecimal.valueOf.
    */
  private def round4(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Non-overlapping occurrence count of a literal, regexp_count-style. */
  private def countLiteral(s: String, lit: String): Int = {
    var n = 0
    var i = s.indexOf(lit)
    while (i >= 0) {
      n += 1
      i = s.indexOf(lit, i + lit.length)
    }
    n
  }

  private def countChar(s: String, c: Char): Int = {
    var n = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == c) n += 1
      i += 1
    }
    n
  }

  private def hasAsciiAlpha(s: String): Boolean = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) return true
      i += 1
    }
    false
  }

  def invoke(text: UTF8String): InternalRow = {
    val str = text.toString
    // token pass: count, code-point length sum, alpha hits, stop hits
    val parts = Ws.split(trimSpaces(str), -1)
    var nWords = 0
    var sumLen = 0L
    var alphaWords = 0
    var stopHits = 0
    var i = 0
    while (i < parts.length) {
      val p = parts(i)
      if (p.nonEmpty) {
        nWords += 1
        sumLen += p.codePointCount(0, p.length)
        if (hasAsciiAlpha(p)) alphaWords += 1
        if (Stops.contains(lowerCompat(p))) stopHits += 1
      }
      i += 1
    }
    // symbol pass on the RAW text (regexp_count semantics)
    val nSymbols = countChar(str, '#') + countLiteral(str, "...") +
      countChar(str, '…')
    // line pass on the RAW text
    val lines = Nl.split(str, -1)
    val nLines = lines.length.toDouble
    var bullet = 0
    var ellipsis = 0
    var j = 0
    while (j < lines.length) {
      if (Bullet.matcher(lines(j)).find()) bullet += 1
      if (Ellipsis.matcher(lines(j)).find()) ellipsis += 1
      j += 1
    }
    val nWordsD = nWords.toDouble
    val meanLen = if (nWords == 0) 0.0 else round4(sumLen.toDouble / nWordsD)
    val symbolRatio = if (nWords == 0) 0.0 else round4(nSymbols / nWordsD)
    val bulletFrac = round4(bullet / nLines)
    val ellipsisFrac = round4(ellipsis / nLines)
    val alphaFrac = if (nWords == 0) 0.0 else round4(alphaWords / nWordsD)
    val pass = nWords >= 50 && nWords <= 100000 &&
      meanLen >= 3.0 && meanLen <= 10.0 && symbolRatio < 0.1 &&
      bulletFrac < 0.9 && ellipsisFrac < 0.3 && alphaFrac > 0.8 &&
      stopHits >= 2
    new GenericInternalRow(Array[Any](nWords, meanLen, symbolRatio,
      bulletFrac, ellipsisFrac, alphaFrac, stopHits, pass))
  }
}
