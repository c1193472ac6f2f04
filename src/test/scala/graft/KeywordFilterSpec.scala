package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.KeywordFilter

/** Truth table for the boolean keyword filter, mirroring the operator
  * semantics of the reference (crawler/keywordfilter.py:22-136):
  * and/or/not, parentheses, quoted phrases, prefix/suffix wildcards,
  * implicit AND, case-insensitivity.
  */
class KeywordFilterSpec extends AnyFunSuite {

  private val doc = "Apache Spark runs distributed queries over large parquet datasets"

  private def check(expr: String): Boolean =
    KeywordFilter.compile(expr).eval(KeywordFilter.index(doc))

  test("plain word membership") {
    assert(check("spark"))
    assert(check("SPARK")) // case-insensitive
    assert(!check("flink"))
  }

  test("and / or / not") {
    assert(check("spark and parquet"))
    assert(!check("spark and flink"))
    assert(check("spark or flink"))
    assert(!check("trino or flink"))
    assert(check("not flink"))
    assert(!check("not spark"))
    assert(check("spark and not flink"))
  }

  test("parentheses and precedence: or < and < not") {
    assert(check("(spark or flink) and parquet"))
    assert(!check("(trino or flink) and parquet"))
    // 'a or b and c' groups as 'a or (b and c)'
    assert(check("spark or flink and trino"))
    assert(!check("flink or spark and trino"))
  }

  test("implicit AND between adjacent terms") {
    assert(check("spark parquet"))
    assert(!check("spark flink"))
    assert(check("spark (parquet or flink)"))
  }

  test("quoted phrases match on word boundaries") {
    assert(check("\"apache spark\""))
    assert(!check("\"apache flink\""))
    assert(!check("\"pache spark\"")) // \b prevents mid-word match
  }

  test("wildcards") {
    assert(check("distr*"))      // prefix
    assert(!check("zistr*"))
    assert(check("*ueries"))     // suffix
    assert(!check("*zzz"))
  }

  test("matchedKeywords preserves order and filters") {
    val got = KeywordFilter.matchedKeywords(doc,
      Seq("flink", "spark and parquet", "\"large parquet\"", "trino"))
    assert(got === Seq("spark and parquet", "\"large parquet\""))
  }

  test("empty expression throws") {
    intercept[IllegalArgumentException](KeywordFilter.compile("   "))
  }

  test("unbalanced parentheses throw") {
    intercept[IllegalArgumentException](KeywordFilter.compile(")(()"))
  }
}
