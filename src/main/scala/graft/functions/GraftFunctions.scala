package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.core.{BoilerplateExtractor, KeywordFilter}

/** Column-level wrappers over the deterministic core functions.
  *
  * These are scalar Scala UDFs by necessity (the algorithms are
  * string-walks Catalyst cannot express), kept NARROW: each takes and
  * returns plain columns so Catalyst can still prune/push everything
  * around them, and each is registered deterministic (the default) so
  * the optimizer may collapse duplicate calls. Everything that CAN be
  * a built-in (xxhash64, md5, splits, regexes) stays a built-in.
  */
object GraftFunctions {

  /** Deterministic boilerplate removal over html bytes. */
  val extractTextUdf = udf { (html: Array[Byte]) =>
    if (html == null) "" else BoilerplateExtractor.extractText(html)
  }

  /** Keyword predicate factory: compile once on the driver, ship the
    * compiled AST in the closure (broadcast-by-serialization), evaluate
    * per row against the indexed text.
    */
  def keywordMatch(expr: String): Column => Column = {
    val compiled = KeywordFilter.compile(expr)
    val matchUdf = udf { (text: String) =>
      text != null && compiled.eval(KeywordFilter.index(text))
    }
    (c: Column) => matchUdf(c)
  }

  /** xxhash64 identity of a canonical url column (built-in, codegen'd,
    * seed 42 — bit-identical to graft.core.Hashing.xxhash64).
    */
  def urlHash(c: Column): Column = xxhash64(c)
}
