package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, BooleanType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.core.UrlNormalizer

/** URL kernels ([[Kernels]] rows `canonicalize_url`, `host_of` and
  * `graft_robots_allowed`). The first two run
  * [[graft.core.UrlNormalizer]]; together they keep URL handling in
  * the catalog and the wave loop's pop and frontier-expansion
  * projections (the hottest per-wave stages) inside whole-stage
  * codegen, with no Scala UDF encoder round trip and no interpreted
  * lambda per row.
  */
object UrlKernels {

  /** One host's robots rules: (allow, pathPrefix) entries. */
  val Rules: ArrayType = ArrayType(StructType(Seq(
    StructField("allow", BooleanType), StructField("pathPrefix", StringType))))

  private val Path = java.util.regex.Pattern.compile("^[a-z][a-z0-9+.-]*://[^/]*(/[^?#]*)")
  private val Root = UTF8String.fromString("/")

  /** Whether `rules` let a crawler fetch `url`: the longest rule prefix
    * of the URL's path wins, Allow winning a length tie (RFC 9309). The
    * path runs from the first '/' after the authority up to '?' or '#'
    * (so `;params` are part of it), "/" when the URL has none. No rules,
    * no matching rule or a null URL allow the fetch. Ties order as
    * `max(struct(length(prefix), CAST(allow AS INT)))` does, a null allow
    * lowest, and a winning rule with a null allow disallows. Rule
    * entries that are null or have a null prefix never match.
    */
  def robotsAllowed(url: UTF8String, rules: ArrayData): Boolean = {
    if (url == null || rules == null) return true
    val m = Path.matcher(url.toString)
    val path = if (m.find()) UTF8String.fromString(m.group(1)) else Root
    var bestLen = -1
    var bestAllow = -2 // -1: null allow, 0: disallow, 1: allow
    var i = 0
    while (i < rules.numElements()) {
      if (!rules.isNullAt(i)) {
        val r = rules.getStruct(i, 2)
        if (!r.isNullAt(1)) {
          val prefix = r.getUTF8String(1)
          if (path.startsWith(prefix)) {
            val len = prefix.numChars()
            val allow = if (r.isNullAt(0)) -1 else if (r.getBoolean(0)) 1 else 0
            if (len > bestLen || (len == bestLen && allow > bestAllow)) {
              bestLen = len
              bestAllow = allow
            }
          }
        }
      }
      i += 1
    }
    bestLen < 0 || bestAllow == 1
  }
  /** Canonical URL (normalize + tracking strip); null when the URL
    * cannot be canonicalized (e.g. javascript: with no site).
    */
  def canonicalize(url: UTF8String): UTF8String =
    UrlNormalizer.canonicalize(url.toString) match {
      case Some(c) => UTF8String.fromString(c)
      case None => null
    }

  def hostOf(url: UTF8String): UTF8String =
    UTF8String.fromString(UrlNormalizer.hostOf(url.toString))
}
