package graft.crawl

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{BoilerplateExtractor, Hashing}
import graft.core.Model.PageInput

/** Deterministic synthetic Common-Crawl-style corpus (FIXTURES.md §1,3).
  *
  * Every page is a pure function of (globalSeed, url index): same rows
  * at any scale factor, partition count, or executor count — the
  * property every replay/parity test leans on. No wall clock, no RNG
  * state, no network.
  *
  * The link graph is embedded in the HTML itself: each page carries
  * outlinks (absolute, relative, root-relative, tracking-param,
  * %-escaped, uppercase-host, javascript: and duplicate variants — all
  * canonicalizing back to in-corpus urls) so the crawl exercises
  * normalization + dedup end to end. Host mass is power-law-skewed so
  * the per-host pop has real skew to handle.
  */
object SyntheticCorpus {

  final case class Spec(
      numUrls: Long,
      numHosts: Int,
      seed: Long = 42L,
      /** host-skew exponent: higher ⇒ more mass on host 0 (power law). */
      skew: Double = 3.0,
      minOutlinks: Int = 3,
      maxOutlinks: Int = 10,
      /** also emit one /robots.txt page per host (hosts ≡ 0 mod 5 get a
        * Disallow on the /p/1 prefix + a crawl-delay) so robots
        * discovery can be exercised from the table itself. */
      withRobots: Boolean = false)

  private def h(spec: Spec, parts: Any*): Long =
    Hashing.xxhash64(parts.mkString(s"${spec.seed}:", ":", ""))

  private def h01(spec: Spec, parts: Any*): Double =
    (h(spec, parts: _*) >>> 11).toDouble / (1L << 53).toDouble

  def hostIdFor(i: Long, spec: Spec): Int = {
    val u = h01(spec, "host", i)
    math.min((math.pow(u, spec.skew) * spec.numHosts).toInt, spec.numHosts - 1)
  }

  def hostName(hostId: Int): String = s"host$hostId.test"

  /** Canonical URL of page i (what the input table's url column holds). */
  def urlFor(i: Long, spec: Spec): String =
    s"http://${hostName(hostIdFor(i, spec))}/p/$i"

  /** Outlink target ids of page i (deterministic). */
  def outlinkTargets(i: Long, spec: Spec): Seq[Long] = {
    val k = spec.minOutlinks +
      (h(spec, "nlinks", i).abs % (spec.maxOutlinks - spec.minOutlinks + 1)).toInt
    (0 until k).map(j => math.floorMod(h(spec, "target", i, j), spec.numUrls))
  }

  /** The href actually written into the page for a target — a rotating
    * set of messy variants, all canonicalizing to urlFor(target).
    */
  def hrefFor(i: Long, j: Int, target: Long, spec: Spec): String = {
    val canonical = urlFor(target, spec)
    val hostId = hostIdFor(target, spec)
    math.floorMod(h(spec, "variant", i, j), 8L).toInt match {
      case 0 => canonical
      case 1 => s"HTTP://HOST$hostId.TEST:80/p/$target" // case + default port
      case 2 => s"http://host$hostId.test./a/../p/$target" // host dot + dotted path
      case 3 => s"$canonical?utm_source=synth&utm_medium=test" // tracking params
      case 4 => // %-escaped digit in path
        val t = target.toString
        s"http://host$hostId.test/p/%${Integer.toHexString('0' + (t.head - '0'))}${t.tail}"
      case 5 => s"$canonical#section-$j" // fragment
      case 6 if hostId == hostIdFor(i, spec) => s"/p/$target" // root-relative, same host
      case _ => canonical
    }
  }

  private val Words: Array[String] =
    ("frontier wave parquet snapshot dataset catalyst shuffle partition " +
     "broadcast politeness budget robots crawl extract boilerplate anchor " +
     "host depth priority score lineage manifest resume checkpoint bloom " +
     "sketch hash canonical tracking dedup skew salt window rank typed").split(" ")

  private def sentence(spec: Spec, i: Long, s: Int, words: Int): String =
    (0 until words).map { w =>
      Words(math.floorMod(h(spec, "w", i, s, w), Words.length.toLong).toInt)
    }.mkString(" ").capitalize + "."

  /** Deterministic page HTML — fixed structure chosen to exercise every
    * extractor branch (FIXTURES.md §3): head/script/style/form/img
    * stripping, malformed script close, pre-html junk, comments, a
    * link-dense nav (pruned), a short-fragment boilerplate block
    * (pruned), 2-4 surviving content paragraphs, entities, and the
    * outlink set with messy href variants.
    */
  def htmlFor(i: Long, spec: Spec): String = {
    val sb = new StringBuilder(4096)
    val nParas = 2 + math.floorMod(h(spec, "np", i), 3L).toInt
    val targets = outlinkTargets(i, spec)
    sb.append("junk before root<!-- c1 -->\n")
    sb.append("<html><head><title>Page ").append(i)
      .append(" &amp; friends</title>\n")
    sb.append("<script>var a = \"<div>decoy</div>\";</script>\n")
    sb.append("<style>.x { color: red }</style></head>\n<body>\n")
    sb.append("<script type=\"text/js\">malformed close</script bad=1 >\n")
    sb.append("<div class=\"nav\"><a href=\"/\">Home</a> <a href=\"/p/")
      .append(math.floorMod(i + 1, spec.numUrls)).append("\">Next</a> ")
      .append("<a href=\"/tags\">Tags</a></div>\n")
    sb.append("<div class=\"crumbs\"><p>one two</p><p>three four</p>")
      .append("<p>five six</p><p>seven eight</p></div>\n")
    sb.append("<div id=\"content\">\n")
    (0 until nParas).foreach { p =>
      val words = 14 + math.floorMod(h(spec, "len", i, p), 12L).toInt
      sb.append("<p>").append(sentence(spec, i, p, words))
        .append(" ").append(sentence(spec, i, p + 100, words / 2 + 6))
        .append("</p>\n")
    }
    sb.append("</div>\n")
    if (math.floorMod(i, 13L) == 0L)
      sb.append("<html><body><div>embedded junk html</div></body></html>\n")
    sb.append("<form action=\"/s\"><input name=\"q\"></form>\n")
    sb.append("<div class=\"links\">\n")
    targets.zipWithIndex.foreach { case (t, j) =>
      sb.append("<a href=\"").append(hrefFor(i, j, t, spec))
        .append("\">Link to page ").append(t).append("</a>\n")
    }
    // a duplicate of the first link + a javascript pseudo-link
    targets.headOption.foreach { t =>
      sb.append("<a href=\"").append(urlFor(t, spec)).append("\">dup</a>\n")
    }
    sb.append("<a href=\"javascript:void(0)\">noop</a>\n")
    sb.append("</div>\n<img src=\"/x.png\"><!-- trailing\nmultiline comment -->")
    sb.append("</body></html>")
    sb.toString
  }

  def pageFor(i: Long, spec: Spec): PageInput = {
    val html = htmlFor(i, spec)
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    PageInput(
      url = urlFor(i, spec),
      warc_ts = new Timestamp(1600000000000L + math.floorMod(h(spec, "ts", i), 31536000000L)),
      html = bytes,
      text = BoilerplateExtractor.extractText(html),
      lang = if (math.floorMod(i, 17L) == 0L) "de" else "en")
  }

  /** Deterministic robots.txt body for a host (only some hosts restrict). */
  def robotsTxtFor(hostId: Int): String =
    if (hostId % 5 == 0)
      s"""User-agent: *
         |Disallow: /p/1
         |Allow: /p/12
         |Crawl-delay: 1
         |""".stripMargin
    else "User-agent: *\nDisallow:\n"

  def robotsPageFor(hostId: Int, spec: Spec): PageInput = {
    val body = robotsTxtFor(hostId)
    PageInput(
      url = s"http://${hostName(hostId)}/robots.txt",
      warc_ts = new Timestamp(1600000000000L + hostId.toLong),
      html = body.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      text = body,
      lang = "en")
  }

  /** Generate the corpus as a typed Dataset. Row content is independent
    * of `partitions` — only placement differs.
    */
  def generate(spark: SparkSession, spec: Spec, partitions: Int = 0): Dataset[PageInput] = {
    import spark.implicits._
    val n = if (partitions > 0) partitions
            else spark.sparkContext.defaultParallelism
    val pages = spark.range(0, spec.numUrls, 1, n).map(i => pageFor(i, spec))
    if (!spec.withRobots) pages
    else pages.unionByName(
      spark.range(0, spec.numHosts, 1, math.min(n, spec.numHosts))
        .map(h => robotsPageFor(h.toInt, spec)))
  }
}
