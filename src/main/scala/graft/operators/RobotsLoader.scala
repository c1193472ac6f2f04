package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Model.RobotsRule

/** Derive the per-host robots dimension from the input pages table
  * itself: rows whose canonical url is `http(s)://host/robots.txt` are
  * parsed (Politeness.parseRobots) into the broadcastable rules
  * dimension the wave planner joins on host. This closes the
  * north-rule loop — robots live in the same Iceberg-style table as
  * every other fetched page, no side channel.
  *
  * Scale shape: the robots subset is ~one row per host (tiny vs the
  * page table, filter pushes down on the url suffix); parsing runs on
  * EXECUTORS inside a projection and the result STAYS a DataFrame —
  * nothing is collected to the driver, so 10^8 hosts' rules are just
  * another (broadcast-joinable) dimension table.
  */
object RobotsLoader {

  /** The robots dimension (host, rules: array<struct<allow,pathPrefix>>,
    * robotsDelayMs) — the shape [[Politeness.applyRobots]] consumes.
    * None when the table contains no robots pages is NOT distinguished:
    * an empty dimension joins to nothing and allows everything.
    */
  def robotsDim(spark: SparkSession, pagesInput: DataFrame,
                userAgent: String): DataFrame = {
    val parse = udf { (url: String, bytes: Array[Byte]) =>
      val host = graft.core.UrlNormalizer.hostOf(url)
      if (host.isEmpty || bytes == null) None
      else {
        val txt = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
        val (rules, delay) = Politeness.parseRobots(host, txt, userAgent)
        Some((host, rules.map(r => (r.allow, r.pathPrefix)), delay.getOrElse(0L)))
      }
    }
    pagesInput
      .filter(col("url").endsWith("/robots.txt"))
      .select(parse(col("url"), col("html")).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r._1").as("host"),
        transform(col("r._2"),
          x => struct(x.getField("_1").as("allow"),
            x.getField("_2").as("pathPrefix"))).as("rules"),
        col("r._3").as("robotsDelayMs"))
  }

  /** Sitemap discovery from robots.txt — the `Sitemap:` directive
    * (sitemaps.org protocol; RFC 9309 carries it as an "other record").
    * One row per advertised sitemap URL, (host, sitemap_url); this is
    * the discovery loop that seeds [[SitemapSource]] straight from the
    * in-table robots subset, no side channel. Pure Catalyst: decode →
    * line split → case-insensitive key match → value extract, all
    * codegen'd, so a SQL oracle states it verbatim. Key matching is
    * case-insensitive and tolerates surrounding whitespace per the
    * protocol; blank values drop.
    */
  def sitemapUrls(pagesInput: DataFrame): DataFrame =
    pagesInput
      .filter(col("url").endsWith("/robots.txt"))
      .select(graft.plans.Kernels.host_of(col("url")).as("host"),
        explode(split(decode(col("html"), "UTF-8"), "\r?\n")).as("line"))
      .filter(col("line").rlike("(?i)^\\s*sitemap\\s*:"))
      .select(col("host"),
        trim(regexp_replace(col("line"), "(?i)^\\s*sitemap\\s*:\\s*", ""))
          .as("sitemap_url"))
      .filter(length(col("sitemap_url")) > 0)

  /** Driver-side variant kept for small/test configs (explicit rule
    * lists); production paths use [[robotsDim]].
    */
  def robotsRules(spark: SparkSession, pagesInput: DataFrame,
                  userAgent: String): (Seq[RobotsRule], Map[String, Long]) = {
    import spark.implicits._
    val rows = robotsDim(spark, pagesInput, userAgent)
      .select(col("host"), col("rules"), col("robotsDelayMs"))
      .as[(String, Seq[(Boolean, String)], Long)]
      .collect()
    val rules = rows.flatMap { case (h, rs, _) =>
      rs.map { case (allow, prefix) => RobotsRule(h, allow, prefix) }
    }.toSeq
    val delays = rows.collect { case (h, _, d) if d > 0 => h -> d }.toMap
    (rules, delays)
  }
}
