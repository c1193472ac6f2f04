package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Model.RobotsRule

/** Per-host politeness: robots.txt gating + per-wave crawl budgets.
  *
  * The reference's politeness is per-source rate limiting with no
  * robots support (SURVEY.md §2.8); the north rule adds robots.txt
  * and per-host budgets. Both are implemented as declarative plan
  * pieces: robots rules are a small dimension broadcast into a filter;
  * budget selection is a one-exchange per-host top-k whose map-side
  * partial limit keeps it skew-safe at 10^10 frontier rows.
  */
object Politeness {

  // ---- robots.txt ----

  /** Parse one host's robots.txt for `userAgent` (group matching: the
    * most specific matching User-agent group wins; `*` is the
    * fallback). Returns Allow/Disallow prefix rules + crawl-delay.
    * Pure, total (malformed lines are skipped).
    */
  def parseRobots(host: String, robotsTxt: String, userAgent: String)
      : (Seq[RobotsRule], Option[Long]) = {
    final case class Group(agents: Seq[String], rules: Seq[(Boolean, String)],
                           delay: Option[Double])
    val groups = scala.collection.mutable.ListBuffer.empty[Group]
    var agents = Vector.empty[String]
    var rules = Vector.empty[(Boolean, String)]
    var delay: Option[Double] = None
    var inRules = false
    def flush(): Unit = {
      if (agents.nonEmpty) groups += Group(agents, rules, delay)
      agents = Vector.empty; rules = Vector.empty; delay = None; inRules = false
    }
    robotsTxt.linesIterator.foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val colon = line.indexOf(':')
      if (colon > 0) {
        val key = line.substring(0, colon).trim.toLowerCase
        val value = line.substring(colon + 1).trim
        key match {
          case "user-agent" =>
            if (inRules) flush()
            agents :+= value.toLowerCase
          case "allow" => inRules = true; if (value.nonEmpty) rules :+= (true, value)
          case "disallow" =>
            inRules = true
            if (value.nonEmpty) rules :+= (false, value) // empty Disallow = allow all
          case "crawl-delay" =>
            inRules = true
            delay = value.toDoubleOption.orElse(delay)
          case _ =>
        }
      }
    }
    flush()
    val ua = userAgent.toLowerCase
    val matching = groups.filter(g => g.agents.exists(a => a == "*" || ua.contains(a)))
    val chosen =
      if (matching.exists(g => g.agents.exists(a => a != "*" && ua.contains(a))))
        matching.filter(g => g.agents.exists(a => a != "*" && ua.contains(a)))
      else matching
    val allRules = chosen.flatMap(_.rules).map { case (allow, prefix) =>
      RobotsRule(host, allow, prefix)
    }.toSeq
    val crawlDelayMs = chosen.flatMap(_.delay).headOption.map(d => (d * 1000).toLong)
    (allRules, crawlDelayMs)
  }

  /** Longest-prefix-match robots decision; Allow wins length ties
    * (Google/RFC 9309 semantics). No rules ⇒ allowed.
    */
  def allowed(rules: Seq[RobotsRule], path: String): Boolean = {
    var bestLen = -1
    var bestAllow = true
    rules.foreach { r =>
      if (path.startsWith(r.pathPrefix) && {
            r.pathPrefix.length > bestLen ||
            (r.pathPrefix.length == bestLen && r.allow && !bestAllow)
          }) {
        bestLen = r.pathPrefix.length
        bestAllow = r.allow
      }
    }
    bestAllow
  }

  /** Schema of the robots dimension: one row per host that HAS rules,
    * rules aggregated into an array column plus the host's crawl-delay.
    * Built either from parsed in-table robots pages ([[RobotsLoader]])
    * or from a driver-side `Seq[RobotsRule]` (tests, small configs) —
    * but always CONSUMED as a DataFrame joined on host, never as a
    * closure-captured map (a 10^8-host rule set must not live on the
    * driver).
    */
  def rulesDim(spark: SparkSession, rules: Seq[RobotsRule],
               delays: Map[String, Long] = Map.empty): Option[DataFrame] = {
    if (rules.isEmpty && delays.isEmpty) return None
    import spark.implicits._
    val r = rules.map(x => (x.host, x.allow, x.pathPrefix))
      .toDF("host", "allow", "pathPrefix")
      .groupBy("host")
      .agg(collect_list(struct(col("allow"), col("pathPrefix"))).as("rules"))
    val d = delays.toSeq.toDF("host", "robotsDelayMs")
    Some(r.join(d, Seq("host"), "full")
      .select(col("host"), col("rules"),
        coalesce(col("robotsDelayMs"), lit(0L)).as("robotsDelayMs")))
  }

  /** Join the robots dimension onto a frontier (columns url, host, …):
    * drops disallowed rows and attaches `robotsDelayMs` (0 when the
    * host has none). Longest-prefix-match with Allow winning length
    * ties, evaluated by one generated kernel over the joined rules
    * column (`graft_robots_allowed`, [[graft.plans.UrlKernels]]: inside
    * whole-stage codegen, no driver-side rule map, no UDF). Its
    * relational statement is
    * `best = max over matching prefixes of (prefixLen, allowBit)`,
    * kept with its equivalence test in test sources. The dimension
    * side broadcasts (hosts-with-rules << frontier).
    *
    * Path semantics: rules match against the full URI path INCLUDING
    * `;params` (RFC 9309 matches the percent-encoded path component
    * verbatim; params are part of it) — pinned by a test with a
    * param-carrying url.
    */
  def applyRobots(frontier: DataFrame, dim: Option[DataFrame]): DataFrame = {
    dim match {
      case None => frontier.withColumn("robotsDelayMs", lit(0L))
      case Some(d) =>
        frontier
          .join(broadcast(d), Seq("host"), "left")
          .withColumn("robotsDelayMs", coalesce(col("robotsDelayMs"), lit(0L)))
          .filter(graft.plans.Kernels.robots_allowed(col("url"), col("rules")))
          .drop("rules")
    }
  }

  /** Per-host effective wave budget under a crawl delay: with delay d
    * and a wave clock of `waveDurationMs`, a polite fetcher can issue
    * at most waveDurationMs/d requests to that host per wave (at least
    * 1 so delayed hosts still progress). Delay = max(robots
    * Crawl-delay, HostPolicy delay); 0/absent delay or a zero wave
    * clock leaves the plain budget.
    */
  def delayCappedBudget(maxPerWave: Column, delayMs: Column,
                        waveDurationMs: Long): Column =
    if (waveDurationMs <= 0L) maxPerWave
    else when(delayMs > 0L,
      least(maxPerWave,
        greatest((lit(waveDurationMs) / delayMs).cast("int"), lit(1))))
      .otherwise(maxPerWave)

  /** Per-host top-k pop: each host keeps its `maxPerWave` lowest
    * (score, urlHash) rows — one window over host, ranked by the
    * crawl's total order, so the selection is exact and deterministic.
    *
    * Skew control is map-side. `maxBudget` is a literal upper bound on
    * every row's `maxPerWave` (the largest configured budget; a
    * delay-capped budget never exceeds it), and the `rank <= maxBudget`
    * conjunct lets Spark's InsertWindowGroupLimit plan a partial
    * per-host top-`maxBudget` (WindowGroupLimit … Partial) BELOW the
    * only exchange, `hashpartitioning(host)`: each map task forwards at
    * most `maxBudget` rows per host, so a mega-host's pending mass
    * never lands on one reducer. Spark plans that limit only while
    * `maxBudget` ≤ `spark.sql.optimizer.windowGroupLimitThreshold`
    * (1000 by default); above it the pop stays exact, but one reduce
    * task ranks all of a host's pending rows.
    *
    * Frontier columns required: host, score, urlHash, maxPerWave.
    */
  def popPerHost(frontier: DataFrame, maxBudget: Int): DataFrame = {
    val byHost = Window.partitionBy(col("host"))
      .orderBy(col("score").asc, col("urlHash").asc)
    frontier
      .withColumn("rn", row_number().over(byHost))
      .filter(col("rn") <= maxBudget && col("rn") <= col("maxPerWave"))
      .drop("rn")
  }
}
