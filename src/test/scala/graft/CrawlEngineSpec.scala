package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.{CrawlConfig, HostPolicy, RobotsRule}
import graft.crawl.{SyntheticCorpus, WaveRunner}

/** The replay contract (FIXTURES.md §2,5): crawl ordering, URL-seen
  * set, extracted-text byte identity, politeness, and mid-wave resume
  * with zero re-fetches — all on the deterministic synthetic corpus.
  */
class CrawlEngineSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-crawl-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val spec = SyntheticCorpus.Spec(numUrls = 400, numHosts = 10)
  private lazy val corpusPath = {
    val dir = TempDirs.make("graft-corpus-").toString
    SyntheticCorpus.generate(spark, spec, partitions = 4)
      .write.mode("overwrite").parquet(dir)
    dir
  }

  private val config = CrawlConfig(maxDepth = 2, defaultMaxPerWave = 15, maxWaves = 4)
  private val policies = Map("host0.test" -> HostPolicy("host0.test", 0L, 5))
  private val robots = Seq(
    RobotsRule("host1.test", allow = false, pathPrefix = "/p/1"),
    RobotsRule("host1.test", allow = true, pathPrefix = "/p/12"))
  private val seeds = Seq(
    SyntheticCorpus.urlFor(0, spec) -> 1,
    SyntheticCorpus.urlFor(3, spec) -> 2,
    SyntheticCorpus.urlFor(11, spec) -> 97)

  private def newRunner(session: SparkSession, stateRoot: String): WaveRunner =
    new WaveRunner(session, session.read.parquet(corpusPath), stateRoot,
      config, policies, robots)

  private def runFull(session: SparkSession): WaveRunner = {
    val runner = newRunner(session, TempDirs.make("graft-state-").toString)
    runner.initSeeds(seeds)
    runner.run()
    runner
  }

  private def orderRows(r: WaveRunner): Seq[(Int, Long, Long, String)] =
    r.crawlOrder().collect().toSeq
      .map(x => (x.getInt(0), x.getLong(1), x.getLong(2), x.getString(3)))

  private lazy val baseline = runFull(spark)
  private lazy val baselineOrder = orderRows(baseline)

  test("crawl progresses and drains within maxWaves") {
    assert(baselineOrder.nonEmpty)
    assert(baseline.pages().count() > 0)
    val waves = baselineOrder.map(_._1).distinct
    assert(waves === waves.sorted)
  }

  test("crawl order is identical at a different parallelism (scaling invariance)") {
    val other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "13")
    val runner2 = runFull(other)
    assert(orderRows(runner2) === baselineOrder)
  }

  test("broadcast-exact seen joins ≡ shuffled anti-join path (gate parity)") {
    // default config broadcasts the seen keys (counts are tiny here);
    // force the 10^10 regime's shuffled path and require the identical
    // crawl — the broadcastSeenKeys gate must never change results,
    // with the broadcast fetch join and with the bucketed one
    def crawl(cfg: CrawlConfig, label: String): Seq[(Int, Long, Long, String)] = {
      val r = new WaveRunner(spark, spark.read.parquet(corpusPath),
        TempDirs.make(s"graft-state-$label-").toString,
        cfg, policies, robots)
      r.initSeeds(seeds)
      r.run()
      orderRows(r)
    }
    assert(crawl(config.copy(broadcastSeenKeys = 0L), "noseenbc") === baselineOrder)
    val bucketed = config.copy(fetchBuckets = 4, broadcastPopRows = 0L)
    assert(crawl(bucketed, "bucket-gate") === baselineOrder)
    assert(crawl(bucketed.copy(broadcastSeenKeys = 0L), "bucket-noseenbc") ===
      baselineOrder)
  }

  test("URL-seen set and page text are identical across runs") {
    val other = spark.newSession()
    other.conf.set("spark.sql.shuffle.partitions", "9")
    val runner2 = runFull(other)
    val seen1 = baseline.seen().select("urlHash", "contentHash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val seen2 = runner2.seen().select("urlHash", "contentHash")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(seen1 === seen2)
    val t1 = baseline.pages().select("url", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val t2 = runner2.pages().select("url", "text")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(t1 === t2)
  }

  test("extracted text is byte-identical to the input table's text column") {
    val input = spark.read.parquet(corpusPath).select(
      col("url").as("in_url"), col("text").as("in_text"))
    val joined = baseline.pages().join(input, col("url") === col("in_url"), "inner")
    val mismatches = joined.filter(col("text") =!= col("in_text")).count()
    assert(joined.count() === baseline.pages().count())
    assert(mismatches === 0)
  }

  test("politeness: per-host per-wave counts never exceed the budget") {
    val hostOf = udf((u: String) => graft.core.UrlNormalizer.hostOf(u))
    val counts = baseline.crawlOrder()
      .withColumn("host", hostOf(col("url")))
      .groupBy("wave", "host").count()
      .collect()
    counts.foreach { r =>
      val host = r.getString(1)
      val budget = policies.get(host).map(_.maxPerWave).getOrElse(config.defaultMaxPerWave)
      assert(r.getLong(2) <= budget, s"host $host wave ${r.getInt(0)}")
    }
  }

  test("robots: disallowed urls are never scheduled") {
    val scheduled = baselineOrder.map(_._4)
    val offending = scheduled.filter { u =>
      u.startsWith("http://host1.test/p/1") && !u.startsWith("http://host1.test/p/12")
    }
    assert(offending.isEmpty, s"robots-disallowed scheduled: $offending")
  }

  test("depth gate: nothing beyond maxDepth is scheduled") {
    val depths = baseline.frontierStates()
      .filter(col("state") =!= "pending")
      .select(max("depth")).collect().head.getInt(0)
    assert(depths <= config.maxDepth)
  }

  test("mid-wave kill resumes with zero re-fetches and identical state") {
    val stateRoot = TempDirs.make("graft-resume-").toString
    val r1 = newRunner(spark, stateRoot)
    r1.initSeeds(seeds)
    assert(r1.runWave(1))
    // crash between the pages flip and the rest of wave 2's flips
    r1.failPoint = step =>
      if (step == "processed") throw new IllegalStateException("simulated kill between table flips")
    intercept[IllegalStateException](r1.runWave(2))
    assert(r1.processedT.committedWave() === 2)
    assert(r1.frontierT.committedWave() === 1)

    // fresh runner = restarted job
    val r2 = newRunner(spark, stateRoot)
    r2.run()
    assert(r2.extractCounter.value === baselineExtractAfterWave1,
      "resume must not re-extract wave 2's staged pages")
    assert(orderRows(r2) === baselineOrder)
    val seenResumed = r2.seen().select("urlHash").collect().map(_.getLong(0)).toSet
    val seenBase = baseline.seen().select("urlHash").collect().map(_.getLong(0)).toSet
    assert(seenResumed === seenBase)
  }

  /** extraction done by the resumed runner = waves 3..n only (wave 2
    * was staged before the kill). Computed from the baseline's metrics.
    */
  private lazy val baselineExtractAfterWave1: Long = {
    baseline.metrics().filter(col("wave") >= 3)
      .agg(coalesce(sum("fetched"), lit(0L))).collect().head.getLong(0)
  }

  test("frontier states are consistent with pages and order") {
    val states = baseline.frontierStates()
    val fetched = states.filter(col("state") === "fetched").count()
    assert(fetched === baseline.pages().count())
    val orderCount = baseline.crawlOrder().count()
    val failed = states.filter(col("state") === "failed").count()
    assert(orderCount === fetched + failed)
  }

  test("wave commits are O(delta): per-wave frontier segments, no rewrite") {
    // the discovery log must list one immutable segment per committed
    // wave (seeds + one delta each) — a full-table rewrite would
    // collapse it back to a single segment
    val m = baseline.frontierT.currentManifest().get
    assert(m.segments.size === baseline.frontierT.committedWave() + 1,
      s"expected one appended segment per wave, got ${m.segments}")
  }

  test("inlinkBoost: heavily-inlinked page pops first within its band; off = pure priority+depth") {
    import spark.implicits._
    // seed s -> b,c,d (wave 2); b,c,d each -> a and one unique child, so
    // at wave-2 expansion a has 3 in-wave inlinks (ilog2 = 1) and
    // e,f,g have 1 (ilog2 = 0) at identical (priority, depth)
    def page(path: String, outs: Seq[String]): (String, java.sql.Timestamp, Array[Byte]) = {
      val html = "<html><body>" + outs.map(o =>
        s"""<a href="http://boost.test/$o">x</a>""").mkString + "</body></html>"
      (s"http://boost.test/$path", java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
        html.getBytes("UTF-8"))
    }
    val corpus = Seq(
      page("s", Seq("b", "c", "d")),
      page("b", Seq("a", "e")), page("c", Seq("a", "f")), page("d", Seq("a", "g")),
      page("a", Nil), page("e", Nil), page("f", Nil), page("g", Nil)
    ).toDF("url", "warc_ts", "html")
    def orderWith(boost: Boolean): Seq[String] = {
      val runner = new WaveRunner(spark, corpus,
        TempDirs.make("graft-boost-").toString,
        CrawlConfig(maxDepth = 3, defaultMaxPerWave = 100, maxWaves = 4,
          inlinkBoost = boost))
      runner.initSeeds(Seq("http://boost.test/s" -> 1))
      runner.run()
      runner.crawlOrder().collect().map(_.getString(3)).toSeq
    }
    val boosted = orderWith(true)
    val third = boosted.drop(4) // wave 1: s; wave 2: b,c,d; wave 3: a,e,f,g
    assert(third.head === "http://boost.test/a",
      s"the 3-inlink page must pop first in its wave, got $third")
    // boost off: same band, tie broken by urlHash only — a is not
    // necessarily first; assert the score column shows NO boost by
    // checking both runs visit the same URL SET in wave 3
    val plain = orderWith(false)
    assert(plain.toSet === boosted.toSet)
    assert(plain.take(4).toSet === boosted.take(4).toSet)
  }
}
