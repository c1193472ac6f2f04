package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.{CrawlConfig, HostPolicy}
import graft.core.Hashing
import graft.crawl.{FetchSource, SyntheticCorpus, WaveRunner}

/** Round-2 engine semantics: deferred-retry with bounded attempts
  * (reference requeue-self, baseconnector.py:158-181), the re-crawl
  * frequency gate (taskmanager.py:338-361), duplicate-capture inputs,
  * duplicate seeds, the crawl-delay budget cap, and plain-vs-bucketed
  * fetch-join equivalence.
  */
class RetryAndRecrawlSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-retry-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  private val spec = SyntheticCorpus.Spec(numUrls = 120, numHosts = 6)
  private lazy val corpus = SyntheticCorpus.generate(spark, spec).toDF()
  private def tmp(p: String) = TempDirs.make(p).toString
  private val seedUrl = SyntheticCorpus.urlFor(0, spec)

  test("a deferred row is fetched in wave w+1 with attempt accounting") {
    val runner = new WaveRunner(spark, corpus, tmp("graft-defer-"),
      CrawlConfig(maxDepth = 1, defaultMaxPerWave = 10, maxWaves = 4))
    // transient refusal on the FIRST attempt only (the 429 analog)
    runner.deferInjector = Some(col("url") === seedUrl && col("attempts") === 0)
    runner.initSeeds(Seq(seedUrl -> 1, SyntheticCorpus.urlFor(7, spec) -> 1))
    runner.run()

    val tries = runner.processedT.read().get
      .filter(col("url") === seedUrl)
      .select("wave", "state", "attempts")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).sortBy(_._1)
    assert(tries.length === 2, s"expected defer-then-fetch, got ${tries.toSeq}")
    assert(tries(0) === ((1, "deferred", 1)))
    assert(tries(1)._2 === "fetched" && tries(1)._3 === 2)
    assert(tries(1)._1 === 2, "retry must land exactly one wave later")
    // the view resolves to the LATEST state
    val st = runner.frontierStates().filter(col("url") === seedUrl)
      .select("state").collect().head.getString(0)
    assert(st === "fetched")
    // metrics: a transient will-retry row is DEFERRED, not a failure
    val w1 = runner.metrics().filter(col("wave") === 1)
      .select("scheduled", "fetched", "failed", "deferred")
      .collect().head
    assert(w1.getLong(3) === 1L, s"wave-1 deferred must be 1, got $w1")
    assert(w1.getLong(2) === w1.getLong(0) - w1.getLong(1) - w1.getLong(3),
      s"failed must exclude deferred rows: $w1")
  }

  test("deferrals stop after maxFetchAttempts and stay deferred") {
    val runner = new WaveRunner(spark, corpus, tmp("graft-defermax-"),
      CrawlConfig(maxDepth = 0, defaultMaxPerWave = 10, maxWaves = 6,
        maxFetchAttempts = 2))
    runner.deferInjector = Some(col("url") === seedUrl) // always refused
    runner.initSeeds(Seq(seedUrl -> 1, SyntheticCorpus.urlFor(7, spec) -> 1))
    runner.run()

    val tries = runner.processedT.read().get
      .filter(col("url") === seedUrl)
      .select("wave", "attempts").collect()
      .map(r => (r.getInt(0), r.getInt(1))).sorted
    assert(tries.toSeq === Seq((1, 1), (2, 2)), s"got ${tries.toSeq}")
    val st = runner.frontierStates().filter(col("url") === seedUrl)
      .select("state").collect().head.getString(0)
    assert(st === "deferred")
  }

  // ---- hierarchical session-info in the wave loop (round-3 item #3):
  // an explicit 3-level tree corpus (root → children → grandchildren)
  private def treePage(url: String, body: String, links: Seq[String]) =
    graft.core.Model.PageInput(url, new java.sql.Timestamp(1600000000000L),
      (s"<html><head><title>T $url</title></head><body><div><p>$body</p></div>" +
        links.map(l => s"""<a href="$l">go</a>""").mkString("\n") +
        "</body></html>").getBytes("UTF-8"), "", "en")

  private val (rt, c1, c2, g1, g2) = ("http://a.test/r", "http://a.test/c1",
    "http://a.test/c2", "http://a.test/g1", "http://a.test/g2")

  private def treeCorpus(rootBody: String) = Seq(
    treePage(rt, rootBody, Seq(c1, c2)),
    treePage(c1, "child one paragraph with enough words to survive extraction", Seq(g1, g2)),
    treePage(c2, "child two paragraph with enough words to survive extraction", Nil),
    treePage(g1, "grand one paragraph with enough words to survive extraction", Nil),
    treePage(g2, "grand two paragraph with enough words to survive extraction", Nil)).toDS().toDF()

  private val treeCfg = CrawlConfig(maxDepth = 2, defaultMaxPerWave = 10,
    maxWaves = 6, recrawlEveryWaves = 3)

  test("recrawl subtree gate: an unchanged tree costs ONE root probe per cycle") {
    val runner = new WaveRunner(spark,
      treeCorpus("root paragraph with enough words to survive extraction"),
      tmp("graft-subtree-"), treeCfg)
    runner.initSeeds(Seq(rt -> 1))
    runner.run()
    // waves 1-3 walk the tree; wave 4 re-probes the root (due 1+3);
    // the probe finds it UNCHANGED, so children (due wave 5) and
    // grandchildren (due 6) never re-enter — the reference's
    // skip-unchanged-subtree (htmlconnector.py:60-61) at wave grain
    val n = runner.processedT.read().get.groupBy("url").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(n(rt) === 2L, s"root = initial fetch + one probe, got $n")
    assert(Seq(c1, c2, g1, g2).forall(n(_) === 1L),
      s"unchanged subtree must not re-extract, got $n")
    val probe = runner.processedT.read().get
      .filter(col("url") === rt && col("wave") === 4).collect().head
    assert(!probe.getAs[Boolean]("changed"), "probe must report unchanged")
  }

  test("recrawl subtree gate: a changed root re-opens one level per wave") {
    val state = tmp("graft-subtree-chg-")
    val r1 = new WaveRunner(spark,
      treeCorpus("root paragraph with enough words to survive extraction"),
      state, treeCfg.copy(maxWaves = 3))
    r1.initSeeds(Seq(rt -> 1))
    r1.run()
    // resume against a corpus whose ROOT content changed
    val r2 = new WaveRunner(spark,
      treeCorpus("rewritten root paragraph with freshly changed body text"),
      state, treeCfg)
    r2.run()
    val p = r2.processedT.read().get
    val n = p.groupBy("url").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // wave 4 probes root → CHANGED; wave 5 re-probes the children
    // (parent probe is newer than their last fetch and changed); their
    // content is unchanged, so grandchildren (due wave 6) stay gated
    assert(n(rt) === 2L && n(c1) === 2L && n(c2) === 2L, s"got $n")
    assert(n(g1) === 1L && n(g2) === 1L,
      s"unchanged children must shield the grandchildren, got $n")
    assert(p.filter(col("url") === rt && col("wave") === 4)
      .collect().head.getAs[Boolean]("changed"), "root probe must see change")
    assert(!p.filter(col("url") === c1 && col("wave") === 5)
      .collect().head.getAs[Boolean]("changed"), "child probe sees no change")
  }

  test("re-crawl frequency gate: eligible only after recrawlEveryWaves") {
    val runner = new WaveRunner(spark, corpus, tmp("graft-recrawl-"),
      CrawlConfig(maxDepth = 0, defaultMaxPerWave = 10, maxWaves = 4,
        recrawlEveryWaves = 2))
    runner.initSeeds(Seq(seedUrl -> 1))
    runner.run()

    val fetchWaves = runner.processedT.read().get
      .filter(col("url") === seedUrl && col("state") === "fetched")
      .select("wave").collect().map(_.getInt(0)).sorted.toSeq
    assert(fetchWaves === Seq(1, 3),
      s"fetched at wave 1, gated at 2, re-fetched at 3; got $fetchWaves")
    // idle waves (2 and 4) still account metrics, with nothing scheduled
    val m = runner.metrics().select("wave", "scheduled").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(m(2) === 0L && m(4) === 0L && m(1) === 1L && m(3) === 1L)
  }

  test("adaptive revisit: change rate from consecutive hashes, capped backoff") {
    import org.apache.spark.sql.functions.col
    // url A: 5 fetches, hashes a b b c c -> 2 changes over 4 steps (500)
    // url B: 4 fetches, all identical -> 0 changes (static page)
    // url C: 3 fetches, always different -> 1000 (always-changing)
    // url D: 1 fetch -> cold start, rate 0
    val hist = Seq(
      ("A", 1L, "a"), ("A", 2L, "b"), ("A", 3L, "b"), ("A", 4L, "c"),
      ("A", 5L, "c"),
      ("B", 1L, "x"), ("B", 2L, "x"), ("B", 3L, "x"), ("B", 4L, "x"),
      ("C", 1L, "p"), ("C", 2L, "q"), ("C", 3L, "r"),
      ("D", 1L, "z")).toDF("url", "seq", "h")
      .withColumn("ts", col("seq").cast("timestamp"))
    val out = graft.operators.Revisit.changeRate(hist, Seq("url"), "ts",
        "seq", "h", baseIntervalSec = 3600L, minRateMilli = 100L,
        maxIntervalSec = 86400L)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out("A") === ((5L, 2L, 500L, 7200L)))      // 3600*1000/500
    assert(out("B") === ((4L, 0L, 0L, 36000L)))       // floor 100 -> 36000
    assert(out("C") === ((3L, 2L, 1000L, 3600L)))     // base interval
    assert(out("D") === ((1L, 0L, 0L, 36000L)))       // cold start
    // cap: a tiny floor would explode the interval; the cap holds it
    val capped = graft.operators.Revisit.changeRate(hist, Seq("url"), "ts",
        "seq", "h", baseIntervalSec = 3600L, minRateMilli = 1L,
        maxIntervalSec = 86400L)
      .collect().map(r => r.getString(0) -> r.getLong(4)).toMap
    assert(capped("B") === 86400L)
  }

  test("duplicate captures of one url: latest warc_ts wins, no row fanout") {
    // the input shape legitimately holds multiple captures per url —
    // the fetch join must dedup, or the frontier join fans out
    val older = corpus.filter(col("url") === seedUrl)
      .withColumn("warc_ts", expr("warc_ts - interval 10 days"))
      .withColumn("html",
        encode(lit("<html><body><p>stale capture body text here</p></body></html>"), "utf-8"))
    val doubled = corpus.unionByName(older)

    val runner = new WaveRunner(spark, doubled, tmp("graft-dupcap-"),
      CrawlConfig(maxDepth = 1, defaultMaxPerWave = 10, maxWaves = 3))
    runner.initSeeds(Seq(seedUrl -> 1))
    runner.run()

    val rows = runner.pages().filter(col("url") === seedUrl).collect()
    assert(rows.length === 1, "exactly one processed row per popped url")
    // the latest capture's extracted text, not the stale one
    val expected = graft.core.BoilerplateExtractor.extractText(
      SyntheticCorpus.htmlFor(0, spec))
    assert(rows.head.getAs[String]("text") === expected)
    // no urlHash appears twice in the order log (no fanout into waves)
    val dupOrders = runner.crawlOrder().groupBy("urlHash").count()
      .filter(col("count") > 1).count()
    assert(dupOrders === 0)
  }

  test("duplicate seeds canonicalizing to one url keep min priority") {
    val runner = new WaveRunner(spark, corpus, tmp("graft-dupseed-"),
      CrawlConfig(maxDepth = 0, defaultMaxPerWave = 10, maxWaves = 2))
    runner.initSeeds(Seq(
      seedUrl -> 97,
      (seedUrl + "?utm_source=x") -> 1, // canonicalizes to seedUrl
      (seedUrl + "#frag") -> 5))
    runner.run()
    val frontier = runner.frontierT.read().get
      .filter(col("url") === seedUrl).collect()
    assert(frontier.length === 1, "one frontier row per canonical url")
    assert(frontier.head.getAs[Int]("priority") === 1)
    assert(runner.crawlOrder().count() === 1)
  }

  test("crawl-delay caps the per-wave host budget via the wave clock") {
    // 2 s delay under a 10 s wave clock ⇒ at most 5 fetches per host-wave
    val host = graft.core.UrlNormalizer.hostOf(seedUrl)
    val policies = Map(host -> HostPolicy(host, crawlDelayMs = 2000L, maxPerWave = 100))
    val runner = new WaveRunner(spark, corpus, tmp("graft-delay-"),
      CrawlConfig(maxDepth = 2, defaultMaxPerWave = 100, maxWaves = 3,
        waveDurationMs = 10000L),
      hostPolicies = policies)
    runner.initSeeds((0L until 30L).map(i => SyntheticCorpus.urlFor(i, spec) -> 1))
    runner.run()
    val hostOf = udf((u: String) => graft.core.UrlNormalizer.hostOf(u))
    val perWave = runner.crawlOrder()
      .withColumn("host", hostOf(col("url")))
      .filter(col("host") === host)
      .groupBy("wave").count().collect().map(_.getLong(1))
    assert(perWave.nonEmpty)
    assert(perWave.forall(_ <= 5), s"delay cap violated: ${perWave.toSeq}")
  }

  test("metrics backfill: a crash after the frontier flip still records the wave") {
    val root = tmp("graft-metricsbf-")
    val r1 = new WaveRunner(spark, corpus, root,
      CrawlConfig(maxDepth = 1, defaultMaxPerWave = 10, maxWaves = 2))
    r1.initSeeds(Seq(seedUrl -> 1))
    assert(r1.runWave(1))
    // simulate a crash that landed between the frontier flip and the
    // wave's record: delete the record
    Files.delete(java.nio.file.Paths.get(root, "staging", "wave_1", "_COMMITTED"))
    // a restarted job re-enters wave 1, sees it committed, and
    // backfills the metrics row from the staged counts
    val r2 = new WaveRunner(spark, corpus, root,
      CrawlConfig(maxDepth = 1, defaultMaxPerWave = 10, maxWaves = 2))
    assert(r2.runWave(1))
    val m = r2.metrics().filter(col("wave") === 1)
      .select("scheduled").collect()
    assert(m.length === 1 && m.head.getLong(0) === 1L,
      "wave-1 metrics must be backfilled on resume")
    assert(r2.extractCounter.value === 0, "backfill must not re-extract")
  }

  test("segment compaction: identical crawl state, bounded segment count") {
    val cfg = CrawlConfig(maxDepth = 2, defaultMaxPerWave = 15, maxWaves = 4)
    val plain = new WaveRunner(spark, corpus, tmp("graft-nocompact-"), cfg)
    plain.initSeeds(Seq(seedUrl -> 1, SyntheticCorpus.urlFor(3, spec) -> 2))
    plain.run()

    val compacted = new WaveRunner(spark, corpus, tmp("graft-compact-"),
      cfg.copy(compactEveryWaves = 2, compactMaxSegments = 2)) // tightest bound
    compacted.initSeeds(Seq(seedUrl -> 1, SyntheticCorpus.urlFor(3, spec) -> 2))
    compacted.run()

    def order(r: WaveRunner) = r.crawlOrder().collect().map(_.toSeq).toSeq
    assert(order(compacted) === order(plain))
    assert(compacted.frontierT.read().get.count() === plain.frontierT.read().get.count())
    val segs = compacted.frontierT.currentManifest().get.segments.size
    assert(segs <= 3, s"compaction must bound segments, got $segs")
    // a wave after compaction still appends deltas on top
    assert(compacted.frontierT.committedWave() === plain.frontierT.committedWave())
  }

  test("a segment bound below 2 is rejected at construction") {
    val e = intercept[IllegalArgumentException] {
      new WaveRunner(spark, corpus, tmp("graft-badbound-"),
        CrawlConfig(compactMaxSegments = 1))
    }
    assert(e.getMessage.contains("compactMaxSegments"))
  }

  test("concurrent commit tail: identical crawl state, bounded live segments, no orphans") {
    // every tail chain runs every wave: both sketches (bloomMinFrontier
    // 0), the rollup append and all three compactions,
    // then the vacuum; deferrals add the overlapped misses job and retries
    val cfg = CrawlConfig(maxDepth = 2, defaultMaxPerWave = 15, maxWaves = 5,
      bloomMinFrontier = 0L, broadcastSeenKeys = 0L, compactEveryWaves = 0)
    val seeds = Seq(seedUrl -> 1, SyntheticCorpus.urlFor(3, spec) -> 2,
      SyntheticCorpus.urlFor(7, spec) -> 3)
    def runner(c: CrawlConfig, root: String) = {
      val r = new WaveRunner(spark, corpus, root, c)
      r.deferInjector = Some(pmod(col("urlHash"), lit(5L)) === 0L)
      r.initSeeds(seeds)
      r
    }
    val plain = runner(cfg, tmp("graft-tail-plain-"))
    plain.run()

    val root = tmp("graft-tail-compact-")
    val compacted = runner(cfg.copy(compactEveryWaves = 1, compactMaxSegments = 2,
      vacuumOnCompact = true), root)
    val tables = Seq(compacted.frontierT, compacted.processedT, compacted.latestT)
    var w = 1
    var more = true
    while (more && w <= cfg.maxWaves) {
      more = compacted.runWave(w)
      for (t <- tables; m <- t.currentManifest()) {
        assert(m.segments.size <= 2, s"wave $w: ${t.name} has ${m.segments.size} live segments")
        val onDisk = Files.list(java.nio.file.Paths.get(root, t.name, "snapshots"))
        val dirs = try onDisk.iterator().asScala.map(_.getFileName.toString).toSet
          finally onDisk.close()
        assert(dirs === m.segments.map(v => f"v$v%05d").toSet,
          s"wave $w: ${t.name} keeps unreferenced snapshots")
      }
      w += 1
    }
    assert(compacted.latestT.exists(), "probe setup broken: the rollup never materialized")

    def order(r: WaveRunner) = r.crawlOrder().collect().map(_.toSeq).toSeq
    def seen(r: WaveRunner) = r.seen().collect().map(_.toSeq).toSet
    def text(r: WaveRunner) = r.pages().select("urlHash", "wave", "text")
      .collect().map(_.toSeq).toSet
    def counts(r: WaveRunner) = r.metrics().drop("elapsedMs").orderBy("wave")
      .collect().map(_.toSeq).toSeq
    assert(order(compacted) === order(plain))
    assert(seen(compacted) === seen(plain))
    assert(text(compacted) === text(plain))
    assert(counts(compacted) === counts(plain))
    assert(counts(plain).exists(_(4) != 0L), "probe setup broken: no deferrals")
  }

  test("sketch-chain gap re-seeds the running count: the per-host budget still binds") {
    // 40 seeds on one host, no outlinks: only the budget (5) limits a
    // wave. A wave-1 record whose counts are lost must not restart the
    // count at 0: the budget short-circuit would then pop the whole
    // host at once.
    val oneHost = SyntheticCorpus.Spec(numUrls = 40, numHosts = 1,
      minOutlinks = 0, maxOutlinks = 0)
    val root = tmp("graft-bloomgap-")
    val r = new WaveRunner(spark, SyntheticCorpus.generate(spark, oneHost).toDF(), root,
      CrawlConfig(maxDepth = 1, defaultMaxPerWave = 5, maxWaves = 3))
    r.initSeeds((0L until 40L).map(i => SyntheticCorpus.urlFor(i, oneHost) -> 1))
    assert(r.runWave(1))
    Files.write(java.nio.file.Paths.get(root, "staging", "wave_1", "_COMMITTED"),
      Array.emptyByteArray)
    assert(r.runWave(2))
    assert(r.runWave(3))
    val perWave = r.crawlOrder().groupBy("wave").count().collect()
      .map(x => x.getInt(0) -> x.getLong(1)).toMap
    assert(perWave === Map(1 -> 5L, 2 -> 5L, 3 -> 5L))
    def meta(w: Int) = WaveRunner.readRecord[WaveRunner.WaveRecord](
      java.nio.file.Paths.get(root, "staging", s"wave_$w", "_COMMITTED")).get.discovered
    assert(meta(2) >= 40L && meta(3) >= 40L, s"count after the gap: ${meta(2)}, ${meta(3)}")
  }

  test("bucketed co-partitioned fetch join ≡ plain broadcast join") {
    val cfgPlain = CrawlConfig(maxDepth = 2, defaultMaxPerWave = 15, maxWaves = 3)
    val plain = new WaveRunner(spark, corpus, tmp("graft-plainj-"), cfgPlain)
    plain.initSeeds(Seq(seedUrl -> 1, SyntheticCorpus.urlFor(3, spec) -> 2))
    plain.run()

    // broadcastPopRows = 0 forces the co-partitioned regime every wave
    val cfgBucketed = cfgPlain.copy(fetchBuckets = 4, broadcastPopRows = 0L)
    val bucketed = new WaveRunner(spark, corpus, tmp("graft-bucketj-"), cfgBucketed)
    bucketed.initSeeds(Seq(seedUrl -> 1, SyntheticCorpus.urlFor(3, spec) -> 2))
    bucketed.run()

    def order(r: WaveRunner) = r.crawlOrder().collect().map(_.toSeq).toSeq
    def seen(r: WaveRunner) = r.seen().select("urlHash", "contentHash")
      .collect().map(x => (x.getLong(0), x.getString(1))).toSet
    assert(order(bucketed) === order(plain))
    assert(seen(bucketed) === seen(plain))
  }

  /** A bucketed fetch source over `input` in `root`, its catalog
    * entry dropped first (a new session's view of the directory).
    */
  private def bucketedSource(input: DataFrame, root: String): FetchSource = {
    val dir = s"$root/fetch_bucketed"
    spark.sql(s"DROP TABLE IF EXISTS graft_fetch_${java.lang.Long.toHexString(Hashing.xxhash64(dir))}")
    new FetchSource(spark, input, root, CrawlConfig(fetchBuckets = 4, broadcastPopRows = 0L))
  }

  test("a bucketed fetch table ingested from another input schema fails loudly") {
    val root = tmp("graft-ingest-schema-")
    val rows = bucketedSource(corpus, root).source.count()
    assert(rows > 0L)
    val e = intercept[IllegalStateException](
      bucketedSource(corpus.withColumn("lang", lit("en")), root).source)
    assert(e.getMessage.contains("was ingested from an input with schema ["), e.getMessage)
    assert(e.getMessage.contains("delete the directory to re-ingest"), e.getMessage)
  }

  test("a bucketed fetch directory without its fingerprint is ingested again") {
    // the fingerprint is the ingest's commit record: an ingest cut
    // before it (its parquet and _SUCCESS written) counts as none
    val root = tmp("graft-ingest-cut-")
    val rows = bucketedSource(corpus, root).source.count()
    val meta = Paths.get(root, "fetch_bucketed", "_graft_ingest.meta")
    Files.delete(meta)
    assert(Files.exists(Paths.get(root, "fetch_bucketed", "_SUCCESS")))
    assert(bucketedSource(corpus, root).source.count() === rows)
    assert(Files.exists(meta), "the directory was not ingested again")
    // a torn or foreign fingerprint is no commit record either
    Files.write(meta, "12".getBytes("UTF-8"))
    assert(bucketedSource(corpus, root).source.count() === rows)
    assert(new String(Files.readAllBytes(meta), "UTF-8").split("\n").length === 2)
  }
}
