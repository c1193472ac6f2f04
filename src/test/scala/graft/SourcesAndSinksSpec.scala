package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{FeedSource, LiveFetch, PostStore}
import graft.state.SnapshotTable

/** Feed source (S4 + D3 watermark), post-store save modes (S8/J6),
  * and the live-fetch variant's politeness/retry semantics (S3).
  */
class SourcesAndSinksSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-sources-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val rss =
    """<?xml version="1.0"?><rss version="2.0"><channel>
      |<title>Feed</title>
      |<item><title>First &amp; best</title><link>http://Blog.Example.com:80/posts/1</link>
      |  <pubDate>Mon, 02 Jun 2025 10:00:00 GMT</pubDate></item>
      |<item><title>Second</title><link>/posts/2?utm_source=rss</link>
      |  <pubDate>Tue, 03 Jun 2025 10:00:00 GMT</pubDate></item>
      |<item><title>No date</title><link>http://blog.example.com/posts/3</link></item>
      |<item><title>No link</title></item>
      |</channel></rss>""".stripMargin

  private val atom =
    """<feed xmlns="http://www.w3.org/2005/Atom">
      |<entry><title>Atom one</title><link href="http://a.com/e/1"/>
      |  <updated>2025-06-05T12:00:00Z</updated></entry>
      |</feed>""".stripMargin

  test("RSS parse: entries, canonicalized links, entity decode, dates") {
    val entries = FeedSource.parseFeed(rss, "http://blog.example.com/feed.xml")
    assert(entries.size === 3) // the no-link item drops
    assert(entries(0).title === "First & best")
    assert(entries(0).url === "http://blog.example.com/posts/1") // port + case
    assert(entries(1).url === "http://blog.example.com/posts/2") // relative + utm
    assert(entries(0).publishedMs === 1748858400000L)
    assert(entries(2).publishedMs === -1L)
  }

  test("Atom parse: href links and ISO dates") {
    val entries = FeedSource.parseFeed(atom, "http://a.com/feed")
    assert(entries.size === 1)
    assert(entries.head.url === "http://a.com/e/1")
    assert(entries.head.publishedMs === 1749124800000L)
  }

  test("watermark dedup: only entries newer than the stored max pass") {
    val feeds = Seq(("http://blog.example.com/feed.xml", rss)).toDF("feed_url", "xml")
    val entries = FeedSource.entries(spark, feeds)
    val state = Seq(("http://blog.example.com/feed.xml", 1748858400000L))
      .toDF("feedUrl", "maxPublishedMs") // watermark = first item's ts
    val (fresh, newState) = FeedSource.newSinceWatermark(spark, entries, state)
    val urls = fresh.collect().map(_.url).toSet
    assert(urls === Set("http://blog.example.com/posts/2",
      "http://blog.example.com/posts/3")) // newer + undated
    val max = newState.collect().head.getLong(1)
    assert(max === 1748944800000L) // second item's ts
  }

  test("post store: update-in-place, versioned SCD-2, insert-new") {
    val root = TempDirs.make("graft-poststore-").toString
    val table = SnapshotTable(spark, root, "posts")
    val v1 = Seq(("u1", "first"), ("u2", "second")).toDF("key", "data")
    PostStore.save(spark, table, v1, "key", PostStore.SaveMode.Versioned, wave = 1)

    // versioned update of u1 + new u3
    val v2 = Seq(("u1", "first-edited"), ("u3", "third")).toDF("key", "data")
    PostStore.save(spark, table, v2, "key", PostStore.SaveMode.Versioned, wave = 2)
    val afterV = table.read().get.collect()
      .map(r => (r.getAs[String]("key"), r.getAs[String]("data"),
        r.getAs[Int]("version_number"), r.getAs[Boolean]("is_latest"))).toSet
    assert(afterV === Set(
      ("u1", "first", 1, false), ("u1", "first-edited", 2, true),
      ("u2", "second", 1, true), ("u3", "third", 1, true)))

    // in-place update of u2 keeps one row and its version number
    val v3 = Seq(("u2", "second-fixed")).toDF("key", "data")
    PostStore.save(spark, table, v3, "key", PostStore.SaveMode.UpdateInPlace, wave = 3)
    val u2 = table.read().get.filter(col("key") === "u2").collect()
    assert(u2.length === 1)
    assert(u2.head.getAs[String]("data") === "second-fixed")
    assert(u2.head.getAs[Int]("version_number") === 1)

    // insert-new ignores existing keys
    val v4 = Seq(("u2", "should-not-land"), ("u4", "fourth")).toDF("key", "data")
    PostStore.save(spark, table, v4, "key", PostStore.SaveMode.InsertNew, wave = 4)
    val keys = table.read().get.select("key", "data").collect()
      .map(r => (r.getString(0), r.getString(1)))
    assert(keys.count(_._1 == "u4") === 1)
    assert(!keys.contains(("u2", "should-not-land")))
  }

  test("live fetch: injected transport, retry on 503, mime gate, politeness partitioning") {
    val frontier = (0 until 40).map { i =>
      (s"http://h${i % 4}.test/p/$i", s"h${i % 4}.test")
    }.toDF("url", "host")
    val fake: String => LiveFetch.FetchResult = { url =>
      if (url.endsWith("/p/7")) LiveFetch.FetchResult(url, 503, "", Array.emptyByteArray, 1)
      else if (url.endsWith("/p/8"))
        LiveFetch.FetchResult(url, 200, "application/pdf", "x".getBytes, 1)
      else LiveFetch.FetchResult(url, 200, "text/html", s"<html>$url</html>".getBytes, 1)
    }
    val out = LiveFetch.fetch(spark, frontier, fetchFn = fake, maxRetries = 3)
      .collect().map(r => r.url -> r).toMap
    assert(out.size === 40)
    assert(out("http://h3.test/p/7").status === 503)
    assert(out("http://h3.test/p/7").attempts === 3) // retried to the cap
    assert(out("http://h0.test/p/8").status === 415) // mime-gated
    assert(out("http://h1.test/p/9").status === 200)
    assert(out.values.count(_.status == 200) === 38)
  }

  test("live fetch: per-task cap defers the tail") {
    val frontier = (0 until 30).map(i => (s"http://one.test/p/$i", "one.test"))
      .toDF("url", "host")
    val ok: String => LiveFetch.FetchResult =
      u => LiveFetch.FetchResult(u, 200, "text/html", "x".getBytes, 1)
    val out = LiveFetch.fetch(spark, frontier, fetchFn = ok,
      maxFetchesPerTask = 5, saltSlots = 1, numPartitions = 2).collect()
    assert(out.count(_.status == 429) > 0) // deferred, not dropped
    assert(out.count(_.status == 200) <= 10) // ≤ cap × partitions touched
  }

  test("live fetch: deferredUrls bridges refusals into the engine's retry path") {
    val frontier = Seq(
      ("http://a.test/ok", "a.test"),
      ("http://a.test/limited", "a.test"),
      ("http://a.test/flaky", "a.test"),
      ("http://a.test/gone", "a.test")).toDF("url", "host")
    val fake: String => LiveFetch.FetchResult = {
      case u if u.endsWith("/limited") =>
        LiveFetch.FetchResult(u, 429, "", Array.emptyByteArray, 1)
      case u if u.endsWith("/flaky") =>
        LiveFetch.FetchResult(u, 503, "", Array.emptyByteArray, 1) // survives retries
      case u if u.endsWith("/gone") =>
        LiveFetch.FetchResult(u, 404, "", Array.emptyByteArray, 1) // terminal
      case u => LiveFetch.FetchResult(u, 200, "text/html", "x".getBytes, 1)
    }
    val results = LiveFetch.fetch(spark, frontier, fetchFn = fake)
    val deferred = LiveFetch.deferredUrls(results)
      .collect().map(_.getString(0)).toSet
    assert(deferred === Set("http://a.test/limited", "http://a.test/flaky"),
      "rate-limited and exhausted-retryable urls re-enter; 404 stays terminal")
  }

  test("sitemap parse: urlset entries, bare-date lastmod, priority, defaults") {
    import graft.operators.SitemapSource
    val xml = """<?xml version="1.0" encoding="UTF-8"?>
      |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
      | <url><loc>HTTP://Site.Example.COM:80/a/page1</loc>
      |  <lastmod>2024-03-05</lastmod><priority>0.8</priority></url>
      | <url><loc>/relative/page2</loc>
      |  <lastmod>2024-03-05T10:30:00+02:00</lastmod></url>
      | <url><loc>http://site.example.com/page3?utm_source=x&amp;id=7</loc>
      |  <priority>broken</priority></url>
      | <url><lastmod>2024-01-01</lastmod></url>
      |</urlset>""".stripMargin
    val e = SitemapSource.parseSitemap(xml, "http://site.example.com/sitemap.xml")
    assert(e.size === 3) // the loc-less entry drops
    val byUrl = e.map(x => x.url -> x).toMap
    // canonicalization: case/port normalize, tracking strip, relative resolve
    assert(byUrl.contains("http://site.example.com/a/page1"))
    assert(byUrl("http://site.example.com/a/page1").priorityBp === 8000)
    assert(byUrl("http://site.example.com/a/page1").lastmodMs ===
      java.time.LocalDate.of(2024, 3, 5)
        .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli)
    assert(byUrl.contains("http://site.example.com/relative/page2"))
    assert(byUrl("http://site.example.com/relative/page2").lastmodMs ===
      java.time.OffsetDateTime.parse("2024-03-05T10:30:00+02:00")
        .toInstant.toEpochMilli)
    val p3 = byUrl("http://site.example.com/page3?id=7")
    assert(p3.priorityBp === 5000 && p3.lastmodMs === -1L) // defaults
    assert(e.forall(!_.isNestedSitemap))
  }

  test("sitemap index parse: nested references flagged; malformed never throws") {
    import graft.operators.SitemapSource
    val idx = """<sitemapindex>
      | <sitemap><loc>http://s.test/maps/a.xml</loc>
      |  <lastmod>2024-02-02</lastmod></sitemap>
      | <sitemap><loc>http://s.test/maps/b.xml</loc></sitemap>
      |</sitemapindex>""".stripMargin
    val e = SitemapSource.parseSitemap(idx, "http://s.test/sitemap.xml")
    assert(e.size === 2 && e.forall(_.isNestedSitemap))
    assert(e.map(_.url).toSet ===
      Set("http://s.test/maps/a.xml", "http://s.test/maps/b.xml"))
    assert(SitemapSource.parseSitemap("<<<garbage", "http://s.test/x") === Seq())
    assert(SitemapSource.parseSitemap("", "http://s.test/x") === Seq())
  }

  test("robots sitemap discovery: CRLF, mixed case, whitespace, non-robots rows ignored") {
    val robots = "User-agent: *\r\nDisallow: /x\r\n" +
      "  SiTeMaP:   http://a.test/s1.xml  \r\n" +
      "sitemap:http://a.test/s2.xml\r\n" +
      "Sitemap:\r\n" + // blank value -> dropped
      "NotASitemap: http://a.test/no.xml\r\n"
    val pages = Seq(
      ("http://a.test/robots.txt", robots.getBytes("UTF-8")),
      ("http://b.test/robots.txt", "User-agent: *\nAllow: /\n".getBytes("UTF-8")),
      ("http://a.test/page.html", "Sitemap: http://a.test/fake.xml".getBytes("UTF-8"))
    ).toDF("url", "html")
    val got = graft.operators.RobotsLoader.sitemapUrls(pages)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === Set(
      "a.test" -> "http://a.test/s1.xml",
      "a.test" -> "http://a.test/s2.xml"))
  }
}
