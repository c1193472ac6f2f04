package graft.core

import java.sql.Timestamp

/** Typed data model of the crawl engine (SURVEY.md §7.1#1).
  *
  * `PageInput` is exactly the driver-specified input shape
  * (BASELINE.json input_hint): an Iceberg-style table of
  * Common-Crawl-like pages. Everything else is engine state persisted
  * as snapshot tables (see graft.state.SnapshotTable).
  */
object Model {

  /** One row of the input pages table: (url, warc_ts, html, text, lang). */
  final case class PageInput(
      url: String,
      warc_ts: Timestamp,
      html: Array[Byte],
      text: String,
      lang: String)

  /** Frontier states. A URL enters `Pending`, leaves as `Fetched`
    * (scheduled + extracted), `Failed` (no page bytes available — the
    * 404 analog, terminal), or `Deferred` (transient refusal — the
    * reference's requeue-self path, baseconnector.py:158-181 — retried
    * next wave with bounded attempts).
    */
  object FrontierState {
    val Pending = "pending"
    val Fetched = "fetched"
    val Failed = "failed"
    val Deferred = "deferred"
  }

  /** One frontier row. `urlHash` = xxhash64(canonical url) is the join
    * identity everywhere — joins never touch raw URL strings
    * (SURVEY.md §7.4#6). `score` is the scheduling key: lower is
    * served first, mirroring the reference's min-heap (reference:
    * crawler/utils/priorityqueue.py:36; priority semantics
    * crawler/utils/taskmanager.py:157-167), with the rebuild's fixed
    * total order (score asc, urlHash asc) replacing the reference's
    * nondeterministic heap ties (SURVEY.md §7.4#2).
    */
  final case class FrontierEntry(
      urlHash: Long,
      url: String,
      host: String,
      depth: Int,
      priority: Int,
      score: Long,
      discoveredWave: Int,
      /** urlHash of the page this URL was first extracted FROM (0 for
        * seeds) — the parent pointer that makes the frontier a forest,
        * i.e. the wave-model form of the reference's hierarchical
        * session-info path tuple (sessioninfomanager.py:28-44). The
        * re-crawl subtree gate walks it. */
      parentHash: Long = 0L)

  /** Scheduling score: priority dominates, then depth; urlHash breaks
    * ties at sort time. Packed so a single long column sorts correctly
    * and cheaply at 10^10 rows.
    */
  def score(priority: Int, depth: Int): Long =
    priority.toLong * 1000000L + depth.toLong

  /** Column form of [[score]] — the single definition the wave loop's
    * expand projection uses (no duplicated literal formula to drift).
    */
  def scoreCol(priority: org.apache.spark.sql.Column,
               depth: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    priority.cast("long") * 1000000L + depth.cast("long")

  /** URL-seen set row: url identity + content hash (enables the
    * reference's content-hash "unchanged ⇒ skip" incremental semantics,
    * crawler/utils/sessioninfomanager.py:56-86).
    */
  final case class SeenEntry(urlHash: Long, contentHash: String, wave: Int)

  /** Per-host politeness policy (crawl budget per wave + delay). */
  final case class HostPolicy(host: String, crawlDelayMs: Long, maxPerWave: Int)

  /** One robots.txt rule; `allow=false` is a Disallow line. */
  final case class RobotsRule(host: String, allow: Boolean, pathPrefix: String)

  /** Extracted page emitted by a wave. */
  final case class PageOut(
      urlHash: Long,
      url: String,
      wave: Int,
      title: String,
      text: String,
      contentHash: String,
      htmlBytes: Long,
      nOutlinks: Int)

  /** Crawl-order log row — the ordering-parity contract
    * (wave asc, score asc, urlHash asc).
    */
  final case class CrawlOrderEntry(wave: Int, score: Long, urlHash: Long, url: String)

  /** Per-wave metrics, mirroring the reference's CrawlerMetrics
    * (articles_crawled / articles_added / content_fetched,
    * crawler/model.py:178-187) plus frontier accounting. `failed`
    * counts terminal misses only; transient will-retry rows are
    * `deferred` (scheduled = fetched + failed + deferred). A wave whose
    * staged counts were lost across a crash/resume is MARKED with -1
    * counts rather than fabricated zeros. `elapsedMs` is the wall time
    * from the wave's start through its joined commit tail (the
    * compactions and the vacuum, on compaction waves), as the run that
    * wrote the record measured it: a resumed wave counts only its
    * resumed part. It is a timing, outside every parity comparison.
    */
  final case class WaveMetrics(
      wave: Int,
      scheduled: Long,
      fetched: Long,
      failed: Long,
      deferred: Long,
      contentBytes: Long,
      newUrls: Long,
      frontierPending: Long,
      elapsedMs: Long)

  /** Engine configuration. All values participate in the deterministic
    * replay contract.
    */
  final case class CrawlConfig(
      maxDepth: Int = 1, // reference default max_recursion = 1 (crawler.cfg:197-198)
      defaultMaxPerWave: Int = 100,
      maxWaves: Int = 16,
      /** no longer read: the seen set is the exact anti-join alone
        * ([[graft.operators.SeenSet]]), with no Bloom sketch to gate.
        * Kept because the benchmark harness sets it. */
      bloomMinFrontier: Long = 20000000L,
      /** no longer read, like `bloomMinFrontier`. Kept because the
        * benchmark harness sets it. */
      bloomCapacity: Long = 10000000L,
      /** no longer read: the per-host pop's skew control is a map-side
        * partial top-k ([[graft.operators.Politeness.popPerHost]]), not
        * salt slots. Kept because `graft.Bench` and the benchmark harness
        * still set it. */
      saltTarget: Long = 100000L,
      userAgent: String = "graft",
      /** total tries per URL for a Deferred (transient) refusal —
        * mirrors the reference's 3-attempt fetch retry
        * (baseconnector.py:1176-1181) lifted to wave granularity via
        * its requeue-self path (baseconnector.py:158-181). `Failed`
        * (page absent from the table) is terminal regardless. */
      maxFetchAttempts: Int = 3,
      /** waves a deferred row waits before re-entering the pending set */
      retryBackoffWaves: Int = 1,
      /** re-crawl frequency gate (reference taskmanager.py:338-361,
        * default frequency 86400 s at model.py:344) in wave units: a
        * fetched URL becomes eligible again `recrawlEveryWaves` waves
        * after its last fetch; 0 disables re-crawling (one-shot). */
      recrawlEveryWaves: Int = 0,
      /** re-crawl SUBTREE gate (the reference's hierarchical
        * session-info skip: an unchanged parent stops the descent,
        * htmlconnector.py:60-61, sessioninfomanager.py:56-70): a
        * recrawl-due URL with a parent re-enters the pending set only
        * after its parent's latest probe found CHANGED content since
        * the URL's own last fetch. Roots (seeds) always re-enter on
        * schedule; false re-crawls every due URL unconditionally. */
      recrawlSubtreeGate: Boolean = true,
      /** opt-in link-mass priority feedback (OFF by default — the
        * reference schedules purely by priority+depth, and crawl-order
        * parity is the north rule): when on, a newly discovered URL's
        * score is lowered (score asc pops first) by
        * floor(log2(in-wave inlink count)) — pages many fetched pages
        * point at crawl earlier, the degree-based first wave of
        * PageRank-style frontier ordering ([[graft.operators
        * .LinkGraph.pageRank]] is the full off-line variant). The
        * count piggybacks on the expansion dedup aggregate — zero
        * extra shuffles — and the boost (< 64) can reorder across
        * depth but never across priority bands (10^6 apart). */
      inlinkBoost: Boolean = false,
      /** fetch-join gate: the popped side broadcasts only below this
        * row count; above it, the join co-partitions on urlHash
        * (against the bucketed fetch source when `fetchBuckets` > 0)
        * so page bytes are never forced through a driver broadcast. */
      broadcastPopRows: Long = 1000000L,
      /** > 0: materialize the fetch source ONCE as a table bucketed by
        * urlHash (latest capture per url); every wave's fetch join then
        * reuses the bucketing — no shuffle of the html column, ever.
        * 0 keeps the plain scan (fine while pops stay broadcastable). */
      fetchBuckets: Int = 0,
      /** where the bucketed fetch table lives; None = under stateRoot.
        * Point several crawls of one immutable corpus at a shared dir
        * to amortize the ingest across them (the bench does). */
      fetchBucketDir: Option[String] = None,
      /** verify (row count) that a reused bucketed ingest still matches
        * the current pagesInput — one count job per crawl, cheap next
        * to a silent stale-snapshot join. Schema is always checked. */
      fetchIngestVerifyCount: Boolean = true,
      /** declare the input table one-capture-per-url (a deduplicated
        * snapshot rather than a multi-capture archive): skips the
        * latest-capture dedup in the plain fetch join. Multi-capture
        * inputs leave this false (default) or use `fetchBuckets`,
        * whose ingest dedups once up front. */
      assumeUniqueUrls: Boolean = false,
      /** > 0: every N waves, bound the frontier/processed/metrics
        * logs' live segment count (see `compactMaxSegments`) so a
        * 10^4-wave crawl never reads 10^4 parquet directories per
        * scan; 0 disables. Default ON — the check is a manifest read
        * when under the bound, so short crawls pay nothing. */
      compactEveryWaves: Int = 8,
      /** segment-count bound for the compaction check (>= 2): LSM-style
        * tiered merge of the SMALLEST segments once the count exceeds
        * the bound (see `SnapshotTable.compactTiered`). A large bound
        * merges rarely and mostly rewrites recent small deltas. At 2,
        * each check merges a log back to two segments: the newest delta
        * and everything before it, a rewrite of the whole history. */
      compactMaxSegments: Int = 64,
      /** drop merged-away segment directories right after a compaction
        * (only non-live segments are ever deleted, so resume/crash
        * safety is unaffected — the manifest-pointed segments always
        * survive). Off, a 10^4-wave crawl's state dir grows without
        * bound as every compaction leaves its inputs behind; on, disk
        * stays O(live table). Costs the time-travel/rollback window. */
      vacuumOnCompact: Boolean = true,
      /** seen-side broadcast gate for the URL-seen anti-joins (pending
        * resolution and frontier expansion): when the previous wave
        * record's running key total proves the seen keys number at most
        * this, the anti-join broadcasts the 8-byte keys and the
        * candidate side (17M exploded links in a busy wave) never
        * shuffles. Above the gate — the 10^10 regime — the shuffled
        * anti-join runs. 10M keys ≈ 80 MB relation. */
      broadcastSeenKeys: Long = 10000000L,
      /** politeness wave clock: with a per-host crawl delay d (robots
        * Crawl-delay or HostPolicy), at most waveDurationMs/d URLs of
        * that host are schedulable per wave; 0 disables the delay gate
        * (budgets alone apply). */
      waveDurationMs: Long = 0L)
}
