package graft.crawl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BoilerplateExtractor, Hashing, HtmlDom, LinkExtractor, UrlNormalizer}
import graft.core.Model._
import graft.operators.{Politeness, SeenSet}
import graft.state.{ParquetDir, SnapshotTable}

/** The crawl engine: an iterative-batch frontier loop over snapshot
  * tables (the Spark-native re-expression of the reference's
  * taskmaster/crawlnode/taskfeeder trio — SURVEY.md §3 E1-E3).
  *
  * State layout — everything is an APPEND-ONLY log; per-wave commit
  * I/O is O(delta), never O(frontier):
  *
  *  - `frontier` = the DISCOVERY log: wave-0 seeds plus one segment of
  *    newly-discovered URLs per wave, each adopted by atomic directory
  *    rename (zero jobs, zero rewrite). Keys never leave the log (the
  *    URL-seen dedup needs every key ever discovered).
  *  - `processed` = the per-wave fact log: every popped row with its
  *    fetch state, extracted text, content hash, attempt number and
  *    outlinks. pages / crawl-order / seen are PROJECTIONS of it.
  *  - `latest` = the incremental latest-try ROLLUP of `processed`
  *    (slim columns, materialized at compaction cadence, merged
  *    tiered): retry/recrawl scheduling and state resolution read
  *    rollup ∪ newer-than-rollup rows (wave-predicate pushdown), so
  *    per-wave planning input is O(distinct keys + recent deltas),
  *    never O(history) — and no per-wave rollup write exists.
  *  - a row's EFFECTIVE state is resolved at read: pending = discovered
  *    with no processed row; fetched/failed/deferred = its latest
  *    processed row. The per-wave pending scan is read-only — an
  *    anti-join of discoveries against processed KEYS (8-byte column),
  *    Bloom-prefiltered so rows the sketch proves unprocessed skip the
  *    shuffle. (Round 1 rewrote the whole frontier table every wave —
  *    O(10^10) write amplification at the design point; this layout
  *    replaces that with one rename + one keys-only read-side join,
  *    mirroring the reference's O(delta) per-put bsddb persistence,
  *    crawler/utils/priorityqueue.py:23-36.)
  *
  * Per wave:
  *  1. plan: pending = fresh ∪ retry-eligible deferred ∪ recrawl-due
  *     (frequency gate, taskmanager.py:338-361) → robots dimension join
  *     → per-host budgeted pop (one window over host, one exchange —
  *     exact per-host top-k, with a map-side partial top-k as the skew
  *     control); the popped set is STAGED to parquet so the ranking
  *     window runs once, not once per consumer;
  *  2. fetch+extract: popped ⋈ pages input on urlHash via the
  *     size-gated [[FetchSource]] (broadcast below threshold, bucketed
  *     co-partitioned join above — html is never force-broadcast);
  *  3. expand: links → canonicalize → in-batch dedup → bloom-prefiltered
  *     anti-join against the discovery log (URL-seen, SURVEY.md §2.4);
  *  4. commit: adopt processed + new_frontier segments (atomic renames)
  *     → advance both sketches → append metrics (all counts piggyback
  *     on the staging writes via Observations — no extra count jobs).
  *     A kill at any point resumes without re-extracting anything.
  *
  * Every staged artifact and state segment is a [[ParquetDir]]: it
  * carries its schema, so reading it back launches no job.
  *
  * Determinism: every dataset in the loop is a pure function of
  * (input table, seeds, config); ordering contracts are total
  * (score asc, urlHash asc), so crawl order and final state are
  * identical across executor counts, partition counts and resumes.
  */
final class WaveRunner(
    spark: SparkSession,
    pagesInput: DataFrame,
    stateRoot: String,
    config: CrawlConfig = CrawlConfig(),
    hostPolicies: Map[String, HostPolicy] = Map.empty,
    robotsRules: Seq[RobotsRule] = Nil,
    robotsDim: Option[DataFrame] = None) {

  import spark.implicits._

  val frontierT = SnapshotTable(spark, stateRoot, "frontier")
  val processedT = SnapshotTable(spark, stateRoot, "processed")
  val metricsT = SnapshotTable(spark, stateRoot, "metrics")

  /** Incremental latest-try ROLLUP of the processed log (round-3
    * verdict #3). The rollup MATERIALIZES only at compaction cadence —
    * zero per-wave jobs (a measured 0.3-0.8 s/wave serial write in the
    * first cut): between materializations, reads compose the rollup
    * with the processed rows NEWER than its `committedWave` (a
    * `wave > mergedWave` predicate that pushes into the parquet scan,
    * so row-group stats skip the old segments). Each compaction cycle
    * appends ONE latest-per-key segment for the accumulated window and
    * tiered-merges with [[latestTry]], so total rollup write I/O stays
    * O(history + keys·log) like the log itself, and per-wave planning
    * input is O(distinct keys + recent deltas) — never O(history)
    * (10^10 rows at 10^4 waves × 10^6 pops). The reference analog is
    * the Postgres-indexed as-of TaskLog restore
    * (crawler/utils/taskmanager.py:102-116); this is its table-side
    * equivalent.
    */
  val latestT = SnapshotTable(spark, stateRoot, "latest")

  /** Rows actually put through fetch+extract this run — the probe the
    * resume test uses to assert zero re-fetches.
    */
  val extractCounter = spark.sparkContext.longAccumulator("graft.extracted")

  /** Test hook: crash-inject between the pages flip and the remaining
    * flips to exercise mid-wave resume.
    */
  private[graft] var failAfterPagesCommit: Boolean = false

  /** Test/integration hook for TRANSIENT fetch refusals (the 429 /
    * rate-limited analog — reference requeue-self,
    * baseconnector.py:158-181): popped rows matching this predicate
    * are marked Deferred instead of fetched and re-enter the pending
    * set after `retryBackoffWaves`, up to `maxFetchAttempts` tries.
    * Production transports (LiveFetch) plug their refusals in here.
    */
  private[graft] var deferInjector: Option[Column] = None

  private val timing = sys.env.contains("GRAFT_TIMING")

  /** Wall seconds per phase, summed across waves (label with the
    * per-wave "wN " prefix stripped, e.g. "pop+stage",
    * "fetch+extract+stage", "expand+stage-new"). Always accumulated —
    * the cost is one nanoTime pair around phases that are each whole
    * Spark jobs — so the bench can report PER-PHASE scaling (the
    * evidence that each phase parallelizes; a shared-socket wall-clock
    * ratio alone cannot separate engine serialism from memory-bus
    * saturation). Note "stage" is the parent of the pop/fetch/expand
    * phases — consumers must not sum it with its children.
    */
  private[graft] val phaseSeconds =
    scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val sec = (System.nanoTime() - t0) / 1e9
    val phase = label.indexOf(' ') match {
      case -1 => label
      case i  => label.substring(i + 1)
    }
    phaseSeconds.synchronized { phaseSeconds(phase) += sec }
    if (timing) println(f"[graft-timing] $label: $sec%.2fs")
    r
  }

  // the Column APIs register kernels into the ACTIVE session only; a
  // runner may run on another one (e.g. spark.newSession()), so its
  // own session gets the table here (idempotent)
  graft.plans.Kernels.register(spark)

  private val fetchSource = new FetchSource(spark, pagesInput, stateRoot, config)

  /** Robots dimension (host, rules, robotsDelayMs): explicit DataFrame
    * if given, else lifted from the driver-side rule list. Always
    * consumed as a broadcast join — never a closure-captured map.
    */
  private val robots: Option[DataFrame] =
    robotsDim.orElse(Politeness.rulesDim(spark, robotsRules))

  /** Sketch over the DISCOVERY log keys (D1 in-queue dedup). */
  private val bloom = new FrontierBloom(stateRoot, config,
    () => frontierT.read().map(_.select("urlHash")))

  /** Sketch over the PROCESSED keys (pending-state resolution). */
  private val popBloom = new FrontierBloom(stateRoot, config,
    () => processedT.read().map(_.select("urlHash")), subdir = "popbloom")

  // host-policy lookups stay inside whole-stage codegen: a literal when
  // no policies exist (the common case — the previous Scala UDF broke
  // codegen for every pending row anyway), a small map expression
  // otherwise (policies are per-host config, bounded by ops, not data)
  private def budgetFor(host: Column): Column =
    if (hostPolicies.isEmpty) lit(config.defaultMaxPerWave)
    else coalesce(
      element_at(
        typedLit(hostPolicies.map { case (h, p) => h -> p.maxPerWave }), host),
      lit(config.defaultMaxPerWave))

  private def policyDelayFor(host: Column): Column =
    if (hostPolicies.isEmpty) lit(config.defaultCrawlDelayMs)
    else coalesce(
      element_at(
        typedLit(hostPolicies.map { case (h, p) => h -> p.crawlDelayMs }), host),
      lit(config.defaultCrawlDelayMs))

  /** Initialize the frontier from a seed list (url, priority). Two
    * seeds canonicalizing to the same URL keep one deterministic
    * representative (min priority — mirroring the min()-based
    * first-discovery rule used for links). Commits frontier wave 0.
    * No-op if the frontier already exists (resume).
    */
  def initSeeds(seeds: Seq[(String, Int)]): Unit = {
    if (frontierT.exists()) return
    val entries = seeds.flatMap { case (url, priority) =>
      UrlNormalizer.canonicalize(url).map { canonical =>
        FrontierEntry(
          urlHash = Hashing.xxhash64(canonical),
          url = canonical,
          host = UrlNormalizer.hostOf(canonical),
          depth = 0,
          priority = priority,
          score = score(priority, 0),
          discoveredWave = 0)
      }
    }
      .groupBy(_.urlHash).values
      .map(_.minBy(e => (e.priority, e.url))).toSeq
      .sortBy(_.urlHash)
    frontierT.commit(entries.toDS().toDF(), wave = 0)
    bloom.advance(0, frontierT.read().get, Some(entries.size.toLong))
  }

  /** Run waves until the frontier drains or maxWaves is hit; returns
    * the number of the last completed wave.
    */
  def run(): Int = {
    var wave = frontierT.committedWave() + 1
    var continue = true
    while (continue && wave <= config.maxWaves) {
      continue = runWave(wave)
      if (continue) wave += 1
    }
    frontierT.committedWave()
  }

  /** Execute (or resume) wave `w`. Returns false when there was nothing
    * left to schedule now or in any future wave (crawl drained).
    */
  def runWave(w: Int): Boolean = {
    require(frontierT.exists(), "initSeeds must run before waves")
    val staging = Paths.get(stateRoot, "staging", s"wave_$w")
    if (frontierT.committedWave() >= w) {
      // crash landed after the frontier flip: catch the sketches and
      // metrics up (all idempotent; sketches are advisory only — a
      // still-missing one just means exact-anti-join waves)
      if (Files.exists(staging.resolve("_IDLE"))) {
        bloom.advance(w, spark.emptyDataFrame, Some(0L))
        popBloom.advance(w, spark.emptyDataFrame, Some(0L))
      } else {
        val c = readCounts(staging)
        if (frontierT.committedWave() == w)
          frontierT.readWaveSegment(w).foreach(seg =>
            bloom.advance(w, seg.select("urlHash"), c.map(_.newUrls)))
        if (processedT.committedWave() == w)
          processedT.readWaveSegment(w).foreach(seg =>
            popBloom.advance(w, seg.select("urlHash"), c.map(_.scheduled)))
      }
      commitMetrics(w, staging.toString, 0L)
      return true
    }

    val t0 = System.nanoTime()
    val stagedMarker = staging.resolve("_STAGED")
    val idleMarker = staging.resolve("_IDLE")

    if (!Files.exists(stagedMarker) && !Files.exists(idleMarker)) {
      timed(s"w$w stage")(stageWave(w, staging.toString)) match {
        case StageResult.Drained => return false
        case StageResult.Idle => Files.write(idleMarker, Array.emptyByteArray)
        case StageResult.Staged => Files.write(stagedMarker, Array.emptyByteArray)
      }
    }

    if (Files.exists(idleMarker)) {
      // nothing schedulable THIS wave (all remaining work behind a
      // retry backoff or the re-crawl frequency gate): manifest-only
      // wave advance, zero data jobs
      if (processedT.committedWave() < w) processedT.markCommit(w)
      if (frontierT.committedWave() < w) frontierT.markCommit(w)
      bloom.advance(w, spark.emptyDataFrame, Some(0L))
      popBloom.advance(w, spark.emptyDataFrame, Some(0L))
      commitMetrics(w, staging.toString, (System.nanoTime() - t0) / 1000000L)
      return true
    }

    // ---- commit phase: idempotent per table, fixed order ----
    // staged artifacts are ADOPTED by atomic directory rename — zero
    // jobs, zero data copy, O(delta) total commit I/O.
    if (processedT.committedWave() < w)
      timed(s"w$w adopt-processed")(
        processedT.adoptCommit(s"$staging/processed", w))
    if (failAfterPagesCommit)
      throw new IllegalStateException("simulated kill between table flips")
    if (frontierT.committedWave() < w)
      timed(s"w$w adopt-frontier")(
        frontierT.adoptCommit(s"$staging/new_frontier", w))

    val counts = readCounts(staging)
    timed(s"w$w sketches") {
      frontierT.readWaveSegment(w).foreach(seg =>
        bloom.advance(w, seg.select("urlHash"), counts.map(_.newUrls)))
      processedT.readWaveSegment(w).foreach(seg =>
        popBloom.advance(w, seg.select("urlHash"), counts.map(_.scheduled)))
    }
    commitMetrics(w, staging.toString, (System.nanoTime() - t0) / 1000000L)
    if (config.compactEveryWaves > 0 && w % config.compactEveryWaves == 0)
      timed(s"w$w compact") {
        // materialize the latest-try rollup for the window since the
        // last materialization (ONE latest-per-key segment per cycle,
        // idempotent via the committed-wave marker), then bound its
        // segment count with the merging tiered compaction. Runs
        // BEFORE the processed log's own compaction so the recent-wave
        // scan still row-group-prunes cleanly.
        if (latestT.committedWave() < w)
          processedT.read().foreach { p =>
            val delta = latestTry(processedSlim(p).filter(
              col("wave") > latestT.committedWave()))
            if (latestT.exists()) latestT.appendCommit(delta, w)
            else latestT.commit(delta, w)
          }
        if (config.compactMaxSegments > 1) {
          frontierT.compactTiered(config.compactMaxSegments)
          processedT.compactTiered(config.compactMaxSegments)
          metricsT.compactTiered(config.compactMaxSegments)
          // rollup: merged segments collapse to ONE row per key
          latestT.compactTiered(config.compactMaxSegments, latestTry)
        } else {
          frontierT.compact()
          processedT.compact()
          metricsT.compact()
          latestT.compact(latestTry)
        }
        if (config.vacuumOnCompact) {
          frontierT.vacuum()
          processedT.vacuum()
          metricsT.vacuum()
          latestT.vacuum()
        }
      }
    true
  }

  // ---- pending-state resolution (read-side; no frontier rewrite) ----

  private def processedSlim(p: DataFrame): DataFrame =
    p.select("urlHash", "url", "host", "depth", "priority", "score",
      "wave", "attempts", "state", "contentHash", "changed")

  /** Latest try per urlHash (max by (wave, attempts) — total within a
    * key because attempts increase per wave for the same key). Also
    * the rollup table's merge-on-compact function.
    */
  private def latestTry(slim: DataFrame): DataFrame =
    slim.groupBy("urlHash")
      .agg(max_by(
        struct(col("url"), col("host"), col("depth"), col("priority"),
          col("score"), col("wave"), col("attempts"), col("state"),
          col("contentHash"), col("changed")),
        struct(col("wave"), col("attempts"))).as("r"))
      .select("urlHash", "r.*")

  /** Rollup ∪ the processed rows NEWER than the rollup's merged wave —
    * the exact input set for any latest-key resolution. The wave
    * filter pushes into the parquet scan (row-group pruning skips the
    * already-rolled-up history); with no rollup yet, mergedWave = -1
    * and this degrades to the full slim log (short crawls never pay a
    * rollup job at all).
    */
  private def rollupAndRecent(p: DataFrame): DataFrame = {
    val recent = processedSlim(p).filter(col("wave") > latestT.committedWave())
    latestT.read() match {
      case Some(rollup) => rollup.unionByName(recent)
      case None => recent
    }
  }

  /** Latest try per key — O(distinct keys + recent deltas) input rows
    * once the rollup has materialized, never O(history).
    */
  private def latestResolved(p: DataFrame): DataFrame =
    latestTry(rollupAndRecent(p))

  /** Processed KEYS for the fresh-vs-seen anti-join: same key set as
    * the full log in far fewer rows (≤ one per key per rollup segment
    * + one per recent try).
    */
  private def processedKeys(p: DataFrame): DataFrame =
    rollupAndRecent(p).select("urlHash")

  private val pendingCols =
    Seq("urlHash", "url", "host", "depth", "priority", "score", "attempts",
      "origin", "priorHash")

  /** The schedulable set for wave `w`:
    *  - fresh: discovered, never popped (anti-join against processed
    *    keys, sketch-prefiltered);
    *  - retry: latest try Deferred, attempts < maxFetchAttempts, and
    *    the backoff has elapsed (reference requeue-self);
    *  - recrawl: latest try Fetched and `recrawlEveryWaves` elapsed
    *    (reference crawl-frequency gate, taskmanager.py:338-361) —
    *    subtree-gated by parent change state (see [[recrawlDue]]).
    * `priorHash` rides along for recrawl pops (the stored content hash
    * the probe compares against — null for fresh/retry rows).
    */
  private def pendingSet(w: Int): DataFrame = {
    val discoveries = frontierT.read().get
      .select("urlHash", "url", "host", "depth", "priority", "score")
    processedT.read() match {
      case None =>
        discoveries.withColumn("attempts", lit(0))
          .withColumn("origin", lit("fresh"))
          .withColumn("priorHash", lit(null).cast("string"))
      case Some(p) =>
        val fresh = SeenSet.notSeen(discoveries,
            Some(processedKeys(p)), popBloom.get(w - 1),
            popBloom.count(w - 1), config.broadcastSeenKeys)
          .withColumn("attempts", lit(0))
          .withColumn("origin", lit("fresh"))
          .withColumn("priorHash", lit(null).cast("string"))
        // ONE latest-try resolve shared by the retry and recrawl
        // branches (the identical aggregate subtrees reuse one shuffle
        // via exchange reuse) — and its input is the rollup, not the
        // full processed history
        lazy val latest = latestResolved(p)
        val parts = Seq.newBuilder[DataFrame]
        parts += fresh
        if (config.maxFetchAttempts > 1) {
          parts += latest
            .filter(col("state") === FrontierState.Deferred &&
              col("attempts") < config.maxFetchAttempts &&
              col("wave") + config.retryBackoffWaves <= w)
            .withColumn("origin", lit("retry"))
            .withColumn("priorHash", lit(null).cast("string"))
            .select(pendingCols.map(col): _*)
        }
        if (config.recrawlEveryWaves > 0)
          parts += recrawlDue(w, latest).select(pendingCols.map(col): _*)
        parts.result().reduce(_.unionByName(_))
    }
  }

  /** Recrawl-eligible rows for wave `w` — the wave-model form of the
    * reference's hierarchical session-info check
    * (sessioninfomanager.py:56-70 truth table, operator twin
    * [[graft.operators.SessionInfo.check]]): a URL whose frequency gate
    * elapsed re-enters the pending set, UNLESS the subtree gate is on
    * and its parent's latest probe found the parent UNCHANGED — the
    * reference connectors stop descending under an unchanged parent
    * (htmlconnector.py:60-61, amazonconnector.py:163-165), which at
    * wave granularity means: children re-probe only after a parent
    * probe newer than their own last fetch reported a change. Seeds
    * (parentHash 0) re-probe on schedule, so change flows down the
    * forest one level per recrawl wave and dies at the first unchanged
    * page — an unchanged 3-level site costs ONE probe per cycle, not a
    * full re-extraction.
    */
  private def recrawlDue(w: Int, latest: DataFrame): DataFrame = {
    val due = latest
      .filter(col("state") === FrontierState.Fetched &&
        col("wave") + config.recrawlEveryWaves <= w)
      .withColumn("attempts", lit(0))
      .withColumn("origin", lit("recrawl"))
      .withColumn("priorHash", col("contentHash"))
    if (!config.recrawlSubtreeGate) return due
    val parentOf = frontierT.read().get.select(col("urlHash"), col("parentHash"))
    val parentProbe = latest.select(col("urlHash").as("parentHash"),
      col("wave").as("p_wave"), col("state").as("p_state"),
      col("changed").as("p_changed"))
    due
      .join(parentOf, Seq("urlHash"), "left")
      .join(parentProbe, Seq("parentHash"), "left")
      .filter(
        // roots (and pre-parentHash state) always re-enter on schedule
        col("parentHash").isNull || col("parentHash") === 0L ||
          // parent never probed (shouldn't happen for a discovered
          // child) — fail open to the ungated frequency behavior
          col("p_state").isNull ||
          // parent probed SINCE this row's last fetch and found changed
          (col("p_state") === FrontierState.Fetched &&
            coalesce(col("p_changed"), lit(true)) &&
            col("p_wave") > col("wave")))
  }

  /** Effective state per discovered url (pending until its latest
    * processed row says otherwise) — the read-side view of what used
    * to be a mutable frontier state column.
    */
  def frontierStates(): DataFrame = {
    val discoveries = frontierT.read().get
    processedT.read() match {
      case None => discoveries.withColumn("state", lit(FrontierState.Pending))
      case Some(p) =>
        discoveries
          .join(latestResolved(p).select(col("urlHash"),
            col("state").as("p_state")), Seq("urlHash"), "left")
          .withColumn("state",
            coalesce(col("p_state"), lit(FrontierState.Pending)))
          .drop("p_state")
    }
  }

  private sealed trait StageResult
  private object StageResult {
    case object Staged extends StageResult
    case object Idle extends StageResult
    case object Drained extends StageResult
  }

  /** Anything left for a future wave when nothing popped now? (Open
    * deferrals behind their backoff, or recrawl-eligible history.)
    * Only evaluated at end-of-crawl, so the extra jobs are rare.
    */
  private def hasFutureWork: Boolean =
    processedT.read().exists { p =>
      val openDeferred = config.maxFetchAttempts > 1 &&
        !latestResolved(p)
          .filter(col("state") === FrontierState.Deferred &&
            col("attempts") < config.maxFetchAttempts)
          .isEmpty
      openDeferred || (config.recrawlEveryWaves > 0 &&
        !p.filter(col("state") === FrontierState.Fetched).isEmpty)
    }

  /** Compute a wave's artifacts into the staging dir. This is the only
    * phase that touches html; it runs at most once per wave across
    * kills/resumes.
    */
  private def stageWave(w: Int, staging: String): StageResult = {
    val pending = pendingSet(w)
      .filter(col("depth") <= config.maxDepth)
    val allowed = Politeness.applyRobots(pending, robots)

    // budget short-circuit: |pending| ≤ |discoveries ever| = the
    // discovery sketch chain's running count (zero jobs — the three
    // pending branches are key-disjoint subsets of the discovery log).
    // When that bound fits inside the uniform per-host budget and no
    // per-host policy or delay clock can lower it, every host's budget
    // provably doesn't bind — the pop IS the allowed set, and the
    // ranking window and its exchange are skipped (an optimizer
    // short-circuit, not an approximation: the selection is
    // identical, and downstream order is fixed by the total-order
    // contract, never by staged row order).
    val unbudgeted = hostPolicies.isEmpty && config.waveDurationMs <= 0L &&
      bloom.count(w - 1).exists(_ <= config.defaultMaxPerWave)

    // the largest budget any host can get (a delay cap only lowers
    // it): the literal bound that lets the pop's top-k run map-side
    val maxBudget =
      (config.defaultMaxPerWave +: hostPolicies.values.map(_.maxPerWave).toSeq).max

    def rankedPop: DataFrame = Politeness.popPerHost(
      allowed.withColumn("maxPerWave",
        Politeness.delayCappedBudget(
          budgetFor(col("host")),
          greatest(col("robotsDelayMs"), policyDelayFor(col("host"))),
          config.waveDurationMs)),
      maxBudget)

    // ---- pop, STAGED: the ranking window runs exactly once; every
    // consumer (defer split, fetch join, miss anti-join, metrics)
    // reads the staged parquet instead of recomputing the plan ----
    val popObs = Observation(s"graft-pop-$w")
    timed(s"w$w pop+stage")(ParquetDir.write(
      (if (unbudgeted) allowed else rankedPop)
        .select(pendingCols.map(col): _*)
        .observe(popObs,
          count(lit(1)).as("n"),
          count(when(col("origin") === "retry", 1)).as("retries"),
          count(when(col("origin") === "recrawl", 1)).as("recrawls")),
        s"$staging/popped"))
    val poppedN = popObs.get("n").asInstanceOf[Long]
    val retryN = popObs.get("retries").asInstanceOf[Long]
    val recrawlN = popObs.get("recrawls").asInstanceOf[Long]

    if (poppedN == 0L) {
      writeCounts(staging, StageCounts(0, 0, 0, 0, 0, 0, 0, 0))
      return if (hasFutureWork) StageResult.Idle else StageResult.Drained
    }

    val popped = ParquetDir.read(spark, s"$staging/popped").drop("origin")
    val (toFetch, deferred) = deferInjector match {
      case None => (popped, None)
      case Some(pred) =>
        // null-safe split: the two branches must PARTITION the popped
        // set (a predicate evaluating to NULL must not drop the row
        // from both sides)
        val deferPred = coalesce(pred, lit(false))
        (popped.filter(!deferPred), Some(popped.filter(deferPred)))
    }

    // ---- fetch + extract: ONE pass over html, ONE staged artifact.
    // `changed` = content hash differs from the row's stored priorHash
    // (always true for first fetches) — the update/no-update signal of
    // the reference's updateSessionInfo (sessioninfomanager.py:72-90)
    // computed inline, no extra join ----
    val counter = extractCounter
    val strict = config.strictExtract
    val extracted = fetchSource.fetched(toFetch, poppedN)
      .select(col("urlHash"), col("url"), col("host"), col("score"),
        col("depth"), col("priority"), col("attempts"), col("priorHash"),
        col("html"))
      .as[(Long, String, String, Long, Int, Int, Int, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (urlHash, url, host, scoreV, depth, priority,
            attempts, priorHash, html) =>
          counter.add(1)
          val s = new String(html, UTF_8)
          // FUSED default: ONE parse of the cleaned page shared by
          // title + outlinks + text (BoilerplateExtractor.extractAll).
          // strictExtract restores the two-parse raw-soup semantics.
          val (title, text, rawLinks) =
            if (strict) {
              val rawDoc = HtmlDom.parse(s)
              (BoilerplateExtractor.titleFromDoc(rawDoc, s).getOrElse("No Title"),
                BoilerplateExtractor.extractText(s),
                LinkExtractor.linkUrls(rawDoc, url))
            } else {
              val e = BoilerplateExtractor.extractAll(s, url)
              (e.title.getOrElse("No Title"), e.text, e.links)
            }
          val links = rawLinks.filter(_ != url).distinct // self-link drop (F8)
          val contentHash = Hashing.contentHash(Seq(text, title)) // O6
          (urlHash, url, host, scoreV, FrontierState.Fetched, title, text,
            contentHash, html.length.toLong, links.toArray, depth, priority,
            attempts + 1, priorHash == null || priorHash != contentHash)
        }
      }
      .toDF("urlHash", "url", "host", "score", "state", "title", "text",
        "contentHash", "htmlBytes", "links", "depth", "priority", "attempts",
        "changed")

    def emptyPage(rows: DataFrame, state: String): DataFrame = rows
      .select(col("urlHash"), col("url"), col("host"), col("score"),
        lit(state).as("state"), lit("").as("title"),
        lit("").as("text"), lit("").as("contentHash"), lit(0L).as("htmlBytes"),
        typedLit(Array.empty[String]).as("links"), col("depth"), col("priority"),
        (col("attempts") + 1).as("attempts"), lit(false).as("changed"))

    // the fetched rows land first; the 404 analog (popped urls with no
    // page bytes) is then popped MINUS the staged fetched keys — a
    // budget-bounded keys-only anti-join instead of a SECOND scan of
    // the pages table per wave
    val procObs = Observation(s"graft-proc-$w")
    timed(s"w$w fetch+extract+stage")(ParquetDir.write(
      extracted.withColumn("wave", lit(w))
        .withColumn("nOutlinks", size(col("links")))
        .observe(procObs,
          count(lit(1)).as("fetched"),
          coalesce(sum("htmlBytes"), lit(0L)).as("bytes")),
      s"$staging/processed"))
    val fetchedN = procObs.get("fetched").asInstanceOf[Long]
    val bytes = procObs.get("bytes").asInstanceOf[Long]

    // the observed counts prove completeness for free: popped keys are
    // unique, so fetched == popped with no defer split means zero
    // misses — skip the anti-join job entirely (it is near-serial: a
    // staged re-read + tiny-row write that costs the same at 8 and 32
    // cores, pure S-term in a fully-resolvable wave). When misses DO
    // exist, their job runs on a SEPARATE THREAD overlapping the
    // expansion below (both read the immutable fetched artifact; tail
    // rows carry no links, so expansion over fetched-only is already
    // exact) — the tail writes its own directory and its files are
    // folded into the processed artifact after both jobs finish.
    val tailDir = s"$staging/processed_tail"
    val tailFuture: Option[java.util.concurrent.Future[(Long, Long)]] =
      if (deferred.isEmpty && fetchedN == poppedN) None
      else {
        val failedRows =
          if (fetchedN == 0L) emptyPage(toFetch, FrontierState.Failed)
          else emptyPage(
            toFetch.join(ParquetDir.read(spark, s"$staging/processed").select("urlHash"),
              Seq("urlHash"), "left_anti"), FrontierState.Failed)
        val tail = (failedRows +:
          deferred.map(d => emptyPage(d, FrontierState.Deferred)).toSeq)
          .reduce(_.unionByName(_))
        val tailObs = Observation(s"graft-tail-$w")
        val task = new java.util.concurrent.Callable[(Long, Long)] {
          override def call(): (Long, Long) = {
            ParquetDir.write(
              tail.withColumn("wave", lit(w))
                .withColumn("nOutlinks", size(col("links")))
                .observe(tailObs, count(lit(1)).as("n"),
                  count(when(col("state") === FrontierState.Deferred, 1)).as("deferred")),
              tailDir)
            (tailObs.get("n").asInstanceOf[Long],
              tailObs.get("deferred").asInstanceOf[Long])
          }
        }
        val ex = java.util.concurrent.Executors.newSingleThreadExecutor()
        try Some(ex.submit(task)) finally ex.shutdown()
      }

    // ---- frontier expansion (E2) from the staged artifact (resume
    // never re-extracts): explode links, dedup, anti-join ----
    val sp = ParquetDir.read(spark, s"$staging/processed")
    val frontierKeys = frontierT.read().get.select("urlHash")
    val seenCount = bloom.count(w - 1)
    val preBroadcast = seenCount.exists(_ <= config.broadcastSeenKeys)
    val links = sp
      .select(col("urlHash").as("parentHash"), col("depth"), col("priority"),
        explode(col("links")).as("url"))
      .withColumn("urlHash", xxhash64(col("url")))
    // under the broadcast gate the seen filter runs BEFORE the dedup
    // groupBy — exact (all rows of a key drop together, so it commutes
    // with the per-key aggregate) and it keeps the already-discovered
    // mass (most links, in a steady-state wave) out of the exchange
    // entirely. Above the gate the dedup runs first so the shuffled
    // anti-join probes distinct keys, not raw links.
    val preFiltered =
      if (preBroadcast)
        links.join(broadcast(frontierKeys), Seq("urlHash"), "left_anti")
      else links
    val candidates = preFiltered
      // in-batch dedup (D4): deterministic representative per url —
      // min() everywhere (never first(), which is partition-order
      // dependent); lowest depth/priority wins = first-discovery rule,
      // and the min parentHash is the deterministic parent pick when
      // several pages link the same new url in one wave
      .groupBy("urlHash")
      .agg(min(col("url")).as("url"),
        min(col("depth")).as("pdepth"), min(col("priority")).as("priority"),
        min(col("parentHash")).as("parentHash"),
        // in-wave inlink count (exact in both seen-filter regimes: the
        // anti-join drops whole keys, never partial rows) — free here,
        // consumed only under config.inlinkBoost
        count(lit(1)).as("inlinks"))

    val unseen =
      if (preBroadcast) candidates // already filtered before the groupBy
      else SeenSet.notSeen(candidates, Some(frontierKeys),
        bloom.get(w - 1), seenCount, config.broadcastSeenKeys)
    val newEntries = unseen
      .select(
        col("urlHash"), col("url"),
        // generated kernel (plans.UrlKernels): the expand projection stays
        // inside whole-stage codegen — no Scala-UDF encoder round trip
        // in the hottest per-wave stage
        graft.plans.Kernels.host_of(col("url")).as("host"),
        (col("pdepth") + 1).as("depth"),
        col("priority"),
        // optional link-mass feedback: floor(log2(inlinks)) as an exact
        // integer (length(bin(c)) - 1), subtracted so heavily-linked
        // pages pop earlier within their priority band; default off =
        // the reference's pure priority+depth ordering
        (if (config.inlinkBoost)
           scoreCol(col("priority"), col("pdepth") + 1) -
             (length(bin(col("inlinks"))) - 1).cast("long")
         else scoreCol(col("priority"), col("pdepth") + 1)).as("score"),
        lit(w).as("discoveredWave"),
        col("parentHash"))

    val newObs = Observation(s"graft-new-$w")
    timed(s"w$w expand+stage-new")(
      ParquetDir.write(newEntries.observe(newObs, count(lit(1)).as("n")),
        s"$staging/new_frontier"))
    val newUrls = newObs.get("n").asInstanceOf[Long]

    // join the overlapped tail job and fold its part-files into the
    // processed artifact (same-filesystem renames; UUID part names
    // cannot collide). Crash-safe: a kill here re-runs the whole stage
    // (no _STAGED marker yet), and both writes are Overwrite.
    val (scheduled, deferredN) = tailFuture match {
      case None => (poppedN, 0L)
      case Some(f) =>
        val (tailN, defN) = timed(s"w$w stage-misses-join")(f.get())
        val dst = Paths.get(s"$staging/processed")
        val entries = {
          val s = Files.list(Paths.get(tailDir))
          try s.iterator().asScala.toList finally s.close()
        }
        entries.filter(_.getFileName.toString.endsWith(".parquet"))
          .foreach(p => Files.move(p, dst.resolve(p.getFileName),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE))
        entries.filterNot(_.getFileName.toString.endsWith(".parquet"))
          .foreach(p => Files.delete(p))
        Files.delete(Paths.get(tailDir))
        (fetchedN + tailN, defN)
    }

    writeCounts(staging,
      StageCounts(scheduled, fetchedN, scheduled - fetchedN - deferredN,
        deferredN, bytes, newUrls, retryN, recrawlN))
    StageResult.Staged
  }

  // ---- metrics (all inputs piggybacked from staging observations) ----

  final case class StageCounts(scheduled: Long, fetched: Long, failed: Long,
                               deferred: Long, bytes: Long, newUrls: Long,
                               retries: Long, recrawls: Long)

  private def countsPath(staging: String) = Paths.get(staging, "counts.json")

  private def writeCounts(staging: String, c: StageCounts): Unit = {
    val json = s"""{"scheduled":${c.scheduled},"fetched":${c.fetched},""" +
      s""""failed":${c.failed},"deferred":${c.deferred},"bytes":${c.bytes},""" +
      s""""newUrls":${c.newUrls},"retries":${c.retries},"recrawls":${c.recrawls}}"""
    Files.write(countsPath(staging), json.getBytes(UTF_8))
  }

  private def readCounts(staging: java.nio.file.Path): Option[StageCounts] =
    readCounts(staging.toString)

  private def readCounts(staging: String): Option[StageCounts] = {
    val p = countsPath(staging)
    if (!Files.exists(p)) return None
    val json = new String(Files.readAllBytes(p), UTF_8)
    def f(k: String): Long =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong).getOrElse(0L)
    Some(StageCounts(f("scheduled"), f("fetched"), f("failed"), f("deferred"),
      f("bytes"), f("newUrls"), f("retries"), f("recrawls")))
  }

  private def commitMetrics(w: Int, staging: String, elapsedMs: Long): Unit = {
    if (metricsT.committedWave() >= w) return
    val m = readCounts(staging) match {
      case None =>
        // staged counts lost (staging wiped between crash and resume):
        // mark the gap with -1 counts instead of fabricating zeros; the
        // pending ledger falls back to the exact anti-join next wave
        WaveMetrics(w, -1, -1, -1, -1, -1, -1, -1, elapsedMs)
      case Some(c) =>
        val freshScheduled = c.scheduled - c.retries - c.recrawls
        val pendingLeft = pendingLeftAfter(w, freshScheduled, c.newUrls)
        pendingCache = Some(w -> pendingLeft)
        WaveMetrics(w, c.scheduled, c.fetched, c.failed, c.deferred,
          c.bytes, c.newUrls, pendingLeft, elapsedMs)
    }
    metricsT.appendCommit(Seq(m).toDS().toDF(), w)
  }

  /** Pending count after wave w: previous pending − freshly-scheduled +
    * newly-discovered (retry/recrawl pops re-enter from the processed
    * log, not the pending pool, so they don't decrement it). Falls
    * back to the exact anti-join count when no history exists.
    */
  private var pendingCache: Option[(Int, Long)] = None
  private def pendingLeftAfter(w: Int, freshScheduled: Long, newUrls: Long): Long = {
    val before: Option[Long] = pendingCache match {
      case Some((wave, n)) if wave == w - 1 => Some(n)
      case _ if w >= 2 =>
        metricsT.read().flatMap { m =>
          m.filter(col("wave") === w - 1).select("frontierPending")
            .collect().headOption.map(_.getLong(0))
        }.filter(_ >= 0L) // a -1 gap marker is not a usable ledger value
      case _ => None // wave 1: before = the seed count
    }
    before match {
      case Some(n) => n - freshScheduled + newUrls
      case None =>
        val discoveries = frontierT.read().get.select("urlHash")
        processedT.read() match {
          case None => discoveries.count()
          case Some(p) =>
            discoveries.join(p.select("urlHash"), Seq("urlHash"), "left_anti").count()
        }
    }
  }

  // ---- projections of the processed log ----

  /** The crawl-order log (wave asc, score asc, urlHash asc) — the
    * ordering-parity contract output. Retried/re-crawled URLs appear
    * once per pop (it is a log of scheduling decisions).
    */
  def crawlOrder(): DataFrame =
    processedT.read()
      .map(_.select(col("wave"), col("score"), col("urlHash"), col("url")))
      .getOrElse(spark.emptyDataset[CrawlOrderEntry].toDF())
      .orderBy(col("wave").asc, col("score").asc, col("urlHash").asc)

  /** URL-seen set: fetched rows' (urlHash, contentHash, wave). */
  def seen(): DataFrame =
    processedT.read()
      .map(_.filter(col("state") === FrontierState.Fetched)
        .select(col("urlHash"), col("contentHash"), col("wave")))
      .getOrElse(spark.emptyDataset[SeenEntry].toDF())

  /** Extracted pages: fetched rows with text/title/hash columns. With
    * re-crawling enabled a url has one row per fetch (version history);
    * the latest is max(wave) per urlHash.
    */
  def pages(): DataFrame =
    processedT.read()
      .map(_.filter(col("state") === FrontierState.Fetched)
        .select(col("urlHash"), col("url"), col("wave"), col("title"),
          col("text"), col("contentHash"), col("htmlBytes"), col("nOutlinks")))
      .getOrElse(spark.emptyDataFrame)

  def metrics(): DataFrame =
    metricsT.read().getOrElse(spark.emptyDataset[WaveMetrics].toDF())
}
