package graft.crawl

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Path, Paths}

import scala.reflect.ClassTag
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{BoilerplateExtractor, Hashing, UrlNormalizer}
import graft.core.Model._
import graft.operators.{Politeness, SeenSet}
import graft.plans.Kernels
import graft.state.{ParquetDir, SnapshotTable, StateFiles}
import WaveRunner.{CommittedMarker, StageCounts, StagedMarker, WaveRecord, joinAll, readRecord}

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
  *    rollup ∪ newer-than-rollup segments (chosen by wave from the
  *    manifest), so per-wave planning input is O(distinct keys +
  *    recent deltas), never O(history) — and no per-wave rollup write
  *    exists.
  *  - a row's EFFECTIVE state is resolved at read: pending = discovered
  *    with no processed row; fetched/failed/deferred = its latest
  *    processed row. The per-wave pending scan is read-only — an
  *    exact anti-join of discoveries against processed KEYS (8-byte
  *    column, [[graft.operators.SeenSet.notSeen]]; the reference's
  *    O(delta) per-put bsddb persistence,
  *    crawler/utils/priorityqueue.py:23-36).
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
  *  3. expand: links → canonicalize → in-batch dedup → exact anti-join
  *     against the discovery log's keys (URL-seen, SURVEY.md §2.4);
  *  4. commit: ONE list of idempotent steps, each skipped when the
  *     durable state it writes shows it done: stage (steps 1-3; its
  *     `_STAGED` record holds the counts the staging writes observed,
  *     and an idle wave, nothing schedulable now but work left, is one
  *     that scheduled nothing); flip processed, then frontier (their
  *     committed waves: atomic directory renames, zero jobs; an idle
  *     wave flips with no segment, so its deltas are empty); drop the
  *     previous wave's staging directory but its `_COMMITTED` record;
  *     on a compaction wave the commit TAIL, two chains of Spark jobs
  *     run side by side ([[WaveRunner.joinAll]]): the frontier
  *     compaction, and the rollup append (its committed wave) then the
  *     processed and rollup compactions; the VACUUM, once both chains
  *     have joined; and the `_COMMITTED` record: the wave's metrics row
  *     and its running key totals ([[WaveRunner.WaveRecord]]), the one
  *     place every per-wave count is kept. The nine step names, in
  *     order: `stage`, `processed`, `frontier`, `drop-staging`,
  *     `compact-frontier`, `rollup`, `compact-processed`,
  *     `compact-latest`, `vacuum`. A restart ([[nextWave]]) re-enters
  *     the newest flipped wave until its record exists and runs the
  *     same list: finished steps skip, and nothing is re-extracted.
  *     Wave 0's list: the seed frontier ([[initSeeds]], its `_STAGED`
  *     record holding the distinct seed count; step `frontier`), then
  *     `_COMMITTED`.
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

  // the tiered merge keeps at least the newest delta beside the merged
  // segment: a smaller bound would silently act as 2
  require(config.compactMaxSegments >= 2,
    s"compactMaxSegments must be >= 2, got ${config.compactMaxSegments}")

  import spark.implicits._

  val frontierT = SnapshotTable(spark, stateRoot, "frontier")
  val processedT = SnapshotTable(spark, stateRoot, "processed")

  /** Incremental latest-try ROLLUP of the processed log. The rollup
    * MATERIALIZES only at compaction cadence — zero per-wave jobs:
    * between materializations, reads compose the rollup
    * with the processed segments NEWER than its `committedWave`,
    * selected from the manifest, so the old segments are never opened.
    * Each compaction cycle appends ONE latest-per-key segment for the
    * accumulated window and tiered-merges with [[latestTry]], so total
    * rollup write I/O stays O(history + keys·log) like the log itself,
    * and per-wave planning input is O(distinct keys + recent deltas) —
    * never O(history) (10^10 rows at 10^4 waves × 10^6 pops). The
    * reference analog is the Postgres-indexed as-of TaskLog restore
    * (crawler/utils/taskmanager.py:102-116); this is its table-side
    * equivalent.
    */
  val latestT = SnapshotTable(spark, stateRoot, "latest")

  /** Rows actually put through fetch+extract this run — the probe the
    * resume test uses to assert zero re-fetches.
    */
  val extractCounter = spark.sparkContext.longAccumulator("graft.extracted")

  /** Test hook, called with each commit step's name once the step is
    * done (tail steps from their chain's thread): one that throws kills
    * the wave there.
    */
  @volatile private[graft] var failPoint: String => Unit = _ => ()

  /** Test/integration hook for TRANSIENT fetch refusals (the 429 /
    * rate-limited analog — reference requeue-self,
    * baseconnector.py:158-181): popped rows matching this predicate
    * are marked Deferred instead of fetched and re-enter the pending
    * set after `retryBackoffWaves`, up to `maxFetchAttempts` tries.
    * Production transports (LiveFetch) plug their refusals in here.
    */
  private[graft] var deferInjector: Option[Column] = None

  /** Wall seconds per phase, summed across waves (label with the
    * per-wave "wN " prefix stripped, e.g. "pop+stage",
    * "fetch+extract+stage", "expand+stage-new"). Always accumulated —
    * the cost is one nanoTime pair around phases that are each whole
    * Spark jobs — so the bench can report PER-PHASE scaling (the
    * evidence that each phase parallelizes; a shared-socket wall-clock
    * ratio alone cannot separate engine serialism from memory-bus
    * saturation). Note "stage" is the parent of the pop/fetch/expand
    * phases — consumers must not sum it with its children.
    * "compact" is the WALL interval of the whole concurrent commit
    * tail (both chains and the vacuum), never summed thread time; it is
    * recorded on compaction waves only, the only waves with a tail.
    */
  private[graft] val phaseSeconds =
    scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  private def timed[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    record(label, t0, System.nanoTime())
    r
  }

  /** Add the wall interval [t0, t1] (nanoTime) to `label`'s phase. */
  private def record(label: String, t0: Long, t1: Long): Unit = {
    val sec = (t1 - t0) / 1e9
    val phase = label.indexOf(' ') match {
      case -1 => label
      case i  => label.substring(i + 1)
    }
    phaseSeconds.synchronized { phaseSeconds(phase) += sec }
  }

  // the Column APIs register kernels into the ACTIVE session only; a
  // runner may run on another one (e.g. spark.newSession()), so its
  // own session gets the table here (idempotent)
  Kernels.register(spark)

  private val fetchSource = new FetchSource(spark, pagesInput, stateRoot, config)

  /** Robots dimension (host, rules, robotsDelayMs): explicit DataFrame
    * if given, else lifted from the driver-side rule list. Always
    * consumed as a broadcast join — never a closure-captured map.
    */
  private val robots: Option[DataFrame] =
    robotsDim.orElse(Politeness.rulesDim(spark, robotsRules))

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

  // a host without a policy has no crawl delay of its own
  private def policyDelayFor(host: Column): Column =
    if (hostPolicies.isEmpty) lit(0L)
    else coalesce(
      element_at(
        typedLit(hostPolicies.map { case (h, p) => h -> p.crawlDelayMs }), host),
      lit(0L))

  /** Initialize the frontier from a seed list (url, priority), then
    * finish wave 0. Two seeds canonicalizing to the same URL keep one
    * deterministic representative (min priority — mirroring the
    * min()-based first-discovery rule used for links). Stages the
    * distinct seed count, then commits frontier wave 0, unless the
    * frontier already exists (resume: the seeds are then unused).
    */
  def initSeeds(seeds: Seq[(String, Int)]): Unit = {
    if (!frontierT.exists()) {
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
      StateFiles.writeJson(stagingDir(0).resolve(StagedMarker),
        StageCounts(0, 0, 0, 0, 0, entries.size.toLong, 0, 0))
      frontierT.commit(entries.toDS().toDF(), wave = 0)
    }
    failPoint("frontier")
    runWave(0)
  }

  /** Run waves until the frontier drains or maxWaves is hit; returns
    * the number of the last completed wave.
    */
  def run(): Int = {
    var wave = nextWave()
    while (wave <= config.maxWaves && runWave(wave)) wave += 1
    frontierT.committedWave()
  }

  /** The wave to run next: the newest flipped wave while its
    * `_COMMITTED` record is missing (a kill cut its commit tail), else
    * the one after it. [[run]] and [[graft.streaming.CrawlStream]] both
    * start here.
    */
  def nextWave(): Int = {
    val w = frontierT.committedWave()
    if (w >= 0 && !StateFiles.exists(stagingDir(w).resolve(CommittedMarker))) w else w + 1
  }

  private def stagingDir(w: Int): Path = Paths.get(stateRoot, "staging", s"wave_$w")

  private def staged(w: Int): Option[StageCounts] =
    readRecord[StageCounts](stagingDir(w).resolve(StagedMarker))

  private def committed(w: Int): Option[WaveRecord] =
    readRecord[WaveRecord](stagingDir(w).resolve(CommittedMarker))

  /** The running totals the tables hold now, recounted (one count per
    * table) when a record that would carry them is lost: a root written
    * before records held counts, or a wiped staging directory.
    * Deferrals are assumed seen once anything is processed.
    */
  private def recount(): WaveRecord = {
    val processed = processedT.exists()
    WaveRecord(None, frontierT.read().fold(0L)(_.count()),
      if (processed) processedKeys().distinct().count() else 0L, deferrals = processed)
  }

  /** Flipped wave `w`'s running totals: the previous wave's plus `w`'s
    * staged counts, or, when either record is lost, a [[recount]] of
    * the tables, which are at wave `w` once it has flipped.
    */
  private def totalsAfter(w: Int): WaveRecord = {
    val before = if (w == 0) Some(WaveRecord(None, 0, 0, deferrals = false)) else committed(w - 1)
    staged(w).flatMap(c => before.map(_ + c)).getOrElse(recount())
  }

  /** Delete everything a done wave staged but its `_COMMITTED` record,
    * which [[nextWave]] and [[metrics]] read. Without this the state
    * grows by one popped set per wave, outside every manifest. A wave
    * whose record is missing keeps everything.
    */
  private def dropStaged(w: Int): Unit = {
    val staging = stagingDir(w)
    if (StateFiles.exists(staging.resolve(CommittedMarker)))
      StateFiles.list(staging).filterNot(_.getFileName.toString == CommittedMarker)
        .foreach(StateFiles.delete)
  }

  /** Execute (or finish) wave `w`: every commit step in fixed order,
    * skipping those already done. Returns false when there was nothing
    * left to schedule now or in any future wave (crawl drained), true
    * at once for a done wave: its record is never written again.
    */
  def runWave(w: Int): Boolean = {
    require(frontierT.exists(), "initSeeds must run before waves")
    val next = nextWave()
    require(w <= next, s"wave $w cannot run before wave $next is committed")
    if (w < next) return true
    if (w == 0) {
      // wave 0's last step: nothing is processed at wave 0
      StateFiles.writeJson(stagingDir(0).resolve(CommittedMarker), totalsAfter(0))
      return true
    }
    val t0 = System.nanoTime()
    val staging = stagingDir(w)
    val stagedMarker = staging.resolve(StagedMarker)

    // stage: the only step that reads html, at most once per wave
    if (frontierT.committedWave() < w && !StateFiles.exists(stagedMarker))
      timed(s"w$w stage")(stageWave(w, staging.toString)) match {
        case None => return false
        case Some(c) => StateFiles.writeJson(stagedMarker, c)
      }
    failPoint("stage")

    // flip processed, then frontier: adopt the staged artifact by
    // atomic directory rename (zero jobs, zero data copy); an idle wave
    // advances the committed wave with no segment
    val counts = staged(w)
    val idle = counts.exists(_.scheduled == 0L)
    def flip(t: SnapshotTable, artifact: String): Unit = {
      if (t.committedWave() < w)
        if (idle) t.markCommit(w)
        else timed(s"w$w adopt-${t.name}")(t.adoptCommit(s"$staging/$artifact", w))
      failPoint(t.name)
    }
    flip(processedT, "processed")
    flip(frontierT, "new_frontier")

    // the previous wave is done: nothing reads its staged artifacts again
    dropStaged(w - 1)
    failPoint("drop-staging")

    val totals = totalsAfter(w)

    // ---- commit tail, on compaction waves: two concurrent chains ----
    val compacting = config.compactEveryWaves > 0 && w % config.compactEveryWaves == 0
    def compact(t: SnapshotTable, merge: DataFrame => DataFrame = identity): Unit = {
      t.compactTiered(config.compactMaxSegments, merge)
      failPoint(s"compact-${t.name}")
    }
    if (compacting) {
      val tail0 = System.nanoTime()
      joinAll(
        () => compact(frontierT),
        () => {
          // materialize the latest-try rollup for the window since the
          // last materialization (ONE latest-per-key segment per cycle,
          // idempotent via the committed-wave marker), then bound its
          // segment count with the merging tiered compaction. Runs
          // BEFORE the processed log's own compaction, so the newer
          // segments it reads are still the single-wave deltas.
          if (latestT.committedWave() < w)
            recentTries().foreach { recent =>
              val delta = latestTry(recent)
              if (latestT.exists()) latestT.appendCommit(delta, w)
              else latestT.commit(delta, w)
            }
          failPoint("rollup")
          // rollup: merged segments collapse to ONE row per key
          joinAll(() => compact(processedT), () => compact(latestT, latestTry))
        })
      // the vacuum deletes every table's merged-away segments: it runs
      // only once no chain reads or merges them
      if (config.vacuumOnCompact) {
        Seq(frontierT, processedT, latestT).foreach(_.vacuum())
        failPoint("vacuum")
      }
      record(s"w$w compact", tail0, System.nanoTime())
    }
    // elapsedMs runs from the wave's start through the joined commit
    // tail; a wave whose staged counts are lost is marked with -1
    // counts, never fabricated zeros
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    val row = counts.fold(WaveMetrics(w, -1, -1, -1, -1, -1, -1, -1, elapsedMs)) { c =>
      WaveMetrics(w, c.scheduled, c.fetched, c.failed, c.deferred, c.bytes, c.newUrls,
        totals.discovered - totals.processed, elapsedMs)
    }
    StateFiles.writeJson(staging.resolve(CommittedMarker), totals.copy(metrics = Some(row)))
    true
  }

  // ---- pending-state resolution (read-side; no frontier rewrite) ----

  /** The processed columns latest-try resolution reads, in the order
    * every processed segment and rollup segment stores them (the
    * processed log's leading columns): the three resolutions (the
    * pop's, the rollup append and the rollup's merge) then aggregate
    * rows of one layout and share their generated classes.
    */
  private val slimCols = Seq("urlHash", "url", "host", "depth", "priority",
    "score", "wave", "attempts", "state", "contentHash", "changed")

  /** The processed log's columns: [[slimCols]], then the page payload. */
  private val processedCols =
    slimCols ++ Seq("title", "text", "htmlBytes", "links", "nOutlinks")

  private def processedSlim(p: DataFrame): DataFrame = p.select(slimCols.map(col): _*)

  /** Processed rows newer than the rollup's merged wave, or None when
    * none exists. The segments are selected by wave from the manifest,
    * with no row filter, so the plan carries no wave constant. The
    * selection is exact: every processed delta holds one wave, and the
    * processed log is compacted only right after a rollup append, so a
    * merged segment never holds a wave newer than the rollup's. (A
    * manifest from before per-segment waves keeps every segment; the
    * older rows then only repeat what the rollup already resolves, and
    * the max_by of [[latestTry]] is unchanged by repeats.)
    */
  private def recentTries(): Option[DataFrame] =
    processedT.readNewerThan(latestT.committedWave()).map(processedSlim)

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
    * the exact input set for any latest-key resolution. Only segments
    * that can hold newer rows are read ([[recentTries]]); with no
    * rollup yet, mergedWave = -1 and this degrades to the full slim log
    * (short crawls never pay a rollup job at all). Once the processed
    * log has been compacted right after a rollup append, no segment is
    * newer and this is the rollup alone.
    */
  private def rollupAndRecent(): DataFrame =
    (latestT.read().toSeq ++ recentTries()).reduce(_.unionByName(_))

  /** Latest try per key — O(distinct keys + recent deltas) input rows
    * once the rollup has materialized, never O(history).
    */
  private def latestResolved(): DataFrame = latestTry(rollupAndRecent())

  /** Processed KEYS for the fresh-vs-seen anti-join: same key set as
    * the full log in far fewer rows (≤ one per key per rollup segment
    * + one per recent try).
    */
  private def processedKeys(): DataFrame = rollupAndRecent().select("urlHash")

  private val pendingCols =
    Seq("urlHash", "url", "host", "depth", "priority", "score", "attempts",
      "origin", "priorHash")

  /** The schedulable set for wave `w`:
    *  - fresh: discovered, never popped (exact anti-join against
    *    processed keys);
    *  - retry: latest try Deferred, attempts < maxFetchAttempts, and
    *    the backoff has elapsed (reference requeue-self);
    *  - recrawl: latest try Fetched and `recrawlEveryWaves` elapsed
    *    (reference crawl-frequency gate, taskmanager.py:338-361) —
    *    subtree-gated by parent change state (see [[recrawlDue]]).
    * `priorHash` rides along for recrawl pops (the stored content hash
    * the probe compares against — null for fresh/retry rows). The
    * retry and recrawl branches are built only for the `reentries`
    * origins ([[reentryOrigins]]); `prev` holds the totals wave w-1
    * committed.
    */
  private def pendingSet(w: Int, prev: WaveRecord, reentries: Seq[String]): DataFrame = {
    val discoveries = frontierT.read().get
      .select("urlHash", "url", "host", "depth", "priority", "score")
    if (!processedT.exists()) {
      discoveries.withColumn("attempts", lit(0))
        .withColumn("origin", lit("fresh"))
        .withColumn("priorHash", lit(null).cast("string"))
    } else {
      val fresh = SeenSet.notSeen(discoveries,
          Some(processedKeys()), Some(prev.processed), config.broadcastSeenKeys)
        .withColumn("attempts", lit(0))
        .withColumn("origin", lit("fresh"))
        .withColumn("priorHash", lit(null).cast("string"))
      // ONE latest-try resolve shared by the retry and recrawl
      // branches (the identical aggregate subtrees reuse one shuffle
      // via exchange reuse) — and its input is the rollup, not the
      // full processed history
      lazy val latest = latestResolved()
      val parts = Seq.newBuilder[DataFrame]
      parts += fresh
      if (reentries.contains("retry")) {
        parts += latest
          .filter(col("state") === FrontierState.Deferred &&
            col("attempts") < config.maxFetchAttempts &&
            col("wave") + config.retryBackoffWaves <= Kernels.bound_int(w))
          .withColumn("origin", lit("retry"))
          .withColumn("priorHash", lit(null).cast("string"))
          .select(pendingCols.map(col): _*)
      }
      if (reentries.contains("recrawl"))
        parts += recrawlDue(w, latest).select(pendingCols.map(col): _*)
      parts.result().reduce(_.unionByName(_))
    }
  }

  /** The origins besides "fresh" the pending set can hold this wave:
    * "retry" when a committed wave may have deferred a row and retries
    * are on (only deferred rows can be retried, so otherwise the retry
    * branch is provably empty and stays out of the plan: the crawl's
    * common case, whose latest-try aggregate over every processed key
    * then never runs), "recrawl" when re-crawling is on; none before
    * anything is processed.
    */
  private def reentryOrigins(prev: WaveRecord): Seq[String] =
    if (!processedT.exists()) Nil
    else
      (if (config.maxFetchAttempts > 1 && prev.deferrals) Seq("retry") else Nil) ++
        (if (config.recrawlEveryWaves > 0) Seq("recrawl") else Nil)

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
        col("wave") + config.recrawlEveryWaves <= Kernels.bound_int(w))
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
    if (!processedT.exists()) discoveries.withColumn("state", lit(FrontierState.Pending))
    else discoveries
      .join(latestResolved().select(col("urlHash"),
        col("state").as("p_state")), Seq("urlHash"), "left")
      .withColumn("state",
        coalesce(col("p_state"), lit(FrontierState.Pending)))
      .drop("p_state")
  }

  /** Anything left for a future wave when nothing popped now? (Open
    * deferrals behind their backoff, or recrawl-eligible history.)
    * Only evaluated at end-of-crawl, so the extra jobs are rare.
    */
  private def hasFutureWork(prev: WaveRecord): Boolean =
    processedT.read().exists { p =>
      val openDeferred = config.maxFetchAttempts > 1 && prev.deferrals &&
        !latestResolved()
          .filter(col("state") === FrontierState.Deferred &&
            col("attempts") < config.maxFetchAttempts)
          .isEmpty
      openDeferred || (config.recrawlEveryWaves > 0 &&
        !p.filter(col("state") === FrontierState.Fetched).isEmpty)
    }

  /** Compute a wave's artifacts into the staging dir and return the
    * counts its writes observed (all zero for an idle wave), or None
    * when the crawl is drained. This is the only phase that touches
    * html; it runs at most once per wave across kills/resumes.
    */
  private def stageWave(w: Int, staging: String): Option[StageCounts] = {
    // the totals wave w-1 committed; the tables are at wave w-1 for a
    // recount, since a wave stages only after the previous one's record
    val prev = committed(w - 1).getOrElse(recount())
    val reentries = reentryOrigins(prev)
    val pending = pendingSet(w, prev, reentries)
      .filter(col("depth") <= config.maxDepth)
    val allowed = Politeness.applyRobots(pending, robots)

    // budget short-circuit: |pending| ≤ |discoveries ever| = the
    // previous record's discovered total (zero jobs — the three
    // pending branches are key-disjoint subsets of the discovery log).
    // When that bound fits inside the uniform per-host budget and no
    // per-host policy or delay clock can lower it, every host's budget
    // provably doesn't bind — the pop IS the allowed set, and the
    // ranking window and its exchange are skipped (an optimizer
    // short-circuit, not an approximation: the selection is
    // identical, and downstream order is fixed by the total-order
    // contract, never by staged row order).
    val unbudgeted = hostPolicies.isEmpty && config.waveDurationMs <= 0L &&
      prev.discovered <= config.defaultMaxPerWave

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
    // only the counters the plan can make nonzero are observed: each
    // observed aggregate list is a class of generated code, and a bare
    // row count is one class shared by every observation that is one
    val popObs = Observation(s"graft-pop-$w")
    timed(s"w$w pop+stage")(ParquetDir.write(
      (if (unbudgeted) allowed else rankedPop)
        .select(pendingCols.map(col): _*)
        .observe(popObs, count(lit(1)).as("n"),
          reentries.map(o => count(when(col("origin") === o, 1)).as(o)): _*),
        s"$staging/popped"))
    val poppedN = popObs.get("n").asInstanceOf[Long]
    def reentered(origin: String): Long =
      if (reentries.contains(origin)) popObs.get(origin).asInstanceOf[Long] else 0L
    val retryN = reentered("retry")
    val recrawlN = reentered("recrawl")

    if (poppedN == 0L)
      return if (hasFutureWork(prev)) Some(StageCounts(0, 0, 0, 0, 0, 0, 0, 0)) else None

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
    val extracted = fetchSource.fetched(toFetch, poppedN)
      .select(col("urlHash"), col("url"), col("host"), col("score"),
        col("depth"), col("priority"), col("attempts"), col("priorHash"),
        col("html"))
      .as[(Long, String, String, Long, Int, Int, Int, String, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (urlHash, url, host, scoreV, depth, priority,
            attempts, priorHash, html) =>
          counter.add(1)
          // ONE parse of the cleaned page shared by title + outlinks +
          // text (BoilerplateExtractor.extractAll)
          val e = BoilerplateExtractor.extractAll(new String(html, UTF_8), url)
          val title = e.title.getOrElse("No Title")
          val links = e.links.filter(_ != url).distinct // self-link drop (F8)
          val contentHash = Hashing.contentHash(Seq(e.text, title)) // O6
          (urlHash, url, host, scoreV, FrontierState.Fetched, title, e.text,
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
      extracted.withColumn("wave", Kernels.bound_int(w))
        .withColumn("nOutlinks", size(col("links")))
        .select(processedCols.map(col): _*)
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
    // exact) — the tail is appended to the processed artifact, whose
    // files both jobs listed before either started.
    val tailObs = Observation(s"graft-tail-$w")
    val misses: Option[() => Unit] =
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
        Some(() => ParquetDir.writer(
          tail.withColumn("wave", Kernels.bound_int(w))
            .withColumn("nOutlinks", size(col("links")))
            .select(processedCols.map(col): _*)
            .observe(tailObs, count(lit(1)).as("n"), deferred.map(_ =>
              count(when(col("state") === FrontierState.Deferred, 1)).as("deferred")).toSeq: _*))
          .mode("append").parquet(s"$staging/processed"))
      }

    // ---- frontier expansion (E2) from the staged artifact (resume
    // never re-extracts): explode links, dedup, anti-join ----
    val sp = ParquetDir.read(spark, s"$staging/processed")
    val frontierKeys = frontierT.read().get.select("urlHash")
    val preBroadcast = prev.discovered <= config.broadcastSeenKeys
    // the key leads, as in every other urlHash aggregate of the wave,
    // so the dedup's sorts and projections share their generated classes
    val links = sp
      .select(col("urlHash").as("parentHash"), col("depth"), col("priority"),
        explode(col("links")).as("url"))
      .select(xxhash64(col("url")).as("urlHash"), col("parentHash"), col("depth"),
        col("priority"), col("url"))
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
        Some(prev.discovered), config.broadcastSeenKeys)
    val newEntries = unseen
      .select(
        col("urlHash"), col("url"),
        // generated kernel (plans.UrlKernels): the expand projection stays
        // inside whole-stage codegen — no Scala-UDF encoder round trip
        // in the hottest per-wave stage
        Kernels.host_of(col("url")).as("host"),
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
        Kernels.bound_int(w).as("discoveredWave"),
        col("parentHash"))

    // the misses job is joined even when the expansion throws: no job
    // of this wave keeps writing into staging after runWave returns
    val newObs = Observation(s"graft-new-$w")
    var expanded = 0L
    joinAll(Seq[() => Unit] { () =>
      timed(s"w$w expand+stage-new")(
        ParquetDir.write(newEntries.observe(newObs, count(lit(1)).as("n")),
          s"$staging/new_frontier"))
      expanded = System.nanoTime()
    } ++ misses: _*)
    val newUrls = newObs.get("n").asInstanceOf[Long]

    // crash-safe: a kill before the _STAGED marker re-runs the whole
    // stage, whose processed write is an Overwrite
    val (scheduled, deferredN) =
      if (misses.isEmpty) (poppedN, 0L)
      else {
        record(s"w$w stage-misses-join", expanded, System.nanoTime())
        (fetchedN + tailObs.get("n").asInstanceOf[Long],
          if (deferred.isEmpty) 0L else tailObs.get("deferred").asInstanceOf[Long])
      }

    Some(StageCounts(scheduled, fetchedN, scheduled - fetchedN - deferredN,
      deferredN, bytes, newUrls, retryN, recrawlN))
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

  /** One row per committed wave from 1 on, read from its record; a
    * wave whose record is lost shows -1 in every column but `wave`.
    */
  def metrics(): DataFrame =
    (1 until nextWave()).map { w =>
      committed(w).flatMap(_.metrics).getOrElse(WaveMetrics(w, -1, -1, -1, -1, -1, -1, -1, -1))
    }.toDS().toDF()
}

object WaveRunner {

  /** A staged wave's `_STAGED` record: the counts its staging writes
    * observed (wave 0's holds only the distinct seed count, as
    * `newUrls`).
    */
  final case class StageCounts(scheduled: Long, fetched: Long, failed: Long,
                               deferred: Long, bytes: Long, newUrls: Long,
                               retries: Long, recrawls: Long) {
    /** Pops of keys never processed before: each adds one processed key. */
    def freshPops: Long = scheduled - retries - recrawls
  }

  /** A committed wave's `_COMMITTED` record: its metrics row (none for
    * wave 0) and the running key totals as of the wave: distinct
    * discovered keys, distinct processed keys and whether any wave has
    * deferred a row. The pending frontier is `discovered - processed`.
    * A marker that exists but holds no readable record is a wave whose
    * counts are lost.
    */
  final case class WaveRecord(metrics: Option[WaveMetrics], discovered: Long,
                              processed: Long, deferrals: Boolean) {
    /** The next wave's totals, with no metrics row yet. */
    def +(c: StageCounts): WaveRecord = WaveRecord(None, discovered + c.newUrls,
      processed + c.freshPops, deferrals || c.deferred != 0L)
  }

  private[graft] val StagedMarker = "_STAGED"
  private[graft] val CommittedMarker = "_COMMITTED"

  /** The record in `marker`, or None when the file is missing or holds
    * no whole `T` (a lost count is never a zero).
    */
  private[graft] def readRecord[T: ClassTag](marker: Path): Option[T] =
    Try(StateFiles.readJson[T](marker)).toOption.flatten.flatMap(Option(_))

  /** Run `tasks` concurrently and return once ALL have finished: the
    * first on the calling thread, every other one on a thread started
    * here, from the calling thread, on every call — so each inherits
    * Spark's inheritable local properties (job group, scheduler pool)
    * and the active session, and its jobs are attributed and
    * cancellable like the caller's. A failing task never cuts the
    * others short: all are waited for, then the first failure is
    * rethrown (later ones attached as suppressed), so no job a task
    * launched outlives the call.
    */
  private[graft] def joinAll(tasks: (() => Unit)*): Unit = {
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    def run(task: () => Unit): Unit =
      try task() catch { case e: Throwable => failures.add(e) }
    val threads = tasks.drop(1).map { task =>
      val t = new Thread(() => run(task), "graft-wave-task")
      t.setDaemon(true)
      t.start()
      t
    }
    tasks.headOption.foreach(run)
    threads.foreach(_.join())
    Option(failures.poll()).foreach { first =>
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }
}
