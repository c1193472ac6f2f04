package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}
import graft.operators.RobotsLoader

/** One timed pass of a workload: its wall time, the wall time of each
  * operation in it (a `runWave` call or a query), the items it
  * produced, and the values its correctness checks compare.
  */
final case class Pass(wallS: Double, ops: Seq[(String, Double)], items: Long,
                      checks: Map[String, Any], layers: Map[String, Any])

/** A workload: set-up steps, then passes until the run's time is used. */
trait Workload {
  /** One repetition of input generation and ingest; returns seconds. */
  def prepareInput(): Double
  /** Untimed warm-up after the inputs exist; returns seconds. */
  def warmUp(): Double
  def pass(spark: SparkSession, k: Int, tracer: Tracer): Pass
  /** The pass a traced run repeats untraced and traced to measure the
    * tracing overhead: a whole pass unless a workload's operations are
    * independent enough to sample.
    */
  def referencePass(spark: SparkSession, k: Int, tracer: Tracer): Pass = pass(spark, k, tracer)
  /** Pages (url, html) the single-thread core probes run over. */
  def corePages: Seq[(String, String)]
}

object Workloads {

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-insensitive digest of a relation: row count, XOR of per-row
    * xxhash64, and the sums of the hashes' low and high 32-bit halves
    * (the sums keep duplicated rows visible, which XOR alone cancels).
    */
  def digest(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(col).toIndexedSeq: _*)
    val r = df.select(h.as("h")).agg(
      count(lit(1)), bit_xor(col("h")),
      sum(col("h").bitwiseAND(lit(0xFFFFFFFFL))), sum(shiftrightunsigned(col("h"), 32)))
      .head()
    val sumLo = if (r.isNullAt(2)) 0L else r.getLong(2)
    val sumHi = if (r.isNullAt(3)) 0L else r.getLong(3)
    val xor = if (r.isNullAt(1)) 0L else r.getLong(1)
    f"${r.getLong(0)}:$xor%016x:$sumLo%x:$sumHi%x"
  }

  def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, elapsed(t0))
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** (files, bytes) under a directory, and the bytes under any
    * directory named by `sketchDirs`.
    */
  def treeBytes(root: Path, sketchDirs: Set[String]): (Long, Long, Long) = {
    val s = Files.walk(root)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      val sizes = files.map(f => f -> Files.size(f))
      val sketch = sizes.collect {
        case (f, n) if root.relativize(f).iterator().asScala.exists(c => sketchDirs(c.toString)) => n
      }.sum
      (files.size.toLong, sizes.map(_._2).sum, sketch)
    } finally s.close()
  }
}

/** The crawls. The deep one (the `crawl_deep` workload) is
  * frontier-bound: a binding per-host budget, robots rules, a compaction
  * cycle every wave, and the Bloom-prefiltered shuffled anti-joins with
  * their sketches. The bulk one (a leg of the traced run) is
  * work-dominated: a per-host budget that never binds, two waves, most of
  * the corpus fetched through the bucketed fetch join.
  */
final class CrawlWorkload(spark: SparkSession, deep: Boolean, seed: Long,
                          cores: Int, workDir: String) extends Workload {
  import Workloads._

  val spec: SyntheticCorpus.Spec =
    if (deep) SyntheticCorpus.Spec(numUrls = CrawlWorkload.DeepUrls,
      numHosts = (CrawlWorkload.DeepUrls / 100).toInt, seed = seed, withRobots = true)
    else SyntheticCorpus.Spec(numUrls = CrawlWorkload.BulkUrls,
      numHosts = (CrawlWorkload.BulkUrls / 100).toInt, seed = seed)

  private val corpusPath = s"$workDir/corpus"
  private val robotsPath = s"$workDir/robots"

  val config: CrawlConfig =
    if (deep) CrawlConfig(
      maxDepth = 64, defaultMaxPerWave = CrawlWorkload.DeepBudget,
      maxWaves = CrawlWorkload.DeepWaves, assumeUniqueUrls = true,
      compactEveryWaves = 1, compactMaxSegments = 2,
      bloomMinFrontier = 0L, bloomCapacity = 1000000L, broadcastSeenKeys = 0L)
    else CrawlConfig(
      maxDepth = 3, defaultMaxPerWave = (CrawlWorkload.BulkUrls * 2).toInt,
      maxWaves = 2, saltTarget = 20000L, assumeUniqueUrls = true,
      broadcastPopRows = 0L, fetchBuckets = 4 * cores,
      fetchBucketDir = Some(s"$workDir/buckets"), fetchIngestVerifyCount = false)

  val seeds: Seq[(String, Int)] = {
    val n = if (deep) CrawlWorkload.DeepSeeds else (spec.numUrls / 4).toInt
    val step = math.max(1L, spec.numUrls / n)
    (0L until spec.numUrls by step).take(n).map(i => SyntheticCorpus.urlFor(i, spec) -> 1)
  }

  def prepareInput(): Double = time {
    SyntheticCorpus.generate(spark, spec, partitions = 4 * cores)
      .write.mode("overwrite").parquet(corpusPath)
    if (deep)
      RobotsLoader.robotsDim(spark, spark.read.parquet(corpusPath), config.userAgent)
        .write.mode("overwrite").parquet(robotsPath)
  }._2

  private def runner(s: SparkSession, stateRoot: String): WaveRunner =
    new WaveRunner(s, s.read.parquet(corpusPath), stateRoot, config,
      robotsDim = if (deep) Some(s.read.parquet(robotsPath)) else None)

  /** One wave from a sixteenth of the seeds: JIT, code generation, the
    * sketch and compaction paths and, for the bulk crawl, the one-time
    * bucketed ingest of the fetch table. (A full untimed pass cost 25 s
    * and left the timed pass only ~5 % faster.)
    */
  def warmUp(): Double = time {
    val root = Paths.get(workDir, "state-warmup")
    val r = runner(spark, root.toString)
    r.initSeeds(seeds.take(math.max(1, seeds.size / 16)))
    r.runWave(1)
    noop(r.crawlOrder()); noop(r.pages()); noop(r.seen())
    deleteTree(root)
  }._2

  def pass(s: SparkSession, k: Int, tracer: Tracer): Pass = {
    val root = Paths.get(workDir, s"state-$k")
    val r = runner(s, root.toString)
    val waves = Seq.newBuilder[(String, Double)]
    val phases = Seq.newBuilder[Map[String, Double]]
    tracer.span("crawl pass", "pass") {
      val t0 = System.nanoTime()
      tracer.span("crawl", "crawl") {
        tracer.span("initSeeds", "init")(r.initSeeds(seeds))
        var w = 1
        var more = true
        while (more && w <= config.maxWaves) {
          val before = r.phaseSeconds.toMap
          val (m, sec) = time(tracer.span(s"wave $w", "wave")(r.runWave(w)))
          more = m
          waves += s"wave $w" -> sec
          phases += r.phaseSeconds.toMap.map { case (p, v) => p -> (v - before.getOrElse(p, 0.0)) }
          w += 1
        }
      }
      val wall = elapsed(t0)

      val (_, exportOrderS) = time(tracer.span("export crawlOrder", "export")(noop(r.crawlOrder())))
      val (_, exportPagesS) = time(tracer.span("export pages", "export")(noop(r.pages())))
      val (_, exportSeenS) = time(tracer.span("export seen", "export")(noop(r.seen())))

      val (orderDigest, seenDigest, counts, maxHostPops) = tracer.span("check", "check") {
        val m = r.metrics().orderBy("wave").collect().map { row =>
          Seq("scheduled", "fetched", "failed", "deferred", "newUrls")
            .map(c => row.getAs[Long](c))
        }
        val hostPops = r.crawlOrder()
          .groupBy(col("wave"), expr("parse_url(url, 'HOST')")).count()
          .agg(max("count")).head().getLong(0)
        (digest(r.crawlOrder().select("wave", "score", "urlHash")),
          digest(r.seen().select("urlHash", "contentHash", "wave")), m.toSeq, hostPops)
      }
      val sum = (i: Int) => counts.map(_(i)).sum
      val (files, bytes, sketchBytes) = treeBytes(root, Set("bloom", "popbloom"))
      deleteTree(root)
      val pages = sum(1)
      Pass(wall, waves.result(), sum(0) + pages,
        checks = Map(
          "order_digest" -> orderDigest, "seen_digest" -> seenDigest,
          "wave_counts" -> counts,
          "max_host_pops_per_wave" -> maxHostPops),
        layers = Map(
          "phases" -> phases.result(),
          "pages" -> pages, "scheduled" -> sum(0), "new_urls" -> sum(4),
          "failed" -> sum(2), "deferred" -> sum(3),
          "export_order_s" -> exportOrderS, "export_pages_s" -> exportPagesS,
          "export_seen_s" -> exportSeenS,
          "state_files" -> files, "state_bytes" -> bytes, "sketch_bytes" -> sketchBytes))
    }
  }

  def corePages: Seq[(String, String)] =
    (0L until CrawlWorkload.CorePages).map(i =>
      SyntheticCorpus.urlFor(i, spec) -> SyntheticCorpus.htmlFor(i, spec))
}

object CrawlWorkload {
  val BulkUrls: Long = 50000L
  val DeepUrls: Long = 20000L
  val DeepSeeds: Int = 2000
  val DeepBudget: Int = 20
  val DeepWaves: Int = 3
  val CorePages: Long = 2000L
}

/** All of `SparkEntry.queries`, one after another in name order, each
  * fully materialized through the noop sink. A per-query row count rides
  * along as an `Observation`, so checking the outputs launches no extra
  * job. The order is fixed: most queries run with their code generation
  * cold, and a seed-permuted order moved the pass time by 15 % from one
  * seed to another.
  */
final class CatalogWorkload(spark: SparkSession, seed: Long, dataDir: String)
    extends Workload {
  import Workloads._

  val order: Seq[String] = SparkEntry.queries.keys.toSeq.sorted

  /** Opens every input table: Spark reads its parquet footer for the schema. */
  def prepareInput(): Double = time {
    CatalogWorkload.Tables.foreach(t => spark.read.parquet(s"$dataDir/$t.parquet").schema)
  }._2

  /** Two cheap queries of different families: JIT and the planner's
    * shared paths get warm, while each query's own code generation
    * stays in the timed pass (a full warm pass would double the run).
    */
  def warmUp(): Double = time {
    CatalogWorkload.WarmUp.foreach(q => noop(SparkEntry.queries(q)(spark, dataDir)))
  }._2

  def pass(s: SparkSession, k: Int, tracer: Tracer): Pass = run(s, k, tracer, order)

  /** The first queries of the order only: two more whole passes would
    * push a traced run past its time limit on a slow host.
    */
  override def referencePass(s: SparkSession, k: Int, tracer: Tracer): Pass =
    run(s, k, tracer, order.take(CatalogWorkload.ReferenceQueries))

  private def run(s: SparkSession, k: Int, tracer: Tracer, names: Seq[String]): Pass = {
    val t0 = System.nanoTime()
    val results = tracer.span("catalog", "pass") {
      names.map { name =>
        val obs = Observation(s"rows_${name}_$k")
        val (_, sec) = time(tracer.span(name, "query") {
          noop(SparkEntry.queries(name)(s, dataDir).observe(obs, count(lit(1)).as("rows")))
        })
        (name, sec, obs.get("rows").asInstanceOf[Long])
      }
    }
    val wall = elapsed(t0)
    Pass(wall, results.map(r => r._1 -> r._2), results.size.toLong,
      checks = Map("rows" -> results.map(r => r._1 -> r._3).toMap),
      layers = Map.empty)
  }

  def corePages: Seq[(String, String)] = {
    val spec = SyntheticCorpus.Spec(numUrls = 100000L, numHosts = 1000, seed = seed)
    (0L until CrawlWorkload.CorePages).map(i =>
      SyntheticCorpus.urlFor(i, spec) -> SyntheticCorpus.htmlFor(i, spec))
  }
}

object CatalogWorkload {
  val WarmUp: Seq[String] = Seq("q_metrics_agg", "q_token_count")
  val ReferenceQueries = 20

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** SparkEntry's comment families, in its order. */
  val Families: Seq[(String, Seq[String])] = Seq(
    "aggregations" -> Seq("q_metrics_agg", "q_daily_rollup", "q_window_agg"),
    "joins" -> Seq("q_asof_latest", "q_groupwise_max", "q_multiway_join_case",
      "q_semi_join", "q_anti_join", "q_version_chain", "q_rules_lookup", "q_config_merge"),
    "scheduling" -> Seq("q_topk_per_group", "q_politeness_pop", "q_priority_score",
      "q_watermark_filter", "q_mime_whitelist", "q_depth_gate", "q_regex_filter",
      "q_exclusion_filter", "q_essential_fields", "q_eav_typing", "q_eav_store",
      "q_crawl_frequency_gate", "q_requeue_backoff", "q_revisit", "q_url_traps",
      "q_snapshot_diff", "q_session_skip", "q_search_metapages", "q_pagination_cap",
      "q_sitemap"),
    "crawl_scalar" -> Seq("q_url_canonicalize", "q_extract_text", "q_extract_links",
      "q_content_hash", "q_keyword_filter"),
    "text" -> Seq("q_token_count", "q_token_stats", "q_quality_score", "q_text_profile",
      "q_stopword_ratio", "q_top_terms", "q_repetition_profile", "q_pii_scrub",
      "q_length_deciles", "q_gopher_rules", "q_hash_classifier", "q_stratified_sample",
      "q_domain_gate", "q_chunk_tokens", "q_sessionize", "q_stream_dedup",
      "q_contamination", "q_fingerprint"),
    "dedup" -> Seq("q_dedup_exact", "q_dedup_exact_keep", "q_minhash_pairs",
      "q_minhash_dedup", "q_simhash_pairs", "q_ngram_jaccard", "q_containment_pairs",
      "q_paragraph_dedup", "q_line_dedup", "q_dup_span_scrub"),
    "linkgraph" -> Seq("q_pagerank", "q_components", "q_bm25_rank", "q_anchor_text",
      "q_lm_familiarity", "q_dsir_weights", "q_kn_counts", "q_corpus_mix",
      "q_lexical_diversity", "q_soft404", "q_token_budget", "q_lang_mix", "q_seq_pack",
      "q_seq_slices", "q_contam_frac", "q_bpe_pairs", "q_robots_sitemaps",
      "q_dup_clusters", "q_entity_extract"),
    "similarity" -> Seq("q_cosine_topk", "q_ann_lsh", "q_ann_ivf", "q_cosine_dup_pairs",
      "q_semdedup"),
    "multimodal" -> Seq("q_media_features"))
}
