package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}
import graft.queries.QueryCatalog._
import graft.state.StateFiles

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: a full crawl (seeds → waves → order log) over a small
    * deterministic synthetic corpus, exercised end-to-end — the
    * engine's reason to exist. Returns the crawl-order log
    * (wave, score, urlHash, url), materialized, so that the crawl's
    * state root is deleted before it returns; driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val spec = SyntheticCorpus.Spec(numUrls = 300, numHosts = 12)
    val corpus = SyntheticCorpus.generate(spark, spec).toDF()
    val stateRoot = Files.createTempDirectory("graft-entry-")
    try {
      val runner = new WaveRunner(spark, corpus, stateRoot.toString,
        CrawlConfig(maxDepth = 1, defaultMaxPerWave = 20, maxWaves = 3))
      runner.initSeeds(Seq(
        SyntheticCorpus.urlFor(0, spec) -> 1,
        SyntheticCorpus.urlFor(5, spec) -> 2))
      runner.run()
      runner.crawlOrder().localCheckpoint(true)
    } finally StateFiles.delete(stateRoot)
  }

  /** One entry per implemented operator from SURVEY.md §2 (+ the
    * training-data-pipeline operators). All take (session, sfDir).
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // aggregations
    "q_metrics_agg" -> (qMetricsAgg(_, _)),
    "q_daily_rollup" -> (qDailyRollup(_, _)),
    "q_window_agg" -> (qWindowAgg(_, _)),
    // joins
    "q_asof_latest" -> (qAsofLatest(_, _)),
    "q_groupwise_max" -> (qGroupwiseMax(_, _)),
    "q_multiway_join_case" -> (qMultiwayJoinCase(_, _)),
    "q_semi_join" -> (qSemiJoin(_, _)),
    "q_anti_join" -> (qAntiJoin(_, _)),
    "q_version_chain" -> (qVersionChain(_, _)),
    "q_rules_lookup" -> (qRulesLookup(_, _)),
    "q_config_merge" -> (qConfigMerge(_, _)),
    // filters / scheduling
    "q_topk_per_group" -> (qTopkPerGroup(_, _)),
    "q_politeness_pop" -> (qPolitenessPop(_, _)),
    "q_priority_score" -> (qPriorityScore(_, _)),
    "q_watermark_filter" -> (qWatermarkFilter(_, _)),
    "q_mime_whitelist" -> (qMimeWhitelist(_, _)),
    "q_depth_gate" -> (qDepthGate(_, _)),
    "q_regex_filter" -> (qRegexFilter(_, _)),
    "q_exclusion_filter" -> (qExclusionFilter(_, _)),
    "q_essential_fields" -> (qEssentialFields(_, _)),
    "q_eav_typing" -> (qEavTyping(_, _)),
    "q_eav_store" -> (qEavStore(_, _)),
    "q_crawl_frequency_gate" -> (qCrawlFrequencyGate(_, _)),
    "q_requeue_backoff" -> (qRequeueBackoff(_, _)),
    "q_revisit" -> (qRevisit(_, _)),
    "q_url_traps" -> (qUrlTraps(_, _)),
    "q_snapshot_diff" -> (qSnapshotDiff(_, _)),
    "q_session_skip" -> (qSessionSkip(_, _)),
    "q_search_metapages" -> (qSearchMetapages(_, _)),
    "q_pagination_cap" -> (qPaginationCap(_, _)),
    "q_sitemap" -> (qSitemap(_, _)),
    // crawl scalar ops
    "q_url_canonicalize" -> (qUrlCanonicalize(_, _)),
    "q_extract_text" -> (qExtractText(_, _)),
    "q_extract_links" -> (qExtractLinks(_, _)),
    "q_content_hash" -> (qContentHash(_, _)),
    "q_keyword_filter" -> (qKeywordFilter(_, _)),
    // text analysis
    "q_token_count" -> (qTokenCount(_, _)),
    "q_token_stats" -> (qTokenStats(_, _)),
    "q_quality_score" -> (qQualityScore(_, _)),
    "q_text_profile" -> (qTextProfile(_, _)),
    "q_stopword_ratio" -> (qStopwordRatio(_, _)),
    "q_top_terms" -> (qTopTerms(_, _)),
    "q_repetition_profile" -> (qRepetitionProfile(_, _)),
    "q_pii_scrub" -> (qPiiScrub(_, _)),
    "q_length_deciles" -> (qLengthDeciles(_, _)),
    "q_gopher_rules" -> (qGopherRules(_, _)),
    "q_hash_classifier" -> (qHashClassifier(_, _)),
    "q_stratified_sample" -> (qStratifiedSample(_, _)),
    "q_domain_gate" -> (qDomainGate(_, _)),
    "q_chunk_tokens" -> (qChunkTokens(_, _)),
    "q_sessionize" -> (qSessionize(_, _)),
    "q_stream_dedup" -> (qStreamDedup(_, _)),
    "q_contamination" -> (qContamination(_, _)),
    "q_fingerprint" -> (qFingerprint(_, _)),
    // dedup family
    "q_dedup_exact" -> (qDedupExact(_, _)),
    "q_dedup_exact_keep" -> (qDedupExactKeep(_, _)),
    "q_minhash_pairs" -> (qMinhashPairs(_, _)),
    "q_minhash_dedup" -> (qMinhashDedup(_, _)),
    "q_simhash_pairs" -> (qSimhashPairs(_, _)),
    "q_ngram_jaccard" -> (qNgramJaccard(_, _)),
    "q_containment_pairs" -> (qContainmentPairs(_, _)),
    "q_paragraph_dedup" -> (qParagraphDedup(_, _)),
    "q_line_dedup" -> (qLineDedup(_, _)),
    "q_dup_span_scrub" -> (qDupSpanScrub(_, _)),
    // link-graph analytics / retrieval
    "q_pagerank" -> (qPagerank(_, _)),
    "q_components" -> (qComponents(_, _)),
    "q_bm25_rank" -> (qBm25Rank(_, _)),
    "q_anchor_text" -> (qAnchorText(_, _)),
    "q_lm_familiarity" -> (qLmFamiliarity(_, _)),
    "q_dsir_weights" -> (qDsirWeights(_, _)),
    "q_kn_counts" -> (qKnCounts(_, _)),
    "q_corpus_mix" -> (qCorpusMix(_, _)),
    "q_lexical_diversity" -> (qLexicalDiversity(_, _)),
    "q_soft404" -> (qSoft404(_, _)),
    "q_token_budget" -> (qTokenBudget(_, _)),
    "q_lang_mix" -> (qLangMix(_, _)),
    "q_seq_pack" -> (qSeqPack(_, _)),
    "q_seq_slices" -> (qSeqSlices(_, _)),
    "q_contam_frac" -> (qContamFrac(_, _)),
    "q_bpe_pairs" -> (qBpePairs(_, _)),
    "q_robots_sitemaps" -> (qRobotsSitemaps(_, _)),
    "q_dup_clusters" -> (qDupClusters(_, _)),
    "q_entity_extract" -> (qEntityExtract(_, _)),
    // similarity search
    "q_cosine_topk" -> (qCosineTopK(_, _)),
    "q_ann_lsh" -> (qAnnLsh(_, _)),
    "q_ann_ivf" -> (qAnnIvf(_, _)),
    "q_cosine_dup_pairs" -> (qCosineDupPairs(_, _)),
    "q_semdedup" -> (qSemDedup(_, _)),
    // multimodal plumbing
    "q_media_features" -> (qMediaFeatures(_, _)))

  /** Shared CTE prefix for the portable-MinHash oracles: the full
    * shingle → signature → band → bucket-cap → candidate-pair →
    * estimate pipeline stated in SQL, ending in a `pairs_est` relation
    * the final select consumes (identical constants to
    * Dedup.minhashPairsPortable: k=3, 24 hashes, 8 bands, buckets
    * capped at 1000 rows by `row_number ≤ cap` over doc id — the
    * deterministic viral-boilerplate guard, stated verbatim).
    */
  private def minhashPairsOracle(finalSelect: String): String =
    s"""WITH toks AS (
       | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
       |   x -> length(x) > 0) AS tk
       | FROM documents),
       |sh AS (
       | SELECT doc_id, unnest(CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
       |  ELSE list_distinct(list_transform(range(1, len(tk) - 1),
       |    i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) END) AS s
       | FROM toks),
       |sigs AS (
       | SELECT doc_id, [${(0 until 24).map(j =>
             s"min(('0x' || substr(md5('${j / 4}:' || s), ${1 + 8 * (j % 4)}, 8))::BIGINT)")
             .mkString(",\n  ")}] AS sig
       | FROM sh GROUP BY doc_id),
       |banded0 AS (
       | SELECT doc_id, sig, b,
       |  md5(array_to_string(sig[b*3+1:b*3+3], ',')) AS bkey
       | FROM sigs CROSS JOIN (SELECT unnest(range(0, 8)) AS b)),
       |banded AS (
       | SELECT doc_id, sig, b, bkey FROM (
       |  SELECT *, row_number() OVER (PARTITION BY b, bkey
       |    ORDER BY doc_id) AS rn
       |  FROM banded0)
       | WHERE rn <= 1000),
       |pairs_est AS (
       | SELECT id_a, id_b,
       |  round(CAST(list_sum(list_transform(range(1, 25),
       |    i -> CASE WHEN sa[i] = sb[i] THEN 1 ELSE 0 END)) AS double) / 24, 4)
       |   AS est_jaccard
       | FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    a.sig AS sa, b.sig AS sb
       |   FROM banded a JOIN banded b
       |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id))
       |$finalSelect""".stripMargin

  /** Shared CTE for the portable hyperplane-LSH oracles: per-vector
    * per-table bucket signatures (plane component = md5-derived double,
    * projection = sequential fold — bit-for-bit the engine's
    * computation, graft.plans.LshBucket).
    */
  private def lshSigsCte(bits: Int, tables: Int): String =
    s"""WITH v AS (SELECT vec_id AS id, embedding AS vec, len(embedding) AS d
       |  FROM embeddings),
       |sigs AS (
       | SELECT id, vec, t,
       |  CAST(list_sum(list_transform(range(0, $bits), p ->
       |    CASE WHEN list_reduce(list_transform(range(1, d + 1), j ->
       |        vec[j] * (('0x' || substr(md5('hp:' || CAST(t AS varchar) || ':' ||
       |          CAST(p AS varchar) || ':' || CAST(j - 1 AS varchar)), 1, 8))::BIGINT
       |          / 4294967296.0 - 0.5)),
       |      (a, b) -> a + b) >= 0 THEN 1 << p ELSE 0 END)) AS BIGINT) AS bucket
       | FROM v CROSS JOIN (SELECT unnest(range(0, $tables)) AS t))""".stripMargin

  /** Oracle for the portable IVF ANN (IvfIndex.trainPortable/
    * assignPortable/topKPortable): the full pipeline — fixed-point
    * quantization, deterministic md5 seed pick, `iters` unrolled Lloyd
    * rounds on exact integer arithmetic, final assign, nprobe probe,
    * float cosine rerank — stated as one SQL statement. All integer
    * steps are order-independent (exact), so cross-engine parity is
    * bitwise; the rerank cosine reuses the sequential-fold pattern the
    * LSH oracles proved.
    */
  private def ivfDist(dim: Int)(qv: String, cv: String): String =
    s"CAST(list_sum(list_transform(range(1, $dim + 1), " +
      s"j -> ($qv[j] - $cv[j]) * ($qv[j] - $cv[j]))) AS BIGINT)"

  /** Shared CTE prefix for the portable-IVF oracles (q_ann_ivf,
    * q_semdedup): quantize → seed → `iters` unrolled Lloyd rounds →
    * final assignment, ending in an `af(id, vec, cid)` relation.
    * Identical constants to IvfIndex.trainPortable/assignPortable.
    */
  private def ivfAssignCte(k: Int, dim: Int, iters: Int): String = {
    val dist = ivfDist(dim) _
    def lloyd(prev: String, out: String) =
      s"""a_$out AS (
         | SELECT id, qv, cid FROM (
         |  SELECT v.id, v.qv, c.cid, row_number() OVER (PARTITION BY v.id
         |    ORDER BY ${dist("v.qv", "c.cvec")} ASC, c.cid ASC) AS rn
         |  FROM v CROSS JOIN $prev c) WHERE rn = 1),
         |m_$out AS (
         | SELECT cid, j, CAST(floor(CAST(sum(qv[j]) AS double) / count(*))
         |   AS BIGINT) AS m
         | FROM a_$out CROSS JOIN (SELECT unnest(range(1, $dim + 1)) AS j)
         | GROUP BY cid, j),
         |$out AS (
         | SELECT s.cid, coalesce(g.cvec, s.cvec) AS cvec
         | FROM $prev s LEFT JOIN (SELECT cid, list(m ORDER BY j) AS cvec
         |   FROM m_$out GROUP BY cid) g USING (cid))""".stripMargin
    val rounds = (1 to iters).map(i => lloyd(s"c${i - 1}", s"c$i")).mkString(",\n")
    val cf = s"c$iters"
    s"""WITH v AS (SELECT vec_id AS id, embedding AS vec,
       |  list_transform(embedding, x -> CAST(floor(x * 10000.0 + 0.5) AS BIGINT)) AS qv
       | FROM embeddings),
       |c0 AS (SELECT rn - 1 AS cid, qv AS cvec FROM (
       |  SELECT qv, row_number() OVER (ORDER BY
       |    ('0x' || substr(md5('seed:' || CAST(id AS varchar)), 1, 8))::BIGINT ASC,
       |    id ASC) AS rn
       |  FROM v) WHERE rn <= $k),
       |$rounds,
       |af AS (
       | SELECT id, vec, cid FROM (
       |  SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
       |    ORDER BY ${dist("v.qv", "c.cvec")} ASC, c.cid ASC) AS rn
       |  FROM v CROSS JOIN $cf c) WHERE rn = 1)""".stripMargin
  }

  private def ivfOracle(k: Int, dim: Int, iters: Int, nprobe: Int,
                        topk: Int): String = {
    val dist = ivfDist(dim) _
    val cf = s"c$iters"
    ivfAssignCte(k, dim, iters) +
    s""",
       |probes AS (
       | SELECT id AS query_id, vec AS qvec, cid AS cluster FROM (
       |  SELECT v.id, v.vec, c.cid, row_number() OVER (PARTITION BY v.id
       |    ORDER BY ${dist("v.qv", "c.cvec")} ASC, c.cid ASC) AS rn
       |  FROM v CROSS JOIN $cf c WHERE v.id < 30) WHERE rn <= $nprobe),
       |scored AS (
       | SELECT p.query_id, a.id AS neighbor_id,
       |  CASE WHEN list_dot_product(p.qvec, p.qvec) = 0
       |    OR list_dot_product(a.vec, a.vec) = 0 THEN 0.0
       |   ELSE list_dot_product(p.qvec, a.vec) /
       |    (sqrt(list_dot_product(p.qvec, p.qvec)) *
       |     sqrt(list_dot_product(a.vec, a.vec))) END AS cosine
       | FROM probes p JOIN af a ON a.cid = p.cluster AND a.id <> p.query_id)
       |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank FROM (
       | SELECT *, row_number() OVER (PARTITION BY query_id
       |   ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
       |WHERE rank <= $topk""".stripMargin
  }

  /** SemDedup oracle: the shared IVF assignment CTE, then within-
    * cluster lower-id domination at cosine ≥ tau (identical constants
    * to Similarity.semDedup; the cosine is the sequential-fold float
    * both engines compute bit-identically).
    */
  private def semDedupOracle(k: Int, dim: Int, iters: Int,
                             tau: Double): String =
    ivfAssignCte(k, dim, iters) +
    s""",
       |dropped AS (
       | SELECT DISTINCT b.id AS id_b
       | FROM af a JOIN af b ON a.cid = b.cid AND a.id < b.id
       | WHERE (CASE WHEN list_dot_product(a.vec, a.vec) = 0
       |    OR list_dot_product(b.vec, b.vec) = 0 THEN 0.0
       |   ELSE list_dot_product(a.vec, b.vec) /
       |    (sqrt(list_dot_product(a.vec, a.vec)) *
       |     sqrt(list_dot_product(b.vec, b.vec))) END) >= $tau)
       |SELECT af.id AS vec_id, CAST(af.cid AS int) AS cluster,
       | (d.id_b IS NULL) AS kept
       |FROM af LEFT JOIN dropped d ON af.id = d.id_b""".stripMargin

  /** DuckDB oracles (ANSI SQL over the same parquet tables). Keys
    * absent here get the driver's weaker rows-only check — that set is
    * exactly the operators whose semantics live in engine code (LSH
    * bucketing, winnowing, heuristic profiles, stubbed media), each
    * pinned by its own unit test instead.
    */
  def oracleSql: Map[String, String] = Map(
    "q_metrics_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_items,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "q_daily_rollup" ->
      """SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
        | count(*) AS n_events, round(sum(value), 4) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_window_agg" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
        | event_type, count(*) AS n_events
        |FROM events GROUP BY 1, 2""".stripMargin,
    "q_asof_latest" ->
      """SELECT user_id, event_id AS latest_event_id, event_type AS latest_type
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |  ORDER BY ts DESC, event_id DESC) AS rn FROM events) WHERE rn = 1""".stripMargin,
    "q_groupwise_max" ->
      """SELECT event_type, event_id AS max_event_id, round(value, 4) AS max_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY event_type
        |  ORDER BY value DESC, event_id ASC) AS rn FROM events) WHERE rn = 1""".stripMargin,
    "q_multiway_join_case" ->
      """SELECT r_name,
        | round(sum((CASE WHEN l_returnflag = 'R' THEN -1.0
        |   WHEN l_returnflag = 'A' THEN 1.0 ELSE 0.5 END) * l_extendedprice), 2)
        |   AS weighted_rev,
        | count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1""".stripMargin,
    "q_semi_join" ->
      """SELECT p_partkey, p_name FROM part
        |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000)""".stripMargin,
    "q_version_chain" ->
      """SELECT event_id, user_id, event_type, version_number,
        | version_number = max(version_number)
        |   OVER (PARTITION BY user_id, event_type) AS is_latest
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
        |  ORDER BY ts ASC, event_id ASC) AS version_number FROM events)""".stripMargin,
    "q_rules_lookup" ->
      """SELECT o_orderkey, coalesce(action, 'none') AS action
        |FROM orders LEFT JOIN (VALUES
        |  ('1-URGENT', 'escalate'), ('2-HIGH', 'escalate'),
        |  ('3-MEDIUM', 'queue'), ('4-NOT SPECIFIED', 'ignore'))
        |  AS rules(rule_priority, action)
        | ON o_orderpriority = rule_priority""".stripMargin,
    "q_config_merge" ->
      """SELECT event_id,
        | coalesce(json_extract_string(props, '$.k'), '0') AS cfg_k,
        | coalesce(json_extract_string(props, '$.missing'), 'fallback') AS cfg_missing
        |FROM events""".stripMargin,
    "q_topk_per_group" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price, rnk
        |FROM (SELECT *, row_number() OVER (PARTITION BY o_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey ASC) AS rnk FROM orders)
        |WHERE rnk <= 3""".stripMargin,
    "q_politeness_pop" ->
      """SELECT source, doc_id, n_chars
        |FROM (SELECT *, row_number() OVER (PARTITION BY source
        |  ORDER BY n_chars DESC, doc_id ASC) AS rnk FROM documents)
        |WHERE rnk <= 2""".stripMargin,
    "q_priority_score" ->
      """SELECT o_orderkey,
        | CAST(floor(96 / ((o_orderkey % 5) + 1)) + 1 AS int) AS priority
        |FROM orders""".stripMargin,
    "q_watermark_filter" ->
      """SELECT event_type, count(*) AS n_after,
        | CAST(floor(max(epoch(ts))) AS bigint) AS max_epoch
        |FROM events WHERE ts > TIMESTAMP '2024-01-20 12:00:00'
        |GROUP BY 1""".stripMargin,
    "q_mime_whitelist" ->
      """SELECT event_type, count(*) AS n_events FROM events
        |WHERE event_type IN ('click', 'view', 'purchase') GROUP BY 1""".stripMargin,
    "q_depth_gate" ->
      """SELECT l_returnflag, count(*) AS n_rows FROM lineitem
        |WHERE l_linenumber <= 3 GROUP BY 1""".stripMargin,
    "q_regex_filter" ->
      """SELECT lang, count(*) AS n_docs FROM documents
        |WHERE regexp_matches(text, 'spark.*join') GROUP BY 1""".stripMargin,
    "q_exclusion_filter" ->
      """SELECT source, count(*) AS n_kept FROM documents
        |WHERE NOT regexp_matches(text, '(^|[^A-Za-z0-9_])(vector|stream)([^A-Za-z0-9_]|$)')
        |GROUP BY 1""".stripMargin,
    "q_essential_fields" ->
      """SELECT doc_id, substr(text, 1, 40) AS title, length(text) AS data_len
        |FROM documents WHERE length(trim(text)) > 0""".stripMargin,
    "q_eav_typing" ->
      """WITH eav AS (
        | SELECT l_orderkey, l_linenumber, 'ei_quantity' AS field_key,
        |   CAST(l_quantity AS varchar) AS field_value FROM lineitem WHERE l_orderkey <= 100
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'ef_price',
        |   CAST(round(l_extendedprice, 2) AS varchar) FROM lineitem WHERE l_orderkey <= 100
        | UNION ALL
        | SELECT l_orderkey, l_linenumber, 'et_flag', l_returnflag
        |   FROM lineitem WHERE l_orderkey <= 100)
        |SELECT *, CASE WHEN field_key LIKE 'ei_%' THEN 'integer'
        |  WHEN field_key LIKE 'ef_%' THEN 'float' ELSE 'text' END AS field_type
        |FROM eav""".stripMargin,
    "q_url_canonicalize" ->
      """SELECT doc_id, 'http://' || source || '.example.com/a/p/' || doc_id
        | || '?id=' || doc_id AS canonical_url
        |FROM documents""".stripMargin,
    "q_extract_text" ->
      """SELECT doc_id,
        | CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 5
        |   AND length(trim(text)) >= 2
        |  THEN trim(text) ELSE '' END AS extracted
        |FROM documents""".stripMargin,
    "q_extract_links" ->
      """SELECT doc_id, 'http://' || source || '.test/p/' || doc_id AS out_url
        | FROM documents
        |UNION ALL
        |SELECT doc_id, 'http://other.com/q?z=' || doc_id AS out_url
        | FROM documents""".stripMargin,
    "q_content_hash" ->
      """SELECT doc_id,
        | md5(CASE WHEN ('doc-' || doc_id) < text
        |   THEN ('doc-' || doc_id) || text ELSE text || ('doc-' || doc_id) END)
        |  AS content_hash
        |FROM documents""".stripMargin,
    "q_keyword_filter" ->
      """SELECT doc_id, lang FROM documents
        |WHERE list_contains(regexp_split_to_array(lower(text), '[^a-z0-9_'']+'), 'spark')
        | AND (list_contains(regexp_split_to_array(lower(text), '[^a-z0-9_'']+'), 'join')
        |  OR list_contains(regexp_split_to_array(lower(text), '[^a-z0-9_'']+'), 'merge'))""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0
        | ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |FROM documents""".stripMargin,
    "q_sessionize" ->
      graft.streaming.Sessionize.batchSessionsOracleSql(21600L),
    // streaming URL dedup: the expected emission set of the staged
    // micro-batch replay, stated arithmetically (batch1 evens + batch2
    // odds + the watermark-advance key + batch4 post-expiry re-emits)
    "q_stream_dedup" ->
      """SELECT doc_id AS url_hash, 1000 + doc_id % 997 AS sec
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT doc_id, 3000 + doc_id % 997 FROM documents WHERE doc_id % 2 = 1
        |UNION ALL
        |SELECT -1, 10000000
        |UNION ALL
        |SELECT doc_id, 10000010 + doc_id % 997
        |FROM documents WHERE doc_id % 2 = 0""".stripMargin,
    "q_contamination" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_]+'), x -> length(x) > 0) AS tk
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, len(tk) - 8 + 2),
        |   i -> md5(array_to_string(tk[i:i+7], ' '))))) AS gk
        | FROM toks WHERE len(tk) >= 8),
        |bench AS (SELECT doc_id AS bench_id, gk FROM grams WHERE doc_id % 20 = 0)
        |SELECT d.doc_id, count(DISTINCT d.gk) AS shared_grams,
        | count(DISTINCT b.bench_id) AS bench_docs_hit
        |FROM grams d JOIN bench b USING (gk)
        |WHERE d.doc_id <> b.bench_id
        |GROUP BY 1""".stripMargin,
    "q_top_terms" ->
      """WITH toks AS (
        | SELECT doc_id, unnest(list_filter(
        |   regexp_split_to_array(lower(text), '[^a-z0-9_'']+'),
        |   x -> length(x) > 0)) AS term
        | FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
        |ranked AS (
        | SELECT t.doc_id, t.term,
        |  t.tf * (n.n_docs - d.doc_freq + 1) AS score,
        |  row_number() OVER (PARTITION BY t.doc_id
        |    ORDER BY t.tf * (n.n_docs - d.doc_freq + 1) DESC, t.term ASC) AS rank
        | FROM tf t JOIN dfreq d USING (term) CROSS JOIN n)
        |SELECT doc_id, term, CAST(score AS BIGINT) AS score,
        | CAST(rank AS int) AS rank
        |FROM ranked WHERE rank <= 3""".stripMargin,
    "q_repetition_profile" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_]+'), x -> length(x) > 0) AS tk
        | FROM documents),
        |bg AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bg
        | FROM toks WHERE len(tk) >= 2),
        |bstats AS (
        | SELECT doc_id, max(c) AS top_c, sum(c) AS tot
        | FROM (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2)
        | GROUP BY 1),
        |ln AS (
        | SELECT doc_id, unnest(list_transform(range(0, len(tk) // 5),
        |   i -> array_to_string(tk[i*5+1:i*5+5], ' '))) AS line
        | FROM toks WHERE len(tk) >= 5),
        |lstats AS (
        | SELECT doc_id, count(*) AS n_lines,
        |  count(*) - count(DISTINCT line) AS n_dup FROM ln GROUP BY 1)
        |SELECT t.doc_id,
        | CAST(coalesce(b.tot, 0) AS bigint) AS total_bigrams,
        | CAST(coalesce(b.top_c, 0) AS bigint) AS top_bigram_count,
        | CASE WHEN coalesce(b.tot, 0) = 0 THEN 0.0
        |  ELSE round(b.top_c * 1.0 / b.tot, 4) END AS top_bigram_frac,
        | CAST(coalesce(l.n_lines, 0) AS bigint) AS n_lines,
        | CASE WHEN coalesce(l.n_lines, 0) = 0 THEN 0.0
        |  ELSE round(l.n_dup * 1.0 / l.n_lines, 4) END AS dup_line_frac
        |FROM (SELECT DISTINCT doc_id FROM documents) t
        |LEFT JOIN bstats b USING (doc_id)
        |LEFT JOIN lstats l USING (doc_id)""".stripMargin,
    "q_pii_scrub" ->
      """WITH synth AS (
        | SELECT doc_id,
        |  text || ' contact ' || source || '@example.com from 10.0.'
        |   || (doc_id % 256) || '.77'
        |   || CASE WHEN doc_id % 3 = 0 THEN ' cc admin@test.org x@y'
        |      ELSE '' END AS s
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(s,
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS int)
        |  AS n_emails,
        | CAST(len(regexp_extract_all(s,
        |   '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS int) AS n_ips,
        | md5(regexp_replace(regexp_replace(s,
        |   '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |   '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS scrub_hash
        |FROM synth""".stripMargin,
    "q_length_deciles" ->
      """SELECT lang, CAST(decile AS int) AS decile, count(*) AS n_docs,
        | min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM (SELECT lang, n_chars,
        |  ntile(10) OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
        |   AS decile
        | FROM documents)
        |GROUP BY 1, 2""".stripMargin,
    "q_gopher_rules" ->
      """WITH synth AS (
        | SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || '- bullet item ' ||
        |   CAST(doc_id % 5 AS varchar) || chr(10) || '* second bullet'
        |   ELSE '' END ||
        |  CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'to be continued...'
        |   ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN chr(10) || '## heading # with # symbols #'
        |   ELSE '' END AS s
        | FROM documents),
        |tok AS (
        | SELECT doc_id, s,
        |  list_filter(regexp_split_to_array(trim(s), '\s+'),
        |   x -> length(x) > 0) AS tk,
        |  string_split(s, chr(10)) AS lines
        | FROM synth),
        |sig AS (
        | SELECT doc_id, len(tk) AS n_words,
        |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
        |   round(CAST(coalesce(list_sum(list_transform(tk, t -> length(t))), 0)
        |    AS double) / len(tk), 4) END AS mean_word_len,
        |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
        |   round((len(regexp_extract_all(s, '#')) +
        |    len(regexp_extract_all(s, '\.\.\.')) +
        |    len(regexp_extract_all(s, '…'))) * 1.0 / len(tk), 4)
        |   END AS symbol_ratio,
        |  round(len(list_filter(lines, l -> regexp_matches(l, '^\s*[-*•]')))
        |   * 1.0 / len(lines), 4) AS bullet_frac,
        |  round(len(list_filter(lines,
        |    l -> regexp_matches(l, '(\.\.\.|…)\s*$')))
        |   * 1.0 / len(lines), 4) AS ellipsis_frac,
        |  CASE WHEN len(tk) = 0 THEN 0.0 ELSE
        |   round(len(list_filter(tk, t -> regexp_matches(t, '[a-zA-Z]')))
        |    * 1.0 / len(tk), 4) END AS alpha_word_frac,
        |  len(list_filter(tk, t -> lower(t) IN
        |   ('the','be','to','of','and','that','have','with'))) AS n_stop_hits
        | FROM tok)
        |SELECT doc_id, CAST(n_words AS int) AS n_words, mean_word_len,
        | symbol_ratio, bullet_frac, ellipsis_frac, alpha_word_frac,
        | CAST(n_stop_hits AS int) AS n_stop_hits,
        | (n_words BETWEEN 50 AND 100000
        |  AND mean_word_len BETWEEN 3.0 AND 10.0
        |  AND symbol_ratio < 0.1 AND bullet_frac < 0.9
        |  AND ellipsis_frac < 0.3 AND alpha_word_frac > 0.8
        |  AND n_stop_hits >= 2) AS gopher_pass
        |FROM sig""".stripMargin,
    "q_hash_classifier" ->
      """WITH tok AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(text), '[^a-z0-9_'']+'),
        |   x -> length(x) > 0) AS tk
        | FROM documents),
        |sc AS (
        | SELECT doc_id,
        |  coalesce(list_sum(list_transform(tk,
        |    t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 1001 - 500)), 0)
        |  + CASE WHEN len(tk) < 2 THEN 0 ELSE
        |     coalesce(list_sum(list_transform(range(1, len(tk)),
        |      i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 8))::BIGINT
        |       % 1001 - 500)), 0) END AS score
        | FROM tok)
        |SELECT doc_id, CAST(score AS bigint) AS score, score > 0 AS label
        |FROM sc""".stripMargin,
    "q_chunk_tokens" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(text), '[^a-z0-9_'']+'),
        |   x -> length(x) > 0) AS tk
        | FROM documents),
        |c AS (
        | SELECT doc_id, tk,
        |  unnest(range(0, (len(tk) - 1) // 48 + 1)) AS chunk_id
        | FROM toks WHERE len(tk) > 0)
        |SELECT doc_id, CAST(chunk_id AS int) AS chunk_id,
        | CAST(least(chunk_id * 48 + 64, len(tk)) - chunk_id * 48 AS int)
        |  AS n_tokens,
        | md5(array_to_string(
        |  tk[chunk_id * 48 + 1 : least(chunk_id * 48 + 64, len(tk))], ' '))
        |  AS chunk_hash
        |FROM c
        |WHERE least(chunk_id * 48 + 64, len(tk)) - chunk_id * 48 >= 8""".stripMargin,
    "q_sitemap" ->
      """SELECT 'http://' || source || '.test/sitemap.xml' AS sitemap_url,
        | 'http://' || source || '.test/d/' || CAST(doc_id AS varchar) AS url,
        | CAST(datediff('day', DATE '1970-01-01',
        |   DATE '2024-01-01' + CAST(doc_id % 365 AS int)) AS bigint)
        |  AS lastmod_days,
        | CAST((doc_id % 10 + 1) * 1000 AS int) AS priority_bp
        |FROM documents""".stripMargin,
    "q_stratified_sample" ->
      """SELECT doc_id, lang,
        | CAST(CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 5000
        |  WHEN 'es' THEN 7500 ELSE 10000 END AS int) AS rate_bp,
        | (('0x' || substr(md5('samp:' || CAST(doc_id AS varchar)), 1, 8))::BIGINT
        |  % 10000) < CASE lang WHEN 'en' THEN 2500 WHEN 'de' THEN 5000
        |   WHEN 'es' THEN 7500 ELSE 10000 END AS kept
        |FROM documents""".stripMargin,
    "q_domain_gate" ->
      """WITH tok AS (
        | SELECT doc_id, source, list_filter(
        |   regexp_split_to_array(lower(text), '[^a-z0-9_'']+'),
        |   x -> length(x) > 0) AS tk
        | FROM documents),
        |sc AS (
        | SELECT doc_id, source,
        |  coalesce(list_sum(list_transform(tk,
        |    t -> ('0x' || substr(md5(t), 1, 8))::BIGINT % 1001 - 500)), 0)
        |  + CASE WHEN len(tk) < 2 THEN 0 ELSE
        |     coalesce(list_sum(list_transform(range(1, len(tk)),
        |      i -> ('0x' || substr(md5(tk[i] || ' ' || tk[i+1]), 1, 8))::BIGINT
        |       % 1001 - 500)), 0) END AS doc_score
        | FROM tok),
        |verdict AS (
        | SELECT source, CAST(sum(doc_score) AS bigint) AS source_score_sum,
        |  count(*) AS source_n_docs,
        |  sum(doc_score) < 0 AS source_blocked
        | FROM sc GROUP BY source)
        |SELECT s.doc_id, s.source, v.source_score_sum, v.source_n_docs,
        | v.source_blocked
        |FROM sc s JOIN verdict v USING (source)""".stripMargin,
    "q_token_stats" ->
      """SELECT lang, CAST(sum(n) AS bigint) AS total_tokens,
        | round(avg(n), 4) AS avg_tokens
        |FROM (SELECT lang, CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n FROM documents)
        |GROUP BY 1""".stripMargin,
    "q_quality_score" ->
      """SELECT doc_id, least(length(trim(text)), 500) AS len_score,
        | CASE WHEN length(trim(text)) = 0 THEN 0
        |  ELSE (length(regexp_replace(trim(text), '[^a-zA-Z]', '', 'g')) * 10000)
        |    // length(trim(text)) END AS alpha_bp
        |FROM documents""".stripMargin,
    "q_stopword_ratio" ->
      """SELECT doc_id,
        | round(CASE WHEN len(w) = 0 THEN 0.0 ELSE
        |   len(list_filter(w, x -> x IN ('the','a','and','of','to','in'))) * 1.0
        |     / len(w) END, 4) AS stop_ratio
        |FROM (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_'']+'),
        |    x -> length(x) > 0) AS w
        | FROM documents)""".stripMargin,
    "q_dedup_exact" ->
      """SELECT count(*) AS n_groups, CAST(sum(group_size) AS bigint) AS n_docs,
        | CAST(sum(CASE WHEN group_size > 1 THEN group_size - 1 ELSE 0 END) AS bigint)
        |   AS n_redundant
        |FROM (SELECT md5(trim(lower(text))) AS k, count(*) AS group_size
        | FROM documents GROUP BY 1)""".stripMargin,
    "q_dedup_exact_keep" ->
      """SELECT min(doc_id) AS doc_id FROM documents
        |GROUP BY md5(trim(lower(text)))""".stripMargin,
    "q_ngram_jaccard" ->
      """WITH sets AS (SELECT doc_id,
        |  list_sort(list_distinct(list_filter(
        |    regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |    x -> length(x) > 0))) AS wset
        | FROM documents)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | round(len(list_intersect(a.wset, b.wset)) * 1.0 /
        |   len(list_distinct(list_concat(a.wset, b.wset))), 4) AS jaccard
        |FROM sets a JOIN sets b ON b.doc_id = a.doc_id + 1""".stripMargin,
    // Asymmetric containment: same gram derivation as the MinHash
    // oracle prefix (k=3 word grams, sub-k whole-doc fallback, md5
    // keys); counts and shares in truncating integer milli.
    "q_containment_pairs" ->
      """WITH base AS (
        | SELECT doc_id, text FROM documents
        | UNION ALL
        | SELECT doc_id + 1000000, substr(text, 1, length(text) // 2)
        | FROM documents WHERE doc_id % 4 = 0),
        |toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_]+'), x -> length(x) > 0) AS tk
        | FROM base),
        |grams AS (
        | SELECT DISTINCT doc_id AS cid, md5(g) AS g FROM (
        |  SELECT doc_id, unnest(CASE WHEN len(tk) < 3
        |    THEN [array_to_string(tk, ' ')]
        |    ELSE list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]) END) AS g
        |  FROM toks)),
        |counts AS (SELECT cid, count(*) AS n FROM grams GROUP BY 1),
        |pairs AS (
        | SELECT doc_id + 1000000 AS id_a, doc_id AS id_b
        | FROM documents WHERE doc_id % 4 = 0
        | UNION ALL
        | SELECT doc_id AS id_a, doc_id + 1 AS id_b FROM documents),
        |shared AS (
        | SELECT p.id_a, p.id_b, count(*) AS n_shared
        | FROM pairs p
        | JOIN grams ga ON ga.cid = p.id_a
        | JOIN grams gb ON gb.cid = p.id_b AND gb.g = ga.g
        | GROUP BY 1, 2)
        |SELECT p.id_a, p.id_b, ca.n AS n_a, cb.n AS n_b,
        | coalesce(s.n_shared, 0) AS n_shared,
        | (1000 * coalesce(s.n_shared, 0)) // ca.n AS cont_a_milli,
        | (1000 * coalesce(s.n_shared, 0)) // cb.n AS cont_b_milli
        |FROM pairs p
        |JOIN counts ca ON ca.cid = p.id_a
        |JOIN counts cb ON cb.cid = p.id_b
        |LEFT JOIN shared s ON s.id_a = p.id_a AND s.id_b = p.id_b""".stripMargin,
    // Type-token ratio: same tokenization as the KN/contamination
    // oracles; truncating integer milli.
    "q_lexical_diversity" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_]+'), x -> length(x) > 0) AS tk
        | FROM documents)
        |SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(tk)) AS BIGINT) AS n_types,
        | CAST(CASE WHEN len(tk) = 0 THEN 0
        |  ELSE (1000 * len(list_distinct(tk))) // len(tk) END AS BIGINT)
        |  AS ttr_milli
        |FROM toks""".stripMargin,
    // Soft-404: phrase hit AND short body, planted every 13th doc.
    "q_soft404" ->
      """WITH d AS (
        | SELECT doc_id, CASE WHEN doc_id % 13 = 0
        |  THEN 'Page Not Found - the requested page does not exist'
        |  ELSE text END AS t
        | FROM documents)
        |SELECT doc_id,
        | regexp_matches(lower(t),
        |  'page not found|error 404|does not exist|no longer available')
        |  AS phrase_hit,
        | length(t) < 500 AS is_short,
        | (regexp_matches(lower(t),
        |   'page not found|error 404|does not exist|no longer available')
        |  AND length(t) < 500) AS soft404
        |FROM d""".stripMargin,
    // Corpus-mixture report: whitespace token counts (the
    // q_token_count form), bounded group dimension, integer-milli
    // shares of the dimension's own total.
    "q_corpus_mix" ->
      """WITH d AS (
        | SELECT lang, source,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        | FROM documents),
        |dims AS (
        | SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        | FROM d GROUP BY 1, 2)
        |SELECT lang, source, n_docs, n_tokens,
        | (1000 * n_tokens) //
        |   (SELECT CAST(sum(n_tokens) AS BIGINT) FROM dims)
        |  AS token_share_milli
        |FROM dims""".stripMargin,
    "q_paragraph_dedup" ->
      """WITH synth AS (
        | SELECT doc_id, text || chr(10) ||
        |  'standard site footer with terms of service privacy policy and contact details all rights reserved'
        |  || chr(10) || 'cohort banner ' || CAST(doc_id % 7 AS varchar) ||
        |  ' shared across one seventh of the corpus with enough characters to clear the dedup floor'
        |  AS text
        | FROM documents),
        |flat AS (
        | SELECT doc_id, pp.pos AS pos, pp.para AS para,
        |  length(trim(pp.para)) >= 40 AS elig
        | FROM (SELECT doc_id, unnest(list_transform(range(1, len(ps) + 1),
        |    i -> {'pos': i - 1, 'para': ps[i]})) AS pp
        |   FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM synth))),
        |keepf AS (
        | SELECT doc_id, pos, para,
        |  CASE WHEN NOT elig THEN true
        |   ELSE row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) = 1
        |  END AS keep
        | FROM flat)
        |SELECT doc_id, CAST(count(*) AS bigint) AS n_paras,
        | CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS bigint) AS n_dropped,
        | md5(coalesce(string_agg(para, chr(10) ORDER BY pos)
        |   FILTER (WHERE keep), '')) AS kept_hash
        |FROM keepf GROUP BY doc_id""".stripMargin,
    "q_line_dedup" ->
      """WITH synth AS (
        | SELECT doc_id, text || chr(10) ||
        |  'this site uses cookies to improve your experience accept to continue'
        |  || chr(10) || 'rare cohort line ' || CAST(doc_id % 200 AS varchar) ||
        |  ' appears in only a couple of documents at small scale factors'
        |  AS text
        | FROM documents),
        |flat AS (
        | SELECT doc_id, pp.pos AS pos, pp.line AS line,
        |  length(trim(pp.line)) >= 20 AS elig
        | FROM (SELECT doc_id, unnest(list_transform(range(1, len(ls) + 1),
        |    i -> {'pos': i - 1, 'line': ls[i]})) AS pp
        |   FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM synth))),
        |over_lines AS (
        | SELECT line FROM (
        |  SELECT line, count(DISTINCT doc_id) AS docf
        |  FROM flat WHERE elig GROUP BY 1)
        | WHERE docf >= 5),
        |verdict AS (
        | SELECT f.doc_id, f.pos, f.line,
        |  ((NOT f.elig) OR o.line IS NULL) AS keep
        | FROM flat f LEFT JOIN over_lines o ON f.line = o.line)
        |SELECT doc_id, CAST(count(*) AS bigint) AS n_lines,
        | CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS bigint) AS n_dropped,
        | md5(coalesce(string_agg(line, chr(10) ORDER BY pos)
        |   FILTER (WHERE keep), '')) AS kept_hash
        |FROM verdict GROUP BY doc_id""".stripMargin,
    // Exact-substring span scrub: same synthesis, same k=8 grams on
    // md5, same lag-window merged-interval arithmetic (fixed window
    // length makes the running interval-end max lag(pos)+k), same
    // NOT-EXISTS kept-token reconstruction.
    "q_dup_span_scrub" ->
      """WITH synth AS (
        | SELECT doc_id, text || ' ' ||
        |  CASE WHEN doc_id % 3 = 0
        |   THEN 'the quick brown fox jumps over the lazy dog while winter rains flood the valley '
        |   ELSE '' END ||
        |  'unique closing marker ' || CAST(doc_id AS varchar) AS text
        | FROM documents),
        |toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
        |   x -> length(x) > 0) AS tk
        | FROM synth),
        |grams0 AS (
        | SELECT doc_id, tk, unnest(range(0, len(tk) - 8 + 1)) AS pos
        | FROM toks WHERE len(tk) >= 8),
        |grams AS (
        | SELECT doc_id, pos, md5(array_to_string(tk[pos+1:pos+8], ' ')) AS h
        | FROM grams0),
        |dup AS (
        | SELECT h FROM grams GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |flagged AS (
        | SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (h)),
        |merged AS (
        | SELECT doc_id,
        |  CAST(sum(CASE WHEN lg IS NULL THEN 8 ELSE least(8, pos - lg) END) AS BIGINT) AS n_covered,
        |  CAST(sum(CASE WHEN lg IS NULL OR pos - lg > 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_spans
        | FROM (SELECT doc_id, pos, lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS lg
        |       FROM flagged)
        | GROUP BY doc_id),
        |tokpos AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tk) + 1),
        |   i -> {'tpos': i - 1, 'tok': tk[i]}), recursive := true)
        | FROM toks),
        |kept AS (
        | SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.tpos) AS kept_txt
        | FROM tokpos t
        | WHERE NOT EXISTS (SELECT 1 FROM flagged f
        |   WHERE f.doc_id = t.doc_id AND t.tpos >= f.pos AND t.tpos < f.pos + 8)
        | GROUP BY t.doc_id)
        |SELECT s.doc_id,
        | CAST(len(tk) AS BIGINT) AS n_tokens,
        | CAST(coalesce(m.n_spans, 0) AS BIGINT) AS n_spans,
        | CAST(coalesce(m.n_covered, 0) AS BIGINT) AS n_covered,
        | md5(coalesce(k.kept_txt, '')) AS kept_hash
        |FROM toks s LEFT JOIN merged m USING (doc_id)
        | LEFT JOIN kept k USING (doc_id)""".stripMargin,
    // PageRank: the same 3 damped iterations unrolled in SQL, all
    // integer division — ranks must match bit-exactly.
    "q_pagerank" ->
      """WITH v AS (SELECT doc_id FROM documents),
        |nn AS (SELECT max(doc_id) + 1 AS n FROM documents),
        |e0 AS (
        | SELECT doc_id AS src, (doc_id * 7 + 13 * j) % nn.n AS dst
        | FROM documents CROSS JOIN nn CROSS JOIN (SELECT unnest([1, 2, 3]) AS j)),
        |e AS (SELECT src, dst FROM e0 WHERE dst IN (SELECT doc_id FROM v)),
        |ed AS (
        | SELECT e.src, e.dst, d.outdeg
        | FROM e JOIN (SELECT src, CAST(count(*) AS BIGINT) AS outdeg
        |   FROM e GROUP BY 1) d USING (src)),
        |r0 AS (SELECT doc_id AS vv, CAST(1000000 AS BIGINT) AS pr FROM v),
        |s1 AS (SELECT ed.dst AS vv, sum(r0.pr // ed.outdeg) AS s
        |       FROM ed JOIN r0 ON r0.vv = ed.src GROUP BY 1),
        |r1 AS (SELECT v.doc_id AS vv,
        |        CAST(150000 + (850 * coalesce(s1.s, 0)) // 1000 AS BIGINT) AS pr
        |       FROM v LEFT JOIN s1 ON s1.vv = v.doc_id),
        |s2 AS (SELECT ed.dst AS vv, sum(r1.pr // ed.outdeg) AS s
        |       FROM ed JOIN r1 ON r1.vv = ed.src GROUP BY 1),
        |r2 AS (SELECT v.doc_id AS vv,
        |        CAST(150000 + (850 * coalesce(s2.s, 0)) // 1000 AS BIGINT) AS pr
        |       FROM v LEFT JOIN s2 ON s2.vv = v.doc_id),
        |s3 AS (SELECT ed.dst AS vv, sum(r2.pr // ed.outdeg) AS s
        |       FROM ed JOIN r2 ON r2.vv = ed.src GROUP BY 1),
        |r3 AS (SELECT v.doc_id AS vv,
        |        CAST(150000 + (850 * coalesce(s3.s, 0)) // 1000 AS BIGINT) AS pr
        |       FROM v LEFT JOIN s3 ON s3.vv = v.doc_id)
        |SELECT vv AS doc_id, pr AS rank_micro FROM r3""".stripMargin,
    // Connected components: the oracle computes them by an INDEPENDENT
    // algorithm (recursive-CTE reachability closure + min label) vs the
    // engine's pointer-halving label propagation.
    "q_components" ->
      """WITH RECURSIVE
        |v AS (SELECT doc_id FROM documents),
        |m AS (SELECT max(doc_id) AS m FROM documents),
        |e0 AS (
        | SELECT doc_id AS a, doc_id - doc_id % 7 AS b
        | FROM documents WHERE doc_id % 7 <> 0
        |  AND (doc_id - doc_id % 7) IN (SELECT doc_id FROM v)
        | UNION ALL
        | SELECT doc_id AS a, doc_id + 7 AS b
        | FROM documents CROSS JOIN m
        | WHERE doc_id % 21 = 0 AND doc_id + 7 <= m.m
        |  AND (doc_id + 7) IN (SELECT doc_id FROM v)),
        |e AS (SELECT a, b FROM e0 UNION SELECT b, a FROM e0),
        |reach(a, b) AS (
        | SELECT doc_id, doc_id FROM v
        | UNION
        | SELECT r.a, e.b FROM reach r JOIN e ON e.a = r.b)
        |SELECT a AS doc_id, min(b) AS component
        |FROM reach GROUP BY 1""".stripMargin,
    // BM25: identical fixed-point integer scoring stated in SQL.
    "q_bm25_rank" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_'']+'), x -> length(x) > 0) AS tk
        | FROM documents),
        |dl AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS dl FROM toks),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(dl) // count(*) AS BIGINT) AS avgdl FROM dl),
        |tf AS (
        | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        | FROM (SELECT doc_id, unnest(tk) AS term FROM toks)
        | WHERE term IN ('spark', 'join', 'merge')
        | GROUP BY 1, 2),
        |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |scored AS (
        | SELECT tf.doc_id,
        |  CAST(sum((s.n_docs - dfq.df + 1) *
        |    ((tf.tf * 2200000) // (tf.tf * 1000 +
        |      (1200 * (250 + (750 * dl.dl) // s.avgdl)) // 1000)))
        |   AS BIGINT) AS score_milli
        | FROM tf JOIN dfq USING (term) JOIN dl USING (doc_id)
        | CROSS JOIN stats s
        | GROUP BY 1)
        |SELECT doc_id, score_milli,
        | CAST(row_number() OVER (ORDER BY score_milli DESC, doc_id ASC) AS int)
        |  AS rank
        |FROM scored ORDER BY score_milli DESC, doc_id ASC LIMIT 10""".stripMargin,
    // Anchor rollup: the oracle states the extracted links arithmetically
    // (the Spark side goes through the real LinkExtractor path).
    "q_anchor_text" ->
      """WITH l AS (
        | SELECT 'http://hub.test/p/' || (doc_id % 100) AS url,
        |        'ref ' || (doc_id % 4) AS anchor
        | FROM documents
        | UNION ALL
        | SELECT 'http://hub.test/q/' || (doc_id % 50) AS url,
        |        'see also ' || (doc_id % 3) AS anchor
        | FROM documents),
        |ac AS (SELECT url, anchor, CAST(count(*) AS BIGINT) AS c
        |       FROM l GROUP BY 1, 2),
        |ranked AS (
        | SELECT url, anchor, c,
        |  row_number() OVER (PARTITION BY url ORDER BY c DESC, anchor ASC) AS rn,
        |  sum(c) OVER (PARTITION BY url) AS n_links,
        |  count(*) OVER (PARTITION BY url) AS n_anchors
        | FROM ac)
        |SELECT url, CAST(n_links AS BIGINT) AS n_links,
        | CAST(n_anchors AS BIGINT) AS n_anchors,
        | anchor AS top_anchor, c AS top_count
        |FROM ranked WHERE rn = 1""".stripMargin,
    // LM-familiarity: floor(log2(count)) stated exactly as
    // length(bin(count)) - 1 in both engines (no float log ulps).
    "q_lm_familiarity" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_'']+'), x -> length(x) > 0) AS tk
        | FROM documents),
        |bg AS (
        | SELECT doc_id, unnest(list_transform(range(1, len(tk)),
        |   i -> tk[i] || ' ' || tk[i+1])) AS bg
        | FROM toks WHERE len(tk) >= 2),
        |c AS (SELECT bg, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1),
        |pd AS (
        | SELECT bg.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
        |  CAST(sum(length(bin(c.c)) - 1) AS BIGINT) AS ilog_sum
        | FROM bg JOIN c USING (bg) GROUP BY 1)
        |SELECT d.doc_id,
        | coalesce(pd.n_bigrams, 0) AS n_bigrams,
        | coalesce(pd.ilog_sum, 0) AS ilog_sum,
        | coalesce((1000 * pd.ilog_sum) // pd.n_bigrams, 0) AS familiarity_milli
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
    // Kneser–Ney continuation counts: per-position (prev, word) pairs
    // via the same list_transform/range idiom as the contamination
    // oracle; count(DISTINCT prev) skips the leading null per doc.
    "q_kn_counts" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_]+'), x -> length(x) > 0) AS tk
        | FROM documents),
        |ex AS (
        | SELECT unnest(list_transform(range(1, len(tk) + 1),
        |   i -> {'w': tk[i],
        |         'prev': CASE WHEN i > 1 THEN tk[i-1] ELSE NULL END})) AS s
        | FROM toks)
        |SELECT s.w AS word, count(*) AS c_total,
        | count(DISTINCT s.prev) AS n_cont
        |FROM ex GROUP BY 1""".stripMargin,
    // DSIR importance weights: same hashed uni+bigram feature space,
    // same add-one ilog2 arithmetic, same truncating integer DIV.
    "q_dsir_weights" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_'']+'), x -> length(x) > 0) AS tk,
        |  lang = 'en' AS is_target
        | FROM documents),
        |feats AS (
        | SELECT doc_id, is_target,
        |  ('0x' || substr(md5(g), 1, 8))::BIGINT % 65536 AS f
        | FROM (SELECT doc_id, is_target,
        |    unnest(tk || CASE WHEN len(tk) >= 2
        |      THEN list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
        |      ELSE CAST([] AS VARCHAR[]) END) AS g
        |   FROM toks)),
        |raw AS (SELECT f, CAST(count(*) AS BIGINT) AS c_r FROM feats GROUP BY 1),
        |tgt AS (SELECT f, CAST(count(*) AS BIGINT) AS c_t
        |        FROM feats WHERE is_target GROUP BY 1),
        |pd AS (
        | SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
        |  CAST(sum((length(bin(coalesce(c_t, 0) + 1)) - 1)
        |         - (length(bin(c_r + 1)) - 1)) AS BIGINT) AS weight_sum
        | FROM feats JOIN raw USING (f) LEFT JOIN tgt USING (f)
        | GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(coalesce(pd.n_feats, 0) AS BIGINT) AS n_feats,
        | CAST(coalesce(pd.weight_sum, 0) AS BIGINT) AS weight_sum,
        | CAST(coalesce((1000 * pd.weight_sum) // pd.n_feats, 0) AS BIGINT)
        |   AS weight_milli
        |FROM documents d LEFT JOIN pd USING (doc_id)""".stripMargin,
    // Token-budget selection: the oracle is the INDEPENDENT single
    // global-cumsum formulation of the same greedy prefix.
    "q_token_budget" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |   AS n_tokens,
        |  CAST((doc_id * 37) % 100 AS BIGINT) AS score
        | FROM documents),
        |b AS (SELECT (sum(n_tokens) * 45) // 100 AS budget FROM base),
        |r AS (
        | SELECT doc_id, score, n_tokens,
        |  sum(n_tokens) OVER (ORDER BY score DESC, doc_id ASC
        |    ROWS UNBOUNDED PRECEDING) AS run
        | FROM base)
        |SELECT doc_id, score, n_tokens
        |FROM r CROSS JOIN b WHERE run <= b.budget""".stripMargin,
    // Per-group token-budget mixing: the oracle is the independent
    // per-group single-cumsum formulation of the same greedy prefix,
    // budgets stated per language.
    "q_lang_mix" ->
      """WITH base AS (
        | SELECT doc_id, lang,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |   AS n_tokens,
        |  CAST((doc_id * 37) % 100 AS BIGINT) AS score
        | FROM documents),
        |b AS (
        | SELECT lang,
        |  (sum(n_tokens) * (CASE WHEN lang = 'en' THEN 30 ELSE 60 END)) // 100
        |   AS budget
        | FROM base GROUP BY 1),
        |r AS (
        | SELECT doc_id, lang, score, n_tokens,
        |  sum(n_tokens) OVER (PARTITION BY lang ORDER BY score DESC, doc_id ASC
        |    ROWS UNBOUNDED PRECEDING) AS run
        | FROM base)
        |SELECT doc_id, lang, score, n_tokens
        |FROM r JOIN b USING (lang) WHERE run <= b.budget""".stripMargin,
    // Sequence packing: the oracle states the engine's two-level
    // cumulative offsets as ONE global window cumsum over the same
    // deterministic (bucket, doc_id) order.
    "q_seq_pack" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |   AS n_tokens,
        |  ('0x' || substr(md5('pack:' || CAST(doc_id AS varchar)), 1, 8))::BIGINT
        |   % 64 AS bucket
        | FROM documents),
        |r AS (
        | SELECT doc_id, n_tokens, bucket,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY bucket, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS tok_offset
        | FROM base WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, CAST(bucket AS BIGINT) AS bucket, tok_offset,
        | tok_offset // 512 AS seq_first,
        | (tok_offset + n_tokens - 1) // 512 AS seq_last,
        | ((tok_offset + n_tokens - 1) // 512) - (tok_offset // 512) + 1
        |  AS n_seqs
        |FROM r""".stripMargin,
    // Sequence slices: the oracle extends its independent
    // global-cumsum q_seq_pack offsets with the same slice arithmetic.
    "q_seq_slices" ->
      """WITH base AS (
        | SELECT doc_id,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |   ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
        |   AS n_tokens,
        |  ('0x' || substr(md5('pack:' || CAST(doc_id AS varchar)), 1, 8))::BIGINT
        |   % 64 AS bucket
        | FROM documents),
        |r AS (
        | SELECT doc_id, n_tokens,
        |  CAST(coalesce(sum(n_tokens) OVER (ORDER BY bucket, doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
        |   AS tok_offset
        | FROM base WHERE n_tokens > 0),
        |e AS (
        | SELECT doc_id, n_tokens, tok_offset,
        |  unnest(range(tok_offset // 512,
        |    (tok_offset + n_tokens - 1) // 512 + 1)) AS seq_id
        | FROM r)
        |SELECT doc_id, CAST(seq_id AS BIGINT) AS seq_id,
        | CAST(greatest(0, tok_offset - seq_id * 512) AS BIGINT) AS seq_off,
        | CAST(greatest(0, seq_id * 512 - tok_offset) AS BIGINT) AS slice_start,
        | CAST(least(tok_offset + n_tokens, (seq_id + 1) * 512)
        |   - greatest(tok_offset, seq_id * 512) AS BIGINT) AS slice_len
        |FROM e""".stripMargin,
    // Gradated decontamination: overlap fraction over the same gram
    // keys as q_contamination, thresholded — integer-exact milli.
    "q_contam_frac" ->
      """WITH toks AS (
        | SELECT doc_id, list_filter(regexp_split_to_array(lower(text),
        |   '[^a-z0-9_]+'), x -> length(x) > 0) AS tk
        | FROM documents),
        |grams AS (
        | SELECT doc_id, unnest(list_distinct(list_transform(
        |   range(1, len(tk) - 8 + 2),
        |   i -> md5(array_to_string(tk[i:i+7], ' '))))) AS gk
        | FROM toks WHERE len(tk) >= 8),
        |bench AS (SELECT DISTINCT gk FROM grams WHERE doc_id % 20 = 0),
        |tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS total_grams
        |        FROM grams GROUP BY 1),
        |sh AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS shared_grams
        |       FROM grams JOIN bench USING (gk) GROUP BY 1)
        |SELECT t.doc_id, t.total_grams,
        | CAST(coalesce(sh.shared_grams, 0) AS BIGINT) AS shared_grams,
        | (1000 * coalesce(sh.shared_grams, 0)) // t.total_grams
        |   AS contam_milli,
        | (1000 * coalesce(sh.shared_grams, 0)) // t.total_grams >= 100
        |   AS contaminated
        |FROM tot t LEFT JOIN sh USING (doc_id)""".stripMargin,
    // BPE merge-pair counts: same tokenizer, same two-stage collapse
    // (vocabulary counts, then per-distinct-word adjacent pairs).
    "q_bpe_pairs" ->
      """WITH w AS (
        | SELECT word, CAST(count(*) AS BIGINT) AS wc FROM (
        |  SELECT unnest(list_filter(regexp_split_to_array(lower(text),
        |    '[^a-z0-9_'']+'), x -> length(x) > 0)) AS word
        |  FROM documents)
        | GROUP BY 1),
        |p AS (
        | SELECT unnest(list_transform(range(1, length(word)),
        |   i -> substr(word, CAST(i AS INT), 2))) AS pair, wc
        | FROM w WHERE length(word) >= 2)
        |SELECT pair, CAST(count(*) AS BIGINT) AS n_positions,
        | CAST(sum(wc) AS BIGINT) AS pair_count
        |FROM p GROUP BY 1 HAVING sum(wc) >= 2""".stripMargin,
    // Robots sitemap discovery: the oracle states the advertised
    // sitemap URLs arithmetically (the Spark side extracts them from
    // synthesized robots.txt bytes through the real line parser).
    "q_robots_sitemaps" ->
      """WITH r AS (
        | SELECT source || '.test' AS host,
        |  'http://' || source || '.test/sitemap-' || (doc_id % 3) || '.xml'
        |   AS sitemap_url
        | FROM documents
        | UNION ALL
        | SELECT source || '.test' AS host,
        |  'http://' || source || '.test/news.xml' AS sitemap_url
        | FROM documents WHERE doc_id % 5 = 0)
        |SELECT host, sitemap_url FROM r""".stripMargin,
    // entity/temporal extraction: the oracle states the synthesized
    // entities and the expected extractions/normalization
    // arithmetically (the Spark side runs the real regex + date-parse
    // path over the same concatenation)
    "q_entity_extract" ->
      """SELECT doc_id,
        | CASE
        |  WHEN doc_id % 3 <> 0 AND doc_id % 5 = 0 THEN
        |   source || CAST(doc_id AS varchar) || '@mail' ||
        |   CAST(doc_id % 7 AS varchar) || '.example.com,ops@example.org'
        |  WHEN doc_id % 3 <> 0 THEN
        |   source || CAST(doc_id AS varchar) || '@mail' ||
        |   CAST(doc_id % 7 AS varchar) || '.example.com'
        |  WHEN doc_id % 5 = 0 THEN 'ops@example.org'
        |  ELSE '' END AS emails,
        | 'US 1,' || CAST(doc_id % 900 + 100 AS varchar) AS patents,
        | CASE WHEN doc_id % 11 <> 0 THEN
        |   CAST(doc_id % 25 + 2000 AS varchar) || '-' ||
        |   lpad(CAST(doc_id % 12 + 1 AS varchar), 2, '0') || '-' ||
        |   CAST(doc_id % 19 + 10 AS varchar) || 'T00:00:00Z'
        |  ELSE NULL END AS posted_date
        |FROM documents""".stripMargin,
    "q_crawl_frequency_gate" ->
      """SELECT o_orderkey,
        | CAST(datediff('day', o_orderdate, DATE '1995-06-17') AS int) AS age_days,
        | CAST((o_orderkey % 5 + 1) * 100 AS int) AS frequency_days
        |FROM orders
        |WHERE datediff('day', o_orderdate, DATE '1995-06-17')
        |  >= (o_orderkey % 5 + 1) * 100""".stripMargin,
    "q_requeue_backoff" ->
      """SELECT event_id, CAST(event_id % 4 AS int) AS attempts,
        | (event_id % 4) < 3 AS retryable,
        | CAST(CASE WHEN event_id % 4 = 0 THEN event_id % 10 + 1
        |   WHEN event_id % 4 = 1 THEN event_id % 10 + 2
        |   WHEN event_id % 4 = 2 THEN event_id % 10 + 4
        |   ELSE -1 END AS int) AS next_eligible_wave
        |FROM events""".stripMargin,
    // Adaptive revisit: per-key change rate over consecutive synthetic
    // content hashes, truncating integer DIV, capped backoff.
    "q_revisit" ->
      """WITH h AS (
        | SELECT user_id, event_type,
        |  CAST(event_id % 4 AS varchar) AS content,
        |  lag(CAST(event_id % 4 AS varchar)) OVER (
        |    PARTITION BY user_id, event_type
        |    ORDER BY ts ASC, event_id ASC) AS prev
        | FROM events),
        |a AS (
        | SELECT user_id, event_type,
        |  CAST(count(*) AS BIGINT) AS n_fetches,
        |  CAST(sum(CASE WHEN prev IS NOT NULL AND content <> prev
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_changes
        | FROM h GROUP BY 1, 2),
        |r AS (
        | SELECT user_id, event_type, n_fetches, n_changes,
        |  CAST(CASE WHEN n_fetches >= 2
        |    THEN (1000 * n_changes) // (n_fetches - 1)
        |    ELSE 0 END AS BIGINT) AS change_rate_milli
        | FROM a)
        |SELECT user_id, event_type, n_fetches, n_changes,
        | change_rate_milli,
        | least(86400, (3600 * 1000) // greatest(change_rate_milli, 100))
        |  AS revisit_sec
        |FROM r""".stripMargin,
    // Crawl-trap detection: same host/template regexes; DuckDB's
    // regexp_replace needs the explicit 'g' flag Spark applies by
    // default.
    "q_url_traps" ->
      """WITH urls AS (
        | SELECT CASE WHEN doc_id % 3 = 0
        |  THEN 'http://' || source || '.example.com/cal/' || doc_id || '/view'
        |  ELSE 'http://' || source || '.example.com/page/' || (doc_id % 5) END AS url
        | FROM documents)
        |SELECT regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
        | regexp_replace(regexp_extract(url, '^[a-z]+://[^/?#]+(/[^?#]*)', 1),
        |   '[0-9]+', 'D', 'g') AS template,
        | count(DISTINCT url) AS n_urls,
        | count(DISTINCT url) > 5 AS trap
        |FROM urls GROUP BY 1, 2""".stripMargin,
    // Snapshot diff: full-outer on the key, status by hash comparison.
    "q_snapshot_diff" ->
      """WITH prev AS (
        | SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 5 <> 4),
        |cur AS (
        | SELECT doc_id,
        |  md5(CASE WHEN doc_id % 7 = 0 THEN text || 'v2' ELSE text END) AS h
        | FROM documents WHERE doc_id % 5 <> 0)
        |SELECT coalesce(prev.doc_id, cur.doc_id) AS doc_id,
        | CASE WHEN prev.h IS NULL THEN 'added'
        |      WHEN cur.h IS NULL THEN 'removed'
        |      WHEN prev.h <> cur.h THEN 'changed'
        |      ELSE 'same' END AS status
        |FROM prev FULL OUTER JOIN cur ON prev.doc_id = cur.doc_id""".stripMargin,
    "q_session_skip" ->
      """WITH state AS (
        |  SELECT source, CAST(doc_id AS varchar) AS did, md5(text) AS h
        |  FROM documents WHERE doc_id % 3 <> 0),
        |inc AS (
        |  SELECT doc_id, source, CAST(doc_id AS varchar) AS did,
        |    CASE WHEN doc_id % 7 = 0 THEN md5(text || 'v2') ELSE md5(text) END AS h
        |  FROM documents)
        |SELECT inc.doc_id, (s.h IS NOT NULL) AS skip,
        |  (s.h IS NULL OR s.h <> inc.h) AS updated
        |FROM inc LEFT JOIN state s ON inc.source = s.source AND inc.did = s.did""".stripMargin,
    "q_ann_lsh" -> (lshSigsCte(bits = 10, tables = 6) + "," +
      """
        |cand AS (
        | SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id,
        |  q.vec AS qv, c.vec AS cv
        | FROM sigs q JOIN sigs c
        |  ON q.t = c.t AND q.bucket = c.bucket AND q.id <> c.id
        | WHERE q.id < 30),
        |scored AS (
        | SELECT query_id, neighbor_id,
        |  CASE WHEN list_dot_product(qv, qv) = 0 OR list_dot_product(cv, cv) = 0
        |   THEN 0.0
        |   ELSE list_dot_product(qv, cv) /
        |    (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) END
        |   AS cosine
        | FROM cand)
        |SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
        |WHERE rank <= 3""".stripMargin),
    "q_cosine_dup_pairs" -> (lshSigsCte(bits = 8, tables = 6) + "," +
      """
        |cand AS (
        | SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.vec AS va, b.vec AS vb
        | FROM sigs a JOIN sigs b
        |  ON a.t = b.t AND a.bucket = b.bucket AND a.id < b.id),
        |scored AS (
        | SELECT id_a, id_b,
        |  CASE WHEN list_dot_product(va, va) = 0 OR list_dot_product(vb, vb) = 0
        |   THEN 0.0
        |   ELSE list_dot_product(va, vb) /
        |    (sqrt(list_dot_product(va, va)) * sqrt(list_dot_product(vb, vb))) END
        |   AS cosine
        | FROM cand)
        |SELECT id_a, id_b, round(cosine, 4) AS cosine
        |FROM scored WHERE cosine >= 0.35""".stripMargin),
    "q_search_metapages" ->
      """WITH src AS (SELECT DISTINCT source FROM documents),
        |terms AS (
        | SELECT source AS instance_id, kw || ' ' || source || ' corpus' AS term
        | FROM src CROSS JOIN (SELECT unnest(['spark', 'join']) AS kw)
        | WHERE length(source) % 2 = 0
        | UNION ALL
        | SELECT source, source || ' corpus' FROM src WHERE length(source) % 2 <> 0)
        |SELECT instance_id,
        | 'http://search.test/search?num=50&q=' || replace(term, ' ', '%20')
        |  AS search_url
        |FROM terms""".stripMargin,
    "q_pagination_cap" ->
      """SELECT doc_id // 8 AS article_id,
        | string_agg(text, '' ORDER BY doc_id % 8) AS data,
        | count(*) AS n_pages
        |FROM documents WHERE doc_id % 8 <= 5
        |GROUP BY 1""".stripMargin,
    "q_eav_store" ->
      """WITH li AS (SELECT * FROM lineitem WHERE l_orderkey <= 50)
        |SELECT l_orderkey, l_linenumber, 'ei_qty' AS field_key,
        |  CAST(CAST(l_quantity AS int) AS varchar) AS field_value,
        |  'integer' AS field_type,
        |  CAST(CAST(l_quantity AS int) AS bigint) AS int_value,
        |  CAST(NULL AS double) AS float_value, CAST(NULL AS varchar) AS date_str
        |FROM li
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'ef_price',
        |  CAST(round(l_extendedprice, 2) AS varchar), 'float',
        |  CAST(NULL AS bigint), round(l_extendedprice, 2), CAST(NULL AS varchar)
        |FROM li
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'et_blob',
        |  substr(repeat(l_returnflag || l_linestatus, 1500), 1, 2000), 'text',
        |  CAST(NULL AS bigint), CAST(NULL AS double), CAST(NULL AS varchar)
        |FROM li
        |UNION ALL
        |SELECT l_orderkey, l_linenumber, 'edate_ship',
        |  CAST(l_shipdate AS varchar), 'date',
        |  CAST(NULL AS bigint), CAST(NULL AS double),
        |  strftime(l_shipdate, '%Y-%m-%d')
        |FROM li""".stripMargin,
    "q_fingerprint" ->
      """WITH toks AS (SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
        |    x -> length(x) > 0) AS tk
        | FROM documents),
        |gr AS (SELECT doc_id,
        |  CASE WHEN len(tk) < 5
        |  THEN [('0x' || substr(md5(array_to_string(tk, ' ')), 1, 8))::BIGINT]
        |  ELSE list_transform(range(1, len(tk) - 3),
        |    i -> ('0x' || substr(md5(array_to_string(tk[i:i+4], ' ')), 1, 8))::BIGINT)
        |  END AS grams
        | FROM toks),
        |mn AS (SELECT doc_id,
        |  list_distinct(CASE WHEN len(grams) < 8 THEN [list_min(grams)]
        |  ELSE list_transform(range(1, len(grams) - 6),
        |    j -> list_min(grams[j:j+7])) END) AS fps
        | FROM gr)
        |SELECT doc_id, CAST(len(fps) AS int) AS n_fingerprints,
        | list_min(fps) AS min_fp, list_max(fps) AS max_fp
        |FROM mn""".stripMargin,
    "q_text_profile" -> {
      def inList(stop: Seq[String]) = stop.mkString("('", "', '", "')")
      def ratio(stop: Seq[String]) =
        s"CASE WHEN len(w) = 0 THEN 0.0 ELSE len(list_filter(w, x -> x IN ${inList(stop)})) * 1.0 / len(w) END"
      s"""WITH base AS (
         | SELECT doc_id, trim(text) AS t,
         |  list_filter(regexp_split_to_array(lower(text), '[^a-zA-Zäöüßáéíóúñ'']+'),
         |    x -> length(x) > 0) AS w
         | FROM documents),
         |r AS (
         | SELECT doc_id, t,
         |  ${ratio(graft.functions.TextAnalysis.EnStop)} AS en,
         |  ${ratio(graft.functions.TextAnalysis.DeStop)} AS de,
         |  ${ratio(graft.functions.TextAnalysis.EsStop)} AS es
         | FROM base)
         |SELECT doc_id,
         | CASE WHEN greatest(en, de, es) < 0.02 THEN 'und'
         |  WHEN en >= de AND en >= es THEN 'en'
         |  WHEN de >= en AND de >= es THEN 'de'
         |  ELSE 'es' END AS lang_pred,
         | CAST(CASE WHEN length(t) = 0 THEN 0 ELSE
         |  length(regexp_replace(t, '[^!?.,;:]', '', 'g')) * 10000 // length(t)
         |  END AS bigint) AS punct_bp,
         | CAST(CASE WHEN length(t) = 0 THEN 0 ELSE
         |  length(regexp_replace(t, '[^0-9]', '', 'g')) * 10000 // length(t)
         |  END AS bigint) AS digit_bp,
         | CAST(CASE WHEN length(t) = 0 THEN 0 ELSE
         |  length(regexp_replace(t, '[^a-zA-Z]', '', 'g')) * 10000 // length(t)
         |  END AS bigint) AS alpha_bp
         |FROM r""".stripMargin
    },
    "q_minhash_pairs" -> minhashPairsOracle(
      """SELECT id_a, id_b, est_jaccard FROM pairs_est
        |WHERE est_jaccard >= 0.5""".stripMargin),
    "q_minhash_dedup" -> minhashPairsOracle(
      """SELECT CAST(count(*) AS bigint) AS n_kept FROM documents
        |WHERE doc_id NOT IN
        |  (SELECT id_b FROM pairs_est WHERE est_jaccard >= 0.5)""".stripMargin),
    // transitive clusters: components of the pair graph computed by the
    // INDEPENDENT recursive-closure algorithm (nested WITH RECURSIVE
    // over the shared pairs_est CTE); singletons label themselves
    "q_dup_clusters" -> minhashPairsOracle(
      """SELECT d.doc_id, coalesce(r.cluster, d.doc_id) AS cluster
        |FROM documents d LEFT JOIN (
        | WITH RECURSIVE
        | e AS (SELECT id_a AS a, id_b AS b FROM pairs_est
        |        WHERE est_jaccard >= 0.5
        |       UNION
        |       SELECT id_b AS a, id_a AS b FROM pairs_est
        |        WHERE est_jaccard >= 0.5),
        | v AS (SELECT DISTINCT a FROM e),
        | reach(a, b) AS (
        |  SELECT a, a FROM v
        |  UNION
        |  SELECT rr.a, e.b FROM reach rr JOIN e ON e.a = rr.b)
        | SELECT a AS doc_id, min(b) AS cluster FROM reach GROUP BY 1
        |) r USING (doc_id)""".stripMargin),
    "q_simhash_pairs" ->
      """WITH toks AS (
        | SELECT doc_id,
        |  list_filter(regexp_split_to_array(lower(text), '[^a-z0-9_]+'),
        |    x -> length(x) > 0) AS tk
        | FROM documents),
        |hl AS (SELECT doc_id,
        |  list_transform(tk, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS hs
        | FROM toks),
        |sk AS (SELECT doc_id, CAST(list_sum(list_transform(range(0, 32), b ->
        |   CASE WHEN 2 * len(list_filter(hs,
        |       h -> CAST(floor(h / power(2, b)) AS BIGINT) % 2 = 1)) > len(hs)
        |   THEN CAST(floor(power(2, b)) AS BIGINT) ELSE 0 END)) AS BIGINT) AS sketch
        | FROM hl),
        |banded AS (SELECT doc_id, sketch, c AS chunk,
        |   CAST(floor(sketch / power(2, c * 8)) AS BIGINT) % 256 AS ckey
        | FROM sk CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS c)),
        |pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
        |   a.sketch AS sa, b.sketch AS sb
        | FROM banded a JOIN banded b
        |  ON a.chunk = b.chunk AND a.ckey = b.ckey AND a.doc_id < b.doc_id)
        |SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS int) AS hamming
        |FROM pairs WHERE bit_count(xor(sa, sb)) <= 3""".stripMargin,
    "q_ann_ivf" -> ivfOracle(k = 16, dim = 64, iters = 2, nprobe = 4, topk = 3),
    "q_semdedup" -> semDedupOracle(k = 16, dim = 64, iters = 2, tau = 0.35),
    "q_media_features" ->
      """WITH m AS (SELECT unnest(range(0, 500)) AS media_id),
        |b AS (
        | SELECT media_id,
        |  CASE media_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
        |   ELSE 'video' END AS kind,
        |  64 + (('0x' || substr(md5('len:' || CAST(media_id AS varchar)), 1, 8))
        |   ::BIGINT % 192) AS len
        | FROM m),
        |hx AS (
        | SELECT media_id, kind,
        |  substr(array_to_string(list_transform(
        |    range(0, CAST((len * 2 + 31) // 32 AS int)),
        |    k -> md5('b:' || CAST(media_id AS varchar) || ':'
        |      || CAST(k AS varchar))), ''), 1, CAST(len * 2 AS int)) AS hex
        | FROM b),
        |d AS (
        | SELECT media_id, kind,
        |  CASE WHEN kind = 'image' THEN 0
        |   ELSE ('0x' || substr(md5('dur:' || hex), 1, 8))::BIGINT % 600000
        |   END AS duration_ms
        | FROM hx)
        |SELECT media_id, kind,
        | CAST(CASE WHEN kind <> 'video' THEN 1
        |  WHEN duration_ms <= 0 THEN 1
        |  ELSE greatest(duration_ms // 1000, 1) END AS int) AS frames,
        | 16 AS feature_dim
        |FROM d""".stripMargin,
    "q_cosine_topk" ->
      """SELECT query_id, neighbor_id, round(cosine, 4) AS cosine, rank FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  CASE WHEN list_dot_product(q.embedding, q.embedding) = 0
        |    OR list_dot_product(c.embedding, c.embedding) = 0 THEN 0.0
        |   ELSE list_dot_product(q.embedding, c.embedding) /
        |    (sqrt(list_dot_product(q.embedding, q.embedding)) *
        |     sqrt(list_dot_product(c.embedding, c.embedding))) END AS cosine,
        |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |   (CASE WHEN list_dot_product(q.embedding, q.embedding) = 0
        |     OR list_dot_product(c.embedding, c.embedding) = 0 THEN 0.0
        |    ELSE list_dot_product(q.embedding, c.embedding) /
        |     (sqrt(list_dot_product(q.embedding, q.embedding)) *
        |      sqrt(list_dot_product(c.embedding, c.embedding))) END) DESC,
        |   c.vec_id ASC) AS rank
        | FROM embeddings q, embeddings c
        | WHERE q.vec_id < 30 AND q.vec_id <> c.vec_id)
        |WHERE rank <= 3""".stripMargin)
}
