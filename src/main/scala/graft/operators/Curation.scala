package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** Corpus-curation operators beyond filtering/dedup: deterministic
  * stratified sampling and domain-level (source-level) gating — the
  * two corpus-shaping passes a training-data pipeline runs after
  * per-document quality is known.
  */
object Curation {

  /** Deterministic stratified downsampling: a document survives iff
    * `portableHash(salt ':' id) % 10000 < rateBp(stratum)` — per-
    * stratum basis-point rates as a literal map (the data-mixture
    * knob: e.g. downweight over-represented languages). No RNG state,
    * no `rand()`: the SAME rows survive at any partitioning, executor
    * count, retry or resume — the property a 100 TB sampling pass
    * needs (a task retry with `rand()` silently changes the sample).
    * Pure Catalyst map: fuses with the scan, no shuffle.
    */
  def stratifiedKeep(idCol: Column, stratum: Column,
                     ratesBp: Map[String, Int], defaultBp: Int,
                     salt: String = "samp"): Column = {
    val bucket = TextAnalysis.portableHash(
      concat(lit(s"$salt:"), idCol.cast("string"))) % 10000
    val rate = coalesce(element_at(typedLit(ratesBp), stratum), lit(defaultBp))
    bucket < rate
  }

  /** Domain-level quality gate (the RefinedWeb / CCNet "URL and
    * domain-level filtering" stage, public): aggregate a per-document
    * integer quality score to its domain (source), block domains whose
    * TOTAL score is negative, and join the verdict back to every
    * document. Exact integer sums — the verdict is bit-reproducible
    * and order-independent.
    *
    * Scale shape at 10^10 docs: one source-keyed aggregate with
    * map-side partial combine (domains collapse early), then a
    * source-keyed join of the verdict dimension back to the corpus.
    * The domain dimension is UNBOUNDED on web text (one row per
    * registered domain), so it is never hinted broadcast — AQE may
    * still pick broadcast when the observed size is small, which is
    * right at small scale and impossible at 10^10 (same reasoning as
    * [[graft.functions.TextAnalysis.topTerms]]).
    *
    * Returns one row per doc: (idCol, sourceCol, source_score_sum,
    * source_n_docs, source_blocked).
    */
  def domainGate(df: DataFrame, idCol: String, sourceCol: String,
                 scoreCol: Column): DataFrame = {
    val scored = df.select(col(idCol), col(sourceCol),
      scoreCol.cast("long").as("doc_score"))
    val verdict = scored.groupBy(col(sourceCol))
      .agg(sum(col("doc_score")).as("source_score_sum"),
        count(lit(1)).as("source_n_docs"))
      .withColumn("source_blocked", col("source_score_sum") < 0)
    scored.select(col(idCol), col(sourceCol))
      .join(verdict, Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col("source_score_sum"),
        col("source_n_docs"), col("source_blocked"))
  }

  /** Greedy token-budget corpus assembly: keep documents in
    * (score desc, id asc) order until the cumulative token count would
    * exceed `budget` — the final selection step of a training-data
    * pipeline once per-document quality is known ("best N tokens").
    * Exactly the global greedy prefix, computed WITHOUT a global
    * ordered cumulative sum (a single-partition window at 10^10 docs):
    *
    *  1. per-SCORE token totals (bounded dimension: quality scores are
    *     integer-valued by construction in this engine) + a cumulative
    *     sum over that small dimension → every score strictly above
    *     the boundary is kept wholesale, no per-doc ordering touched;
    *  2. only the single BOUNDARY score's docs get an ordered
    *     per-doc cumulative sum (one score's worth of rows, windowed
    *     within that score), tie-broken by id asc.
    *
    * The oracle states the same selection as ONE global window cumsum
    * — an independent formulation arriving at the same rows.
    *
    * Scale shape: one score-keyed aggregate, one window over the
    * score DIMENSION (small by construction — this is the documented
    * bounded-cardinality exception to the no-global-window rule), one
    * score-keyed join back, and a window over one score's partition.
    *
    * @return kept rows only: (idCol, score, n_tokens)
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, tokens: Column,
                        score: Column, budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), tokens.cast("long").as("n_tokens"),
      score.cast("long").as("score"))
    val wS = Window.orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base.groupBy(col("score"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("cum_total", sum(col("bucket_tokens")).over(wS))
      .withColumn("cum_before", col("cum_total") - col("bucket_tokens"))
      .drop("bucket_tokens")
    val joined = base.join(cum, "score")
    val full = joined.filter(col("cum_total") <= budget)
    val wB = Window.partitionBy(col("score")).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter(col("cum_before") <= budget && col("cum_total") > budget)
      .withColumn("cum_in", sum(col("n_tokens")).over(wB))
      .filter(col("cum_before") + col("cum_in") <= budget)
      .drop("cum_in")
    full.unionByName(boundary)
      .select(col(idCol), col("score"), col("n_tokens"))
  }

  /** Per-stratum `ntile(tiles)` value-distribution profile (count +
    * value bounds per tile) computed DISTRIBUTIVELY — the corpus
    * length-histogram a curation run reads before picking truncation
    * and filter thresholds, without the per-stratum row sort `ntile`
    * itself implies (a `Window.partitionBy(lang)` over web text puts
    * ~half the corpus — one language — into ONE task's sort: a
    * guaranteed straggler/OOM at 10^10 docs).
    *
    * The trick (same bounded-dimension exception as
    * [[tokenBudgetSelect]]): tile aggregates never need per-row order,
    * only per-(stratum, value) COUNTS plus a cumulative over the value
    * DIMENSION — bounded by the number of distinct values per stratum
    * (document lengths: thousands), not by rows.
    *
    *  1. one (stratum, value) count aggregate (map-side combinable);
    *  2. cumulative row positions over the value dimension per
    *     stratum: rows of a value group occupy global positions
    *     (cum_start, cum_end];
    *  3. `ntile` tile `d` of N rows covers positions
    *     lo=(d−1)·q+min(d−1,r)+1 .. hi=d·q+min(d,r) where q=N div
    *     tiles, r=N mod tiles (exactly Spark's/DuckDB's ntile split);
    *  4. per (stratum, value, tile): overlap of the two intervals →
    *     final (stratum, tile) aggregate.
    *
    * The result is EXACTLY what `ntile(tiles) OVER (PARTITION BY
    * stratum ORDER BY value, anything)` + count/min/max yields, for
    * ANY tie-break: the tie-break only permutes which row ids land in
    * which tile, never the per-tile value statistics. The oracle
    * states the independent ntile formulation.
    *
    * @return (strataCol, tile [1..tiles], n_rows, min_value, max_value)
    */
  def valueDeciles(df: DataFrame, strataCol: String, valueCol: String,
                   tiles: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tiles >= 1, s"tiles must be >= 1, got $tiles")
    val grp = df.groupBy(col(strataCol), col(valueCol))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(strataCol).orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(strataCol)
    val cum = grp
      .withColumn("cum_end", sum(col("cnt")).over(wCum))
      .withColumn("cum_start", col("cum_end") - col("cnt"))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .withColumn("q", expr(s"n DIV $tiles"))
      .withColumn("r", col("n") % tiles)
    cum
      .select(col(strataCol), col(valueCol), col("cum_start"), col("cum_end"),
        col("q"), col("r"),
        explode(sequence(lit(1), lit(tiles))).as("tile"))
      .withColumn("lo", (col("tile") - 1) * col("q") +
        least(col("tile") - 1, col("r")) + 1)
      .withColumn("hi", col("tile") * col("q") + least(col("tile"), col("r")))
      .withColumn("overlap",
        least(col("cum_end"), col("hi")) -
          greatest(col("cum_start") + 1, col("lo")) + 1)
      .filter(col("overlap") > 0)
      .groupBy(col(strataCol), col("tile"))
      .agg(sum(col("overlap")).as("n_rows"),
        min(col(valueCol)).as("min_value"),
        max(col(valueCol)).as("max_value"))
  }

  /** Per-group greedy token-budget selection — the data-MIXTURE
    * assembly step (rebalance languages/domains to target token
    * shares, the public "data mixing" stage of every LLM corpus
    * recipe): within each group keep documents in (score desc, id asc)
    * order until that group's own token budget is exhausted. Exactly
    * [[tokenBudgetSelect]] generalized per group — same two-level
    * decomposition (per-(group, score) bucket totals + cumulative over
    * the bounded score dimension, per-doc ordering only inside each
    * group's single boundary bucket) — but the budgets arrive as a
    * DATAFRAME (group → budget), joined on group, so unlike the global
    * variant NO driver-side scalar collect is needed at all.
    *
    * Scale shape at 10^10 docs: one (group, score) aggregate
    * (map-side combinable), a window over the (group, score)
    * DIMENSION (bounded: |groups| × |scores| — the documented
    * bounded-cardinality exception), one (group, score)-keyed join
    * back, and a per-doc window over each group's one boundary bucket
    * only. The budget dimension (one row per group) is join-keyed,
    * never hinted broadcast: group cardinality is the caller's
    * (languages: hundreds; domains: unbounded) — AQE picks broadcast
    * when the observed size allows, same reasoning as [[domainGate]].
    *
    * @param budgets one row per group: (groupCol, `budget` long).
    *                Groups absent from `budgets` select nothing.
    * @return kept rows only: (idCol, groupCol, score, n_tokens)
    */
  def tokenBudgetSelectPerGroup(df: DataFrame, idCol: String,
                                groupCol: String, tokens: Column,
                                score: Column,
                                budgets: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol), col(groupCol),
      tokens.cast("long").as("n_tokens"), score.cast("long").as("score"))
    val wS = Window.partitionBy(groupCol).orderBy(col("score").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = base.groupBy(col(groupCol), col("score"))
      .agg(sum(col("n_tokens")).as("bucket_tokens"))
      .withColumn("cum_total", sum(col("bucket_tokens")).over(wS))
      .withColumn("cum_before", col("cum_total") - col("bucket_tokens"))
      .drop("bucket_tokens")
      .join(budgets.select(col(groupCol), col("budget").cast("long").as("budget")),
        Seq(groupCol))
    val joined = base.join(cum, Seq(groupCol, "score"))
    val full = joined.filter(col("cum_total") <= col("budget"))
    val wB = Window.partitionBy(col(groupCol), col("score"))
      .orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = joined
      .filter(col("cum_before") <= col("budget") &&
        col("cum_total") > col("budget"))
      .withColumn("cum_in", sum(col("n_tokens")).over(wB))
      .filter(col("cum_before") + col("cum_in") <= col("budget"))
      .drop("cum_in")
    full.unionByName(boundary)
      .select(col(idCol), col(groupCol), col("score"), col("n_tokens"))
  }

  /** Concat-and-chop sequence packing — the step that turns a curated
    * document set into fixed-length training sequences (the public
    * GPT-style pretraining layout: concatenate all token streams in a
    * deterministic order, cut every `seqLen` tokens; a document may
    * straddle a cut). This operator computes, per document, its global
    * token offset and the first/last sequence index it lands in —
    * the shuffle-free metadata a downstream packer needs to emit
    * sequence shards independently per partition.
    *
    * The global order is (bucket, id) with
    * `bucket = portableHash(salt ':' id) % buckets` — deterministic
    * under any partitioning/retry/resume (no `rand()`), and the
    * global offset is an exact two-level cumulative sum, NOT a global
    * ordered window (a single-partition sort at 10^10 docs):
    *
    *  1. per-bucket token totals (`buckets` rows) + a cumulative sum
    *     over the bucket DIMENSION → each bucket's starting offset;
    *  2. a per-doc cumulative window WITHIN each bucket (partition-
    *     bounded: ~n/`buckets` rows — size `buckets` ∝ corpus so a
    *     bucket's rows fit one task).
    *
    * The oracle states the same offsets as ONE global window cumsum
    * ordered by (bucket, id) — an independent formulation.
    *
    * Zero-token documents are dropped (they occupy no sequence).
    *
    * @return (idCol, n_tokens, bucket, tok_offset, seq_first,
    *         seq_last, n_seqs) — all counters long, sequences of
    *         `seqLen` tokens indexed from 0.
    */
  def sequencePack(df: DataFrame, idCol: String, tokens: Column,
                   seqLen: Long, buckets: Int,
                   salt: String = "pack"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val base = df.select(col(idCol),
      tokens.cast("long").as("n_tokens"),
      pmod(TextAnalysis.portableHash(
        concat(lit(s"$salt:"), col(idCol).cast("string"))), lit(buckets))
        .cast("long").as("bucket"))
      .filter(col("n_tokens") > 0)
    val wBkt = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val starts = base.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("bt"))
      .withColumn("bucket_start", sum(col("bt")).over(wBkt) - col("bt"))
      .drop("bt")
    val wIn = Window.partitionBy(col("bucket")).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base
      .withColumn("intra_end", sum(col("n_tokens")).over(wIn))
      .join(starts, Seq("bucket"))
      .withColumn("tok_offset",
        col("bucket_start") + col("intra_end") - col("n_tokens"))
      .withColumn("seq_first", expr(s"tok_offset DIV ${seqLen}L"))
      .withColumn("seq_last",
        expr(s"(tok_offset + n_tokens - 1) DIV ${seqLen}L"))
      .withColumn("n_seqs", col("seq_last") - col("seq_first") + 1)
      .select(col(idCol), col("n_tokens"), col("bucket"), col("tok_offset"),
        col("seq_first"), col("seq_last"), col("n_seqs"))
  }

  /** The emit side of [[sequencePack]]: one row per (document,
    * training sequence) pair with the exact slice of the document that
    * lands in that sequence — everything a per-partition shard writer
    * needs to materialize fixed-length sequences with no further
    * shuffle (rows for one `seq_id` are complete and self-describing:
    * position in the sequence, position in the document, length).
    *
    * Derived purely arithmetically from the packed offsets — the
    * explode is bounded per doc by ⌈n_tokens/seqLen⌉+1, so the row
    * count is ~corpus_tokens/seqLen + n_docs: linear, never quadratic.
    * Invariants (unit-pinned): per doc, slice_len sums to n_tokens and
    * consecutive slice_starts are contiguous; per sequence, seq_off
    * intervals tile [0, seqLen) without gaps or overlap.
    *
    * @return (idCol, seq_id, seq_off [position in sequence],
    *         slice_start [position in doc], slice_len)
    */
  def sequenceSlices(df: DataFrame, idCol: String, tokens: Column,
                     seqLen: Long, buckets: Int,
                     salt: String = "pack"): DataFrame = {
    val packed = sequencePack(df, idCol, tokens, seqLen, buckets, salt)
    packed
      .select(col(idCol), col("n_tokens"), col("tok_offset"),
        explode(sequence(col("seq_first"), col("seq_last"))).as("seq_id"))
      .withColumn("seq_start", col("seq_id") * seqLen)
      .select(col(idCol), col("seq_id"),
        greatest(lit(0L), col("tok_offset") - col("seq_start")).as("seq_off"),
        greatest(lit(0L), col("seq_start") - col("tok_offset")).as("slice_start"),
        (least(col("tok_offset") + col("n_tokens"), col("seq_start") + seqLen) -
          greatest(col("tok_offset"), col("seq_start"))).as("slice_len"))
  }

  /** Corpus-conditioned LM-familiarity score — the integer-exact
    * surrogate of the CCNet/RefinedWeb "filter by language-model
    * perplexity" stage (Wenzek et al. 2020 score documents under a
    * KenLM model; the pipeline keeps the familiar ones). The "model"
    * here is the corpus's OWN token-bigram counts, and the per-
    * occurrence log-probability surrogate is `floor(log2(count))` —
    * computed EXACTLY as `length(bin(count)) - 1`, no float log whose
    * ulps could flip a score at a power of two. A document full of
    * bigrams the corpus has seen often scores high; gibberish,
    * boilerplate-mangled or out-of-domain text scores low — the same
    * ordering a real LM filter induces, in arithmetic a SQL oracle
    * states verbatim.
    *
    *   familiarity_milli = (1000 · Σ_occurrences ilog2(c(bigram)))
    *                       DIV n_bigrams          (0 when no bigrams)
    *
    * Scale shape at 10^10 docs: one bigram-keyed count aggregate
    * (map-side combine collapses the Zipf head early), one
    * bigram-keyed shuffle join back to the occurrences — the bigram
    * dimension is UNBOUNDED on web text, so it is never hinted
    * broadcast (same reasoning as [[TextAnalysis.topTerms]]) — and a
    * per-doc aggregate. Bigrams are built PER ROW
    * ([[TextAnalysis.arrayGrams]]: null-safe zip_with against the
    * 1-shifted slice — lambdas touch only their own variables), so the
    * corpus-sized shuffle+sort the old posexplode + window-`lead` form
    * paid just to pair adjacent tokens is gone (guide §2.4).
    *
    * @return one row per doc: (idCol, n_bigrams, ilog_sum,
    *         familiarity_milli)
    */
  def familiarityScore(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "[^a-z0-9_']+"),
      t => length(t) > 0)
    val bgs = df.select(col(idCol).as("doc_id_"),
        explode(TextAnalysis.arrayGrams(toks, 2)).as("bg"))
    val counts = bgs.groupBy(col("bg")).agg(count(lit(1)).as("c"))
    val perDoc = bgs.join(counts, "bg")
      .select(col("doc_id_"), (length(bin(col("c"))) - 1).cast("long").as("ilog"))
      .groupBy(col("doc_id_"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("ilog")).as("ilog_sum"))
      .withColumn("familiarity_milli", expr("(1000 * ilog_sum) DIV n_bigrams"))
    df.select(col(idCol).as("doc_id_"))
      .join(perDoc, Seq("doc_id_"), "left")
      .select(col("doc_id_").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("ilog_sum"), lit(0L)).as("ilog_sum"),
        coalesce(col("familiarity_milli"), lit(0L)).as("familiarity_milli"))
  }

  /** DSIR-style importance weight (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every
    * document by how much more its hashed n-gram features look like a
    * TARGET corpus than like the raw corpus —
    * Σ_f [log n̂_target(f) − log n̂_raw(f)] over the document's feature
    * occurrences; importance resampling then keeps the high-weight
    * docs (pair with [[stratifiedSample]]/[[tokenBudgetSelect]]).
    * Features are hashed unigrams+bigrams (the paper's own feature
    * space), `portableHash(gram) % buckets` — hashing bounds BOTH
    * count dimensions to ≤ `buckets` rows, so unlike the
    * open-vocabulary [[lmFamiliarity]] bigram dimension these count
    * tables broadcast at ANY corpus size. Log-probabilities use the
    * repo's integer-exact surrogate ilog2(c+1) = length(bin(c+1)) − 1
    * (add-one smoothing; no float log whose ulps could flip a weight
    * across engines — both engines' integer DIV truncates toward
    * zero, checked for the negative weights this score produces).
    *
    *   weight_milli = (1000 · Σ_occ [ilog2(c_t(f)+1) − ilog2(c_r(f)+1)])
    *                  DIV n_feats              (0 when no features)
    *
    * Scale shape at 10^10 docs: one feature-hash count aggregate per
    * distribution (map-side combinable, ≤ `buckets` output rows each),
    * then one BROADCAST join back to the per-doc occurrences — after
    * the two bounded aggregates there is no corpus-sized shuffle at
    * all. The target distribution is defined in-corpus by
    * `targetPred` (the paper samples a target domain; any predicate
    * over the input row works).
    *
    * @return (idCol, n_feats, weight_sum, weight_milli)
    */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
                  targetPred: Column, buckets: Int = 65536): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    // feature ids per row in one generated pass
    // ([[graft.plans.FeatureHashes]]): the same uni+bigram occurrence
    // multiset the former posexplode + doc-keyed lead window + explode
    // derivation emitted, without shuffling the token stream at all —
    // the bounded bucket-count aggregate and the per-doc sum are the
    // operator's only remaining exchanges. (Equivalence is pinned by
    // the feature-multiset test in CurationSpec; an interpreted
    // zip_with formulation was measured ~2× slower in round 6 before
    // the native kernel existed.)
    val feats = df.select(col(idCol).as("doc_id_"),
      targetPred.as("is_target"),
      explode(graft.plans.Kernels.feature_hashes(
        split(lower(col(textCol)), "[^a-z0-9_']+"), lit(buckets))).as("f"))
    // BOTH count distributions from ONE aggregate pass over the
    // feature stream (guide §2.4): the former separate `tgt` branch
    // re-ran the whole tokenize+window+explode subtree under a filter
    // (the filter makes its exchange non-reusable), a second
    // corpus-sized pass for counts a conditional aggregate produces
    // for free. Buckets with no target hits count 0, which ilog2p1
    // maps exactly like the former left-join NULL (bin(0+1) = "1").
    val counts = feats.groupBy("f").agg(count(lit(1)).as("c_r"),
      count(when(col("is_target"), 1)).as("c_t"))
    def ilog2p1(c: Column): Column =
      (length(bin(coalesce(c, lit(0L)) + 1)) - 1).cast("long")
    val perDoc = feats
      .join(broadcast(counts), Seq("f"))
      .select(col("doc_id_"),
        (ilog2p1(col("c_t")) - ilog2p1(col("c_r"))).as("w"))
      .groupBy("doc_id_")
      .agg(count(lit(1)).as("n_feats"), sum(col("w")).as("weight_sum"))
      .withColumn("weight_milli", expr("(1000 * weight_sum) DIV n_feats"))
    df.select(col(idCol).as("doc_id_"))
      .join(perDoc, Seq("doc_id_"), "left")
      .select(col("doc_id_").as(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        coalesce(col("weight_sum"), lit(0L)).as("weight_sum"),
        coalesce(col("weight_milli"), lit(0L)).as("weight_milli"))
  }

  /** Corpus-mixture report — the "data card" table a training-data
    * pipeline publishes and the input every mixing decision
    * ([[tokenBudgetSelectPerGroup]]'s budgets) is made from: per group
    * (language, source, …) the document count, token total, and the
    * group's token share of the whole corpus in integer milli
    * (truncating DIV — no float summation-order ties).
    *
    * Scale shape: ONE map-side-combinable aggregate collapses the
    * corpus to the bounded group dimension; the global total is a
    * 1-row aggregate OF THAT DIMENSION crossJoin-broadcast back (the
    * documented bounded stat-dim pattern) — after the first collapse
    * nothing corpus-sized moves again.
    */
  def corpusMixReport(df: DataFrame, groupCols: Seq[String],
      tokens: Column): DataFrame = {
    val dims = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"),
        sum(tokens.cast("long")).as("n_tokens"))
    val total = dims.agg(coalesce(sum(col("n_tokens")), lit(0L)).as("tot"))
    dims.crossJoin(broadcast(total))
      .withColumn("token_share_milli",
        when(col("tot") === 0, lit(0L))
          .otherwise(expr("(1000 * n_tokens) DIV tot")))
      .drop("tot")
  }

  /** Kneser–Ney continuation counts — the adjusted-count table of one
    * interpolated-KN bigram LM training pass (Kneser & Ney 1995; the
    * lower-order distribution every modern n-gram LM toolkit builds):
    * per word w, the raw occurrence count c(w) and the continuation
    * count N1+(·w) = number of DISTINCT predecessor *types*. The
    * curation use is the same as [[familiarityScore]]'s: these counts
    * ARE the model state a perplexity filter scores against, and
    * building them over the raw corpus is the count-heavy half of LM
    * training a 100-TB pipeline runs on the cluster. Tokenization
    * matches [[Dedup]]'s proven cross-engine form
    * (`[^a-z0-9_]+` split, lowercase, empties dropped).
    *
    * ONE corpus-sized aggregate: predecessors ride each token row via a
    * per-doc lag window (bounded by that document's own length, never
    * corpus-global — the sessionization partitioning discipline), then
    * groupBy(word) computes count(*) and count(DISTINCT prev) in the
    * same two-phase exchange. count(DISTINCT) skips the per-doc leading
    * null, so N1+ ranges over true bigrams only — exactly the paper's
    * definition. No join back, no second shuffle. (Round-6 note: a
    * per-row struct-zip pairing was measured — building an
    * array<struct> per row through the interpreted HOF path cost more
    * than the lag window it replaced; the relational form stays.)
    *
    * @return (word, c_total, n_cont)
    */
  def knContinuationCounts(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    // (prev, word) pairs per row in one generated pass
    // ([[graft.plans.AdjacentPairs]]): the former posexplode +
    // doc-keyed `lag` window shuffled the whole token stream to pair
    // each token with its predecessor — row-local by construction
    // (guide §2.4; the interpreted zip_with formulation was measured
    // SLOWER than the window in round 6, the generated kernel is not).
    // The word-keyed count aggregate — the one fundamental exchange —
    // is unchanged, and pair equivalence is test-pinned.
    df.select(explode(graft.plans.Kernels.adjacent_pairs(
        split(lower(col(textCol)), "[^a-z0-9_]+"))).as("p"))
      .groupBy(col("p.w").as("word"))
      .agg(count(lit(1)).as("c_total"),
        countDistinct(col("p.prev")).as("n_cont"))
  }
}
