package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StructField, StructType}

/** Deduplication operators for web-scale training-data curation:
  * exact, MinHash+LSH, SimHash and n-gram-Jaccard near-dup — each a
  * DataFrame → DataFrame transform whose heavy lifting is hash
  * partitioning (groupBy on short keys), never an all-pairs compare.
  *
  * Scale shape, in order of cost at 10^10 docs:
  *  - exact: one shuffle on a 16-byte key;
  *  - minhash-LSH: per-row signature (map-side) + one shuffle per band
  *    on (band, bandHash) — candidate pairs only within buckets;
  *  - simhash: per-row 32-bit sketch + pigeonhole band join;
  *  - verification joins are bounded by bucket sizes, and the MinHash
  *    candidate-pair generator caps pathological buckets explicitly
  *    (a 10^6-doc boilerplate bucket would otherwise explode
  *    quadratically). The cap is deterministic (lowest ids kept) and
  *    NEVER silent: every capped run emits `capped_buckets` /
  *    `rows_dropped_by_cap` as an observed metric on the banded scan
  *    (visible to any QueryExecutionListener, and readable directly by
  *    passing an [[org.apache.spark.sql.Observation]]).
  */
object Dedup {

  /** Attach the cap-loudness metric to the banded rows (which carry
    * `rn`, the deterministic row_number within each (band, key)
    * bucket): `capped_buckets` = buckets that overflowed `maxBucket`,
    * `rows_dropped_by_cap` = banded rows the cap removed. Emitted on
    * EVERY run — through the caller's [[Observation]] when provided,
    * else under a unique auto name (`<prefix>_<n>`) so the metric
    * still reaches listener-based metric sinks (names must be unique
    * per query, so a fixed name would break a plan that bands twice).
    */
  private val capMetricSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def observeCap(banded: DataFrame, maxBucket: Int,
                         obs: Option[Observation],
                         prefix: String = "minhash_lsh_cap"): DataFrame = {
    val cappedBuckets =
      sum(when(col("rn") === maxBucket + 1, 1L).otherwise(0L))
        .as("capped_buckets")
    val droppedRows =
      sum(when(col("rn") > maxBucket, 1L).otherwise(0L))
        .as("rows_dropped_by_cap")
    obs match {
      case Some(o) => banded.observe(o, cappedBuckets, droppedRows)
      case None => banded.observe(
        s"${prefix}_${capMetricSeq.incrementAndGet()}",
        cappedBuckets, droppedRows)
    }
  }

  // ---------- exact ----------

  /** Exact duplicate groups by md5 of a normalized text column: returns
    * (dedup key, representative id, group size). One hash shuffle.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(trim(lower(col(textCol)))).as("dup_key"))
      .groupBy("dup_key")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))

  /** Keep one representative row per exact-duplicate group (min id —
    * deterministic). Window-free formulation: groupBy + semi-join,
    * which scales better than a global window at 10^10 rows.
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  // ---------- minhash ----------

  /** Near-dup dedup via MinHash: the scalable per-wave approximation —
    * removes every doc that pairs with a lower id (union-find-free, one
    * pass, deterministic). [[minhashDedupTransitive]] is the full
    * connected-components variant.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double = 0.7): DataFrame = {
    val pairs = minhashPairsPortable(df, idCol, textCol, threshold = threshold)
    val losers = pairs.select(col("id_b").as(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** The eager materialization the iterative operators (connected
    * components, PageRank, SemDedup's assignment) take once for their
    * working set and per distributed round:
    * `checkpoint()` to the SparkContext's checkpoint dir when
    * `reliable` (DFS on a cluster — the lost-executor-safe path; the
    * caller must have called `sc.setCheckpointDir`, checked here,
    * before the operator launches any job), else the local[*]-only
    * `localCheckpoint` fast path.
    */
  private[graft] def checkpointer(spark: SparkSession,
                                  reliable: Boolean): DataFrame => DataFrame = {
    require(!reliable || spark.sparkContext.getCheckpointDir.isDefined,
      "reliableCheckpoints=true requires sc.setCheckpointDir (a DFS path on a cluster)")
    if (reliable) _.checkpoint(eager = true) else _.localCheckpoint(true)
  }

  /** Minimum reachable label per vertex over an undirected pair graph —
    * iterative min propagation with POINTER HALVING to a fixpoint (the
    * label-propagation connected-components kernel, accelerated): each
    * round every vertex takes (a) the min of its neighbors' labels (one
    * hop) and (b) the label OF its label (shortcutting — min labels
    * only shrink, so composing the label map with itself is sound).
    * The shortcut doubles the propagation distance per round, so rounds
    * are O(log component-diameter) instead of O(diameter) — a
    * 1000-vertex chain converges in ~10 rounds, not ~1000. Returns
    * (v, label), `label` the smallest vertex id of v's component.
    * Vertex ids are unique and of any orderable type; a pair endpoint
    * outside the vertex set is ignored, with every edge through it. A
    * graph that needs more than `maxIterations` rounds fails loudly
    * rather than return a non-fixpoint.
    *
    * The vertices and both directions of every pair are materialized
    * once (one job), and an `Observation` on that job counts them in
    * collected values (one per vertex, two per directed edge). With
    * integral ids and at most [[LocalFinish.MaxValues]] values, they
    * are collected once and the rounds run on the driver over int
    * arrays. Otherwise each round is two equi-joins and one aggregate
    * over the materialization, with no driver-side graph state: two
    * eager checkpoints and a `limit(1).count()` convergence job, ~11
    * jobs under adaptive execution, where each shuffle stage is its own
    * job. The directed edges are hash-partitioned by `id_b` once and
    * persisted, so a round shuffles vertex-sized data, never the
    * edges. Both paths run the same rounds, so they give the same labels
    * and fail on the same `maxIterations`.
    *
    * `reliableCheckpoints=true` swaps the eager `localCheckpoint`
    * (executor-local blocks — lost-executor-UNSAFE on a real cluster)
    * for `checkpoint()` to the SparkContext's checkpoint dir (DFS on a
    * cluster): the caller must have called `sc.setCheckpointDir`
    * first, checked before any job runs. Same results; the
    * 10^10-vertex cluster run wants the reliable path.
    */
  def connectedMinLabels(vertices: DataFrame, pairs: DataFrame,
                         maxIterations: Int = 50,
                         reliableCheckpoints: Boolean = false): DataFrame =
    connectedMinLabels(vertices, pairs, maxIterations, reliableCheckpoints,
      LocalFinish.MaxValues)

  private[graft] def connectedMinLabels(vertices: DataFrame, pairs: DataFrame,
                                        maxIterations: Int,
                                        reliableCheckpoints: Boolean,
                                        localBound: Long): DataFrame = {
    val ckpt = checkpointer(vertices.sparkSession, reliableCheckpoints)
    val vType = vertices.schema.head.dataType
    val integral = Set[DataType](ByteType, ShortType, IntegerType, LongType).contains(vType)
    val kType = if (integral) LongType else vType
    val volume = Observation()
    // state rows: a vertex (v, nb = null, edge = false) or a directed
    // edge (v, nb, edge = true)
    def directed(a: String, b: String): DataFrame =
      pairs.select(col(a).cast(kType).as("v"), col(b).cast(kType).as("nb"), lit(true).as("edge"))
    val state = ckpt(vertices.select(col(vertices.columns.head).cast(kType).as("v"),
        lit(null).cast(kType).as("nb"), lit(false).as("edge"))
      .unionByName(directed("id_a", "id_b")).unionByName(directed("id_b", "id_a"))
      .observe(volume,
        coalesce(sum(when(col("edge"), 2L).otherwise(1L)), lit(0L)).as("values"),
        coalesce(sum(when(col("edge"), 1L).otherwise(0L)), lit(0L)).as("edges")))
    val metrics = volume.get
    val labels =
      if (integral && metrics("values").asInstanceOf[Long] <= localBound)
        minLabelsLocal(state.collect(), maxIterations, vertices.sparkSession)
      else minLabelsDistributed(state, metrics("edges").asInstanceOf[Long] == 0L,
        maxIterations, ckpt)
    labels.select(col("v").cast(vType).as("v"), col("label").cast(vType).as("label"))
  }

  // a silent non-fixpoint would violate the one-per-component contract
  // downstream (a component diameter beyond ~2^maxIterations means the
  // caller should raise the bound)
  private def nonConvergence(maxIterations: Int) = new IllegalStateException(
    s"connectedMinLabels did not converge within $maxIterations rounds")

  /** The rounds of [[connectedMinLabels]] as Spark plans over the
    * materialized state.
    */
  private def minLabelsDistributed(state: DataFrame, noEdges: Boolean, maxIterations: Int,
                                   ckpt: DataFrame => DataFrame): DataFrame = {
    // persisted, not checkpointed: a checkpoint keeps no partitioning
    // under adaptive execution, and every round joins on id_b
    val edges = state.filter(col("edge")).select(col("v").as("id_a"), col("nb").as("id_b"))
      .repartition(state.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt,
        col("id_b"))
      .persist()
    // EAGER checkpoint each round, not persist: a persisted DataFrame
    // keeps its full logical plan, and every round embeds the
    // previous round's plan ~3× (neighbor join + the halving self-join)
    // — analysis cost grows 3^rounds and a 12-round run kills the
    // driver. Checkpointing flattens the plan to a LogicalRDD so each
    // round re-analyzes O(1) nodes.
    var labels = state.filter(!col("edge")).select(col("v"), col("v").as("label"))
    var iter = 0
    var converged = noEdges
    try while (!converged && iter < maxIterations) {
      val neighborMin = edges
        .join(labels, edges("id_b") === labels("v"))
        .groupBy(col("id_a").as("nv")).agg(min(col("label")).as("nmin"))
      // the round's previous label rides along as `prev` so the
      // convergence check is a join-FREE scan of the checkpointed
      // result (the old form re-joined next against labels — one
      // whole extra shuffle join per round just to count changes)
      val hop = ckpt(labels
        .join(neighborMin, labels("v") === col("nv"), "left")
        .select(col("v"), col("label").as("prev"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label")))
      // pointer halving: label := min(label, label(label)) — min
      // labels only shrink, so composing the label map with itself is
      // sound and doubles propagation distance per round
      val next = ckpt(hop.as("a")
        .join(hop.select(col("v").as("lv"), col("label").as("llabel")),
          col("a.label") === col("lv"), "left")
        .select(col("a.v").as("v"), col("a.prev").as("prev"),
          least(col("a.label"), coalesce(col("llabel"), col("a.label")))
            .as("label")))
      val changed = next
        .filter(col("label") =!= col("prev")).limit(1).count()
      labels = next.select(col("v"), col("label"))
      converged = changed == 0L
      iter += 1
    } finally edges.unpersist()
    if (!converged) throw nonConvergence(maxIterations)
    labels
  }

  /** The same rounds over the collected state, in int arrays: vertex i
    * is the i-th smallest id, so the min over indices is the min over
    * ids, and a label is the index of its vertex.
    */
  private def minLabelsLocal(rows: Array[Row], maxIterations: Int,
                             spark: SparkSession): DataFrame = {
    val ids = rows.iterator.filter(r => !r.getBoolean(2) && !r.isNullAt(0))
      .map(_.getLong(0)).toArray
    java.util.Arrays.sort(ids)
    def index(r: Row, i: Int): Int =
      if (r.isNullAt(i)) -1 else java.util.Arrays.binarySearch(ids, r.getLong(i)) max -1
    // directed edges between vertex indices; an endpoint outside the
    // vertex set drops its edge, as the joins do
    val (ea, eb) = (Array.newBuilder[Int], Array.newBuilder[Int])
    var anyEdge = false
    rows.foreach { r =>
      if (r.getBoolean(2)) {
        anyEdge = true
        val (a, b) = (index(r, 0), index(r, 1))
        if (a >= 0 && b >= 0) { ea += a; eb += b }
      }
    }
    val (from, to) = (ea.result(), eb.result())
    val n = ids.length
    var label = Array.range(0, n)
    var iter = 0
    var converged = !anyEdge
    while (!converged && iter < maxIterations) {
      val hop = label.clone()
      var e = 0
      while (e < from.length) {
        if (label(to(e)) < hop(from(e))) hop(from(e)) = label(to(e))
        e += 1
      }
      val next = new Array[Int](n)
      converged = true
      var i = 0
      while (i < n) {
        next(i) = math.min(hop(i), hop(hop(i)))
        if (next(i) != label(i)) converged = false
        i += 1
      }
      label = next
      iter += 1
    }
    if (!converged) throw nonConvergence(maxIterations)
    // a null id keeps a null label, as the joins give
    val out = new java.util.ArrayList[Row](ids.length)
    rows.foreach { r =>
      if (!r.getBoolean(2)) out.add(if (r.isNullAt(0)) Row(null, null)
        else Row(r.getLong(0), ids(label(index(r, 0)))))
    }
    spark.createDataFrame(out,
      StructType(Seq(StructField("v", LongType), StructField("label", LongType))))
  }

  /** Fully transitive near-dup dedup: keep exactly one doc (the min id)
    * per CONNECTED COMPONENT of the minhash pair graph. The survivor
    * set is always a subset of [[minhashDedup]]'s (chains collapse).
    */
  def minhashDedupTransitive(df: DataFrame, idCol: String, textCol: String,
                             threshold: Double = 0.7,
                             maxIterations: Int = 20,
                             reliableCheckpoints: Boolean = false): DataFrame = {
    val pairs = minhashPairsPortable(df, idCol, textCol, threshold = threshold)
      .select("id_a", "id_b")
    val labels = connectedMinLabels(df.select(col(idCol)), pairs, maxIterations,
      reliableCheckpoints)
    val keep = labels.filter(col("label") === col("v")).select(col("v").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash+LSH near-duplicate PAIRS, SQL-portable end to end:
    *
    *  1. tokens → complete word `shingleK`-shingles (docs with fewer
    *     tokens shingle as their joined tokens);
    *  2. signature slot j = min over shingles of the 32-bit md5 word
    *     j%4 of md5((j/4) ':' shingle) — steps 1-2 run in one
    *     generated pass per row ([[graft.plans.MinhashSig]]), whose
    *     relational statement is the test-side
    *     `DedupSimilaritySpec.minhashSigsRelational`;
    *  3. band keys = md5 of each band's signature slice; buckets
    *     capped at `maxBucket` rows (deterministic `row_number ≤ cap`
    *     by doc id, LOUD via the observed cap metric — pass
    *     `capMetrics` to read `capped_buckets` / `rows_dropped_by_cap`
    *     directly, see [[observeCap]]; one viral-boilerplate bucket of
    *     10^6 near-identical docs would otherwise detonate
    *     quadratically); candidate pairs from (band, key) equi-joins —
    *     never all-pairs;
    *  4. est_jaccard = matching signature slots / numHashes, rounded to
    *     4 places; pairs below `threshold` are dropped.
    *
    * Every step is a built-in expression or a kernel a DuckDB oracle
    * states identically. Returns (id_a, id_b, est_jaccard) with
    * id_a < id_b. Callers at 10^10 scale should still route
    * mega-buckets (usually exact boilerplate) through [[exactDedup]]
    * first.
    *
    * Precondition: `idCol` is unique. The est_jaccard threshold runs
    * below the pair dedup, and filter∘dedup ≡ dedup∘filter only while
    * the id pair determines the estimate: with a repeated id, one
    * (id_a, id_b) key carries several estimates, and the pair survives
    * if ANY of them passes rather than the one copy a dedup-first plan
    * would keep. Not checked at run time — the check would add a Spark
    * job to every call.
    */
  def minhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           shingleK: Int = 3, numHashes: Int = 24,
                           bands: Int = 8, threshold: Double = 0.5,
                           maxBucket: Int = 1000,
                           capMetrics: Option[Observation] = None): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    // the WHOLE signature in one generated pass per row
    // ([[graft.plans.MinhashSig]]): shingling and the 24 md5-word
    // minima are row-local, so the signature stage is now a PURE MAP
    // fused with the scan — the relational statement (posexplode +
    // window leads + one min aggregate, kept in test sources as
    // `minhashSigsRelational`, equivalence test-pinned) shuffled the
    // whole token stream into doc-keyed window sorts to compute 24
    // per-doc numbers (guide §2.4: the banding join is this operator's
    // only fundamental exchange). Null-text docs yield a null
    // signature and are dropped, exactly like the old size filters.
    val sigs = df.select(col(idCol).as("doc_id_"),
        graft.plans.Kernels.minhash_sig(
          split(lower(col(textCol)), "\\W+"),
          lit(shingleK), lit(numHashes)).as("sig"))
      .filter(col("sig").isNotNull)

    val banded = sigs
      .select(col("doc_id_"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .withColumn("bkey",
        md5(concat_ws(",", slice(col("sig"), col("band") * rowsPerBand + 1,
          lit(rowsPerBand)).cast("array<string>"))))
    // cap pathological buckets deterministically (keep lowest ids),
    // loudly (observed metric) — stated verbatim in the SQL oracle
    val wB = Window.partitionBy("band", "bkey").orderBy("doc_id_")
    val capped = observeCap(banded.withColumn("rn", row_number().over(wB)),
        maxBucket, capMetrics)
      .filter(col("rn") <= maxBucket).drop("rn")
    val left = capped.select(col("band"), col("bkey"),
      col("doc_id_").as("id_a"), col("sig").as("sig_a"))
    val right = capped.select(col("band"), col("bkey"),
      col("doc_id_").as("id_b"), col("sig").as("sig_b"))
    // estimate + threshold BEFORE the pair dedup: the pair determines
    // its signatures, so est_jaccard is identical on every duplicate
    // candidate row and filter∘dedup ≡ dedup∘filter — the dedup
    // exchange then carries (long, long, double) instead of two
    // numHashes-long signature arrays (guide §2.3/§8), and the
    // dedup is a map-side-combinable hash aggregate instead of the
    // Sort+SortAggregate Spark falls back to when First() holds an
    // array. A pair sharing b bands evaluates the estimate b times —
    // numHashes compares per copy, cheaper than sort-shuffling the
    // arrays those copies carried.
    left.join(right, Seq("band", "bkey"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / numHashes, 4)
          .as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select("id_a", "id_b", "est_jaccard")
  }

  /** Benchmark decontamination: exact token-`k`-gram overlap between
    * corpus documents and a benchmark set — the standard train/test
    * contamination check of an LLM data pipeline (a document sharing
    * any verbatim k-gram with an evaluation document must be flagged
    * or dropped before training). Distinct from the similarity family:
    * this is exact containment, not approximate resemblance.
    *
    * Scale shape: grams join on md5(gram) (fixed 32-char key, no
    * collision at any realistic corpus size); the benchmark side is
    * small by nature (an eval suite) and broadcasts — the corpus side
    * never shuffles. Returns one row per CONTAMINATED corpus doc:
    * (doc_id_, shared_grams, bench_docs_hit).
    *
    * `benchDocs` supplies the benchmark membership (same id/text
    * shape); corpus rows that are themselves benchmark rows are
    * excluded from flagging (self-overlap is not contamination).
    */
  def contamination(df: DataFrame, benchDocs: DataFrame, idCol: String,
                    textCol: String, k: Int = 8): DataFrame = {
    val grams = tokenGramKeys(df, idCol, textCol, k)
    val bench = tokenGramKeys(benchDocs, idCol, textCol, k)
      .select(col("doc_id_").as("bench_id"), col("gk"))
    grams.join(broadcast(bench), Seq("gk"))
      .filter(col("doc_id_") =!= col("bench_id"))
      .groupBy(col("doc_id_"))
      .agg(countDistinct(col("gk")).as("shared_grams"),
        countDistinct(col("bench_id")).as("bench_docs_hit"))
  }

  /** Gradated benchmark decontamination — the DECISION metric on top
    * of [[contamination]]: the fraction of a document's distinct token
    * k-grams that appear anywhere in the benchmark set, integer-exact
    * in milli-units, plus the keep/drop verdict at `thresholdMilli`
    * (public practice — e.g. the GPT-3 appendix and Lee et al. 2022
    * report and threshold n-gram OVERLAP, not a binary any-hit flag,
    * because a single colliding idiom should not discard a long
    * document). Documents with fewer than `k` tokens have no k-grams
    * and are not emitted (they cannot be contaminated at this
    * granularity).
    *
    *   contam_milli = (1000 · |doc grams ∩ bench grams|) DIV |doc grams|
    *
    * Scale shape at 10^10 docs: the bench gram set is bounded by the
    * BENCHMARK size (small by nature — the one dimension in this
    * family that is safe to broadcast, same reasoning as
    * [[contamination]]); everything else is two doc-keyed aggregates.
    *
    * @return (idCol, total_grams, shared_grams, contam_milli,
    *         contaminated)
    */
  def contaminationFraction(df: DataFrame, benchDocs: DataFrame,
                            idCol: String, textCol: String, k: Int = 8,
                            thresholdMilli: Long = 100L): DataFrame = {
    // the per-doc gram TOTAL is the size of the kernel's distinct
    // gram array — a pure map, where the former shape aggregated the
    // exploded gram stream a second time just to count it
    val docGrams = df.select(col(idCol).as("doc_id_"),
        tokenGramKeyArr(textCol, k).as("gks"))
      .filter(size(col("gks")) > 0) // sub-k and null-text docs have no k-grams
    val bench = tokenGramKeys(benchDocs, idCol, textCol, k)
      .select(col("gk")).distinct()
    val totals = docGrams.select(col("doc_id_"),
      size(col("gks")).cast("long").as("total_grams"))
    val shared = docGrams.select(col("doc_id_"), explode(col("gks")).as("gk"))
      .join(broadcast(bench), Seq("gk"))
      .groupBy(col("doc_id_"))
      .agg(count(lit(1)).as("shared_grams"))
    totals.join(shared, Seq("doc_id_"), "left")
      .select(col("doc_id_").as(idCol), col("total_grams"),
        coalesce(col("shared_grams"), lit(0L)).as("shared_grams"))
      .withColumn("contam_milli",
        expr("(1000 * shared_grams) DIV total_grams"))
      .withColumn("contaminated", col("contam_milli") >= thresholdMilli)
  }

  /** Per-doc DISTINCT gram-key ARRAY ([[graft.plans.GramKeys]], one
    * generated pass per row): null for null text, empty for sub-k
    * docs (no whole-doc fallback). The former relational shape
    * (posexplode + window lead + corpus-wide distinct — kept in test
    * sources as `gramKeysRelational`, equivalence test-pinned) shuffled the
    * whole token stream into doc-keyed window sorts and paid a second
    * full exchange for the distinct; the kernel makes gram derivation
    * (and the gram COUNT, via `size`) row-local. The within-row
    * distinct equals the corpus-wide one under the unique-id contract
    * every catalog table guarantees.
    */
  private def tokenGramKeyArr(textCol: String, k: Int): Column =
    graft.plans.Kernels.gram_keys(
      split(lower(col(textCol)), "[^a-z0-9_]+"), lit(k), lit(false))

  /** Distinct (doc, md5(token k-gram)) pairs via [[tokenGramKeyArr]]. */
  private def tokenGramKeys(df: DataFrame, idCol: String, textCol: String,
                            k: Int): DataFrame =
    df.select(col(idCol).as("doc_id_"),
      explode(tokenGramKeyArr(textCol, k)).as("gk"))

  /** Majority-vote portable sketches, stated RELATIONALLY: explode the
    * TOKENS, hash each in a codegen'd projection (round-6: hashing
    * inside the `transform` lambda ran the md5 through the interpreted
    * HOF path per token), and aggregate `bits` signed bit-votes per
    * document in ONE hash aggregate (a lambda formulation would
    * re-evaluate the token-hash array per bit after projection
    * collapse — 32× the hashing). Token-less documents sketch to 0
    * (explode_outer keeps them as one null-token row whose null hash
    * never wins a bit). Returns (doc_id_, sketch).
    */
  private def portableSketches(df: DataFrame, idCol: String, textCol: String,
                               bits: Int): DataFrame =
    // the WHOLE majority-vote sketch in one generated pass per row
    // ([[graft.plans.PortableSimhash]]) — a PURE MAP fused with the
    // scan; the relational statement (explode + hash projection + one
    // bits-column vote aggregate, kept in test sources as
    // `portableSketchesRelational`, equivalence test-pinned)
    // shuffled every token hash into a doc-keyed aggregate for one
    // per-row long. Token-less and null-text docs sketch to 0, the
    // explode_outer behavior.
    df.select(col(idCol).as("doc_id_"),
      graft.plans.Kernels.portable_simhash(
        split(lower(col(textCol)), "\\W+"), lit(bits)).as("sketch"))

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist over the
    * PORTABLE `bits`-bit sketch, found by the pigeonhole band trick:
    * split the sketch into maxDist+1 chunks — any pair within distance
    * shares at least one exact chunk, so candidates come from
    * equi-joins on (chunk index, chunk value), never an all-pairs scan.
    * Every step is a built-in expression or kernel, so a SQL oracle
    * verifies it end to end.
    *
    * Requires 0 ≤ maxDist < bits ≤ 32: each chunk must keep at least
    * one bit (with maxDist ≥ bits every chunk key would be the
    * constant 0 and the join all-pairs), and the sketch has 32 bits.
    *
    * Each (chunk, key) bucket is capped at `maxBucket` rows, lowest
    * ids kept, as in [[minhashPairsPortable]]: n near-identical docs
    * share every chunk, and an uncapped bucket joins into n(n-1)/2
    * candidates before the Hamming filter. The cap is loud, through
    * the same observed `capped_buckets` / `rows_dropped_by_cap` metric
    * (`capMetrics`, else an auto-named `simhash_band_cap_<n>`).
    * Precondition: `idCol` is unique (the cap ranks by it).
    */
  def simhashPairsPortable(df: DataFrame, idCol: String, textCol: String,
                           maxDist: Int = 3, bits: Int = 32,
                           maxBucket: Int = 1000,
                           capMetrics: Option[Observation] = None): DataFrame = {
    require(bits >= 1 && bits <= 32 && maxDist >= 0 && maxDist < bits,
      s"simhashPairsPortable needs 0 <= maxDist < bits <= 32 (maxDist=$maxDist, bits=$bits)")
    val chunks = maxDist + 1
    val bitsPer = bits / chunks
    val sketched = portableSketches(df, idCol, textCol, bits)
    val banded = sketched
      .select(col("doc_id_"), col("sketch"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk"))
      .withColumn("ckey",
        pmod(floor(col("sketch") / pow(lit(2.0), col("chunk") * bitsPer)).cast("long"),
          lit(1L << bitsPer)))
    val wB = Window.partitionBy("chunk", "ckey").orderBy("doc_id_")
    val capped = observeCap(banded.withColumn("rn", row_number().over(wB)),
        maxBucket, capMetrics, "simhash_band_cap")
      .filter(col("rn") <= maxBucket).drop("rn")
    val left = capped.select(col("chunk"), col("ckey"),
      col("doc_id_").as("id_a"), col("sketch").as("sk_a"))
    val right = capped.select(col("chunk"), col("ckey"),
      col("doc_id_").as("id_b"), col("sketch").as("sk_b"))
    left.join(right, Seq("chunk", "ckey"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b", "sk_a", "sk_b").distinct()
      .withColumn("hamming", bit_count(col("sk_a").bitwiseXOR(col("sk_b"))))
      .filter(col("hamming") <= maxDist)
      .select("id_a", "id_b", "hamming")
  }

  // ---------- exact n-gram jaccard ----------

  /** Exact n-gram Jaccard similarity for candidate pairs — the
    * verification stage behind the MinHash estimate. `pairs` carries
    * (id_a, id_b); texts join in by id. Grams are the distinct md5
    * keys of [[ngramContainment]]'s derivation (lowercase, `\W+`
    * split, sub-k docs fall back to the whole-doc gram), so for the
    * same pairs and `k` jaccard = n_shared / (n_a + n_b − n_shared).
    * Null text has no grams: its pairs score 0.0. Pure Catalyst set
    * algebra (array_intersect / array_union on the key arrays).
    */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, idCol: String,
                   textCol: String, k: Int = 5): DataFrame = {
    val sh = docs.select(col(idCol).as("jid"),
      coalesce(graft.plans.Kernels.gram_keys(
          split(lower(col(textCol)), "\\W+"), lit(k), lit(true)),
        array().cast("array<string>")).as("jsh"))
    pairs
      .join(sh.select(col("jid").as("id_a"), col("jsh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("jid").as("id_b"), col("jsh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        when(size(array_union(col("sh_a"), col("sh_b"))) === 0, lit(0.0))
          .otherwise(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
            size(array_union(col("sh_a"), col("sh_b"))).cast("double")))
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Asymmetric n-gram containment over candidate pairs:
    * cont(A→B) = |grams(A) ∩ grams(B)| / |grams(A)|, both directions,
    * in integer milli (truncating DIV — no float ties). Containment is
    * the dup signal symmetric Jaccard misses: a short document quoted
    * verbatim inside a long one has LOW Jaccard (the union is large)
    * but containment 1.0 from the short side — the quote-inclusion /
    * boilerplate-wrapping case of public near-dup practice (Broder's
    * original resemblance/containment pair). Run it as the verify
    * stage on LSH candidate pairs, exactly like [[ngramJaccard]].
    *
    * Word k-grams with the same derivation as the portable MinHash
    * shingles (lowercase, `\W+` split, sub-k docs fall back to the
    * whole-doc gram), keyed on md5 — stated relationally (posexplode +
    * lead, never an array column inside a lambda).
    *
    * Scale shape: pair-bounded — grams join pairs on the doc key, then
    * the shared-gram count is one equi-join on (id_b, gram) + one
    * aggregate; per-doc gram counts ride a doc-keyed aggregate. No
    * all-pairs anywhere: the quadratic risk lives in the candidate
    * generator, which caps its buckets ([[minhashPairsPortable]]).
    *
    * @return (id_a, id_b, n_a, n_b, n_shared, cont_a_milli, cont_b_milli)
    */
  def ngramContainment(pairs: DataFrame, docs: DataFrame, idCol: String,
                       textCol: String, k: Int = 3): DataFrame = {
    // per-doc distinct gram keys in one generated pass
    // ([[graft.plans.GramKeys]], whole-doc fallback for sub-k docs —
    // the same derivation as the portable MinHash shingles); gram
    // COUNTS are the array size, a pure map — the former relational
    // shape (kept in test sources as `gramKeysRelational`, equivalence
    // test-pinned)
    // paid a doc-keyed window shuffle, a corpus-wide distinct AND a
    // counting aggregate for what one projection now computes.
    val docsK = docs.select(col(idCol).as("cid"),
        graft.plans.Kernels.gram_keys(
          split(lower(col(textCol)), "\\W+"), lit(k), lit(true)).as("gs"))
      .filter(col("gs").isNotNull) // null-text docs carry no grams
    val grams = docsK.select(col("cid"), explode(col("gs")).as("g"))
    val counts = docsK.select(col("cid"), size(col("gs")).cast("long").as("n"))

    val shared = pairs.select(col("id_a"), col("id_b"))
      .join(grams.select(col("cid").as("id_a"), col("g")), Seq("id_a"))
      .join(grams.select(col("cid").as("id_b"), col("g")), Seq("id_b", "g"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_shared"))
    pairs.select(col("id_a"), col("id_b"))
      .join(counts.select(col("cid").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(counts.select(col("cid").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .join(shared, Seq("id_a", "id_b"), "left")
      .withColumn("n_shared", coalesce(col("n_shared"), lit(0L)))
      .withColumn("cont_a_milli", expr("(1000 * n_shared) DIV n_a"))
      .withColumn("cont_b_milli", expr("(1000 * n_shared) DIV n_b"))
      .select("id_a", "id_b", "n_a", "n_b", "n_shared",
        "cont_a_milli", "cont_b_milli")
  }

  // ---------- cross-corpus paragraph dedup (C4-style) ----------

  /** Remove duplicated paragraphs ACROSS the corpus, keeping only the
    * globally-first occurrence (lexicographic (doc_id, pos)) of each
    * substantial paragraph — the C4 "discard repeated lines" curation
    * stage, applied corpus-wide rather than per-page. Paragraphs
    * shorter than `minLen` chars after space-trim are never deduped
    * (navigation crumbs and one-word lines would otherwise collapse
    * unrelated pages).
    *
    * Returns one row per input doc: total paragraph count, dropped
    * count, and md5 of the kept text (paragraphs rejoined by newline
    * in original order) so downstream equality checks need no text
    * exchange.
    *
    * Scale shape at 10^10 docs: paragraphs dedup-key on md5 (32-byte
    * key, not the text), first-occurrence via groupBy + partial-agg
    * min(struct) — window-free — then one hash join of eligible
    * paragraphs against the firsts table. Short paragraphs bypass the
    * join entirely (they would all share a null key and pile onto one
    * partition); viral-boilerplate hot keys are one row on the build
    * side and AQE skew-split handles the probe side.
    */
  def paragraphDedup(df: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 40): DataFrame = {
    val para = df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "para")))
      .withColumn("elig", length(trim(col("para"))) >= minLen)
    val eligible = para.filter(col("elig")).withColumn("h", md5(col("para")))
    val firsts = eligible.groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("first"))
    val keptElig = eligible.join(firsts, Seq("h"))
      .withColumn("keep", col("first.doc_id") === col("doc_id") &&
        col("first.pos") === col("pos"))
      .select(col("doc_id"), col("pos"), col("para"), col("keep"))
    val keptShort = para.filter(!col("elig"))
      .select(col("doc_id"), col("pos"), col("para"), lit(true).as("keep"))
    keptElig.unionByName(keptShort)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_paras"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("para"))))),
          x => x.getField("para")), "\n")).as("kept_hash"))
  }

  /** Global line-frequency scrub (the CCNet / RefinedWeb shard-level
    * "repeated lines" pass, public): count every line's occurrences
    * ACROSS the corpus and drop ALL occurrences of lines appearing in
    * ≥ `maxDf` documents — boilerplate (cookie banners, nav bars,
    * footers) repeats corpus-wide, prose doesn't. Distinct from
    * [[paragraphDedup]] (keep-FIRST of each paragraph): a
    * frequency-threshold scrub keeps NO copy of over-represented
    * lines and leaves under-threshold repeats alone. Lines shorter
    * than `minLen` trimmed chars bypass counting (crumbs/bullets
    * would dominate the key space).
    *
    * Returns one row per doc: line count, dropped count, md5 of the
    * kept text (lines rejoined in original order).
    *
    * Scale shape at 10^10 docs: lines key on md5 (fixed 32-byte key,
    * never the text); the document-frequency table is a groupBy with
    * partial aggregation (viral lines combine map-side), the verdict
    * join is a hash equi-join against that table pre-filtered to
    * OVER-threshold keys only (at web scale a tiny fraction of
    * distinct lines — the build side stays small without any
    * broadcast assumption on the full line dimension), and short
    * lines never enter the shuffle.
    */
  def lineFrequencyDedup(df: DataFrame, idCol: String, textCol: String,
                         maxDf: Int = 5, minLen: Int = 20): DataFrame = {
    val lines = df.select(col(idCol).cast("long").as("doc_id"),
        posexplode(split(col(textCol), "\n", -1)).as(Seq("pos", "line")))
      .withColumn("elig", length(trim(col("line"))) >= minLen)
    val eligible = lines.filter(col("elig")).withColumn("h", md5(col("line")))
    // doc-frequency: distinct docs per line key, kept only when the
    // threshold is crossed — the join's build side
    val over = eligible.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("docf"))
      .filter(col("docf") >= maxDf)
      .select(col("h"), lit(true).as("over"))
    val keptElig = eligible.join(over, Seq("h"), "left")
      .select(col("doc_id"), col("pos"), col("line"),
        col("over").isNull.as("keep"))
    val keptShort = lines.filter(!col("elig"))
      .select(col("doc_id"), col("pos"), col("line"), lit(true).as("keep"))
    keptElig.unionByName(keptShort)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lines"),
        sum(when(!col("keep"), 1L).otherwise(0L)).as("n_dropped"),
        md5(array_join(transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n")).as("kept_hash"))
  }

  // ---------- exact-substring span scrub ----------

  /** k-token duplicate-SPAN scrub — the distributable gram-granularity
    * formulation of exact-substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better":
    * remove every span that appears verbatim elsewhere in the corpus).
    * The paper's suffix-array construction is a single-machine
    * algorithm; the Spark-native equivalent works at k-token
    * resolution: every k-token gram whose corpus document frequency
    * is ≥ `minDf` marks its k-token window [pos, pos+k) as duplicated,
    * overlapping/adjacent windows merge, and the scrubbed document
    * keeps only uncovered tokens. A shared span of L ≥ k tokens is
    * covered exactly by its L−k+1 shared grams, so merged windows
    * recover cross-document spans at ±(k−1)-token boundary resolution
    * — spans shorter than k tokens are deliberately invisible (the
    * paper's own threshold plays the same role).
    *
    * Returns one row per doc: `n_tokens`, `n_spans` (merged duplicated
    * spans), `n_covered` (tokens inside them), `kept_hash` (md5 of the
    * uncovered tokens, space-rejoined in original order).
    *
    * Scale shape at 10^10 docs: grams key on md5 (fixed 32-byte key,
    * never the text); the gram document-frequency table is one
    * partial-aggregating groupBy pre-filtered to over-threshold keys
    * only, so the verdict semi-join's build side is DUPLICATED grams
    * only (the same bounded-build-side shape as [[lineFrequencyDedup]]
    * — at web scale a small fraction of distinct grams, with no
    * broadcast assumption on the full gram dimension). Span merging is
    * a per-token running-last window within one document (bounded by
    * document length, never corpus-global — a token is covered iff the
    * last flagged gram position at-or-before it is < k tokens back).
    * Everything is stated RELATIONALLY (posexplode + window lead/last)
    * — never an array-valued column inside a transform/filter lambda,
    * which projection collapse re-inlines per element into O(n²)
    * evaluation (the measured fingerprint foot-gun).
    */
  def duplicateSpanScrub(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 8, minDf: Int = 2): DataFrame = {
    require(k >= 1, "gram length k must be >= 1")
    // round-6 shape: gram keys per row ([[graft.plans.GramKeySeq]] —
    // posexplode reproduces the former (pos, hash) rows without the
    // doc-keyed window shuffle), the corpus-wide gram-df verdict
    // exactly as before (the one FUNDAMENTAL exchange of this
    // operator), then the flagged POSITIONS come back per doc as one
    // small array and the whole coverage/kept-hash summary is a
    // generated per-row kernel ([[graft.plans.SpanCoverage]]). The
    // former relational tail — token stream joined against the flags,
    // two doc-keyed window passes, a per-doc collect_list sort of
    // EVERY token — is kept in test sources as
    // `duplicateSpanScrubRelational`, equivalence test-pinned. The flagged-position lists are bounded
    // by doc length, strictly smaller than the old all-token
    // collect_list.
    val rawToks = split(lower(col(textCol)), "[^a-z0-9_]+")
    val docsK = df.select(col(idCol).cast("long").as("doc_id"),
      rawToks.as("rtk"))
    val grams = docsK.select(col("doc_id"),
      posexplode(graft.plans.Kernels.gram_key_seq(col("rtk"), lit(k)))
        .as(Seq("pos", "h")))
    val dup = grams.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("docf"))
      .filter(col("docf") >= minDf)
      .select("h")
    val flaggedPos = grams.join(dup, Seq("h"), "left_semi")
      .groupBy("doc_id").agg(collect_list(col("pos")).as("fpos"))
    docsK.join(flaggedPos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        graft.plans.Kernels.span_coverage(col("rtk"), col("fpos"),
          lit(k)).as("g"))
      .select(col("doc_id"),
        col("g.n_tokens").as("n_tokens"), col("g.n_spans").as("n_spans"),
        col("g.n_covered").as("n_covered"), col("g.kept_hash").as("kept_hash"))
  }

}
