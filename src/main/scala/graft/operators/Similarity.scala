package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[cosineTopK]] — brute-force exact top-k (a generated dot
  *    product kernel): the correctness baseline,
  *    O(|queries|·|corpus|);
  *  - [[lshTopKPortable]] — random-hyperplane LSH buckets + exact
  *    rerank inside buckets: the scale path; recall tunable by (bits,
  *    tables).
  *
  * Embedding-cosine near-dup ([[cosineDupPairsPortable]]) rides the
  * same LSH bucketing.
  */
object Similarity {

  /** dot(a,b) over two array<float> cols — a generated kernel
    * ([[graft.plans.VectorExprs.floatDot]]) that replicates the
    * `aggregate(zip_with(a,b,_*_), 0.0d, _+_)` fold BIT-EXACTLY
    * (float multiply, double accumulate, element order): the HOF form
    * is CodegenFallback and its interpreted lambdas made pair scoring
    * ~100× slower than the generated loop.
    */
  def dot(a: Column, b: Column): Column = graft.plans.Kernels.float_dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** cosine(a,b); 0.0 when either norm is 0 (never NaN). */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0.0, lit(0.0)).otherwise(d / n)
  }

  /** Exact cosine top-k neighbors of every query vector.
    * `queries`/`corpus`: (id, vec). Returns (query_id, neighbor_id,
    * cosine, rank). Self-pairs excluded. The corpus side should be the
    * broadcast-able one; at bench scale Catalyst's BNLJ handles it.
    */
  def cosineTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("id").as("query_id"), col("vec").as("qvec"))
    val c = corpus.select(col("id").as("neighbor_id"), col("vec").as("cvec"))
    val scored = q.crossJoin(c)
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", cosine(col("qvec"), col("cvec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** All `tables` portable signatures from ONE scan: the table id is
    * exploded FIRST and each row's bucket is one
    * [[graft.plans.LshBucket]] kernel call — `bits` sign tests of
    * [[graft.plans.VectorExprs.floatDoubleDot]] folds against the md5
    * planes ([[graft.plans.LshPlanes.component]], the numbers the
    * oracle states). The planes are the kernel's state, built once per
    * call site from (dim, bits, tables): the plan carries those three
    * ints, not a tables × bits × dim literal (which, referenced once
    * per bit, made every description of these plans megabytes long,
    * and the SQL status store keeps each one for the session). A
    * single small codegen'd projection serves every table.
    */
  private def bucketedPortable(df: DataFrame, idName: String, vecName: String,
                               dim: Int, bits: Int, tables: Int): DataFrame = {
    val planes = graft.plans.LshPlanes(dim, bits, tables)
    df.select(col("id").as(idName), col("vec").as(vecName),
        explode(sequence(lit(0), lit(tables - 1))).as("table"))
      .select(col(idName), col(vecName), col("table"),
        graft.plans.Kernels.lsh_bucket(col(vecName), col("table"), planes).as("bucket"))
  }

  /** Approximate cosine top-k: `tables` independent hyperplane hash
    * tables over the portable signatures; candidates = corpus rows
    * sharing a bucket with the query in ANY table; exact cosine rerank
    * inside the candidate set. Recall rises with tables, bucket
    * selectivity with bits. Every step is oracle-checkable.
    */
  def lshTopKPortable(queries: DataFrame, corpus: DataFrame, k: Int,
                      dim: Int, bits: Int = 10, tables: Int = 6): DataFrame = {
    def bucketed(df: DataFrame, idName: String, vecName: String): DataFrame =
      bucketedPortable(df, idName, vecName, dim, bits, tables)
    val qb = bucketed(queries, "query_id", "qvec")
    val cb = bucketed(corpus, "neighbor_id", "cvec")
    // The exact rerank cosine is computed BEFORE the candidate dedup
    // and the vec arrays are dropped at the join's projection: the
    // (query, neighbor) pair fully determines the cosine (same two
    // vectors through the same sequential fold), so deduplicating
    // (ids, cosine) rows is result-identical to deduplicating vec
    // rows — and the dedup exchange now carries three scalars instead
    // of two dim-length float arrays (guide §2.3/§8: every shuffle
    // but the payload-bearing one moves a lightweight proxy). It also
    // turns the dedup from a Sort+SortAggregate (First over an array
    // is not a mutable aggregate buffer, so Spark falls back to the
    // sort-based aggregate) into a map-side-combinable hash
    // aggregate. Cost: a duplicate candidate (≤ `tables` copies per
    // pair) evaluates its dot product once per copy instead of once
    // per pair — dim multiply-adds in a generated loop, strictly
    // cheaper than sort-shuffling the arrays those copies carried.
    val candidates = qb.join(cb, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        cosine(col("qvec"), col("cvec")).as("cosine"))
      .dropDuplicates("query_id", "neighbor_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    candidates.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }

  /** Embedding-cosine near-duplicate pairs (cosine ≥ threshold,
    * rounded to 4 places), bucketed by the portable hyperplane
    * signatures (id_a < id_b).
    *
    * Precondition: `id` is unique. The threshold filter runs below the
    * pair dedup, and filter∘dedup ≡ dedup∘filter only while the id
    * pair determines the cosine: with a repeated id, one (id_a, id_b)
    * key carries several cosines, and the pair survives if ANY of them
    * passes rather than the one copy a dedup-first plan would keep.
    * Not checked at run time — the check would add a Spark job to
    * every call.
    */
  def cosineDupPairsPortable(df: DataFrame, threshold: Double, dim: Int,
                             bits: Int = 8, tables: Int = 6): DataFrame = {
    def bucketed(idName: String, vecName: String): DataFrame =
      bucketedPortable(df, idName, vecName, dim, bits, tables)
    // cosine AND the threshold filter run BEFORE the pair dedup (see
    // [[lshTopKPortable]]): the pair determines the cosine, so
    // filter∘dedup ≡ dedup∘filter — and pushing the filter below the
    // dedup exchange drops every below-threshold candidate before it
    // is shuffled at all (guide §2.3), while the dedup itself moves
    // (long, long, double) rows instead of two float arrays.
    bucketed("id_a", "vec_a").join(bucketed("id_b", "vec_b"), Seq("table", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        cosine(col("vec_a"), col("vec_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** SemDedup (Abbas et al. 2023, "SemDeDup", public): semantic
    * near-duplicate REMOVAL — cluster the embedding space with the
    * portable IVF k-means ([[IvfIndex.trainPortable]]), then inside
    * each cluster drop every document whose cosine to a LOWER-id
    * cluster-mate reaches `tau` (keep-first, deterministic). Unlike
    * [[cosineDupPairsPortable]] (which REPORTS near-dup pairs), this
    * emits the keep/drop decision a pipeline acts on, and unlike
    * MinHash it catches paraphrases — text that shares meaning, not
    * shingles.
    *
    * Scale shape at 10^10 docs: train touches k×dim driver state only;
    * assign is one map over the corpus; the pair stage is an EQUI-join
    * on cluster id (never corpus²) — cost Σ|cluster|², the SemDedup
    * trade, bounded by choosing k ∝ corpus size so clusters stay
    * ~constant-sized. Keep/drop needs no iteration: "dominated by any
    * lower id" is a single aggregate over pairs, unlike transitive-
    * closure dedup ([[Dedup]] CC) — SemDedup's published semantics.
    *
    * Every arithmetic step is the oracle-proven portable kind
    * (fixed-point integer k-means; sequential-fold float cosine), so
    * the whole operator is statable as one SQL oracle.
    *
    * Returns (id, cluster, kept) for every corpus row.
    */
  def semDedup(spark: org.apache.spark.sql.SparkSession, corpus: DataFrame,
               k: Int, iterations: Int, tau: Double,
               reliableCheckpoints: Boolean = false): DataFrame = {
    val ckpt = Dedup.checkpointer(spark, reliableCheckpoints)
    val cents = IvfIndex.trainPortable(spark, corpus, k, iterations)
    // materialize the assignment ONCE: it feeds both self-join sides
    // and the final verdict join — unmaterialized, Spark re-evaluates
    // the k-way nearest-centroid expression three times over the
    // corpus (measured 10.2 s -> 4 s at sf0.1). At production scale
    // the assignment is written to a table before the pair stage (the
    // published SemDeDup recipe does exactly this); in session it is
    // the [[Dedup.checkpointer]] of `reliableCheckpoints`.
    val assigned = ckpt(IvfIndex.assignPortable(corpus, cents)
      .select(col("id"), col("vec"), col("cluster")))
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
      .filter(cosine(col("a.vec"), col("b.vec")) >= tau)
      .select(col("b.id").as("id")).distinct()
    assigned.join(dropped.withColumn("dropped", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cluster"),
        not(coalesce(col("dropped"), lit(false))).as("kept"))
  }
}
