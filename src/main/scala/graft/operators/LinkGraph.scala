package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over the crawl's extracted-outlink table — the
  * frontier-prioritization signals a web-scale scheduler feeds back into
  * the priority queue. The reference scores a task only by its configured
  * priority and fetch frequency (`crawler/taskfeeder.py` 96/freq+1 rule,
  * rebuilt as [[graft.core.Model.priorityScore]]); a 10^10-URL frontier
  * additionally wants the link structure itself — PageRank mass for
  * schedule ordering and connected components for mirror/host-cluster
  * collapsing. Both kernels here are pure DataFrame iteration: no driver
  * graph state, no RDDs, each round a bounded number of key-partitioned
  * joins/aggregates, so a 4× executor scale-up shards every step.
  *
  * Arithmetic is FIXED-POINT INTEGER (ranks in micro-units, damping in
  * per-mille) so results are bit-exact across engines — the DuckDB
  * oracle states the same iterations in SQL with integer division and
  * the hashes must match exactly; no float summation-order ulps.
  */
object LinkGraph {

  /** PageRank with damping over a directed (src, dst) edge table.
    *
    * Semantics (per iteration, all integer ops):
    *   contrib(u→v) = rank(u) DIV outdeg(u)
    *   rank'(v)     = scale·(1000−damping)/1000
    *                  + (damping · (Σ contrib(·→v) + share)) DIV 1000
    * where `share` = 0 by default (dangling vertices simply leak their
    * mass — the simplified formulation the oracle states), or, with
    * `redistributeDangling=true`, the true-PageRank correction
    * `share = (Σ_{outdeg(u)=0} rank(u)) DIV |V|`: at web scale ~20-30%
    * of frontier URLs are sinks, and without the correction ranks
    * systematically deflate and the frontier-priority ordering drifts.
    * The correction stays EXACT in integer micro-units — one extra
    * 1-row aggregate per iteration (the dangling-vertex set itself is
    * iteration-invariant and computed once). Vertices nobody links to
    * hold the base mass (+ the damped share when redistributing).
    *
    * Scale shape at 10^10 edges: `outdeg` is computed ONCE and rides on
    * the edge rows (one src-keyed aggregate + join, amortized across all
    * iterations); each iteration is exactly one src-keyed equi-join
    * (ranks are keyed by vertex, edges arrive hash-partitioned by src —
    * the same partitioning every round, so the exchange is reused) and
    * one dst-keyed partial-aggregated sum. Ranks are eagerly
    * checkpointed per round so the logical plan stays O(1) nodes instead
    * of growing with the iteration count (same rationale as
    * [[Dedup.connectedMinLabels]]); `reliableCheckpoints=true` swaps the
    * executor-local blocks for `checkpoint()` to the SparkContext's
    * checkpoint dir — the lost-executor-safe path a real cluster run
    * wants (caller must `sc.setCheckpointDir` first).
    *
    * @param vertices one-column frame of vertex ids (first column used)
    * @param edges    (src, dst) long columns; parallel edges count twice
    * @return (v, rank_micro) — rank in micro-units, Σ≈scale·|V| minus
    *         dangling leakage
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iterations: Int,
               dampingPermille: Long = 850L, scale: Long = 1000000L,
               reliableCheckpoints: Boolean = false,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPermille >= 0L && dampingPermille <= 1000L,
      s"dampingPermille must be in [0,1000], got $dampingPermille")
    val v = vertices.select(col(vertices.columns.head).cast("long").as("v"))
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val ckpt = Dedup.checkpointer(vertices.sparkSession, reliableCheckpoints)
    // degree once, riding with the edges for every iteration
    val eDeg = e.join(e.groupBy("src").agg(count(lit(1)).as("outdeg")), "src")
      .persist()
    val base = scale * (1000L - dampingPermille) / 1000L
    // dangling-vertex set: iteration-invariant, computed once; nV is a
    // 1-value driver scalar (like the IVF centroid state — k×1 values,
    // never data)
    val dangling: Option[DataFrame] =
      if (redistributeDangling)
        Some(v.join(e.select(col("src").as("v")).distinct(), Seq("v"), "left_anti")
          .persist())
      else None
    val nV = if (redistributeDangling) v.count() else 0L
    var ranks = v.withColumn("rank_micro", lit(scale))
    try {
      (1 to iterations).foreach { _ =>
        // 1-row aggregate: the mass sitting on sinks this round,
        // shared equally (integer DIV — exact, deterministic)
        val share = dangling match {
          case Some(d) if nV > 0L =>
            ranks.join(d, Seq("v"), "left_semi")
              .agg(coalesce(sum(col("rank_micro")), lit(0L)))
              .head().getLong(0) / nV
          case _ => 0L
        }
        val contribs = eDeg
          .join(ranks.withColumnRenamed("v", "src"), "src")
          .select(col("dst"), expr("rank_micro DIV outdeg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
        ranks = ckpt(v.join(contribs, v("v") === contribs("dst"), "left")
          .select(col("v"), (lit(base) +
            expr(s"($dampingPermille * (coalesce(s, CAST(0 AS BIGINT)) + $share)) DIV 1000"))
            .as("rank_micro")))
      }
      // each loop round already left `ranks` eagerly materialized by
      // `ckpt` (reliable or local per the flag) — re-pinning the
      // reliable result to executor-local blocks here would silently
      // downgrade the lost-executor-safe contract. Only the
      // iterations==0 start frame still needs materializing.
      if (iterations == 0) ckpt(ranks) else ranks
    } finally {
      eDeg.unpersist()
      dangling.foreach(_.unpersist())
    }
  }

  /** Anchor-text aggregation: per LINK TARGET, the inbound-link count,
    * distinct anchor-text count, and the top-`k` anchors by frequency
    * (ties by anchor asc — deterministic). The classic crawl→index
    * signal: anchor text is how the web describes a page, and search /
    * training pipelines attach it to the TARGET document (the reference
    * extracts per-page links+titles in its connectors,
    * `crawler/connectors/htmlconnector.py:58-152`, but never aggregates
    * them; this is the table-side rollup that step feeds at scale).
    *
    * Scale shape: one (url, anchor) aggregate (map-side partial combine
    * collapses the heavy repetition — most anchors repeat verbatim),
    * then per-url windows over DISTINCT anchors only (≪ inbound links;
    * a mega-hub with millions of inlinks usually carries thousands of
    * distinct anchors). Both steps shuffle on `url` once — the window
    * reuses the aggregate's partitioning.
    *
    * @param links (url, anchor) rows, one per extracted link
    * @return (url, anchor, c, rank, n_links, n_anchors) with rank ≤ k
    */
  def anchorText(links: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ac = links.groupBy(col("url"), col("anchor"))
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("url")
    ac.withColumn("rank", row_number().over(
        w.orderBy(col("c").desc, col("anchor").asc)))
      .withColumn("n_links", sum(col("c")).over(w))
      .withColumn("n_anchors", count(lit(1)).over(w))
      .filter(col("rank") <= k)
  }

  /** Connected components over an undirected (id_a, id_b) pair graph —
    * mirror-cluster / host-cluster collapse on the link graph. Thin
    * facade over the pointer-halving min-label kernel (O(log diameter)
    * rounds, see [[Dedup.connectedMinLabels]]). Returns (v, component)
    * where `component` is the minimum vertex id of the component.
    */
  def components(vertices: DataFrame, pairs: DataFrame,
                 reliableCheckpoints: Boolean = false): DataFrame =
    Dedup.connectedMinLabels(vertices, pairs,
        reliableCheckpoints = reliableCheckpoints)
      .select(col("v"), col("label").as("component"))
}
