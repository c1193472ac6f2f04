package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Link-graph analytics over the crawl's extracted-outlink table — the
  * frontier-prioritization signals a web-scale scheduler feeds back into
  * the priority queue. The reference scores a task only by its configured
  * priority and fetch frequency (`crawler/taskfeeder.py` 96/freq+1 rule,
  * rebuilt as [[graft.core.Model.priorityScore]]); a 10^10-URL frontier
  * additionally wants the link structure itself — PageRank mass for
  * schedule ordering and connected components for mirror/host-cluster
  * collapsing. Both kernels materialize their working set once; a small
  * one (at most [[LocalFinish.MaxValues]] values) finishes on the driver,
  * a larger one iterates as DataFrame rounds, each a bounded number of
  * key-partitioned joins/aggregates, so a 4× executor scale-up shards
  * every step.
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
    * Vertices nobody links to hold the base mass (+ the damped share
    * when redistributing).
    *
    * The vertices and the degree-annotated edges (`outdeg` computed
    * once, riding on the edge rows) are materialized once, one job
    * whose `Observation` counts them, |V| and the dangling vertices
    * (a vertex row carries its dangling flag). When they hold at most
    * [[LocalFinish.MaxValues]] values they are collected once and the
    * iterations run on the driver with the same integer arithmetic.
    * Otherwise the edges are hash-partitioned by src once and persisted,
    * and each iteration is one src-keyed equi-join of the ranks to them
    * (the edges never move again) and one dst-keyed partial-aggregated
    * sum; the ranks are eagerly checkpointed per round, so the logical
    * plan stays O(1) nodes (same rationale as
    * [[Dedup.connectedMinLabels]]). The
    * dangling mass of a round is an observed sum over the flagged rows
    * on that round's checkpoint job, so redistribution adds no job.
    * `reliableCheckpoints=true` checkpoints to the SparkContext's
    * checkpoint dir — the lost-executor-safe path a real cluster run
    * wants (caller must `sc.setCheckpointDir` first, checked before any
    * job runs).
    *
    * @param vertices one-column frame of vertex ids (first column used)
    * @param edges    (src, dst) long columns; parallel edges count twice
    * @return (v, rank_micro) — rank in micro-units, Σ≈scale·|V| minus
    *         dangling leakage
    */
  def pageRank(vertices: DataFrame, edges: DataFrame, iterations: Int,
               dampingPermille: Long = 850L, scale: Long = 1000000L,
               reliableCheckpoints: Boolean = false,
               redistributeDangling: Boolean = false): DataFrame =
    pageRank(vertices, edges, iterations, dampingPermille, scale,
      reliableCheckpoints, redistributeDangling, LocalFinish.MaxValues)

  private[graft] def pageRank(vertices: DataFrame, edges: DataFrame, iterations: Int,
                              dampingPermille: Long, scale: Long,
                              reliableCheckpoints: Boolean,
                              redistributeDangling: Boolean,
                              localBound: Long): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampingPermille >= 0L && dampingPermille <= 1000L,
      s"dampingPermille must be in [0,1000], got $dampingPermille")
    val spark = vertices.sparkSession
    val ckpt = Dedup.checkpointer(spark, reliableCheckpoints)
    val v = vertices.select(col(vertices.columns.head).cast("long").as("v"))
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // a sink: a vertex that is no edge's src (a null id is never one)
    val vRows =
      if (redistributeDangling)
        v.join(deg.select(col("src"), lit(true).as("out")), v("v") === col("src"), "left")
          .select(v("v"), (v("v").isNotNull && col("out").isNull).as("dangling"))
      else v.select(col("v"), lit(false).as("dangling"))
    val nullLong = lit(null).cast("long")
    val volume = Observation()
    // state rows: a vertex (v, dst = null, outdeg = null, dangling) or
    // an edge (v = src, dst, outdeg)
    val state = ckpt(vRows.select(col("v"), nullLong.as("dst"), nullLong.as("outdeg"),
        col("dangling"), lit(false).as("edge"))
      .unionByName(e.join(deg, "src").select(col("src").as("v"), col("dst"),
        col("outdeg"), lit(false).as("dangling"), lit(true).as("edge")))
      .observe(volume,
        coalesce(sum(when(col("edge"), 3L).otherwise(1L)), lit(0L)).as("values"),
        coalesce(sum(when(col("edge"), 0L).otherwise(1L)), lit(0L)).as("vertices"),
        coalesce(sum(when(col("dangling"), 1L).otherwise(0L)), lit(0L)).as("dangling")))
    val m = volume.get
    val nV = m("vertices").asInstanceOf[Long]
    val base = scale * (1000L - dampingPermille) / 1000L
    // the share of the dangling mass each vertex gets (integer DIV —
    // exact, deterministic)
    def shareOf(danglingMass: Long): Long =
      if (redistributeDangling && nV > 0L) danglingMass / nV else 0L
    if (m("values").asInstanceOf[Long] <= localBound)
      pageRankLocal(state.collect(), iterations, dampingPermille, scale, base,
        shareOf, spark)
    else {
      // the degree-annotated edges, hash-partitioned by src once and
      // persisted (a checkpoint keeps no partitioning under adaptive
      // execution): every round joins the ranks to them without moving
      // them
      val eDeg = state.filter(col("edge"))
        .select(col("v").as("src"), col("dst"), col("outdeg"))
        .repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt, col("src"))
        .persist()
      val vFlags = state.filter(!col("edge")).select(col("v"), col("dangling"))
      var ranks = vFlags.withColumn("rank_micro", lit(scale))
      var danglingMass = Math.multiplyExact(scale, m("dangling").asInstanceOf[Long])
      try (1 to iterations).foreach { _ =>
        val share = shareOf(danglingMass)
        val contribs = eDeg
          .join(ranks.select(col("v").as("src"), col("rank_micro")), "src")
          .select(col("dst"), expr("rank_micro DIV outdeg").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("s"))
        val next = vFlags.join(contribs, vFlags("v") === contribs("dst"), "left")
          .select(col("v"), col("dangling"), (lit(base) +
            expr(s"($dampingPermille * (coalesce(s, CAST(0 AS BIGINT)) + $share)) DIV 1000"))
            .as("rank_micro"))
        // the mass on sinks this round, observed on the checkpoint's job
        if (redistributeDangling) {
          val mass = Observation()
          ranks = ckpt(next.observe(mass,
            coalesce(sum(when(col("dangling"), col("rank_micro"))), lit(0L)).as("mass")))
          danglingMass = mass.get("mass").asInstanceOf[Long]
        } else ranks = ckpt(next)
      } finally eDeg.unpersist()
      ranks.select(col("v"), col("rank_micro"))
    }
  }

  /** The iterations of [[pageRank]] over the collected state, in arrays
    * indexed by distinct vertex id: each edge contributes once per
    * vertex row of its src (the join's multiplicity) and never to a dst
    * outside the vertex set; overflow fails as Spark's ANSI long
    * arithmetic does.
    */
  private def pageRankLocal(rows: Array[Row], iterations: Int, dampingPermille: Long,
                            scale: Long, base: Long, shareOf: Long => Long,
                            spark: SparkSession): DataFrame = {
    import Math.{addExact, multiplyExact}
    val sorted = rows.iterator.filter(r => !r.getBoolean(4) && !r.isNullAt(0))
      .map(_.getLong(0)).toArray
    java.util.Arrays.sort(sorted)
    // distinct ids, and the number of vertex rows of each
    val ids = sorted.distinct
    val mult = new Array[Long](ids.length)
    def index(r: Row, i: Int): Int =
      if (r.isNullAt(i)) -1 else java.util.Arrays.binarySearch(ids, r.getLong(i)) max -1
    sorted.foreach(id => mult(java.util.Arrays.binarySearch(ids, id)) += 1L)
    // one entry per dangling vertex row
    val dangling = rows.iterator.filter(r => !r.getBoolean(4) && r.getBoolean(3))
      .map(index(_, 0)).toArray
    // edges whose src is a vertex; dst -1 when it is none
    val (src, dst, outdeg) =
      (Array.newBuilder[Int], Array.newBuilder[Int], Array.newBuilder[Long])
    rows.foreach { r =>
      if (r.getBoolean(4) && index(r, 0) >= 0) {
        src += index(r, 0); dst += index(r, 1); outdeg += r.getLong(2)
      }
    }
    val (es, ed, eo) = (src.result(), dst.result(), outdeg.result())
    var rank = Array.fill(ids.length)(scale)
    var rankOfNull = scale
    def step(s: Long, share: Long): Long =
      addExact(base, multiplyExact(dampingPermille, addExact(s, share)) / 1000L)
    (1 to iterations).foreach { _ =>
      val share = shareOf(dangling.foldLeft(0L)((acc, d) => addExact(acc, rank(d))))
      val s = new Array[Long](ids.length)
      var e = 0
      while (e < es.length) {
        if (ed(e) >= 0)
          s(ed(e)) = addExact(s(ed(e)), multiplyExact(mult(es(e)), rank(es(e)) / eo(e)))
        e += 1
      }
      rank = s.map(step(_, share))
      rankOfNull = step(0L, share)
    }
    val out = new java.util.ArrayList[Row](sorted.length)
    rows.foreach { r =>
      if (!r.getBoolean(4)) out.add(
        if (r.isNullAt(0)) Row(null, rankOfNull) else Row(r.getLong(0), rank(index(r, 0))))
    }
    spark.createDataFrame(out, StructType(Seq(StructField("v", LongType),
      StructField("rank_micro", LongType, nullable = false))))
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
