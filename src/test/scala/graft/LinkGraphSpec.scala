package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAnalysis
import graft.operators.{Dedup, LinkGraph, LocalFinish}

/** Link-graph analytics: PageRank against hand-computed fixed-point
  * iterations, components against known topologies (including a chain
  * long enough that plain one-hop propagation would need more rounds
  * than pointer halving), BM25 against an independent plain-Scala
  * evaluation of the same integer formula. PageRank and components
  * run on both paths: the local finish and, with the bound forced to
  * 0, the distributed rounds.
  */
class LinkGraphSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-linkgraph-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  /** The two finishing paths, by their local bound. */
  private val bounds = Seq(LocalFinish.MaxValues, 0L)

  private def pageRank(vertices: DataFrame, edges: DataFrame, iterations: Int,
                       bound: Long, redistributeDangling: Boolean = false,
                       reliableCheckpoints: Boolean = false): DataFrame =
    LinkGraph.pageRank(vertices, edges, iterations, 850L, 1000000L,
      reliableCheckpoints, redistributeDangling, bound)

  private def ranks(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("pageRank matches two hand-computed damped integer iterations") {
    val vertices = Seq(0L, 1L, 2L).toDF("v")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    // iter1: s = (1000000, 500000, 1500000) -> r = (1000000, 575000, 1425000)
    // iter2: s = (1425000, 500000, 1075000) -> r = (1361250, 575000, 1063750)
    bounds.foreach { b =>
      assert(ranks(pageRank(vertices, edges, 2, b)) ===
        Map(0L -> 1361250L, 1L -> 575000L, 2L -> 1063750L), s"bound $b")
    }
  }

  test("pageRank: unlinked vertex holds exactly the base mass; zero iterations is the uniform start") {
    val vertices = Seq(0L, 1L, 2L, 3L).toDF("v")
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst") // 2,3 isolated
    bounds.foreach { b =>
      val r0 = pageRank(vertices, edges, 0, b).collect().map(r => r.getLong(1)).toSet
      assert(r0 === Set(1000000L))
      val r1 = ranks(pageRank(vertices, edges, 1, b))
      // 0 and 1 swap full mass: 150000 + 850*1000000//1000 = 1000000
      assert(r1(0L) === 1000000L && r1(1L) === 1000000L)
      // isolated vertices: base only
      assert(r1(2L) === 150000L && r1(3L) === 150000L)
    }
  }

  test("pageRank redistributeDangling matches a hand-computed iteration") {
    // chain 0→1→2: vertex 2 is a sink. n=3, danglingSum=1000000,
    // share = 1000000 DIV 3 = 333333.
    //   rank'(0) = 150000 + 850·(0       + 333333) DIV 1000 =  433333
    //   rank'(1) = 150000 + 850·(1000000 + 333333) DIV 1000 = 1283333
    //   rank'(2) = rank'(1)                                 = 1283333
    val vertices = Seq(0L, 1L, 2L).toDF("v")
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    bounds.foreach { b =>
      assert(ranks(pageRank(vertices, edges, 1, b, redistributeDangling = true)) ===
        Map(0L -> 433333L, 1L -> 1283333L, 2L -> 1283333L), s"bound $b")
      // flag off on the same graph: the sink's mass leaks instead
      assert(ranks(pageRank(vertices, edges, 1, b)) ===
        Map(0L -> 150000L, 1L -> 1000000L, 2L -> 1000000L), s"bound $b")
    }
  }

  test("pageRank redistributeDangling conserves Σrank up to integer truncation") {
    // chain 0→1→…→9 (outdeg 1 everywhere: contributions divide
    // exactly), vertex 9 dangling. Truncation per iteration is bounded
    // by <1000 micro-units per vertex (the DIV 1000) plus <n from the
    // share DIV — so after 5 iterations Σrank must still be within
    // 5·(10·1 + 10) ≈ 100 micro-units of 10·scale, while the leaky
    // default bleeds ~0.85·scale of sink mass per iteration.
    val n = 10L
    val vertices = (0L until n).toDF("v")
    val edges = (0L until n - 1).map(i => (i, i + 1)).toDF("src", "dst")
    bounds.foreach { b =>
      def total(flag: Boolean): Long = pageRank(vertices, edges, 5, b,
          redistributeDangling = flag)
        .agg(sum("rank_micro")).head().getLong(0)
      val conserved = total(true)
      assert(conserved >= n * 1000000L - 200L && conserved <= n * 1000000L,
        s"redistributed total $conserved must stay within truncation of ${n * 1000000L}")
      assert(total(false) < conserved - 1000000L,
        "the leaky default must visibly lose the sink mass")
    }
  }

  test("pageRank conserves mass up to integer truncation on a dangling-free graph") {
    // ring of 10: every vertex outdeg 1, no dangling mass, no division
    // loss (rank DIV 1) -> total mass is exactly |V| * scale each round
    val vertices = (0L until 10L).toDF("v")
    val edges = (0L until 10L).map(i => (i, (i + 1) % 10)).toDF("src", "dst")
    bounds.foreach { b =>
      val total = pageRank(vertices, edges, 3, b).agg(sum("rank_micro")).head().getLong(0)
      assert(total === 10L * 1000000L)
    }
  }

  test("pageRank: reliable-checkpoint path matches localCheckpoint") {
    // the cluster seam: checkpoint() to the context's checkpoint dir
    // (lost-executor-safe) instead of executor-local blocks — results
    // must be identical (the loud require when no dir is set has its
    // dedicated order-independent test in DedupSimilaritySpec)
    val vertices = Seq(0L, 1L, 2L).toDF("v")
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 0L)).toDF("src", "dst")
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        TempDirs.make("graft-pr-ckpt-").toString)
    bounds.foreach { b =>
      val local = ranks(pageRank(vertices, edges, 2, b))
      val reliable = ranks(pageRank(vertices, edges, 2, b, reliableCheckpoints = true))
      assert(reliable === local)
    }
  }

  test("components: chain, star, isolated vertices resolve to min labels") {
    // chain 0-..-8 (diameter 8), star 20-{21,22}, isolates 30,31
    val chain = (0L until 8L).map(i => (i, i + 1))
    val pairs = (chain ++ Seq((20L, 21L), (20L, 22L))).toDF("id_a", "id_b")
    val vertices = ((0L to 8L) ++ Seq(20L, 21L, 22L, 30L, 31L)).toDF("v")
    val local = LinkGraph.components(vertices, pairs)
    val distributed = Dedup.connectedMinLabels(vertices, pairs, 50, false, 0L)
    Seq(local, distributed).foreach { df =>
      val got = ranks(df)
      (0L to 8L).foreach(i => assert(got(i) === 0L, s"chain vertex $i"))
      Seq(20L, 21L, 22L).foreach(i => assert(got(i) === 20L))
      assert(got(30L) === 30L && got(31L) === 31L)
    }
  }

  test("pageRank: local finish equals the distributed rounds") {
    // random graphs with parallel edges, self-loops, sinks, and edges
    // from and to ids outside the vertex set; zero to three iterations,
    // dangling redistribution on and off
    val rnd = new scala.util.Random(11)
    (1 to 4).foreach { g =>
      val n = 6 + rnd.nextInt(10)
      val vertices = (0L until n.toLong).toDF("v")
      val edges = Seq.fill(3 * n)((rnd.nextInt(n + 3).toLong, rnd.nextInt(n + 2).toLong))
        .filter(_._1 % 4 != 3).toDF("src", "dst")
      for (iters <- 0 to 3; flag <- Seq(false, true)) {
        val local = ranks(pageRank(vertices, edges, iters, LocalFinish.MaxValues, flag))
        val rounds = ranks(pageRank(vertices, edges, iters, 0L, flag))
        assert(local === rounds, s"graph $g, $iters iterations, redistribute $flag")
      }
    }
  }

  test("pageRank: the dangling mass adds no job to a distributed round") {
    val vertices = (0L until 20L).toDF("v")
    val edges = (0L until 15L).map(i => (i, (i * 7 + 3) % 20)).toDF("src", "dst")
    def jobs(iters: Int, flag: Boolean): Int =
      JobCount(spark)(pageRank(vertices, edges, iters, 0L, flag).collect())._2
    assert(jobs(3, flag = true) - jobs(1, flag = true) ===
      jobs(3, flag = false) - jobs(1, flag = false))
  }

  test("pageRank: distributed rounds never move the edges") {
    // the degree-annotated edges are hash-partitioned by src once and
    // every round joins the ranks to them: a round shuffles vertex-sized
    // data (ranks, vertex rows, partial sums), never the edges. With
    // broadcasts off, a join that lost the partitioning would shuffle
    // all 400 edge rows once per round.
    import org.apache.spark.scheduler.{ListenerBusDrain, SparkListener, SparkListenerTaskEnd}
    val vertices = (0L until 10L).toDF("v")
    val edges = (0L until 400L).map(i => (i % 10, (i * 7 + 3) % 10)).toDF("src", "dst")
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def shuffled(iterations: Int): Long = {
      val sc = spark.sparkContext
      ListenerBusDrain.drain(sc)
      written.set(0L)
      sc.addSparkListener(listener)
      try {
        pageRank(vertices, edges, iterations, 0L, redistributeDangling = true).collect()
        ListenerBusDrain.drain(sc)
      } finally sc.removeSparkListener(listener)
      written.get
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val perRound = (shuffled(4) - shuffled(1)) / 3
      assert(perRound > 0L && perRound < 400L, s"a round shuffled $perRound rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("anchorText: counts, distinct anchors, deterministic top-k ties") {
    val links = Seq(
      ("u1", "click"), ("u1", "click"), ("u1", "home"), ("u1", "about"),
      ("u2", "a"), ("u2", "b"), // tie at c=1 -> anchor asc wins
      ("u3", "solo")
    ).toDF("url", "anchor")
    val top1 = LinkGraph.anchorText(links, k = 1)
      .collect().map(r => r.getAs[String]("url") ->
        ((r.getAs[String]("anchor"), r.getAs[Long]("c"),
          r.getAs[Long]("n_links"), r.getAs[Long]("n_anchors")))).toMap
    assert(top1("u1") === (("click", 2L, 4L, 3L)))
    assert(top1("u2") === (("a", 1L, 2L, 2L)))
    assert(top1("u3") === (("solo", 1L, 1L, 1L)))
    val top2 = LinkGraph.anchorText(links, k = 2)
    assert(top2.filter(col("url") === "u1").count() === 2)
    assert(top2.filter(col("url") === "u1" && col("rank") === 2)
      .head().getAs[String]("anchor") === "about")
  }

  test("partition invariance: pageRank, components, anchorText, bm25 results ignore input layout") {
    // the determinism contract: identical results at any partitioning
    // (a retry or different executor count must never change output)
    val vertices = (0L until 40L).toDF("v")
    val edges = (0L until 40L).flatMap(i =>
      Seq((i, (i * 3 + 1) % 40), (i, (i * 7 + 2) % 40))).toDF("src", "dst")
    def prSet(parts: Int) = LinkGraph
      .pageRank(vertices.repartition(parts), edges.repartition(parts), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prSet(1) === prSet(7))
    val pairs = (0L until 30L by 3L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def ccSet(parts: Int) = LinkGraph
      .components(vertices.repartition(parts), pairs.repartition(parts))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ccSet(1) === ccSet(5))
    val links = (0L until 50L).map(i =>
      (s"u${i % 9}", s"anchor ${i % 4}")).toDF("url", "anchor")
    def atSet(parts: Int) = LinkGraph.anchorText(links.repartition(parts), 2)
      .collect().map(r => (r.getString(0), r.getString(1),
        r.getAs[Long]("c"), r.getAs[Int]("rank"))).toSet
    assert(atSet(1) === atSet(6))
    val docs = (1L to 30L).map(i =>
      (i, if (i % 3 == 0) "spark join merge words" else "spark other text here"))
      .toDF("doc_id", "text")
    def bmSeq(parts: Int) = TextAnalysis
      .bm25Rank(docs.repartition(parts), "doc_id", "text",
        Seq("spark", "join", "merge"), k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(bmSeq(1) === bmSeq(7))
  }

  test("bm25Rank agrees with an independent plain-Scala evaluation") {
    val docs = Seq(
      (1L, "spark join"),
      (2L, "spark spark spark other words here"),
      (3L, "nothing relevant at all"),
      (4L, "merge join spark"),
      (5L, "spark alone amid quite a few other filler words")
    ).toDF("doc_id", "text")
    val terms = Seq("spark", "join", "merge")

    // independent evaluation: same integer formula, plain collections
    val toks = Map(
      1L -> Seq("spark", "join"),
      2L -> Seq("spark", "spark", "spark", "other", "words", "here"),
      3L -> Seq("nothing", "relevant", "at", "all"),
      4L -> Seq("merge", "join", "spark"),
      5L -> Seq("spark", "alone", "amid", "quite", "a", "few", "other",
        "filler", "words"))
    val nDocs = toks.size.toLong
    val avgdl = toks.values.map(_.size.toLong).sum / nDocs
    val dfT = terms.map(t =>
      t -> toks.values.count(_.contains(t)).toLong).toMap
    val expected = toks.flatMap { case (id, tk) =>
      val s = terms.map { t =>
        val tf = tk.count(_ == t).toLong
        if (tf == 0L) 0L
        else {
          val denom = tf * 1000L + (1200L * (250L + (750L * tk.size) / avgdl)) / 1000L
          (nDocs - dfT(t) + 1L) * ((tf * 2200000L) / denom)
        }
      }.sum
      if (s > 0L) Some(id -> s) else None
    }
    val expRanked = expected.toSeq.sortBy { case (id, s) => (-s, id) }

    val got = TextAnalysis.bm25Rank(docs, "doc_id", "text", terms, k = 10)
    val rows = got.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(rows.map(r => r._1 -> r._2).toSeq === expRanked)
    assert(rows.map(_._3).toSeq === (1 to rows.length))
    assert(!rows.exists(_._1 == 3L), "doc without query terms must be absent")
    // global top-k must be a TakeOrderedAndProject, not a full sort
    assert(got.queryExecution.executedPlan.toString.contains("TakeOrderedAndProject"))
  }
}
