package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextAnalysis.portableHash
import graft.operators.{Dedup, LocalFinish, Multimodal, Similarity}
import DedupSimilaritySpec._

/** Dedup family + similarity search + multimodal plumbing: planted
  * duplicates must be found, unrelated content must not be, LSH recall
  * is bounded against the exact baseline.
  */
class DedupSimilaritySpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-dedup-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  /** Docs share a small common preamble but are mostly unique content
    * (hash-derived words), so only the PLANTED duplicates are near-dups.
    */
  private def base(i: Int) = {
    val unique = (0 until 18).map { j =>
      "w" + math.floorMod(graft.core.Hashing.xxhash64(s"$i:$j"), 100000L)
    }.mkString(" ")
    s"document number $i about spark pipelines $unique end of section $i"
  }

  private lazy val docs = {
    val rows =
      (0 until 40).map(i => (i.toLong, base(i))) ++ Seq(
        (100L, base(7)), // exact dup of 7
        (101L, base(9) + " tiny suffix change"), // near dup of 9
        (102L, "completely different short text"))
    rows.toDF("doc_id", "text")
  }

  test("contamination flags verbatim k-gram overlap with the benchmark, not paraphrase") {
    import graft.operators.Dedup
    val bench = Seq(
      100L -> "the quick brown fox jumps over the lazy dog tonight again").toDF("doc_id", "text")
    val corpus = Seq(
      // contains the benchmark's 8-gram verbatim -> contaminated
      1L -> "prefix words the quick brown fox jumps over the lazy dog tonight again suffix",
      // same vocabulary, different order -> clean
      2L -> "dog lazy the over jumps fox brown quick the again tonight",
      // unrelated -> clean
      3L -> "completely different content with no overlap at all whatsoever here",
      // benchmark doc itself present in the corpus -> self, not flagged
      100L -> "the quick brown fox jumps over the lazy dog tonight again")
      .toDF("doc_id", "text")
    val hits = Dedup.contamination(corpus, bench, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(hits.keySet === Set(1L))
    assert(hits(1L)._1 >= 1L && hits(1L)._2 === 1L)
  }

  test("contaminationFraction: exact milli overlap, threshold verdict, sub-k drop") {
    import graft.operators.Dedup
    val bench = Seq(
      100L -> "the quick brown fox jumps over the lazy dog").toDF("doc_id", "text")
    val corpus = Seq(
      // 10 tokens -> 3 distinct 8-grams, 1 of them is the bench's
      //   first 8-gram -> 333 milli, below the 500 threshold
      1L -> "the quick brown fox jumps over the lazy cat meow",
      // the bench doc verbatim: 2 grams, both shared -> 1000, flagged
      2L -> "the quick brown fox jumps over the lazy dog",
      // unrelated 8 tokens -> 1 gram, 0 shared -> 0
      3L -> "completely different content with no overlap at all",
      // 7 tokens: below k, must not be emitted
      4L -> "too short to have any eight grams").toDF("doc_id", "text")
    val out = Dedup.contaminationFraction(corpus, bench, "doc_id", "text",
        k = 8, thresholdMilli = 500L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.keySet === Set(1L, 2L, 3L))
    assert(out(1L) === ((3L, 1L, 333L, false)))
    assert(out(2L) === ((2L, 2L, 1000L, true)))
    assert(out(3L) === ((1L, 0L, 0L, false)))
  }

  test("exact dedup keeps the min id of each duplicate group") {
    val kept = Dedup.exactDedup(docs, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(7L) && !kept.contains(100L))
    assert(kept.contains(101L) && kept.contains(102L))
    assert(kept.size === docs.count() - 1)
  }

  test("minhash pairs find exact and near dups, not unrelated docs") {
    // a wider signature than the catalog's 24/8 shape: 64 slots in 16
    // bands
    val pairs = Dedup.minhashPairsPortable(docs, "doc_id", "text",
        shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((7L, 100L), (9L, 101L)),
      s"exactly the planted exact and near dup pairs, got $pairs")
  }

  test("minhash dedup removes the higher-id duplicate") {
    val kept = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.contains(100L) && !kept.contains(101L))
    assert(kept.contains(7L) && kept.contains(9L) && kept.contains(102L))
  }

  test("portable minhash pairs find planted dups, not unrelated docs") {
    val pairs = Dedup.minhashPairsPortable(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 100L)), "exact dup must pair")
    assert(pairs.contains((9L, 101L)), "near dup must pair")
    assert(!pairs.exists(p => p._1 == 102L || p._2 == 102L),
      "unrelated doc must not pair")
  }

  test("minhash signature kernel == relational statement on varied inputs") {
    // the round-6 generated kernel (plans.MinhashSig) must reproduce
    // the posexplode+window+min-aggregate statement signature-for-
    // signature, including the sub-k whole-doc gram, empty docs (one
    // "" shingle), unicode bytes, and null-text doc exclusion
    val adversarial = Seq(
      (200L, ""), (201L, "one"), (202L, "one two"), (203L, "one two three"),
      (204L, "Tab\tand\nnewline   spaced"), (205L, "ümlaut tökens über straße"),
      (206L, "punct!!!only???"), (207L, null.asInstanceOf[String]),
      (208L, "a a a a a"), (209L, "😀 emoji 😀 tokens"))
      .toDF("doc_id", "text")
    val both = docs.unionByName(adversarial)
    val kernel = both.select(col("doc_id").as("doc_id_"),
        graft.plans.Kernels.minhash_sig(
          split(lower(col("text")), "\\W+"), lit(3), lit(24)).as("sig"))
      .filter(col("sig").isNotNull)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val relational = minhashSigsRelational(both, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(kernel.keySet === relational.keySet)
    assert(!kernel.keySet.contains(207L)) // null text excluded by both
    kernel.foreach { case (id, sig) =>
      assert(sig === relational(id), s"signature mismatch for doc $id")
    }
  }

  test("gram-key kernel == relational statement (both tokenizers, both fallbacks)") {
    // plans.GramKeys must reproduce the posexplode+window+distinct
    // statement's (doc, gk) set for the tokenGramKeys config (k=8,
    // [^a-z0-9_]+, sub-k docs excluded) AND the ngramContainment
    // config (k=3, \W+, whole-doc fallback)
    val adversarial = Seq(
      (300L, ""), (301L, "just two"), (302L, "repeat repeat repeat repeat " +
        "repeat repeat repeat repeat repeat repeat"),
      (303L, null.asInstanceOf[String]), (304L, "ümlaut tökens über straße " +
        "mixed UPPER case words here and more of them too"),
      (305L, "exactly eight tokens in this very sentence here"))
      .toDF("doc_id", "text")
    val both = docs.unionByName(adversarial)
    for ((k, pat, fb) <- Seq((8, "[^a-z0-9_]+", false), (3, "\\W+", true))) {
      val kernel = both.select(col("doc_id").as("doc_id_"),
          explode(graft.plans.Kernels.gram_keys(
            split(lower(col("text")), pat), lit(k), lit(fb))).as("gk"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val relational = gramKeysRelational(both, "doc_id", "text", k, pat, fb)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(kernel === relational, s"k=$k pattern=$pat fallback=$fb")
      // per-row arrays must also be duplicate-free (the distinct claim)
      val sizes = both.select(col("doc_id"),
          graft.plans.Kernels.gram_keys(
            split(lower(col("text")), pat), lit(k), lit(fb)).as("gs"))
        .filter(col("gs").isNotNull)
        .select(col("doc_id"), size(col("gs")).as("n"),
          size(array_distinct(col("gs"))).as("nd")).collect()
      sizes.foreach(r => assert(r.getInt(1) === r.getInt(2), s"dup in row $r"))
    }
  }

  test("portable simhash kernel == relational vote aggregate") {
    val adversarial = Seq(
      (400L, ""), (401L, "one"), (402L, null.asInstanceOf[String]),
      (403L, "ümlaut tökens über straße"), (404L, "a a b b balanced votes"),
      (405L, "punct!!!only???"))
      .toDF("doc_id", "text")
    val both = docs.unionByName(adversarial)
    val kernel = both.select(col("doc_id").as("doc_id_"),
        graft.plans.Kernels.portable_simhash(
          split(lower(col("text")), "\\W+"), lit(32)).as("sketch"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val relational = portableSketchesRelational(both, "doc_id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kernel === relational)
    assert(kernel(400L) === 0L && kernel(402L) === 0L) // token-less -> 0
  }

  test("winnow-stats kernel == relational two-window statement") {
    import graft.functions.TextAnalysis
    val adversarial = Seq(
      (500L, ""), (501L, "four tokens too few"), (502L, "exactly five tokens " +
        "right here"), (503L, null.asInstanceOf[String]),
      (504L, ("many tokens " * 40).trim), (505L, "ümlaut tökens über straße " +
        "and some more filler words to cross the gram floor"))
      .toDF("doc_id", "text")
    val both = docs.unionByName(adversarial)
    val kernel = TextAnalysis.winnowFingerprintsTokens(both, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    val relational = winnowFingerprintsTokensRelational(both, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(kernel === relational)
    assert(!kernel.keySet.contains(503L)) // null text excluded by both
  }

  test("span-scrub kernel path == relational statement") {
    // the GramKeySeq + SpanCoverage pipeline must reproduce the
    // window-based statement row-for-row: same flags, same span runs,
    // same kept-text hash — including overlap merges, doc-boundary
    // clipping, sub-k docs, empty and null text
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel india"
    val rows = Seq(
      (600L, s"intro words $shared middle passage $shared outro close here"),
      (601L, s"$shared completely other tail content of this document"),
      (602L, "unique content nothing shared with any other document at all"),
      (603L, ""), (604L, null.asInstanceOf[String]), (605L, "short doc"),
      (606L, s"$shared"), (607L, s"prefix $shared"))
      .toDF("doc_id", "text")
    val kernel = Dedup.duplicateSpanScrub(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val relational = duplicateSpanScrubRelational(rows, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(kernel === relational)
    assert(kernel(602L)._2 === 0L) // unique doc keeps everything
    assert(kernel(600L)._2 >= 1L) // shared block flagged
  }

  test("mega-bucket stress: the cap bounds pairs and is LOUD (both LSH variants)") {
    // 2000 byte-identical docs — the viral-boilerplate shape: every
    // doc lands in the SAME bucket of every band. Uncapped this is
    // C(2000,2) ≈ 2M candidate pairs; capped at 50 it must be exactly
    // C(50,2) = 1225 distinct pairs (lowest 50 ids kept per band, the
    // same 50 in every band), and the cap must report itself.
    import org.apache.spark.sql.Observation
    val viral = (0 until 2000).map(i =>
      (i.toLong, "identical viral boilerplate text repeated across the corpus"))
      .toDF("doc_id", "text")
    val obsP = Observation("cap-portable")
    val pairsP = Dedup.minhashPairsPortable(viral, "doc_id", "text",
      shingleK = 3, numHashes = 24, bands = 8, threshold = 0.5,
      maxBucket = 50, capMetrics = Some(obsP))
    assert(pairsP.count() === 1225L)
    assert(obsP.get("capped_buckets") === 8L,
      "one overflowing bucket per band must be counted")
    assert(obsP.get("rows_dropped_by_cap") === 8L * 1950L)
    val obsW = Observation("cap-wide")
    val pairsW = Dedup.minhashPairsPortable(viral, "doc_id", "text",
      shingleK = 3, numHashes = 64, bands = 16, threshold = 0.5,
      maxBucket = 50, capMetrics = Some(obsW))
    assert(pairsW.count() === 1225L)
    assert(obsW.get("capped_buckets") === 16L)
    assert(obsW.get("rows_dropped_by_cap") === 16L * 1950L)
    // an uncapped-regime run on the REGULAR fixture reports zero:
    // the metric is attached (loud) even when nothing is capped
    val obs0 = Observation("cap-none")
    Dedup.minhashPairsPortable(docs, "doc_id", "text", threshold = 0.5,
      capMetrics = Some(obs0)).count()
    assert(obs0.get("capped_buckets") === 0L)
    assert(obs0.get("rows_dropped_by_cap") === 0L)
  }

  test("connectedMinLabels: chains flood to the component min, fixpoint") {
    // components: {1,2,9} (chain 2-9, 9-1), {4,5}, singleton {7}
    val vertices = Seq(1L, 2L, 4L, 5L, 7L, 9L).toDF("v")
    val pairs = Seq((2L, 9L), (1L, 9L), (4L, 5L)).toDF("id_a", "id_b")
    bounds.foreach { b =>
      val labels = labelMap(Dedup.connectedMinLabels(vertices, pairs, 50, false, b))
      assert(labels === Map(1L -> 1L, 2L -> 1L, 9L -> 1L, 4L -> 4L, 5L -> 4L, 7L -> 7L))
      // fixpoint: re-running on the already-labeled graph changes nothing
      val again = labelMap(Dedup.connectedMinLabels(vertices, pairs, 50, false, b))
      assert(again === labels)
    }
  }

  test("connectedMinLabels: pointer halving converges a 1000-chain in O(log n)") {
    // a 1000-vertex path graph has diameter 999 — plain one-hop
    // propagation needs ~999 rounds; pointer halving must do it in
    // ~log2(1000) ≈ 10 (bound 12, the round-2 verdict's criterion)
    val n = 1000L
    val vertices = spark.range(0, n).toDF("v")
    val pairs = spark.range(0, n - 1)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    bounds.foreach { b =>
      val labels = Dedup.connectedMinLabels(vertices, pairs, 12, false, b)
      assert(labels.filter(col("label") =!= 0L).isEmpty,
        "every chain vertex must flood to the component min (0)")
    }
  }

  /** The two finishing paths of the iterative operators, by their
    * local bound: the local finish and the distributed rounds.
    */
  private val bounds = Seq(LocalFinish.MaxValues, 0L)

  private def labelMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connectedMinLabels: local finish equals the distributed rounds") {
    // random graphs with isolated vertices, self-loops, duplicate pairs
    // and endpoints outside the vertex set, plus an empty pair set;
    // each also against union-find over the pairs inside the vertex set
    val rnd = new scala.util.Random(7)
    val graphs = (1 to 5).map { _ =>
      val n = 10 + rnd.nextInt(30)
      val vs = (0L until n.toLong).filter(_ => rnd.nextInt(8) != 0)
      val ps = Seq.fill(rnd.nextInt(n))((rnd.nextInt(n + 4).toLong, rnd.nextInt(n + 4).toLong))
      val loops = vs.take(2).map(v => (v, v))
      (vs, ps ++ ps.take(3) ++ loops)
    } :+ ((0L until 5L), Seq.empty[(Long, Long)])
    graphs.foreach { case (vs, ps) =>
      val vertices = vs.toDF("v")
      val pairs = ps.toDF("id_a", "id_b")
      val local = labelMap(Dedup.connectedMinLabels(vertices, pairs))
      val rounds = labelMap(Dedup.connectedMinLabels(vertices, pairs, 50, false, 0L))
      assert(local === rounds, s"graph $vs / $ps")
      val parent = scala.collection.mutable.Map(vs.map(v => v -> v): _*)
      def find(v: Long): Long = if (parent(v) == v) v else find(parent(v))
      ps.filter(p => parent.contains(p._1) && parent.contains(p._2)).foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      assert(local === vs.map(v => v -> find(v)).toMap)
    }
  }

  test("connectedMinLabels: too few rounds fail loudly on both paths") {
    val vertices = spark.range(0, 1000).toDF("v")
    val pairs = spark.range(0, 999)
      .select(col("id").as("id_a"), (col("id") + 1).as("id_b"))
    bounds.foreach { b =>
      val e = intercept[IllegalStateException](
        Dedup.connectedMinLabels(vertices, pairs, 3, false, b))
      assert(e.getMessage.contains("did not converge within 3 rounds"))
    }
  }

  test("connectedMinLabels: distributed rounds never move the edges") {
    // the directed edges are hash-partitioned by id_b once and every
    // round joins the labels to them: a round shuffles vertex-sized
    // data (labels, partial minima), never the edges. A 64-chain needs
    // more than 4 rounds, so maxIterations 1 and 4 both stop on the
    // convergence check; the one-time partitioning cancels in the
    // difference. With broadcasts off, a join that lost the
    // partitioning would shuffle all 1,008 directed edge rows per round.
    import org.apache.spark.scheduler.{ListenerBusDrain, SparkListener, SparkListenerTaskEnd}
    val vertices = spark.range(0, 64).toDF("v")
    val pairs = (0L until 63L).flatMap(i => Seq.fill(8)((i, i + 1))).toDF("id_a", "id_b")
    val edgeRows = 2L * 63 * 8
    val written = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          written.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    def shuffled(rounds: Int): Long = {
      val sc = spark.sparkContext
      ListenerBusDrain.drain(sc)
      written.set(0L)
      sc.addSparkListener(listener)
      try {
        val e = intercept[IllegalStateException](
          Dedup.connectedMinLabels(vertices, pairs, rounds, false, 0L))
        assert(e.getMessage.contains(s"within $rounds rounds"))
        ListenerBusDrain.drain(sc)
      } finally sc.removeSparkListener(listener)
      written.get
    }
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val perRound = (shuffled(4) - shuffled(1)) / 3
      assert(perRound > 0L && perRound < edgeRows, s"a round shuffled $perRound rows")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    // labels unchanged: the distributed rounds still match the local finish
    assert(labelMap(Dedup.connectedMinLabels(vertices, pairs, 50, false, 0L)) ===
      labelMap(Dedup.connectedMinLabels(vertices, pairs)))
    assert(labelMap(Dedup.connectedMinLabels(vertices, pairs)).values.toSet === Set(0L))
  }

  test("reliableCheckpoints without a checkpoint dir fails loudly (all operators)") {
    // ONE dedicated, order-independent home for the loud-require
    // contract: the checkpoint dir is JVM-global (one SparkContext
    // across suites), so this test CLEARS it (setCheckpointDir(null)
    // → Option(null) = None in local mode), asserts every reliable
    // path refuses, and restores whatever was set before.
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(null)
    try {
      assert(spark.sparkContext.getCheckpointDir.isEmpty,
        "precondition: dir must be cleared for the intercepts below")
      val vertices = Seq(1L, 2L).toDF("v")
      val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
      intercept[IllegalArgumentException] {
        Dedup.connectedMinLabels(vertices, pairs, reliableCheckpoints = true)
      }
      intercept[IllegalArgumentException] {
        graft.operators.LinkGraph.pageRank(vertices,
          Seq((1L, 2L)).toDF("src", "dst"), 1, reliableCheckpoints = true)
      }
      intercept[IllegalArgumentException] {
        Similarity.semDedup(spark,
          Seq((1L, Array(1.0f, 0.0f))).toDF("id", "vec"),
          k = 1, iterations = 1, tau = 0.9, reliableCheckpoints = true)
      }
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("reliable semDedup without a checkpoint dir fails before launching a job") {
    // the precondition is checked at the call, not after k-means
    // training has already run one job per round
    val prev = spark.sparkContext.getCheckpointDir
    spark.sparkContext.setCheckpointDir(null)
    try {
      val corpus = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("id", "vec")
      val (_, jobs) = JobCount(spark) {
        intercept[IllegalArgumentException] {
          Similarity.semDedup(spark, corpus, k = 2, iterations = 3, tau = 0.9,
            reliableCheckpoints = true)
        }
      }
      assert(jobs === 0)
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  private def ensureCheckpointDir(): Unit =
    if (spark.sparkContext.getCheckpointDir.isEmpty)
      spark.sparkContext.setCheckpointDir(
        TempDirs.make("graft-ckpt-").toString)

  test("connectedMinLabels: reliable-checkpoint path matches localCheckpoint") {
    // the cluster seam (round-3 verdict #8): checkpoint() to the
    // context's checkpoint dir instead of executor-local blocks —
    // identical labels (the loud-require contract has its own
    // dedicated test above)
    val vertices = Seq(1L, 2L, 4L, 5L, 7L, 9L).toDF("v")
    val pairs = Seq((2L, 9L), (1L, 9L), (4L, 5L)).toDF("id_a", "id_b")
    ensureCheckpointDir()
    bounds.foreach { b =>
      val reliable = labelMap(Dedup.connectedMinLabels(vertices, pairs, 50, true, b))
      assert(reliable ===
        Map(1L -> 1L, 2L -> 1L, 9L -> 1L, 4L -> 4L, 5L -> 4L, 7L -> 7L))
    }
  }

  test("semDedup: reliable-checkpoint materialization matches the default path") {
    // round-4 verdict #6: the assignment-table pin is an explicit
    // choice mirroring connectedMinLabels, not a silent localCheckpoint
    val rows = (0 until 12).map(i =>
      (i.toLong, Array.tabulate(6)(j => if (j == i % 3) 1.0f else 0.05f * j)))
    val df = rows.toDF("id", "vec")
    ensureCheckpointDir()
    def run(reliable: Boolean) =
      Similarity.semDedup(spark, df, k = 3, iterations = 2, tau = 0.999,
          reliableCheckpoints = reliable)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getBoolean(2))).toSet
    assert(run(reliable = true) === run(reliable = false))
  }

  test("dup clusters: planted dups share a cluster, everything else is a singleton") {
    val out = graft.queries.QueryCatalog.qDupClustersOn(docs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(100L) === 7L && out(7L) === 7L, "exact dup joins its original")
    assert(out(101L) === out(9L), "near dup clusters with its original")
    val planted = Set(7L, 9L, 100L, 101L)
    out.filterNot { case (id, _) => planted(id) }.foreach { case (id, c) =>
      assert(c === id, s"doc $id must be a singleton cluster")
    }
  }

  test("transitive dedup keeps one doc per component (subset of one-pass)") {
    val kept = Dedup.minhashDedupTransitive(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val onePass = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(onePass),
      s"transitive survivors must be a subset: ${kept -- onePass}")
    assert(kept.contains(7L) && !kept.contains(100L)) // dup group collapses
    assert(kept.contains(102L)) // singleton survives
  }

  test("transitive dedup keyed by a string id keeps the same docs") {
    // string ids take the distributed rounds (the local finish is for
    // integral ids); zero-padded, they order as the numbers do
    val byName = docs.withColumn("doc_id", format_string("d%05d", col("doc_id")))
    val kept = Dedup.minhashDedupTransitive(byName, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(_.getString(0)).toSet
    val byNumber = Dedup.minhashDedupTransitive(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_id").collect().map(r => f"d${r.getLong(0)}%05d").toSet
    assert(kept === byNumber)
  }

  test("simhash pairs find the near dup within hamming distance") {
    val pairs = Dedup.simhashPairsPortable(docs, "doc_id", "text",
        maxDist = 8, bits = 32)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 100L)))
    assert(pairs.contains((9L, 101L)))
  }

  test("simhash pairs reject a distance with no bit left per chunk") {
    // maxDist >= bits leaves 0 bits per pigeonhole chunk: every chunk
    // key would be the constant 0 and the band join all-pairs
    Seq((32, 32), (40, 32), (-1, 32), (3, 0), (3, 33)).foreach {
      case (maxDist, bits) =>
        intercept[IllegalArgumentException] {
          Dedup.simhashPairsPortable(docs, "doc_id", "text",
            maxDist = maxDist, bits = bits)
        }
    }
  }

  test("simhash pairs cap each band bucket and report it") {
    // 1,000 byte-identical docs share every chunk key: uncapped, the
    // band join gives C(1000,2) = 499,500 pairs. Capped at 100 it keeps
    // the 100 lowest ids of each of the 4 buckets (the same 100), so
    // exactly C(100,2) = 4,950 pairs, and the cap reports itself
    import org.apache.spark.sql.Observation
    val viral = (0 until 1000).map(i =>
      (i.toLong, "identical viral boilerplate text repeated across the corpus"))
      .toDF("doc_id", "text")
    val obs = Observation("simhash-cap")
    val pairs = Dedup.simhashPairsPortable(viral, "doc_id", "text",
      maxDist = 3, bits = 32, maxBucket = 100, capMetrics = Some(obs))
    assert(pairs.count() === 4950L)
    assert(pairs.agg(max("id_b")).head().getLong(0) === 99L, "the cap keeps the lowest ids")
    assert(obs.get("capped_buckets") === 4L, "one overflowing bucket per chunk")
    assert(obs.get("rows_dropped_by_cap") === 4L * 900L)
    // under the cap nothing is dropped, and the metric still reports
    val obs0 = Observation("simhash-cap-none")
    Dedup.simhashPairsPortable(docs, "doc_id", "text", maxDist = 8, bits = 32,
      capMetrics = Some(obs0)).count()
    assert(obs0.get("capped_buckets") === 0L)
    assert(obs0.get("rows_dropped_by_cap") === 0L)
  }

  test("ngram jaccard: identical = 1.0, disjoint = 0.0") {
    val pairs = Seq((7L, 100L), (7L, 102L)).toDF("id_a", "id_b")
    val got = Dedup.ngramJaccard(pairs, docs, "doc_id", "text", k = 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(got((7L, 100L)) === 1.0)
    assert(got((7L, 102L)) === 0.0)
  }

  test("ngram jaccard agrees with the containment counts on the same pairs") {
    // both verify stages derive the same gram sets, so for every pair
    // jaccard = n_shared / (n_a + n_b - n_shared); a null-text doc has
    // no grams and scores 0.0 (containment drops it)
    val withNull = docs.unionByName(Seq(
        (103L, null.asInstanceOf[String]), (104L, "two words"),
        (105L, "two words and more"))
      .toDF("doc_id", "text"))
    val pairs = Seq((7L, 100L), (9L, 101L), (7L, 102L), (1L, 2L),
      (104L, 105L), (7L, 103L)).toDF("id_a", "id_b")
    Seq(2, 3, 5).foreach { k =>
      val jac = Dedup.ngramJaccard(pairs, withNull, "doc_id", "text", k = k)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
      val cont = Dedup.ngramContainment(pairs, withNull, "doc_id", "text", k = k)
        .collect().map(r => ((r.getLong(0), r.getLong(1)),
          (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
      assert(jac.keySet === pairs.as[(Long, Long)].collect().toSet, s"k=$k")
      assert(cont.keySet === jac.keySet - ((7L, 103L)), s"k=$k")
      cont.foreach { case (pair, (na, nb, shared)) =>
        assert(jac(pair) === shared.toDouble / (na + nb - shared),
          s"k=$k pair $pair")
      }
      assert(jac((7L, 103L)) === 0.0)
    }
  }

  // ---- similarity ----

  private def clusteredVecs(n: Int, dim: Int): Seq[(Long, Array[Float])] =
    (0 until n).map { i =>
      val cluster = i % 5
      val v = Array.tabulate(dim) { j =>
        val centroid = if (j % 5 == cluster) 1.0f else 0.0f
        val noise = ((graft.core.Hashing.xxhash64(s"n:$i:$j") >>> 11).toDouble /
          (1L << 53).toDouble).toFloat * 0.4f
        centroid + noise
      }
      (i.toLong, v)
    }

  test("cosineTopK: identical vector ranks first") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.01f, 0.0f)), // near-identical to 1
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(0.0f, 0.0f, 1.0f))).toDF("id", "vec")
    val top = Similarity.cosineTopK(vecs.filter(col("id") === 1), vecs, k = 2)
      .orderBy("rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") === 2L)
    assert(top(0).getAs[Double]("cosine") > 0.99)
  }

  test("lshTopK recall >= 0.6 vs brute force on clustered vectors") {
    val vecs = clusteredVecs(200, 20).toDF("id", "vec")
    val queries = vecs.filter(col("id") < 20)
    val exact = Similarity.cosineTopK(queries, vecs, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // fewer, more selective tables than the portable sibling test
    val approx = Similarity.lshTopKPortable(queries, vecs, k = 5, dim = 20,
        bits = 12, tables = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"LSH recall $recall too low")
  }

  test("portable-LSH topK recall >= 0.6 vs brute force") {
    val vecs = clusteredVecs(200, 20).toDF("id", "vec")
    val queries = vecs.filter(col("id") < 20)
    val exact = Similarity.cosineTopK(queries, vecs, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopKPortable(queries, vecs, k = 5,
        dim = 20, bits = 8, tables = 6)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"portable LSH recall $recall too low")
  }

  test("cosineDupPairs finds planted near-identical vectors") {
    val base = Array.tabulate(16)(j => (j % 3).toFloat + 0.1f)
    val twin = base.clone(); twin(0) += 0.01f
    val vecs = (clusteredVecs(50, 16) ++ Seq((900L, base), (901L, twin)))
      .toDF("id", "vec")
    val pairs = Similarity.cosineDupPairsPortable(vecs, threshold = 0.999,
        dim = 16, bits = 8, tables = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((900L, 901L)))
  }

  test("IVF ANN: deterministic training, recall >= 0.6 vs brute force") {
    import graft.operators.IvfIndex
    val vecs = clusteredVecs(300, 20).toDF("id", "vec")
    val cents1 = IvfIndex.trainPortable(spark, vecs, k = 10, iterations = 2)
    val cents2 = IvfIndex.trainPortable(spark, vecs, k = 10, iterations = 2)
    assert(cents1.map(_.toSeq).toSeq === cents2.map(_.toSeq).toSeq,
      "training must be deterministic")
    val assigned = IvfIndex.assignPortable(vecs, cents1)
    val queries = vecs.filter(col("id") < 20)
    val exact = Similarity.cosineTopK(queries, vecs, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = IvfIndex.topKPortable(queries, assigned, cents1, k = 5,
        nprobe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"IVF recall $recall too low")
  }

  // ---- multimodal plumbing ----

  test("media features: schema, determinism, frame sampling") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val f1 = Multimodal.features(spark, media, dim = 8).collect()
      .map(f => (f.media_id, f.feature.toSeq, f.frames)).sortBy(_._1)
    val f2 = Multimodal.features(spark, media.repartition(7), dim = 8).collect()
      .map(f => (f.media_id, f.feature.toSeq, f.frames)).sortBy(_._1)
    assert(f1.toSeq === f2.toSeq) // deterministic under repartition
    assert(f1.forall(_._2.size === 8))
    val byKind = Multimodal.features(spark, media, dim = 8).collect()
      .groupBy(_.kind).view.mapValues(_.map(_.frames).max).toMap
    assert(byKind("image") === 1)
    assert(byKind("video") >= 1)
  }

  test("paragraph dedup: first occurrence survives, short lines bypass, counts add up") {
    val footer = "shared footer paragraph long enough to clear the dedup length floor easily"
    val longA = "a genuinely substantial paragraph of original prose content number one here"
    val longB = "another genuinely substantial paragraph of original prose content two here"
    val rows = Seq(
      (1L, s"$longA\nok\n$footer"),            // first: keeps everything
      (2L, s"$longB\nok\n$footer"),            // footer dropped (doc 1 owns it)
      (3L, s"$footer\nok\n$longA"),            // both long paras are repeats
      (4L, s"$longA\n$longA"),                 // within-doc repeat: pos 0 kept
      (5L, "ok\nok\nok"))                      // short lines: never deduped
    val out = Dedup.paragraphDedup(rows.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(1L) === ((3L, 0L, h(s"$longA\nok\n$footer"))))
    assert(out(2L) === ((3L, 1L, h(s"$longB\nok"))))
    assert(out(3L) === ((3L, 2L, h("ok"))))
    // longA globally first occurs in doc 1, so BOTH of doc 4's copies drop
    assert(out(4L) === ((2L, 2L, h(""))))
    assert(out(5L) === ((3L, 0L, h("ok\nok\nok"))))
  }

  test("line-frequency dedup: only over-threshold lines drop, ALL their copies") {
    val viral = "this viral boilerplate line appears in three documents here"
    val rare = "this rare line appears in just two documents which is fine"
    val rows = Seq(
      (1L, s"$viral\nunique prose line number one long enough to be eligible\n$rare"),
      (2L, s"$viral\n$rare"),
      (3L, s"$viral\nshort"),
      (4L, s"$viral\n$viral")) // two copies in ONE doc: docf counts docs, not rows
    val out = Dedup.lineFrequencyDedup(rows.toDF("doc_id", "text"),
        "doc_id", "text", maxDf = 3, minLen = 20)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // viral is in 4 docs (>= 3): dropped EVERYWHERE (no survivor, unlike
    // paragraphDedup's keep-first). rare is in 2 docs (< 3): kept.
    assert(out(1L) === ((3L, 1L,
      h(s"unique prose line number one long enough to be eligible\n$rare"))))
    assert(out(2L) === ((2L, 1L, h(rare))))
    assert(out(3L) === ((2L, 1L, h("short")))) // short line bypasses counting
    assert(out(4L) === ((2L, 2L, h(""))))      // both in-doc copies drop
  }

  test("duplicate-span scrub: shared spans merge and drop, unique text survives") {
    // k=3 grams; shared 5-token span "a b c d e" -> 3 shared grams that
    // must MERGE into one covered span of 5 tokens in every carrier.
    val rows = Seq(
      (0L, "a b c d e f g"),                      // span at head
      (1L, "x a b c d e y"),                      // same span mid-doc
      (2L, "p1 q1 r1 s1 t1 u1"),                  // fully unique
      (3L, "a b"),                                // < k tokens: no grams
      (4L, "m m m m"),                            // in-doc repeat, docf=1
      (5L, "a b c d e f1 f2 f3 p q r s t"),       // TWO disjoint shared spans
      (6L, "a b c d e g1 g2 g3 p q r s t"))
    val out = Dedup.duplicateSpanScrub(rows.toDF("doc_id", "text"),
        "doc_id", "text", k = 3, minDf = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def h(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0L) === ((7L, 1L, 5L, h("f g"))))
    assert(out(1L) === ((7L, 1L, 5L, h("x y"))))
    assert(out(2L) === ((6L, 0L, 0L, h("p1 q1 r1 s1 t1 u1"))))
    assert(out(3L) === ((2L, 0L, 0L, h("a b"))))   // sub-k doc kept whole
    // 'm m m' repeats only WITHIN doc 4: document frequency is 1 -> kept
    assert(out(4L) === ((4L, 0L, 0L, h("m m m m"))))
    // two disjoint merged spans (gap 6 > k), each 5 tokens
    assert(out(5L) === ((13L, 2L, 10L, h("f1 f2 f3"))))
    assert(out(6L) === ((13L, 2L, 10L, h("g1 g2 g3"))))
  }

  test("codegen'd vector kernels are bit-identical to the HOF folds") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val d = 1 + rnd.nextInt(8) * 8
      Row(i.toLong, Array.fill(d)(rnd.nextFloat() * 2 - 1),
        Array.fill(d)(rnd.nextFloat() * 2 - 1))
    } :+ Row(200L, Array(1.0f, 2.0f), Array(3.0f)) // length mismatch -> null
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("a", ArrayType(FloatType)), StructField("b", ArrayType(FloatType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 3), schema)
    val cmp = df.select(col("id"),
      Similarity.dot(col("a"), col("b")).as("fast"),
      dotFold(col("a"), col("b")).as("fold")).collect()
    cmp.foreach { r =>
      assert(r.isNullAt(1) === r.isNullAt(2), s"null mismatch at id ${r.getLong(0)}")
      if (!r.isNullAt(1))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(1)) ===
          java.lang.Double.doubleToRawLongBits(r.getDouble(2)),
          s"bit mismatch at id ${r.getLong(0)}")
    }
    assert(cmp.count(_.isNullAt(1)) === 1) // exactly the mismatched row
  }

  test("semDedup: identical vectors dedup to the lower id, singletons survive") {
    val base = (0 until 20).map { i =>
      (i.toLong, Array.tabulate(8)(j =>
        if (j == i % 8) 1.0f else 0.1f * ((i * 7 + j) % 5)))
    }
    // plant exact duplicates of ids 3 and 7 at high ids (same vector ⇒
    // same cluster, cosine 1.0)
    val rows = base ++ Seq((100L, base(3)._2.clone()), (101L, base(7)._2.clone()))
    val out = Similarity.semDedup(spark, rows.toDF("id", "vec"),
        k = 4, iterations = 2, tau = 0.999)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(out.size === 22)
    assert(out(3L)._2 === true)    // lower id of the dup pair survives
    assert(out(100L)._2 === false) // planted duplicate drops
    assert(out(7L)._2 === true)
    assert(out(101L)._2 === false)
    // duplicates land in the SAME cluster as their original
    assert(out(3L)._1 === out(100L)._1)
    assert(out(7L)._1 === out(101L)._1)
    // nothing else is near-identical at tau=0.999: all other rows kept
    assert(out.collect { case (id, (_, kept)) if !kept => id }.toSet ===
      Set(100L, 101L))
  }

  test("ngramContainment: excerpt side saturates, disjoint pairs zero, sub-k fallback") {
    val docs = Seq(
      (1L, "one two three four five six"), // 4 grams
      (2L, "one two three four"),          // 2 grams, both inside doc 1
      (3L, "xx yy"),                       // sub-k: one whole-doc gram
      (4L, "one two three")                // exactly k: one gram
    ).toDF("doc_id", "text")
    val pairs = Seq((2L, 1L), (3L, 1L), (4L, 2L)).toDF("id_a", "id_b")
    val out = Dedup.ngramContainment(pairs, docs, "doc_id", "text", k = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // doc 2's grams are a strict subset of doc 1's: containment is
    // total from the small side, half from the large side — the
    // quote-inclusion signal Jaccard (2/4 = 0.5) understates.
    assert(out((2L, 1L)) === ((2L, 4L, 2L, 1000L, 500L)))
    assert(out((3L, 1L)) === ((1L, 4L, 0L, 0L, 0L)), "disjoint pair is zero")
    assert(out((4L, 2L)) === ((1L, 2L, 1L, 1000L, 500L)),
      "exact-k doc contributes its single gram")
  }
}

/** The executable semantics statements the generated kernels replaced
  * in the production operators: relational (explode + window +
  * aggregate) and fold forms that the equivalence tests above compare
  * each kernel path to, row for row.
  */
object DedupSimilaritySpec {

  /** The original relational statement of the portable MinHash
    * signatures — posexplode + window leads build the shingles, one
    * aggregate takes the `numHashes` minima (permutation j's hash is
    * 32-bit word j%4 of md5((j/4) ':' shingle); the md5s are hoisted
    * below the aggregate so 24 permutations cost 6 evaluations per
    * shingle). Kept as the executable semantics statement the
    * [[graft.plans.MinhashSig]] kernel must match (equivalence
    * test-pinned); the kernel is the production path.
    */
  def minhashSigsRelational(df: DataFrame, idCol: String,
      textCol: String, shingleK: Int = 3, numHashes: Int = 24): DataFrame = {
    val toks = filter(split(lower(col(textCol)), "\\W+"), t => length(t) > 0)
    val docsT = df.select(col(idCol).as("doc_id_"), toks.as("tk"))
    val w = Window.partitionBy("doc_id_").orderBy("pos")
    val leadCols = (1 until shingleK).map(i => lead(col("tok"), i).over(w).as(s"l$i"))
    val bigShingles = docsT.filter(size(col("tk")) >= shingleK)
      .select(col("doc_id_"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .select((col("doc_id_") +: col("tok") +: leadCols): _*)
      .filter(col(s"l${shingleK - 1}").isNotNull)
      .select(col("doc_id_"), concat_ws(" ",
        (col("tok") +: (1 until shingleK).map(i => col(s"l$i"))): _*).as("sh"))
    val smallShingles = docsT.filter(size(col("tk")) < shingleK)
      .select(col("doc_id_"), concat_ws(" ", col("tk")).as("sh"))
    val shingles = bigShingles.unionByName(smallShingles)
    val md5Groups = (numHashes + 3) / 4
    val withMd5 = shingles.select(col("doc_id_") +:
      (0 until md5Groups).map(g =>
        md5(concat(lit(s"$g:"), col("sh"))).as(s"m$g")): _*)
    val minCols = (0 until numHashes).map { j =>
      min(conv(substring(col(s"m${j / 4}"), 1 + 8 * (j % 4), 8), 16, 10)
        .cast("long")).as(s"mh$j")
    }
    withMd5.groupBy(col("doc_id_"))
      .agg(minCols.head, minCols.tail: _*)
      .select(col("doc_id_"),
        array((0 until numHashes).map(j => col(s"mh$j")): _*).as("sig"))
  }

  /** The original relational statement of the distinct per-doc gram
    * keys, parameterized over the tokenizer and the sub-k fallback —
    * kept as the executable semantics the [[graft.plans.GramKeys]]
    * kernel must match (equivalence test-pinned); the kernel is the
    * production path. Returns distinct (doc_id_, gk) rows.
    */
  def gramKeysRelational(df: DataFrame, idCol: String,
      textCol: String, k: Int, splitPattern: String,
      wholeDocFallback: Boolean): DataFrame = {
    val toks = filter(split(lower(col(textCol)), splitPattern),
      t => length(t) > 0)
    val docsT = df.select(col(idCol).as("doc_id_"), toks.as("tk"))
    val w = Window.partitionBy("doc_id_").orderBy("pos")
    val leadCols = (1 until k).map(i => lead(col("tok"), i).over(w).as(s"l$i"))
    val big = docsT.filter(size(col("tk")) >= k)
      .select(col("doc_id_"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .select((col("doc_id_") +: col("tok") +: leadCols): _*)
      .filter(col(s"l${k - 1}").isNotNull)
      .select(col("doc_id_"), md5(concat_ws(" ",
        (col("tok") +: (1 until k).map(i => col(s"l$i"))): _*)).as("gk"))
    val small = docsT.filter(size(col("tk")) < k)
      .select(col("doc_id_"), md5(concat_ws(" ", col("tk"))).as("gk"))
    (if (wholeDocFallback) big.unionByName(small) else big).distinct()
  }

  /** The original relational statement of `Dedup.portableSketches` — kept
    * as the executable semantics the native kernel must match
    * (equivalence test-pinned); the kernel is the production path.
    */
  def portableSketchesRelational(df: DataFrame, idCol: String,
      textCol: String, bits: Int): DataFrame = {
    val hrows = df.select(col(idCol).as("doc_id_"),
        explode_outer(filter(split(lower(col(textCol)), "\\W+"),
          t => length(t) > 0)).as("tok"))
      .select(col("doc_id_"),
        graft.functions.TextAnalysis.portableHash(col("tok")).as("h"))
    val voteCols = (0 until bits).map { b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L)) * 2 - 1).as(s"v$b")
    }
    val sketch = (0 until bits).map(b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    hrows.groupBy("doc_id_").agg(voteCols.head, voteCols.tail: _*)
      .select(col("doc_id_"), sketch.as("sketch"))
  }

  /** The original relational statement of [[graft.operators.Dedup.duplicateSpanScrub]] —
    * kept as the executable semantics the GramKeySeq/SpanCoverage
    * kernels must match (equivalence test-pinned); the kernel path is
    * the production one.
    */
  def duplicateSpanScrubRelational(df: DataFrame, idCol: String,
      textCol: String, k: Int = 8, minDf: Int = 2): DataFrame = {
    require(k >= 1, "gram length k must be >= 1")
    val toks = df.select(col(idCol).cast("long").as("doc_id"),
      posexplode(filter(split(lower(col(textCol)), "[^a-z0-9_]+"),
        t => length(t) > 0)).as(Seq("pos", "tok")))
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    // complete k-grams only: the (k-1)-ahead token exists
    val gramCols = col("tok") +:
      (1 until k).map(j => lead(col("tok"), j).over(wDoc))
    val grams = toks
      .withColumn("complete",
        if (k == 1) lit(true) else lead(col("tok"), k - 1).over(wDoc).isNotNull)
      .withColumn("h", md5(concat_ws(" ", gramCols: _*)))
      .where(col("complete"))
      .select(col("doc_id"), col("pos"), col("h"))
    val dup = grams.groupBy("h")
      .agg(count_distinct(col("doc_id")).as("docf"))
      .filter(col("docf") >= minDf)
      .select("h")
    val flagged = grams.join(dup, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"), lit(1).as("flag"))
    val covered = toks.join(flagged, Seq("doc_id", "pos"), "left")
      .withColumn("lastf",
        last(when(col("flag") === 1, col("pos")), ignoreNulls = true)
          .over(wDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cov", col("lastf").isNotNull && col("pos") < col("lastf") + k)
      .withColumn("prev_cov", lag(col("cov"), 1, false).over(wDoc))
    val perDoc = covered.groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("cov") && !col("prev_cov"), 1L).otherwise(0L)).as("n_spans"),
        sum(when(col("cov"), 1L).otherwise(0L)).as("n_covered"),
        md5(array_join(transform(
          array_sort(collect_list(when(!col("cov"),
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok")), " ")).as("kept_hash"))
    df.select(col(idCol).cast("long").as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        coalesce(col("kept_hash"), md5(lit(""))).as("kept_hash"))
  }

  /** The original relational statement of
    * [[graft.functions.TextAnalysis.winnowFingerprintsTokens]]
    * — kept as the executable semantics the native kernel must match
    * (equivalence test-pinned); the kernel is the production path.
    */
  def winnowFingerprintsTokensRelational(
      df: DataFrame, idCol: String,
      textCol: String, k: Int = 5, w: Int = 8)
      : DataFrame = {
    val toks = filter(split(lower(col(textCol)), "[^a-z0-9_]+"), t => length(t) > 0)
    val docsT = df.select(col(idCol), toks.as("tk"))
    val wLead = Window.partitionBy(idCol).orderBy("pos")
    val leadCols = (1 until k).map(i => lead(col("tok"), i).over(wLead).as(s"l$i"))
    // complete-gram count per doc is known BEFORE the explode
    // (size - k + 1) — carrying it as a column saves a third
    // whole-partition WindowExec pass over the exploded grams.
    // (Round-6 note: a pure-map zip_with/fold formulation of the grams
    // and sliding minima was measured — the k-1 + w-1 chained
    // interpreted array re-materializations cost ~3× the two doc-keyed
    // windows they replace; the relational form stays.)
    val grams = docsT.filter(size(col("tk")) >= k)
      .withColumn("m", (size(col("tk")) - (k - 1)).cast("long"))
      .select(col(idCol), col("m"), posexplode(col("tk")).as(Seq("pos", "tok")))
      .select((col(idCol) +: col("m") +: col("pos") +: col("tok") +: leadCols): _*)
      .filter(col(s"l${k - 1}").isNotNull) // only complete k-grams
      .select(col(idCol), col("m"), col("pos"),
        portableHash(concat_ws(" ",
          (col("tok") +: (1 until k).map(i => col(s"l$i"))): _*)).as("gh"))
    val slide = Window.partitionBy(idCol).orderBy("pos")
      .rowsBetween(Window.currentRow, w - 1)
    val big = grams
      .withColumn("wmin", min(col("gh")).over(slide))
      .filter(col("pos") <= greatest(col("m") - w, lit(0)))
      .groupBy(col(idCol))
      .agg(countDistinct(col("wmin")).cast("int").as("n_fingerprints"),
        min(col("wmin")).as("min_fp"),
        max(col("wmin")).as("max_fp"))
    val small = docsT.filter(size(col("tk")) < k)
      .select(col(idCol), portableHash(array_join(col("tk"), " ")).as("fp"))
      .select(col(idCol), lit(1).as("n_fingerprints"),
        col("fp").as("min_fp"), col("fp").as("max_fp"))
    big.unionByName(small)
  }

  /** The original fold form, kept as the executable statement of the
    * semantics [[graft.operators.Similarity.dot]] must match (equivalence is test-pinned).
    */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, x) => acc + x)
}
