package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}
import graft.streaming.CrawlStream

/** Streaming facade parity + physical-plan quality audits (the plans
  * we'd want at 100 TB: pushed filters, broadcast joins for dims,
  * no unexpected cartesian products).
  */
class StreamingAndPlanSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val spec = SyntheticCorpus.Spec(numUrls = 200, numHosts = 8)
  private def seeds = Seq(SyntheticCorpus.urlFor(0, spec) -> 1,
    SyntheticCorpus.urlFor(9, spec) -> 2)
  private val config = CrawlConfig(maxDepth = 1, defaultMaxPerWave = 10, maxWaves = 3)

  test("streaming facade produces the same crawl order as the batch loop") {
    val corpus = SyntheticCorpus.generate(spark, spec).toDF()

    val batchRoot = TempDirs.make("graft-batch-").toString
    val batch = new WaveRunner(spark, corpus, batchRoot, config)
    batch.initSeeds(seeds)
    batch.run()
    val batchOrder = batch.crawlOrder().collect().map(_.toSeq).toSeq

    val streamRoot = TempDirs.make("graft-stream-").toString
    val streaming = new WaveRunner(spark, corpus, streamRoot, config)
    streaming.initSeeds(seeds)
    CrawlStream.runBatches(spark, streaming, maxWaves = config.maxWaves)
    val streamOrder = streaming.crawlOrder().collect().map(_.toSeq).toSeq

    assert(streamOrder === batchOrder)
  }

  // ---- plan audits ----

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("filters are pushed into the parquet scan") {
    val p = plan("q_depth_gate")
    assert(p.contains("PushedFilters: [IsNotNull(l_linenumber), LessThanOrEqual(l_linenumber,3)]"),
      s"missing pushdown in:\n$p")
  }

  test("column pruning reaches the scan (no full-width reads)") {
    val p = plan("q_token_count")
    // only doc_id and text should be read, not lang/source/n_chars
    assert(p.contains("ReadSchema"))
    assert(!p.contains("n_chars"), s"unpruned scan:\n$p")
  }

  test("small dims join via broadcast in the multiway join") {
    val p = plan("q_multiway_join_case")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in:\n$p")
  }

  test("anti and semi joins use hash-join strategies, not BNLJ") {
    assert(!plan("q_anti_join").contains("BroadcastNestedLoopJoin"))
    assert(!plan("q_semi_join").contains("BroadcastNestedLoopJoin"))
  }

  test("whole-stage codegen covers the relational queries") {
    // under AQE the final plan only exists after execution
    def finalPlan(name: String): String = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    // AQE's final-plan string marks codegen stages as "*(n)"
    assert(finalPlan("q_metrics_agg").contains("*("))
    assert(finalPlan("q_priority_score").contains("*("))
  }

  // ---- fetch-join + robots plan audits (round-2 scale fixes) ----

  private def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    p.collect { case n => n }.flatMap {
      case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
      case n => Seq(n)
    }
  }

  private def fetchAudit(broadcastPopRows: Long, poppedRows: Long) = {
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    val corpus = SyntheticCorpus.generate(spark, spec).toDF()
    val root = TempDirs.make("graft-fetchaudit-").toString
    val fs = new graft.crawl.FetchSource(spark, corpus, root,
      CrawlConfig(fetchBuckets = 4, broadcastPopRows = broadcastPopRows))
    import spark.implicits._
    val popped = (0L until 20L).map { i =>
      val u = SyntheticCorpus.urlFor(i, spec)
      (graft.core.Hashing.xxhash64(u), u, graft.core.UrlNormalizer.hostOf(u),
        0, 1, 1000000L, 0, null.asInstanceOf[String])
    }.toDF("urlHash", "url", "host", "depth", "priority", "score", "attempts",
      "priorHash")
    val df = fs.fetched(popped, poppedRows)
    assert(df.count() === 20) // execute so AQE finalizes the plan
    val nodes = planNodes(df.queryExecution.executedPlan)
    val shuffles = nodes.collect { case s: ShuffleExchangeLike => s }
    val broadcasts = nodes.collect { case b: BroadcastExchangeLike => b }
    (shuffles, broadcasts)
  }

  test("fetch join, large regime: no broadcast, html never shuffles") {
    // broadcastPopRows=0 ⇒ co-partitioned join against the bucketed source
    val (shuffles, broadcasts) = fetchAudit(broadcastPopRows = 0L, poppedRows = 20L)
    assert(broadcasts.isEmpty, "popped side must NOT broadcast above the threshold")
    assert(shuffles.nonEmpty, "the popped keys side exchanges to the bucket count")
    shuffles.foreach { s =>
      assert(!s.output.exists(_.name == "html"),
        s"html exchanged in: ${s.simpleStringWithNodeId()}")
    }
  }

  test("fetch join, broadcast regime: popped broadcasts, html never shuffles") {
    val (shuffles, broadcasts) = fetchAudit(broadcastPopRows = 1000L, poppedRows = 20L)
    assert(broadcasts.nonEmpty, "small pops broadcast")
    broadcasts.foreach(b => assert(!b.output.exists(_.name == "html")))
    shuffles.foreach(s => assert(!s.output.exists(_.name == "html")))
  }

  test("robots gate joins the rules dimension via broadcast, no driver map") {
    import graft.core.Model.RobotsRule
    import graft.operators.Politeness
    import spark.implicits._
    val frontier = (0 until 100).map(i =>
      (s"http://h${i % 5}.test/p/$i", s"h${i % 5}.test"))
      .toDF("url", "host")
    // host h0 holds /p/0, /p/5, /p/10, … /p/95: disallow the /p/1
    // prefix (hits /p/10 /p/15 …) but allow /p/15 back (longer prefix)
    val dim = Politeness.rulesDim(spark,
      Seq(RobotsRule("h0.test", allow = false, pathPrefix = "/p/1"),
        RobotsRule("h0.test", allow = true, pathPrefix = "/p/15")))
    val gated = Politeness.applyRobots(frontier, dim)
    gated.collect()
    val p = gated.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"robots must broadcast-join:\n$p")
    // longest-prefix semantics survive the Catalyst re-expression
    val kept = gated.select("url").collect().map(_.getString(0)).toSet
    assert(!kept.exists(u => u.startsWith("http://h0.test/p/1") &&
      !u.startsWith("http://h0.test/p/15")))
    assert(kept.contains("http://h0.test/p/15"))
    assert(kept.contains("http://h0.test/p/0"))
    assert(kept.count(_.startsWith("http://h1.test/")) === 20)
  }

  /** The ranked pop over a parquet scan: exactly one exchange,
    * hashpartitioning(host), with a partial per-host top-k below it,
    * and no aggregate or broadcast of host mass (the old salted pop's
    * heavy-host groupBy + broadcast join).
    */
  private def popAudit(budget: org.apache.spark.sql.Column): Unit = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    import graft.operators.Politeness
    import spark.implicits._
    val dir = TempDirs.make("graft-popaudit-").resolve("pending").toString
    ((0 until 400).map(i => (s"h${i % 4}.test", (i * 7 % 50).toLong, i.toLong)) ++
      (0 until 40).map(i => (s"big.test", i.toLong, 1000L + i)))
      .toDF("host", "score", "urlHash").repartition(4)
      .write.parquet(dir)
    val popped = Politeness.popPerHost(
      spark.read.parquet(dir).withColumn("maxPerWave", budget), maxBudget = 5)
    val nodes = planNodes(popped.queryExecution.executedPlan)
    val shuffles = nodes.collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.size === 1, s"one exchange expected:\n${popped.queryExecution.executedPlan}")
    shuffles.head.outputPartitioning match {
      case HashPartitioning(Seq(a: AttributeReference), _) => assert(a.name === "host")
      case other => fail(s"pop exchange partitions by $other, not host")
    }
    val partial = planNodes(shuffles.head.child).collect {
      case l: WindowGroupLimitExec if l.mode == Partial => l
    }
    assert(partial.size === 1, s"no partial top-k below the exchange:\n${shuffles.head}")
    assert(!nodes.exists(_.isInstanceOf[BaseAggregateExec]), "pop aggregates host mass")
    assert(!nodes.exists(_.isInstanceOf[BroadcastExchangeLike]), "pop broadcasts")
    // the plan still selects the exact per-host top-budget
    assert(popped.groupBy("host").count().collect().map(_.getLong(1)).max <= 5)
  }

  test("ranked pop plan: one host exchange over a partial top-k (literal budget)") {
    popAudit(lit(5))
  }

  test("ranked pop plan: one host exchange over a partial top-k (policy budgets)") {
    // per-host budgets from host policies: a small map expression with
    // the default as fallback, every value at or below the bound
    popAudit(coalesce(element_at(typedLit(Map("big.test" -> 2, "h1.test" -> 4)),
      col("host")), lit(5)))
  }

  test("streaming window aggregation works via readStream") {
    import org.apache.spark.sql.streaming.Trigger
    // FileStreamSource wants a directory; the test table is one file
    val streamDir = TempDirs.make("graft-evstream-")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      // parquet infers TIMESTAMP_NTZ; event-time needs TIMESTAMP
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName("ev_counts")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000)
    val streamed = spark.sql("select sum(n) from ev_counts").collect().head.getLong(0)
    val batch = spark.read.parquet(s"$sfDir/events.parquet").count()
    assert(streamed === batch)
  }

  test("flatMapGroupsWithState sessionization agrees with the batch twin") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.Sessionize
    val gapSeconds = 21600L
    val streamDir = TempDirs.make("graft-sessstream-")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      streamDir.resolve("events.parquet"))
    val schema = spark.read.parquet(s"$sfDir/events.parquet").schema
    val stream = spark.readStream.schema(schema).parquet(streamDir.toString)
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", "0 seconds")
    val q = Sessionize.streamingSessions(
        Sessionize.toEvents(spark, stream), gapSeconds)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
    val streamed = spark.sql(
      "select user_id, session_start_us, session_end_us, n_events, value_cents" +
        " from sessions_out").collect().map(key).toSet
    val batchAll = Sessionize.batchSessions(
        spark.read.parquet(s"$sfDir/events.parquet"), gapSeconds)
      .select("user_id", "session_start_us", "session_end_us", "n_events",
        "value_cents", "session_seq")
    val batchRows = batchAll.collect()
    val all: Map[(Long, Long, Long, Long, Long), Int] =
      batchRows.map(r => key(r) -> r.getInt(5)).toMap
    val maxSeqPerUser: Map[Long, Int] = batchRows.groupBy(_.getLong(0))
      .map { case (u, rs) => u -> rs.map(_.getInt(5)).max }
    // every streamed session must be a real batch session...
    assert(streamed.subsetOf(all.keySet), "phantom streamed session")
    // ...and every session BEFORE each user's final one must have been
    // emitted (the final session closes only if the end-of-stream
    // timeout batch fired, which AvailableNow does not guarantee)
    val mustEmit = all.collect {
      case (k, seq) if seq < maxSeqPerUser(k._1) => k
    }.toSet
    assert(mustEmit.subsetOf(streamed),
      s"missing closed sessions: ${(mustEmit -- streamed).take(3)}")
    assert(streamed.nonEmpty, "stream emitted nothing")
  }

  test("sessionize streaming edges: multi-close, timeout boundary, late drop") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Sessionize
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val gapSeconds = 100L
    val ms = MemoryStream[(Long, Long, Double)]
    val df = ms.toDF().toDF("user_id", "sec", "value")
      .withColumn("ts", timestamp_seconds(col("sec")))
      .withWatermark("ts", "0 seconds")
    val q = Sessionize.streamingSessions(Sessionize.toEvents(spark, df), gapSeconds)
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_edge").start()
    def sessions(): Set[(Long, Long, Long, Long)] = spark.sql(
      "select user_id, session_start_us, session_end_us, n_events from sess_edge")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    def us(sec: Long) = sec * 1000000L

    try {
      // (times ride a 10000s base — an event at exactly epoch 0 sits
      // ON the initial watermark, a degenerate boundary)
      // batch 1: ONE batch closes TWO sessions for one key (10000-10010
      // and 11000), leaving 12000 open; watermark advances to 12000s
      ms.addData((1L, 10000L, 1.0), (1L, 10010L, 1.0), (1L, 11000L, 1.0),
        (1L, 12000L, 1.0))
      q.processAllAvailable()
      assert(sessions() === Set((1L, us(10000), us(10010), 2L),
        (1L, us(11000), us(11000), 1L)))

      // batch 2: a LATE event (10100s < watermark 12000s) must be
      // dropped — not merged into the open 12000s session — while
      // user 2's event pushes the watermark to 15000s
      ms.addData((1L, 10100L, 1.0), (2L, 15000L, 1.0))
      q.processAllAvailable()
      // batch 3: runs with watermark 15000s > 12000s+gap — the open
      // session closes via EVENT-TIME TIMEOUT (no more user-1 events),
      // and n_events==1 proves the late event never entered it
      ms.addData((2L, 15050L, 1.0))
      q.processAllAvailable()
      ms.addData((2L, 19000L, 1.0)) // one more watermark push so the timeout batch ran
      q.processAllAvailable()
      assert(sessions().contains((1L, us(12000), us(12000), 1L)),
        s"open session did not close by timeout: ${sessions()}")

      // the streamed user-1 history equals the batch twin run on the
      // WATERMARK-FILTERED input (late 10100s event absent)
      val filteredInput = Seq((1L, us(10000), 1L, 1.0), (1L, us(10010), 2L, 1.0),
        (1L, us(11000), 3L, 1.0), (1L, us(12000), 4L, 1.0))
        .toDF("user_id", "e", "event_id", "value")
        .withColumn("ts", timestamp_micros(col("e"))).drop("e")
      val twin = Sessionize.batchSessions(filteredInput, gapSeconds)
        .select("user_id", "session_start_us", "session_end_us", "n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(sessions().filter(_._1 == 1L) === twin)
    } finally q.stop()
  }

  test("topTerms never HINTS broadcast on the unbounded term dimension") {
    // With auto-broadcast off (static + AQE), only hinted joins can
    // broadcast. The only legitimate broadcast in topTerms is the
    // 1-row corpus count; the per-distinct-term document-frequency
    // dimension is unbounded on web text and must reach the term join
    // as a shuffle (AQE may choose broadcast at runtime when small —
    // that is a size-based decision, not a hint, and is exactly what
    // we disable here to expose any hint).
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    val prevStatic = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val out = graft.functions.TextAnalysis.topTerms(docs, "doc_id", "text", k = 2)
      assert(out.count() > 0)
      val broadcasts = planNodes(out.queryExecution.executedPlan)
        .collect { case b: BroadcastExchangeLike => b }
      assert(broadcasts.size === 1,
        s"expected only the 1-row n_docs broadcast, got: ${broadcasts.map(_.output.map(_.name))}")
      assert(broadcasts.head.output.map(_.name) === Seq("n_docs"))
      assert(!broadcasts.exists(_.output.exists(_.name == "doc_freq")),
        "term dimension must not broadcast under a hint")
    } finally {
      prevStatic match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("topTerms minDf/maxDfRatio prune the term dimension before ranking") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta common common"),
      (2L, "alpha gamma common"),
      (3L, "alpha delta common")).toDF("doc_id", "text")
    // minDf=2 drops beta/gamma/delta (df=1); maxDfRatio<1 drops
    // alpha+common (df=3 = every doc)
    val pruned = graft.functions.TextAnalysis
      .topTerms(docs, "doc_id", "text", k = 5, minDf = 2L, maxDfRatio = 0.99)
      .select("term").distinct().as[String].collect().toSet
    assert(pruned === Set.empty[String])
    val floorOnly = graft.functions.TextAnalysis
      .topTerms(docs, "doc_id", "text", k = 5, minDf = 2L)
      .select("term").distinct().as[String].collect().toSet
    assert(floorOnly === Set("alpha", "common"))
  }

  test("paragraphDedup plan: window-free and no hinted broadcast") {
    // First-occurrence selection must be the partial-aggregable
    // groupBy+join, not a window over the paragraph key, and the
    // firsts dimension (one row per distinct paragraph — unbounded on
    // web text) must never reach the join as a hinted broadcast.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val prevStatic = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val out = graft.operators.Dedup.paragraphDedup(docs, "doc_id", "text")
      assert(out.count() > 0)
      val nodes = planNodes(out.queryExecution.executedPlan)
      assert(nodes.collect { case w: WindowExec => w }.isEmpty,
        "first-occurrence selection must not use a window")
      assert(nodes.collect { case b: BroadcastExchangeLike => b }.isEmpty,
        "the per-distinct-paragraph firsts dimension must not broadcast under a hint")
    } finally {
      prevStatic match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  test("length-deciles plan: windows only over the aggregated length dimension") {
    // round-4 verdict #2: the old ntile(10) OVER (PARTITION BY lang)
    // sorted a whole language in ONE task. The distributive rewrite
    // may still window — but only over the per-(lang, n_chars)
    // DIMENSION, i.e. every WindowExec must sit above an aggregate,
    // never directly over row-granularity input.
    import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkEntry.queries("q_length_deciles")(spark, sfDir)
    assert(out.count() > 0)
    val nodes = planNodes(out.queryExecution.executedPlan)
    val windows = nodes.collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "the dimension cumulative still uses a window")
    windows.foreach { w =>
      val subtreeHasAgg = planNodes(w.child).exists {
        case _: BaseAggregateExec => true
        case _ => false
      }
      assert(subtreeHasAgg,
        s"WindowExec over row-granularity input (no aggregate below it):\n$w")
    }
  }

  test("sequencePack plan: no row-granularity global sort; intra windows per bucket") {
    // the global token offset must NEVER be one global ordered window
    // (a single-partition sort at 10^10 docs): every WindowExec either
    // sits above an aggregate (the bucket-DIMENSION cumulative, <=
    // `buckets` rows) or partitions by the hash bucket (intra-bucket
    // per-doc cumulative — one task per bucket, sized by `buckets`).
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkEntry.queries("q_seq_pack")(spark, sfDir)
    assert(out.count() > 0)
    val windows = planNodes(out.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val aboveAgg = planNodes(w.child).exists {
        case _: BaseAggregateExec => true
        case _ => false
      }
      val perBucket = w.partitionSpec.flatMap(_.references.toSeq)
        .map(_.name).toSet == Set("bucket")
      assert(aboveAgg || perBucket,
        s"row-granularity window without bucket partitioning:\n$w")
    }
  }

  test("tokenBudgetSelectPerGroup plan: windows over the dim or the boundary bucket") {
    // same discipline as q_token_budget/q_length_deciles, per group:
    // the cumulative runs over the (group, score) DIMENSION (above an
    // aggregate); only the boundary tie-break window touches rows, and
    // it must partition by (group, score) — one score bucket per group.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkEntry.queries("q_lang_mix")(spark, sfDir)
    assert(out.count() > 0)
    val windows = planNodes(out.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      val aboveAgg = planNodes(w.child).exists {
        case _: BaseAggregateExec => true
        case _ => false
      }
      val boundaryOnly = w.partitionSpec.flatMap(_.references.toSeq)
        .map(_.name).toSet == Set("lang", "score")
      assert(aboveAgg || boundaryOnly,
        s"row-granularity window outside the boundary bucket:\n$w")
    }
  }

  test("bpePairCounts plan: two aggregate collapses, window-free") {
    // vocabulary counts then pair counts — both map-side combinable
    // aggregates; no window, and nothing to broadcast (the pair
    // dimension is an aggregate OUTPUT, never a join side).
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkEntry.queries("q_bpe_pairs")(spark, sfDir)
    assert(out.count() > 0)
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(nodes.collect { case w: WindowExec => w }.isEmpty,
      "pair counting must be pure aggregation, no window")
    assert(nodes.collect { case b: BroadcastExchangeLike => b }.isEmpty,
      "no join, so no broadcast should appear")
  }

  test("knContinuationCounts plan: window-free pairs, one aggregate, no join") {
    // round-6: the predecessor pairs come from the generated
    // AdjacentPairs kernel — a pure map, so NO window may appear (the
    // former shape shuffled the token stream into a per-doc lag
    // window); ONE groupBy(word) computes both counts; there must
    // still be no join back.
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val out = SparkEntry.queries("q_kn_counts")(spark, sfDir)
    assert(out.count() > 0)
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(nodes.collect { case w: WindowExec => w }.isEmpty,
      "pair derivation must stay a per-row map — no window anywhere")
    assert(nodes.collect { case j: BaseJoinExec => j }.isEmpty,
      "count(*) and count(DISTINCT prev) share one aggregate — no join back")
  }

  test("CrawlTraps plan: window-free distinct-count aggregate, no broadcast") {
    // one groupBy (host, template) with a two-phase distinct count —
    // the trap dimension is an aggregate OUTPUT (bounded by page-type
    // count), never a join side; nothing may window or broadcast.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkEntry.queries("q_url_traps")(spark, sfDir)
    assert(out.count() > 0)
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(nodes.collect { case w: WindowExec => w }.isEmpty,
      "trap detection must be pure aggregation, no window")
    assert(nodes.collect { case b: BroadcastExchangeLike => b }.isEmpty,
      "no join, so no broadcast should appear")
  }

  test("SnapshotDiff plan: one equi-join, never a cartesian or BNLJ") {
    // the full-outer diff must stay a key-partitioned equi-join at any
    // snapshot size — both sides are corpus-sized, so a broadcast
    // nested-loop or cartesian fallback would be a scale bug.
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkEntry.queries("q_snapshot_diff")(spark, sfDir)
    assert(out.count() > 0)
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(nodes.collect { case c: CartesianProductExec => c }.isEmpty,
      "cartesian product in the diff plan")
    assert(nodes.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "broadcast nested-loop join in the diff plan")
    assert(nodes.collect { case w: WindowExec => w }.isEmpty,
      "the diff is join+project only — no window")
  }

  test("ngramContainment plan: window-free gram build, no cartesian") {
    // round-6: the gram builder is the generated GramKeys kernel — a
    // pure map, so NO window may appear anywhere (the former lead
    // windows shuffled the token stream by doc); everything downstream
    // is equi-joins + aggregates — a cartesian or BNLJ would mean the
    // pair join degenerated.
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkEntry.queries("q_containment_pairs")(spark, sfDir)
    assert(out.count() > 0)
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(nodes.collect { case w: WindowExec => w }.isEmpty,
      "gram derivation must stay a pure map — no window anywhere")
    assert(nodes.collect { case c: CartesianProductExec => c }.isEmpty)
    assert(nodes.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty)
  }

  test("corpusMixReport plan: window-free; only the 1-row total broadcasts") {
    // one aggregate to the bounded group dimension, then the global
    // total — a 1-row aggregate — crossJoin-broadcasts back. The BNLJ
    // this produces is the documented legitimate stat-dim pattern;
    // what must NOT appear is a window or a corpus-sized broadcast.
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    val out = SparkEntry.queries("q_corpus_mix")(spark, sfDir)
    assert(out.count() > 0)
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(nodes.collect { case w: WindowExec => w }.isEmpty,
      "the share must come from the broadcast total, not a window")
    assert(nodes.exists { case _: BaseAggregateExec => true; case _ => false })
  }

  /** Batch twin of [[graft.streaming.StreamDedup.dedupStream]] for
    * parity checks: first arrival per key by (ts, then tie-break on
    * every remaining column via min(struct)) — what the stream
    * converges to when every row fits one horizon.
    */
  private def dedupBatch(discoveries: DataFrame): DataFrame = {
    val cols = discoveries.columns.filterNot(_ == "urlHash")
    discoveries.groupBy(col("urlHash"))
      .agg(min(struct(cols.map(col): _*)).as("r"))
      .select(col("urlHash") +: cols.map(c => col(s"r.$c")): _*)
  }

  test("streaming URL dedup: first-in-horizon survives, state is watermark-bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.StreamDedup
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val ms = MemoryStream[(Long, Long, String)]
    val df = ms.toDF().toDF("urlHash", "sec", "url")
      .withColumn("ts", timestamp_seconds(col("sec")))
    val q = StreamDedup.dedupStream(df, horizon = "100 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    def emitted(): Seq[(Long, Long)] = spark.sql(
      "select urlHash, sec from dedup_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    try {
      // batch 1: key 1 twice (dup within batch), key 2 once
      ms.addData((1L, 1000L, "a"), (1L, 1010L, "a-dup"), (2L, 1020L, "b"))
      q.processAllAvailable()
      assert(emitted().map(_._1).sorted === Seq(1L, 2L))
      // batch 2: key 1 again INSIDE the horizon -> suppressed;
      // key 3 new -> emitted; watermark advances to 1100-100=1000
      ms.addData((1L, 1050L, "a-again"), (3L, 1100L, "c"))
      q.processAllAvailable()
      assert(emitted().count(_._1 == 1L) === 1, "in-horizon repeat must dedup")
      assert(emitted().map(_._1).toSet === Set(1L, 2L, 3L))
      // push the watermark far past key 1's state expiry, then key 1
      // re-appears -> legitimately schedulable again (re-crawl
      // frequency semantics), state for old keys was dropped
      ms.addData((4L, 5000L, "d"))
      q.processAllAvailable()
      ms.addData((1L, 5100L, "a-recrawl"))
      q.processAllAvailable()
      assert(emitted().count(_._1 == 1L) === 2,
        "post-horizon re-appearance must re-emit")
      // batch-twin parity on the first-horizon slice
      val batch = dedupBatch(
        Seq((1L, 1000L, "a"), (1L, 1010L, "a-dup"), (2L, 1020L, "b"),
          (1L, 1050L, "a-again"), (3L, 1100L, "c"))
          .toDF("urlHash", "sec", "url"))
        .select("urlHash", "sec").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(batch === Set((1L, 1000L), (2L, 1020L), (3L, 1100L)))
      assert(emitted().filter(_._2 <= 1100L).toSet === batch,
        "stream must agree with the batch twin inside one horizon")
    } finally q.stop()
  }

  /** q_stream_dedup's expected rows over `ids`, stated arithmetically
    * as its oracle states them, sorted.
    */
  private def streamDedupExpected(ids: Seq[Long]): Seq[(Long, Long)] = {
    val evens = ids.filter(_ % 2 == 0)
    (evens.map(i => (i, 1000L + i % 997)) ++ ids.filter(_ % 2 != 0).map(i => (i, 3000L + i % 997)) ++
      Seq((-1L, 10000000L)) ++ evens.map(i => (i, 10000010L + i % 997))).sorted
  }

  private def streamDedupRows(dir: String): Seq[(Long, Long)] = {
    val df = SparkEntry.queries("q_stream_dedup")(spark, dir)
    assert(df.columns.toSeq === Seq("url_hash", "sec"))
    df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  test("q_stream_dedup replays a documents table above 2^16 ids without a driver bound") {
    val dir = TempDirs.make("graft-stream-70k-")
    spark.range(0, 70000, 1, 4).select(col("id").as("doc_id"))
      .write.parquet(dir.resolve("documents.parquet").toString)
    assert(streamDedupRows(dir.toString) === streamDedupExpected(0L until 70000L))
  }

  test("q_stream_dedup leaves the caller's session conf as it was") {
    val before = spark.conf.getAll
    val ids = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(streamDedupRows(sfDir) === streamDedupExpected(ids))
    assert(spark.conf.getAll === before)
  }

  test("q_stream_dedup forks no process over its own replay files") {
    val query = SparkEntry.queries("q_stream_dedup")
    query(spark, sfDir) // warm
    val (_, started) = ProcessProbe.started(query(spark, sfDir))
    // Spark's own asynchronous clean-up of earlier sessions' artifact
    // directories may start an `rm` meanwhile; it names no replay file
    info(s"processes started in one run: ${started.size}")
    val replay = started.filter(_.contains("graft-stream-replay-"))
    assert(replay.isEmpty, s"processes over the replay's files: $replay")
  }

  test("gopherRules and hashClassifier are pure maps: no exchange in the plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    Seq(
      docs.select((col("doc_id") +:
        graft.functions.TextAnalysis.gopherRules(col("text"))): _*),
      docs.select(col("doc_id"),
        graft.functions.TextAnalysis.hashClassifierScore(col("text")).as("s"))
    ).foreach { out =>
      assert(out.count() > 0)
      val nodes = planNodes(out.queryExecution.executedPlan)
      assert(nodes.collect { case s: ShuffleExchangeLike => s }.isEmpty,
        "a per-row scoring pass must not shuffle")
      assert(out.queryExecution.executedPlan.toString.contains("*("),
        "the scoring projection must be whole-stage codegen'd")
    }
  }

  test("semDedup plan: within-cluster equi-join, never a cartesian product") {
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val out = graft.operators.Similarity.semDedup(spark, emb,
      k = 8, iterations = 1, tau = 0.35)
    assert(out.count() === emb.count())
    val nodes = planNodes(out.queryExecution.executedPlan)
    assert(nodes.collect { case c: CartesianProductExec => c }.isEmpty &&
      nodes.collect { case b: BroadcastNestedLoopJoinExec => b }.isEmpty,
      "the pair stage must join on the cluster id, not cross the corpus")
  }

  test("sketch-family catalog queries carry no ScalaUDF in any plan they run") {
    // every near-dup and ANN query runs the portable, oracle-checked
    // path; a Scala-UDF copy reached from a catalog path would show up
    // as a ScalaUDF expression. Plans are captured from every query
    // execution the call makes (centroid training collects, pair-table
    // checkpoints) plus the result's own plan.
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.ListenerBusDrain
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    def udfs(p: LogicalPlan): Seq[String] =
      p.collectWithSubqueries { case n => n }.flatMap(_.expressions)
        .flatMap(_.collect { case u: ScalaUDF => u.udfName.getOrElse(u.toString) })
    val seen = new ConcurrentLinkedQueue[LogicalPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        seen.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        seen.add(qe.optimizedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      Seq("q_minhash_pairs", "q_minhash_dedup", "q_dup_clusters",
        "q_simhash_pairs", "q_fingerprint", "q_containment_pairs",
        "q_ngram_jaccard", "q_ann_lsh", "q_cosine_dup_pairs", "q_ann_ivf",
        "q_semdedup").foreach { name =>
        ListenerBusDrain.drain(spark.sparkContext)
        seen.clear()
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        ListenerBusDrain.drain(spark.sparkContext)
        val plans = df.queryExecution.optimizedPlan +: seen.asScala.toSeq
        assert(seen.size >= 1, s"$name: no query execution was seen")
        val found = plans.flatMap(udfs)
        assert(found.isEmpty, s"$name runs Scala UDFs: ${found.distinct}")
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("catalog plans stay small: every posted description under 64 KiB, no big array literal") {
    // Spark's SQL status store keeps every execution's plan description
    // for the session, so a data- or parameter-sized literal in a plan
    // is memory the session never gets back. Descriptions are captured
    // as posted (execution start and every adaptive re-plan), so the
    // plans behind collects and checkpoints count too.
    import java.util.concurrent.ConcurrentLinkedQueue
    import org.apache.spark.scheduler.{ListenerBusDrain, SparkListener, SparkListenerEvent}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
    import org.apache.spark.sql.types.{ArrayType, DataType}
    import org.apache.spark.sql.util.QueryExecutionListener
    val posted = new ConcurrentLinkedQueue[(String, Int)]
    val sizes = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          posted.add(s.description -> s.physicalPlanDescription.length)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          posted.add(s"execution ${u.executionId}" -> u.physicalPlanDescription.length)
        case _ =>
      }
    }
    val plans = new ConcurrentLinkedQueue[LogicalPlan]
    val qel = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.optimizedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.optimizedPlan)
    }
    def elements(v: Any, t: DataType): Long = (v, t) match {
      case (a: ArrayData, ArrayType(et, _)) =>
        (0 until a.numElements()).map(i =>
          if (a.isNullAt(i)) 1L else elements(a.get(i, et), et)).sum
      case _ => 1L
    }
    def arrayLiterals(p: LogicalPlan): Seq[Long] =
      p.collectWithSubqueries { case n => n }.flatMap(_.expressions)
        .flatMap(_.collect { case Literal(v, t: ArrayType) if v != null => elements(v, t) })
    spark.sparkContext.addSparkListener(sizes)
    spark.listenerManager.register(qel)
    val sc = spark.sparkContext
    try {
      val tooBig = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
        ListenerBusDrain.drain(sc)
        posted.clear()
        plans.clear()
        sc.setJobDescription(name)
        try SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        finally sc.setJobDescription(null)
        ListenerBusDrain.drain(sc)
        val big = posted.asScala.collect { case (d, n) if n > 65536 => s"$name: $n chars ($d)" }
        val arrays = plans.asScala.flatMap(arrayLiterals).filter(_ > 256)
          .map(n => s"$name: an array literal of $n elements")
        assert(posted.size >= 1, s"$name posted no plan description")
        big ++ arrays
      }
      assert(tooBig.isEmpty, tooBig.mkString("\n"))
    } finally {
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(sizes)
    }
  }

  test("iterative catalog queries finish in a bounded number of jobs") {
    // the local finish: inputs, one materialization, one collect
    Seq("q_components" -> 9, "q_dup_clusters" -> 12, "q_pagerank" -> 8).foreach {
      case (name, most) =>
        val (_, jobs) = JobCount(spark)(SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save())
        assert(jobs <= most, s"$name launched $jobs jobs (at most $most)")
    }
  }

  test("familiarityScore never hints broadcast on the unbounded bigram dimension") {
    // same discipline as topTerms: with auto-broadcast off, any
    // BroadcastExchange in the plan could only come from a hint — and
    // the per-distinct-bigram count dimension is unbounded on web text
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    withAutoBroadcastOff {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val out = graft.operators.Curation
        .familiarityScore(docs, "doc_id", "text")
      assert(out.count() > 0)
      assert(planNodes(out.queryExecution.executedPlan)
        .collect { case b: BroadcastExchangeLike => b }.isEmpty,
        "bigram count dimension must reach its join as a shuffle")
    }
  }

  test("bm25Rank plan: only query-bounded dims broadcast; top-k is TakeOrdered") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    withAutoBroadcastOff {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val out = graft.functions.TextAnalysis.bm25Rank(
        docs, "doc_id", "text", Seq("spark", "join", "merge"), k = 10)
      assert(out.count() > 0)
      val nodes = planNodes(out.queryExecution.executedPlan)
      val broadcasts = nodes.collect { case b: BroadcastExchangeLike => b }
      // exactly the two bounded dims: per-query-term df (≤ |terms|
      // rows) and the 1-row corpus stats — never the postings side
      assert(broadcasts.size === 2,
        s"got: ${broadcasts.map(_.output.map(_.name))}")
      assert(broadcasts.forall(_.output.map(_.name).toSet
        .subsetOf(Set("term", "df", "n_docs", "avgdl"))),
        "only the query-bounded dimensions may broadcast")
      assert(nodes.exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        "global top-k must be TakeOrderedAndProject, not a full sort")
    }
  }

  test("dsirWeights plan: hashed-feature count dims broadcast by construction") {
    // the DSIR feature space is hashed to `buckets` ids, so the count
    // table is bounded and must broadcast EVEN with auto-broadcast
    // off (i.e. by explicit hint) — the opposite discipline of the
    // unbounded familiarityScore/topTerms dimensions. Round-6: raw and
    // target counts ride ONE conditional aggregate (one broadcast dim,
    // one pass over the feature stream, where the former tgt branch
    // re-ran the whole feature subtree under a filter).
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    withAutoBroadcastOff {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val out = graft.operators.Curation.dsirWeights(docs, "doc_id", "text",
        org.apache.spark.sql.functions.col("lang") === "en")
      assert(out.count() > 0)
      val broadcasts = planNodes(out.queryExecution.executedPlan)
        .collect { case b: BroadcastExchangeLike => b }
      assert(broadcasts.size === 1,
        s"got: ${broadcasts.map(_.output.map(_.name))}")
      assert(broadcasts.forall(_.output.map(_.name).toSet
        .subsetOf(Set("f", "c_r", "c_t"))),
        "only the bounded hashed-feature count tables may broadcast")
    }
  }

  test("duplicateSpanScrub plan: window-free, no hinted broadcast") {
    // round-6: gram keys and the coverage/kept-hash summary are
    // generated per-row kernels, so NO window may appear anywhere
    // (the former shape windowed the token stream per doc three
    // times); the duplicated-gram dimension (unbounded on web text)
    // must still reach its semi-join as a shuffle, never a hinted
    // broadcast.
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeLike
    import org.apache.spark.sql.execution.window.WindowExec
    withAutoBroadcastOff {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val out = graft.operators.Dedup.duplicateSpanScrub(docs, "doc_id", "text")
      assert(out.count() > 0)
      val nodes = planNodes(out.queryExecution.executedPlan)
      assert(nodes.collect { case w: WindowExec => w }.isEmpty,
        "gram build and coverage must stay per-row maps — no window")
      assert(nodes.collect { case b: BroadcastExchangeLike => b }.isEmpty,
        "the unbounded duplicated-gram dimension must not broadcast under a hint")
    }
  }

  private def withAutoBroadcastOff[T](body: => T): T = {
    val prevStatic = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.getOption("spark.sql.adaptive.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try body finally {
      prevStatic match {
        case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      prevAqe match {
        case Some(v) => spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", v)
        case None => spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
      }
    }
  }

  /** Every main source file: (path relative to src/main/scala, text). */
  private lazy val mainSources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    val s = Files.walk(root)
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => root.relativize(f).toString -> new String(Files.readAllBytes(f), UTF_8))
    finally s.close()
  }

  test("entry points: five supported mains, and only they read the environment") {
    // scratch mains and engine env knobs stay out of src/main: a probe
    // belongs in perfbench/ or a test, an engine setting in CrawlConfig
    def filesWith(token: String): Set[String] =
      mainSources.collect { case (f, text) if text.contains(token) => f }.toSet
    val entryPoints = Set("graft/Bench.scala", "graft/Verify.scala",
      "graft/tools/BenchExtra.scala", "graft/tools/PlanDump.scala",
      "graft/tools/CrawlDemo.scala")
    assert(filesWith("def main(") === entryPoints)
    val envReaders = filesWith("sys.env") ++ filesWith("System.getenv")
    assert(envReaders.subsetOf(entryPoints),
      s"environment read outside the entry points: ${envReaders -- entryPoints}")
  }

  test("parquet inputs: only ParquetDir opens them (and the frozen bench harness)") {
    // a bare read infers its schema with a job before the query's own
    // work; ParquetDir.read takes it from a sidecar or the footer
    val parquetRead =
      """\.read(\s*\.\w+\([^()]*\))*\s*\.(parquet\(|format\(\s*"parquet"\s*\))""".r
    val readers = mainSources.collect {
      case (f, text) if parquetRead.findFirstIn(text).isDefined => f
    }.toSet
    assert(readers === Set("graft/state/ParquetDir.scala", "graft/Bench.scala"))
  }

  test("parquet outputs: only ParquetDir writes them (and the bench harness, the oracle outputs)") {
    // a DataFrameWriter of its own forks a chmod per local file without
    // the native Hadoop library; ParquetDir.writer's does not. Sinks
    // that write no file (noop) are free to use one.
    val writeChain = """\.write(\s*\.\w+\([^()]*\))+""".r
    val writers = mainSources.collect {
      case (f, text) if writeChain.findAllIn(text).exists(!_.contains("format(\"noop\")")) => f
    }.toSet
    // the frozen bench harness, and graft.Verify's query outputs for
    // the oracle, which are no crawl state
    assert(writers === Set("graft/state/ParquetDir.scala", "graft/Bench.scala",
      "graft/Verify.scala"))
    // a table write (FetchSource's bucketed ingest) starts from
    // ParquetDir.writer too
    val tableWriters = mainSources.filter(_._2.contains("saveAsTable("))
    assert(tableWriters.map(_._1).toSet === Set("graft/crawl/FetchSource.scala"))
    tableWriters.foreach { case (f, text) =>
      assert(text.contains("ParquetDir.writer("), s"$f writes a table without ParquetDir.writer")
    }
  }

  test("session conf: src/main sets none but its own new session's, and stages no stream on the driver") {
    // a caller's session keeps its conf; a replay that needs other
    // settings makes a session of its own, and reads its input from files
    Seq("MemoryStream", "format(\"memory\")", ".conf.set(", ".conf.unset(").foreach { token =>
      val users = mainSources.collect { case (f, text) if text.contains(token) => f }
      assert(users.isEmpty, s"$token in $users")
    }
    val confWrite = """(\w+)\.sessionState\.conf\.set\w*\(""".r
    val writers = mainSources.flatMap { case (f, text) =>
      confWrite.findAllMatchIn(text).map(m => (f, text, m.group(1)))
    }
    assert(writers.map(_._1).toSet === Set("graft/streaming/StreamDedup.scala"))
    writers.foreach { case (f, text, session) =>
      assert(text.contains(s"val $session = spark.newSession()"),
        s"$f sets the conf of $session, which is no session of its own")
    }
  }

  test("wave counts: only the wave records hold them, no metrics table, sketch meta or counts file") {
    // a wave's counts, metrics row and running key totals live in its
    // _STAGED and _COMMITTED records and nowhere else
    val crawl = mainSources.filter(_._1.startsWith("graft/crawl/"))
    assert(crawl.size >= 4, s"probe setup broken: ${crawl.map(_._1)}")
    val metricsTable = """SnapshotTable\([^)]*"metrics"""".r
    crawl.foreach { case (f, text) =>
      assert(metricsTable.findFirstIn(text).isEmpty, s"$f keeps a metrics table")
      Seq("counts.json", "_IDLE", "metricsT", "pendingCache").foreach { token =>
        assert(!text.contains(token), s"$f still has $token")
      }
      // the one .meta file the package names is the bucketed fetch
      // table's ingest fingerprint, no sketch chain's
      val metas = """[\w$]*\.meta"""".r.findAllIn(text).toSet
      assert(metas.subsetOf(Set("_graft_ingest.meta\"")), s"$f names $metas")
    }
  }

  test("crawl-state files: only StateFiles writes, renames, lists or deletes them") {
    // the atomic-write protocol, closed listings and recursive deletes
    // live in one module; everything else in the state, crawl and
    // streaming packages goes through it
    val direct =
      """\bFiles\s*\.\s*(write\w*|move|copy|delete\w*|createDirector\w*|newOutputStream|list|walk)\b""".r
    val stateSources = mainSources.filter { case (f, _) =>
      Seq("graft/state/", "graft/crawl/", "graft/streaming/").exists(f.startsWith)
    }
    assert(stateSources.size >= 10, s"probe setup broken: ${stateSources.map(_._1)}")
    val users = stateSources.collect { case (f, text) if direct.findFirstIn(text).isDefined => f }
    assert(users.toSet === Set("graft/state/StateFiles.scala"))
    // JSON state goes through the library codec: no hand-written
    // parser, escaper or field regex is left
    val handCodec = Seq("parseManifest", "jsonStr", "unescape", "findFirstMatchIn")
    stateSources.foreach { case (f, text) =>
      handCodec.foreach(t => assert(!text.contains(t), s"$f still has $t"))
    }
  }

}
