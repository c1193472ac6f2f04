package graft

import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.UrlNormalizer
import graft.plans.{GraftExtensions, Kernels}

/** The custom Catalyst surface: an audit of every [[Kernels]] row
  * (whole-stage codegen, SQL by name, null input, mistyped calls), and
  * a crawl wave's plans hold no Scala UDF.
  */
class CatalystExtensionsSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {

  // suites share one SparkContext, and withExtensions only applies when
  // getOrCreate builds a new session: build this one with no default
  // session around, then put the previous default back
  private lazy val spark = {
    val prev = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-catalyst-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    prev.foreach { p =>
      SparkSession.setDefaultSession(p)
      SparkSession.setActiveSession(p)
    }
    KeptSessions.keep(s)
  }
  // a sibling session no Column API has registered into: only the
  // extensions can have put the kernels in its function registry
  private lazy val sqlOnly = KeptSessions.keep(spark.newSession())

  /** Columns of every kernel input type over a real parquet scan (a
    * local Seq would be folded into a LocalTableScan before codegen),
    * plus `*_n` twins that are null on every row at run time.
    */
  private def docs(s: SparkSession): DataFrame =
    s.read.parquet("/root/testdata/sf0.001/documents.parquet").selectExpr(
      "doc_id", "text",
      "concat('http://', source, '.test/p/', doc_id) AS url",
      "split(lower(text), '[^a-z0-9_]+') AS toks",
      "array(CAST(doc_id AS FLOAT), CAST(doc_id % 7 AS FLOAT)) AS vf",
      "array(CAST(doc_id AS DOUBLE), 0.5D) AS vd",
      "array(doc_id, doc_id % 5) AS vl",
      "array(0, CAST(doc_id % 3 AS INT)) AS pos",
      "array(named_struct('allow', doc_id % 2 = 0, 'pathPrefix', '/p/')) AS rules",
      "IF(doc_id < 0, text, NULL) AS text_n",
      "IF(doc_id < 0, concat('http://', source), NULL) AS url_n",
      "IF(doc_id < 0, split(text, ' '), NULL) AS toks_n",
      "IF(doc_id < 0, array(CAST(doc_id AS FLOAT)), NULL) AS vf_n",
      "IF(doc_id < 0, array(CAST(doc_id AS DOUBLE)), NULL) AS vd_n",
      "IF(doc_id < 0, array(doc_id), NULL) AS vl_n",
      "IF(doc_id < 0, array(named_struct('allow', false, 'pathPrefix', '/')), NULL) AS rules_n")

  /** One kernel's audit: a call over [[docs]], the same call with a
    * null data argument, the value that null gives, and a call that
    * must fail analysis (wrong type, non-constant or wrong arity).
    */
  private case class Audit(call: String, nullCall: String, nullGives: Any,
                           mistyped: String)

  private val Langs = "array(array('the', 'and'), array('der', 'und'), array('el', 'y'))"
  private val audits: Map[String, Audit] = Map(
    "canonicalize_url" -> Audit("canonicalize_url(url)",
      "canonicalize_url(url_n)", null, "canonicalize_url(doc_id)"),
    "host_of" -> Audit("host_of(url)", "host_of(url_n)", null, "host_of(toks)"),
    "graft_robots_allowed" -> Audit("graft_robots_allowed(url, rules)",
      "graft_robots_allowed(url, rules_n)", true, "graft_robots_allowed(url, toks)"),
    "graft_float_dot" -> Audit("graft_float_dot(vf, vf)",
      "graft_float_dot(vf_n, vf)", null, "graft_float_dot(vd, vf)"),
    "graft_float_double_dot" -> Audit("graft_float_double_dot(vf, vd)",
      "graft_float_double_dot(vf, vd_n)", null, "graft_float_double_dot(vf, vf)"),
    "graft_long_sqdist" -> Audit("graft_long_sqdist(vl, vl)",
      "graft_long_sqdist(vl_n, vl)", null, "graft_long_sqdist(vl, vf)"),
    "graft_lsh_bucket" -> Audit("graft_lsh_bucket(vf, 1, array(1, 4, 2))",
      "graft_lsh_bucket(vf_n, 1, array(1, 4, 2))", 0L,
      "graft_lsh_bucket(vd, 1, array(1, 4, 2))"),
    "graft_ivf_nearest" -> Audit(
      "graft_ivf_nearest(vl, array(array(0L, 0L), array(300L, 3L)))",
      "graft_ivf_nearest(vl_n, array(array(0L, 0L), array(300L, 3L)))", 0,
      "graft_ivf_nearest(vl, array(vl))"),
    "graft_ivf_probe" -> Audit(
      "graft_ivf_probe(vl, array(array(0L, 0L), array(300L, 3L), array(9L, 1L)), 2)",
      "graft_ivf_probe(vl_n, array(array(0L, 0L), array(300L, 3L), array(9L, 1L)), 2)",
      Seq(0, 1), "graft_ivf_probe(vl, array(array(0L)), CAST(doc_id AS INT))"),
    "graft_minhash_sig" -> Audit("graft_minhash_sig(toks, 5, 24)",
      "graft_minhash_sig(toks_n, 5, 24)", null,
      "graft_minhash_sig(toks, CAST(doc_id AS INT), 24)"),
    "graft_gram_keys" -> Audit("graft_gram_keys(toks, 8, false)",
      "graft_gram_keys(toks_n, 8, true)", null, "graft_gram_keys(toks, 8, 1)"),
    "graft_gram_key_seq" -> Audit("graft_gram_key_seq(toks, 8)",
      "graft_gram_key_seq(toks_n, 8)", null, "graft_gram_key_seq(text, 8)"),
    "graft_span_coverage" -> Audit("graft_span_coverage(toks, pos, 3)",
      "graft_span_coverage(toks_n, pos, 3)",
      Row(0L, 0L, 0L, "d41d8cd98f00b204e9800998ecf8427e"),
      "graft_span_coverage(toks, vl, 3)"),
    "graft_feature_hashes" -> Audit("graft_feature_hashes(toks, 1001)",
      "graft_feature_hashes(toks_n, 1001)", null,
      "graft_feature_hashes(toks, 1001L)"),
    "graft_winnow_stats" -> Audit("graft_winnow_stats(toks, 5, 8)",
      "graft_winnow_stats(toks_n, 5, 8)", null,
      "graft_winnow_stats(toks, 5, CAST(doc_id AS INT))"),
    "graft_portable_simhash" -> Audit("graft_portable_simhash(toks, 64)",
      "graft_portable_simhash(toks_n, 64)", 0L,
      "graft_portable_simhash(vl, 64)"),
    "graft_classifier_score" -> Audit("graft_classifier_score(toks, 1001)",
      "graft_classifier_score(toks_n, 1001)", 0L,
      "graft_classifier_score(toks)"),
    "graft_gopher_signals" -> Audit("graft_gopher_signals(text)",
      "graft_gopher_signals(text_n)", null, "graft_gopher_signals(toks)"),
    "graft_token_stats" -> Audit("graft_token_stats(toks, array('the', 'a'))",
      "graft_token_stats(toks_n, array('the', 'a'))", null,
      "graft_token_stats(toks, array(text))"),
    "graft_lang_pick" -> Audit(s"graft_lang_pick(toks, $Langs)",
      s"graft_lang_pick(toks_n, $Langs)", null,
      "graft_lang_pick(toks, array('the'))"),
    "graft_chunk_hashes" -> Audit("graft_chunk_hashes(toks, 16, 8, 4)",
      "graft_chunk_hashes(toks_n, 16, 8, 4)", null,
      "graft_chunk_hashes(toks, 16, 8, CAST(doc_id AS INT))"),
    "graft_adjacent_pairs" -> Audit("graft_adjacent_pairs(toks)",
      "graft_adjacent_pairs(toks_n)", null, "graft_adjacent_pairs(text)"))

  test("every kernel has an audit row") {
    assert(audits.keySet === Kernels.all.map(_.name).toSet)
  }

  private def contains(e: Expression, p: Expression => Boolean): Boolean =
    e.find(p).isDefined

  Kernels.all.foreach { k =>
    val audit = audits.getOrElse(k.name, Audit("", "", null, ""))
    def isKernel(e: Expression): Boolean = e match {
      case s: StaticInvoke =>
        s.staticObject == k.owner.getClass && s.functionName == k.function
      case _ => false
    }
    def results(s: SparkSession, call: String): Seq[Any] =
      docs(s).selectExpr("doc_id", s"$call AS r").orderBy("doc_id")
        .collect().toSeq.map(_.get(1))

    test(s"${k.name}: runs inside whole-stage codegen, no CodegenFallback") {
      val df = docs(spark).selectExpr(s"${audit.call} AS r")
      assert(df.collect().exists(_.get(0) != null))
      val plan = stripAQEPlan(df.queryExecution.executedPlan)
      val staged = plan.collect { case w: WholeStageCodegenExec => w }
        .exists(_.child.find(_.expressions.exists(contains(_, isKernel))).isDefined)
      assert(staged, plan)
      assert(plan.find(_.expressions.exists(
        contains(_, _.isInstanceOf[CodegenFallback]))).isEmpty, plan)
    }

    test(s"${k.name}: callable from SQL in a session built with GraftExtensions") {
      docs(sqlOnly).createOrReplaceTempView("docs")
      val got = sqlOnly.sql(s"SELECT ${audit.call} AS r FROM docs ORDER BY doc_id")
        .collect().toSeq.map(_.get(0))
      assert(got === results(spark, audit.call))
    }

    test(s"${k.name}: null input gives ${audit.nullGives}") {
      assert(results(spark, audit.nullCall).distinct === Seq(audit.nullGives))
    }

    test(s"${k.name}: a mistyped call fails analysis") {
      intercept[AnalysisException](
        docs(spark).selectExpr(s"${audit.mistyped} AS r").schema)
    }
  }

  private val messy = Seq(
    "HTTP://News.Example.COM.:80/a/./b/../x.html?utm_source=t&q=1#frag",
    "http://plain.com/ok",
    "javascript:void(0)")

  test("expression is registered for SQL via extensions") {
    val s = sqlOnly
    import s.implicits._
    messy.toDF("url").createOrReplaceTempView("messy_urls")
    val got = s.sql("SELECT canonicalize_url(url) AS c FROM messy_urls")
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(got === messy.map(UrlNormalizer.canonicalize(_)))
  }

  test("native expression matches the core function (codegen path)") {
    val s = spark
    import s.implicits._
    val got = messy.toDF("url")
      .select(Kernels.canonicalize_url($"url").as("c"))
      .collect().map(r => Option(r.getString(0)))
    val want = messy.map(u => UrlNormalizer.canonicalize(u))
    assert(got.toSeq === want)
  }

  test("graft_bound_int keeps its constant out of the generated source") {
    // the same plan over two constants generates one source, so one
    // compiled class serves both; a literal generates two
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    def source(c: org.apache.spark.sql.Column): Seq[String] = {
      val df = docs(spark).select((col("doc_id") + c).as("r")).filter(col("r") > c)
      assert(df.collect().nonEmpty)
      codegenStringSeq(df.queryExecution.executedPlan).map(_._2)
    }
    assert(source(Kernels.bound_int(3)) === source(Kernels.bound_int(4)))
    assert(source(lit(3)) !== source(lit(4)))
    // the bound value evaluates like the literal, interpreted or
    // generated, and is not folded away
    val df = docs(spark).select((col("doc_id") + Kernels.bound_int(7)).as("r"), col("doc_id"))
    assert(df.collect().forall(r => r.getLong(0) == r.getLong(1) + 7))
    assert(spark.range(1).select(Kernels.bound_int(7)).head().getInt(0) === 7)
    assert(df.queryExecution.optimizedPlan.expressions.exists(_.exists(_.isInstanceOf[graft.plans.BoundInt])))
    assert(sqlOnly.sql("SELECT graft_bound_int(5) AS b").head().getInt(0) === 5)
    intercept[AnalysisException](docs(spark).selectExpr("graft_bound_int(CAST(doc_id AS INT))").schema)
  }

  test("BloomSketchAgg builds a mergeable sketch with no false negatives") {
    // no sketch is left: a steady wave of the 10^10-scale seen path
    // (shuffled anti-joins, bloomMinFrontier = 0 as the benchmark sets
    // it) runs every plan, the pop and the expand included, with no
    // Scala UDF and no nondeterministic filter. Plans are captured from
    // every query execution the wave makes.
    import java.util.concurrent.ConcurrentLinkedQueue
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.ListenerBusDrain
    import org.apache.spark.sql.catalyst.expressions.ScalaUDF
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val runner = DeepCrawl(spark, "planaudit", waves = 3)
    assert(runner.runWave(1))
    val plans = new ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plans.add(qe.executedPlan)
    }
    val sc = spark.sparkContext
    ListenerBusDrain.drain(sc)
    spark.listenerManager.register(listener)
    try assert(runner.runWave(2))
    finally {
      ListenerBusDrain.drain(sc)
      spark.listenerManager.unregister(listener)
    }
    val executed = plans.asScala.toSeq
    val antiJoins = executed.flatMap(collectWithSubqueries(_) {
      case j: BaseJoinExec if j.joinType == LeftAnti => j })
    assert(antiJoins.size >= 2, "probe setup broken: the pop and expand anti-joins did not run")
    val found = executed.flatMap(p => collectWithSubqueries(p) {
      case f: FilterExec if !f.condition.deterministic => s"nondeterministic filter ${f.condition}"
      case n if n.expressions.exists(_.exists(_.isInstanceOf[ScalaUDF])) => s"ScalaUDF in ${n.nodeName}"
    })
    assert(found.isEmpty, found.distinct.mkString("\n"))
  }
}

