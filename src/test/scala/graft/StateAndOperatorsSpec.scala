package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.RobotsRule
import graft.operators.{Politeness, SeenSet}
import graft.state.SnapshotTable

/** Unit coverage for the state layer and the politeness / seen-set
  * operators (FIXTURES.md §5).
  */
class StateAndOperatorsSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-state-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def implicits = { val s = spark; s.implicits }

  test("snapshot table: commit / read / version / wave") {
    import spark.implicits._
    val root = TempDirs.make("graft-st-").toString
    val t = SnapshotTable(spark, root, "t1")
    assert(t.read().isEmpty)
    assert(t.committedWave() === -1)
    t.commit(Seq(1, 2, 3).toDF("x"), wave = 1)
    assert(t.read().get.count() === 3)
    assert(t.currentVersion() === Some(1))
    assert(t.committedWave() === 1)
    t.commit(Seq(9).toDF("x"), wave = 2)
    assert(t.read().get.count() === 1) // replace semantics
    assert(t.currentVersion() === Some(2))
  }

  test("snapshot table: append segments accumulate, vacuum keeps live") {
    import spark.implicits._
    val root = TempDirs.make("graft-st-").toString
    val t = SnapshotTable(spark, root, "log")
    t.appendCommit(Seq(1, 2).toDF("x"), wave = 1)
    t.appendCommit(Seq(3).toDF("x"), wave = 2)
    t.appendCommit(Seq(4, 5).toDF("x"), wave = 3)
    assert(t.read().get.count() === 5)
    assert(t.currentManifest().get.segments === Seq(1, 2, 3))
    t.vacuum() // all segments live: nothing removed
    assert(t.read().get.count() === 5)
  }

  test("snapshot table: segments newer than a wave are selected from the manifest") {
    import spark.implicits._
    val root = TempDirs.make("graft-st-").toString
    val t = SnapshotTable(spark, root, "log")
    assert(t.readNewerThan(0).isEmpty)
    (1 to 4).foreach(w => t.appendCommit(Seq(w).toDF("x"), wave = w))
    def newer(w: Int) = t.readNewerThan(w).map(_.as[Int].collect().toSet)
    assert(newer(2) === Some(Set(3, 4)))
    assert(newer(4).isEmpty)
    // a merged segment carries the newest wave merged into it
    t.compactTiered(2)
    assert(t.currentManifest().get.segmentWaves === Seq(3, 4))
    assert(newer(2) === Some(Set(1, 2, 3, 4)))
    assert(newer(3) === Some(Set(4)))
    t.markCommit(5) // an idle wave adds no segment
    assert(newer(4).isEmpty)
    // a manifest without segment waves reads every segment as holding
    // the manifest's wave: an upper bound, so nothing newer is missed
    val manifest = java.nio.file.Paths.get(root, "log", "manifest.json")
    val json = new String(Files.readAllBytes(manifest), "UTF-8")
    Files.write(manifest, json.replaceAll(""""segmentWaves":\[[0-9,]*\],""", "").getBytes("UTF-8"))
    assert(t.currentManifest().get.segmentWaves === Seq(5, 5))
    assert(newer(4) === Some(Set(1, 2, 3, 4)))
    assert(newer(5).isEmpty)
  }

  test("snapshot table: a wave advanced by markCommit has no segment of its own") {
    import spark.implicits._
    val root = TempDirs.make("graft-st-").toString
    val t = SnapshotTable(spark, root, "log")
    t.appendCommit(Seq(1, 2).toDF("x"), wave = 1)
    t.appendCommit(Seq(3).toDF("x"), wave = 2)
    assert(t.readWaveSegment(2).map(_.as[Int].collect().toSet) === Some(Set(3)))
    assert(t.readWaveSegment(1).isEmpty, "wave 1's segment is no longer the newest")
    t.markCommit(3) // an idle wave: the committed wave moves, no segment
    assert(t.committedWave() === 3)
    assert(t.readWaveSegment(3).isEmpty)
    assert(t.readWaveSegment(2).map(_.as[Int].collect().toSet) === Some(Set(3)))
    // the newest delta survives a compaction with its wave
    t.appendCommit(Seq(4).toDF("x"), wave = 4)
    t.compactTiered(2)
    assert(t.readWaveSegment(4).map(_.as[Int].collect().toSet) === Some(Set(4)))
  }

  test("snapshot table: rollback points at an old version") {
    import spark.implicits._
    val root = TempDirs.make("graft-st-").toString
    val t = SnapshotTable(spark, root, "t2")
    t.commit(Seq(1, 2, 3).toDF("x"), wave = 1)
    t.commit(Seq(4).toDF("x"), wave = 2)
    t.rollback(1)
    assert(t.read().get.count() === 3)
  }

  test("snapshot table: lineage lists parquet files with sizes") {
    import spark.implicits._
    val root = TempDirs.make("graft-st-").toString
    val t = SnapshotTable(spark, root, "t3")
    t.commit(Seq(1, 2, 3).toDF("x").repartition(3), wave = 1)
    val m = t.currentManifest().get
    assert(m.files.nonEmpty)
    assert(m.files.forall(_.bytes > 0))
  }

  test("snapshot table: vacuum and compaction close their directory streams") {
    import spark.implicits._
    import java.lang.management.ManagementFactory
    import com.sun.management.UnixOperatingSystemMXBean
    val os = ManagementFactory.getOperatingSystemMXBean.asInstanceOf[UnixOperatingSystemMXBean]
    val root = TempDirs.make("graft-st-fd-").toString
    val t = SnapshotTable(spark, root, "log")
    (1 to 4).foreach(w => t.appendCommit(Seq(w).toDF("x"), wave = w))
    t.compactTiered(2) // walks each segment for its size and lineage
    t.vacuum() // deletes the merged segments recursively
    val before = os.getOpenFileDescriptorCount
    (1 to 200).foreach(_ => t.vacuum())
    val after = os.getOpenFileDescriptorCount
    // an unclosed Files.list stream holds two descriptors for the life
    // of the JVM: 200 leaking calls would add ~400
    assert(after - before < 20, s"open descriptors $before -> $after")
    assert(t.read().get.as[Int].collect().sorted === Array(1, 2, 3, 4))
  }

  // ---- schema sidecars: a state read launches no schema-inference job ----

  /** A schema that exercises the inference details: non-nullable
    * primitives, arrays with and without null elements, a struct and a
    * map.
    */
  private def richRows(from: Int, n: Int) = {
    import spark.implicits._
    (from until from + n).map(i =>
      (i.toLong, s"u$i", Seq(s"a$i", null), Array(i, i + 1), (i, s"s$i"), Map(s"k$i" -> i)))
      .toDF("id", "url", "links", "ints", "pair", "props")
  }

  private def segmentDirs(root: String, t: SnapshotTable): Seq[String] =
    t.currentManifest().get.segments.map(v => f"$root/${t.name}/snapshots/v$v%05d")

  /** `read` launches zero jobs and yields exactly the schema (and the
    * rows) a schema-inferring scan of `paths` yields.
    */
  private def assertLikeInference(what: String, read: => DataFrame, paths: Seq[String]): Unit = {
    val (df, jobs) = JobCount(spark)(read)
    assert(jobs === 0, s"$what: read launched $jobs job(s)")
    val inferred = spark.read.parquet(paths: _*)
    assert(df.schema === inferred.schema, what)
    assert(df.collect().map(_.toString).sorted ===
      inferred.collect().map(_.toString).sorted, what)
  }

  private def assertReadsLikeInference(root: String, t: SnapshotTable): Unit =
    assertLikeInference(t.name, t.read().get, segmentDirs(root, t))

  private def assertFooterReadsLikeInference(paths: String*): Unit =
    assertLikeInference(paths.mkString(", "), graft.state.ParquetDir.read(spark, paths: _*), paths)

  test("schema sidecar: commit, appendCommit and adoptCommit read without a job") {
    val root = TempDirs.make("graft-st-schema-").toString
    val replaced = SnapshotTable(spark, root, "replaced")
    replaced.commit(richRows(0, 5), wave = 1)
    replaced.commit(richRows(10, 3), wave = 2)
    assertReadsLikeInference(root, replaced)

    val log = SnapshotTable(spark, root, "log")
    log.appendCommit(richRows(0, 4), wave = 1)
    log.appendCommit(richRows(4, 4), wave = 2)
    val staged = s"$root/staging/delta"
    graft.state.ParquetDir.write(richRows(8, 4), staged)
    log.adoptCommit(staged, wave = 3) // the rename carries the sidecar
    assert(Files.exists(java.nio.file.Paths.get(segmentDirs(root, log).last,
      graft.state.ParquetDir.SchemaFile)))
    assertReadsLikeInference(root, log)
    val (seg, jobs) = JobCount(spark)(log.readWaveSegment(3).get)
    assert(jobs === 0)
    assert(seg.count() === 4)
  }

  test("schema sidecar: compactTiered with a merge and rollback read without a job") {
    import spark.implicits._
    val root = TempDirs.make("graft-st-schema-").toString
    val t = SnapshotTable(spark, root, "rollup")
    (0 until 5).foreach(w => t.appendCommit(richRows(w * 3, 3), wave = w))
    // a rollup-style merge that reorders and retypes the columns
    val merged = t.compactTiered(2, df =>
      df.groupBy(col("id") % 2 as "parity").agg(max("url") as "url", count(lit(1)) as "n"))
    assert(merged.isDefined)
    assert(t.currentManifest().get.segments.size > 1)
    assertReadsLikeInference(root, t)

    val r = SnapshotTable(spark, root, "replace")
    r.commit(richRows(0, 3), wave = 1)
    r.commit(Seq((1, "x")).toDF("a", "b"), wave = 2)
    r.rollback(1) // reads the target version's own sidecar
    assertReadsLikeInference(root, r)
    assert(r.read().get.columns.toSeq === richRows(0, 1).columns.toSeq)
  }

  test("schema sidecar: a segment without one is still read by inference") {
    val root = TempDirs.make("graft-st-schema-").toString
    val t = SnapshotTable(spark, root, "log")
    t.appendCommit(richRows(0, 4), wave = 1)
    t.appendCommit(richRows(4, 4), wave = 2)
    val before = t.read().get
    val rowsBefore = before.collect().map(_.toString).sorted
    def dropSidecar(dir: String): Unit =
      Files.delete(java.nio.file.Paths.get(dir, graft.state.ParquetDir.SchemaFile))
    // the newest segment loses its sidecar: the path-first one still
    // has its own, so the read needs no job
    dropSidecar(segmentDirs(root, t).last)
    val (newest, newestJobs) = JobCount(spark)(t.read().get)
    assert(newestJobs === 0)
    assert(newest.collect().map(_.toString).sorted === rowsBefore)
    // state written before sidecars existed: the path-first segment
    // (the one inference reads the footer of) carries none
    dropSidecar(segmentDirs(root, t).head)
    val (df, jobs) = JobCount(spark)(t.read().get)
    assert(jobs === 0, "without a sidecar the schema comes from the footer")
    assert(df.schema === before.schema)
    assert(df.collect().map(_.toString).sorted === rowsBefore)
    // schema merging reads every footer: Spark's own inference job runs
    withConf("spark.sql.parquet.mergeSchema", "true") {
      val (merged, mergedJobs) = JobCount(spark)(t.read().get)
      assert(mergedJobs > 0, "with schema merging on the schema is inferred")
      assert(merged.schema === before.schema)
      assert(merged.collect().map(_.toString).sorted === rowsBefore)
    }
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("footer schema: every test table reads like inference, without a job") {
    // written outside Spark: no row-metadata schema, so the footer goes
    // through the parquet-to-Spark type converter
    for (sf <- Seq("sf0.001", "sf0.01")) {
      val dir = java.nio.file.Paths.get("/root/testdata", sf)
      val tables = Files.list(dir)
      try tables.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet"))
        .toSeq.sorted.foreach(assertFooterReadsLikeInference(_))
      finally tables.close()
    }
  }

  test("footer schema: a Spark-written directory without its sidecar reads like inference") {
    // Spark writers store the row-metadata schema (arrays, struct, map)
    val dir = TempDirs.make("graft-footer-").resolve("t").toString
    graft.state.ParquetDir.write(richRows(0, 6).repartition(3), dir)
    Files.delete(java.nio.file.Paths.get(dir, graft.state.ParquetDir.SchemaFile))
    assertFooterReadsLikeInference(dir)
    val other = TempDirs.make("graft-footer-").resolve("u").toString
    richRows(6, 3).write.parquet(other)
    assertFooterReadsLikeInference(dir, other)
  }

  test("footer schema: partition subdirectories and no data file fall back to inference") {
    import spark.implicits._
    val parted = TempDirs.make("graft-footer-").resolve("p").toString
    Seq((1L, "a", 0), (2L, "b", 1)).toDF("id", "s", "part")
      .write.partitionBy("part").parquet(parted)
    val (df, jobs) = JobCount(spark)(graft.state.ParquetDir.read(spark, parted))
    assert(jobs > 0, "a partitioned directory is inferred by Spark")
    val inferred = spark.read.parquet(parted)
    assert(df.schema === inferred.schema)
    assert(df.schema.fieldNames.toSeq === Seq("id", "s", "part"))
    assert(df.collect().map(_.toString).sorted ===
      inferred.collect().map(_.toString).sorted)

    val empty = TempDirs.make("graft-footer-empty-").toString
    Files.write(java.nio.file.Paths.get(empty, "_SUCCESS"), Array.emptyByteArray)
    val ours = intercept[org.apache.spark.sql.AnalysisException](
      graft.state.ParquetDir.read(spark, empty))
    val theirs = intercept[org.apache.spark.sql.AnalysisException](spark.read.parquet(empty))
    assert(ours.getCondition === theirs.getCondition)
    assert(ours.getMessage === theirs.getMessage)
  }

  test("robots parse: groups, specificity, crawl-delay") {
    val txt =
      """# comment
        |User-agent: *
        |Disallow: /private
        |Allow: /private/ok
        |Crawl-delay: 2
        |
        |User-agent: graft
        |Disallow: /graft-only
        |""".stripMargin
    val (rulesAll, delayAll) = Politeness.parseRobots("h", txt, "otherbot")
    assert(rulesAll.map(r => (r.allow, r.pathPrefix)).toSet ===
      Set((false, "/private"), (true, "/private/ok")))
    assert(delayAll === Some(2000L))
    // specific UA group wins over *
    val (rulesG, _) = Politeness.parseRobots("h", txt, "graft/1.0")
    assert(rulesG.map(_.pathPrefix) === Seq("/graft-only"))
  }

  test("robots allowed: longest prefix match, allow wins ties") {
    val rules = Seq(
      RobotsRule("h", allow = false, "/a"),
      RobotsRule("h", allow = true, "/a/b"),
      RobotsRule("h", allow = true, "/c"),
      RobotsRule("h", allow = false, "/c"))
    assert(!Politeness.allowed(rules, "/a/x"))
    assert(Politeness.allowed(rules, "/a/b/x"))
    assert(Politeness.allowed(rules, "/c/anything")) // allow wins the tie
    assert(Politeness.allowed(rules, "/elsewhere")) // no match = allowed
  }

  test("popPerHost: salted two-stage pop equals the exact per-host top-k") {
    // The name is kept for continuity; the pop is now ONE window over
    // host with a map-side partial top-k (no salt slots, no second
    // stage). It must still equal the sorted per-host oracle.
    import spark.implicits._
    // skewed: host h0 has 500 rows (spread over 8 map tasks), others
    // 20; per-host budgets below the bound, as host policies give them
    val budgets = Map("h0" -> 3, "h1" -> 5, "h2" -> 2)
    val rows = (0 until 500).map(i => ("h0", i.toLong * 7 % 1000, i.toLong)) ++
      (0 until 20).flatMap(i => Seq(
        ("h1", i.toLong, 1000L + i), ("h2", (20 - i).toLong, 2000L + i)))
    val df = rows.toDF("host", "score", "urlHash").repartition(8)
      .withColumn("maxPerWave", element_at(typedLit(budgets), col("host")))
    val got = Politeness.popPerHost(df, maxBudget = 5)
      .select("host", "urlHash").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.length === got.toSet.size)
    // oracle: plain per-host top-budget by (score, urlHash)
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (h, rs) =>
      rs.sortBy(r => (r._2, r._3)).take(budgets(h)).map(r => (h, r._3))
    }.toSet
    assert(got.toSet === expected)
  }

  test("bloom seen-set: no false negatives; notSeen is exact") {
    import spark.implicits._
    val seen = (0L until 2000L).map(i => i * 31 % 100000).distinct.toDF("urlHash")
    val candidates = (0L until 3000L).map(i => i * 17 % 120000).distinct.toDF("urlHash")
    val bloom = SeenSet.buildBloom(seen, "urlHash", 2000, 0.03)
    // property: every seen element is maybe-contained (no false negatives)
    seen.collect().map(_.getLong(0)).foreach { h =>
      assert(bloom.mightContainLong(h), s"false negative for $h")
    }
    val withBloom = SeenSet.notSeen(candidates, Some(seen), Some(bloom))
      .collect().map(_.getLong(0)).toSet
    val exact = SeenSet.notSeen(candidates, Some(seen), None)
      .collect().map(_.getLong(0)).toSet
    assert(withBloom === exact)
  }

  test("changedOrNew: unchanged content is skipped, changed re-enters") {
    import spark.implicits._
    val seen = Seq((1L, "aaa"), (2L, "bbb")).toDF("urlHash", "contentHash")
    val candidates = Seq((1L, "aaa"), (2L, "CHANGED"), (3L, "ccc"))
      .toDF("urlHash", "contentHash")
    val got = SeenSet.changedOrNew(candidates, seen)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got === Set((2L, "CHANGED"), (3L, "ccc")))
  }

  test("adoptCommit replaces an orphaned unflipped segment, never adopts it") {
    import spark.implicits._
    val root = TempDirs.make("graft-orphan-").toString
    val t = SnapshotTable(spark, root, "t")
    t.commit(Seq(1, 2).toDF("x"), wave = 1)
    // simulate a compact() killed between its segment write and the
    // manifest flip: an orphan directory at the NEXT version number
    val orphan = java.nio.file.Paths.get(root, "t", "snapshots", "v00002")
    Seq(7, 8, 9).toDF("x").write.parquet(orphan.toString)
    assert(t.currentVersion() === Some(1)) // manifest never flipped
    // the next wave's adopt must land ITS delta at v2, not the orphan
    val staged = TempDirs.make("graft-orphan-staged-")
    Seq(3).toDF("x").write.parquet(staged.resolve("delta").toString)
    t.adoptCommit(staged.resolve("delta").toString, wave = 2)
    assert(t.read().get.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
    // idempotent resume: source gone, target present -> just re-flips
    t.rollback(1)
    t.adoptCommit(staged.resolve("delta").toString, wave = 2)
    assert(t.read().get.collect().map(_.getInt(0)).sorted.toSeq === Seq(1, 2, 3))
  }

  test("robots path matching includes ;params (RFC 9309 path component)") {
    import spark.implicits._
    import graft.core.Model.RobotsRule
    val frontier = Seq(
      ("http://h.test/p;sid=1/x", "h.test"),
      ("http://h.test/q", "h.test")).toDF("url", "host")
    val dim = Politeness.rulesDim(spark,
      Seq(RobotsRule("h.test", allow = false, pathPrefix = "/p;sid")))
    val kept = Politeness.applyRobots(frontier, dim)
      .select("url").collect().map(_.getString(0)).toSet
    assert(kept === Set("http://h.test/q"))
  }

  test("robots kernel equals the relational longest-prefix statement") {
    import spark.implicits._
    // the Catalyst array-algebra statement of the robots decision
    val path = {
      val p = regexp_extract(col("url"), "^[a-z][a-z0-9+.-]*://[^/]*(/[^?#]*)", 1)
      when(p === "", lit("/")).otherwise(p)
    }
    val best = array_max(transform(
      filter(col("rules"), r => path.startsWith(r.getField("pathPrefix"))),
      r => struct(length(r.getField("pathPrefix")).as("len"),
        r.getField("allow").cast("int").as("allowBit"))))
    val relational = col("rules").isNull || best.isNull || best.getField("allowBit") === 1
    val urls = Seq("http://h.test/", "http://h.test", "http://h.test/a/b?x=1#f",
      "http://h.test/a;p=1/b", "https://h.test/ab", "HTTP://h.test/a", "h.test/a",
      "http://h.test/é/x", null)
    val prefixes = Seq("/", "/a", "/a/", "/ab", "/a;p", "/é", "", null)
    val allows = Seq(Some(true), Some(false), None)
    val rng = new scala.util.Random(7)
    val ruleSets: Seq[Option[Seq[Option[(Option[Boolean], String)]]]] =
      None +: Some(Nil) +: Some(Seq(None)) +: (1 to 60).map { _ =>
        Some(Seq.fill(1 + rng.nextInt(4))(
          if (rng.nextInt(10) == 0) None
          else Some(allows(rng.nextInt(allows.size)) -> prefixes(rng.nextInt(prefixes.size)))))
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("url", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("rules", graft.plans.UrlKernels.Rules)))
    val rows = for (u <- urls; rs <- ruleSets) yield
      org.apache.spark.sql.Row(u, rs.map(_.map(_.map { case (a, p) =>
        org.apache.spark.sql.Row(a.map(Boolean.box).orNull, p) }.orNull)).orNull)
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val got = df.select(col("url"), col("rules"),
        graft.plans.Kernels.robots_allowed(col("url"), col("rules")).as("k"),
        coalesce(relational, lit(false)).as("r"))
      .filter(col("k") =!= col("r")).collect()
    assert(got.isEmpty, got.take(5).mkString("\n"))
    assert(df.count() === urls.size * ruleSets.size)
  }

  test("poststore: append-mode versioned saves resolve to the eager SCD-2 content") {
    import graft.operators.PostStore
    import spark.implicits._
    val root = TempDirs.make("graft-pvs-").toString
    val eagerT = SnapshotTable(spark, root, "eager")
    val appendT = SnapshotTable(spark, root, "append")
    val batches = Seq(
      Seq(("a", "v1"), ("b", "v1")),
      Seq(("a", "v2")),
      Seq(("a", "v3"), ("c", "v1")))
    batches.zipWithIndex.foreach { case (b, i) =>
      val df = b.toDF("key", "data")
      PostStore.save(spark, eagerT, df, "key", PostStore.SaveMode.Versioned, wave = i + 1)
      PostStore.saveVersionedAppend(appendT, df, "key", wave = i + 1)
    }
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "data", "version_number", "is_latest")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getBoolean(3)))
        .toSet
    assert(snap(PostStore.resolveVersions(appendT, "key").get) === snap(eagerT.read().get))
    // and the append table never rewrote history: one segment per save
    assert(appendT.currentManifest().get.segments.size === batches.size)
  }

  test("poststore EAV: prefix typing, 2000-char truncation, typed casts") {
    import graft.operators.PostStore
    import spark.implicits._
    val df = Seq((1L, Map(
      "ei_count" -> "42",
      "ef_score" -> "3.5",
      "edate_when" -> "2020-05-01",
      "et_blob" -> ("x" * 3000))))
      .toDF("id", "raw")
      .withColumn("entities", PostStore.eavStoreMap(col("raw")))
      .drop("raw")
    val rows = PostStore.eavExplode(df, "entities")
      .collect().map(r => r.getAs[String]("field_key") -> r).toMap
    assert(rows("ei_count").getAs[String]("field_type") === "integer")
    assert(rows("ei_count").getAs[Long]("int_value") === 42L)
    assert(rows("ef_score").getAs[Double]("float_value") === 3.5)
    assert(rows("edate_when").getAs[java.sql.Date]("date_value").toString === "2020-05-01")
    assert(rows("et_blob").getAs[String]("field_value").length === 2000)
    assert(rows("et_blob").getAs[String]("field_type") === "text")
    assert(rows("ef_score").isNullAt(rows("ef_score").fieldIndex("int_value")))
  }

  test("EntityExtract: emails, patents, textual dates — edges and EAV roundtrip") {
    import spark.implicits._
    import graft.functions.EntityExtract
    val rows = Seq(
      (1L, "reach me at a.b+c@mail.example.com or ops@ex.org soon"),
      (2L, "covered by Patent US 1,234,567 and patent no. 998877 today"),
      (3L, "posted on January 5, 2024 and later on March 9, 2025"),
      (4L, "x@y no tld, patentless, dated February 30, 2023 badly"),
      (5L, "nothing to extract here at all"))
      .toDF("doc_id", "text")
    val out = rows.select(col("doc_id"),
      array_join(EntityExtract.emails(col("text")), ",").as("em"),
      array_join(EntityExtract.patents(col("text")), ",").as("pat"),
      EntityExtract.textualDateIso(col("text")).as("dt"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), Option(r.getString(3))))).toMap
    assert(out(1L)._1 === "a.b+c@mail.example.com,ops@ex.org")
    assert(out(2L)._2 === "US 1,234,567,998877")
    assert(out(3L)._3 === Some("2024-01-05T00:00:00Z"), "first date wins")
    // TLD-less never matches; an impossible date degrades to null,
    // not an ANSI error (the reference's try/except fallback)
    assert(out(4L)._1 === "" && out(4L)._3 === None)
    assert(out(5L) === (("", "", None)))

    // EAV roundtrip through the real store path: entitiesMap →
    // eavStoreMap → eavExplode must type et_ as text and edate_ as a
    // parsed date, and drop absent extractions entirely
    val stored = rows.select(col("doc_id"),
      graft.operators.PostStore.eavStoreMap(
        EntityExtract.entitiesMap(col("text"))).as("entities"))
    val eav = graft.operators.PostStore.eavExplode(stored, "entities")
      .collect().map(r => (r.getLong(0), r.getAs[String]("field_key")) -> r)
      .toMap
    assert(eav((1L, "et_email")).getAs[String]("field_value")
      === "a.b+c@mail.example.com,ops@ex.org")
    assert(eav((1L, "et_email")).getAs[String]("field_type") === "text")
    assert(eav((3L, "edate_posted")).getAs[String]("field_type") === "date")
    assert(eav((3L, "edate_posted")).getAs[java.sql.Date]("date_value")
      .toString === "2024-01-05")
    assert(!eav.contains((5L, "et_email")),
      "absent extractions must not become empty EAV fields")
    assert(!eav.contains((4L, "edate_posted")))
  }

  test("stratifiedKeep: deterministic, rate-monotone, partition-invariant") {
    import spark.implicits._
    import graft.operators.Curation
    val rows = (0L until 2000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
    val rates = Map("en" -> 2500, "de" -> 7500)
    def kept(parts: Int): Set[Long] = rows.toDF("id", "lang")
      .repartition(parts)
      .filter(Curation.stratifiedKeep(col("id"), col("lang"), rates,
        defaultBp = 10000))
      .select("id").as[Long].collect().toSet
    val k4 = kept(4)
    assert(k4 === kept(1), "the sample must not depend on partitioning")
    // rates bind per stratum: ~25% of en, ~75% of de, all of xx
    val byLang = rows.filter(r => k4.contains(r._1)).groupBy(_._2)
      .view.mapValues(_.size.toDouble).toMap
    val totals = rows.groupBy(_._2).view.mapValues(_.size.toDouble).toMap
    assert(byLang("xx") === totals("xx")) // default 10000bp keeps all
    assert(math.abs(byLang("en") / totals("en") - 0.25) < 0.06)
    assert(math.abs(byLang("de") / totals("de") - 0.75) < 0.06)
  }

  test("domainGate: exact integer verdicts join back to every doc") {
    import spark.implicits._
    import graft.operators.Curation
    val docs = Seq(
      (1L, "good.com", 10L), (2L, "good.com", -3L),
      (3L, "bad.com", -5L), (4L, "bad.com", 2L),
      (5L, "solo.org", 0L)).toDF("doc_id", "source", "s")
    val out = Curation.domainGate(docs, "doc_id", "source", col("s"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.size === 5)
    assert(out(1L) === ((7L, 2L, false)) && out(2L) === ((7L, 2L, false)))
    assert(out(3L) === ((-3L, 2L, true)) && out(4L) === ((-3L, 2L, true)))
    assert(out(5L) === ((0L, 1L, false))) // zero is not blocked
  }

  test("tokenBudgetSelect equals the flat greedy prefix; budget edges hold") {
    import spark.implicits._
    // many score ties -> the boundary-bucket tie-break path runs
    val rows = (1L to 60L).map(i => (i, 10L + i % 7, (i * 3) % 5))
    val df = rows.toDF("doc_id", "n_toks", "sc")
    def run(budget: Long): Set[Long] = graft.operators.Curation
      .tokenBudgetSelect(df, "doc_id", col("n_toks"), col("sc"), budget)
      .collect().map(_.getLong(0)).toSet
    // independent flat formulation: one global (score desc, id asc) scan
    def flat(budget: Long): Set[Long] = {
      var acc = 0L
      rows.sortBy { case (id, _, sc) => (-sc, id) }.flatMap {
        case (id, nt, _) =>
          acc += nt; if (acc <= budget) Some(id) else None
      }.toSet
    }
    val total = rows.map(_._2).sum
    for (b <- Seq(0L, 7L, total / 3, total / 2, total - 1, total, total + 10))
      assert(run(b) === flat(b), s"budget $b")
    assert(run(0L) === Set.empty[Long])
    assert(run(total) === rows.map(_._1).toSet)
  }

  test("tokenBudgetSelectPerGroup: per-group greedy prefix, DataFrame budgets") {
    import spark.implicits._
    // heavy score ties inside each group -> boundary path runs per group
    val rows = (1L to 60L).map(i =>
      (i, if (i % 3 == 0) "en" else "de", 10L + i % 7, (i * 3) % 5))
    val df = rows.toDF("doc_id", "lang", "n_toks", "sc")
    def run(budgets: Seq[(String, Long)]): Set[Long] = graft.operators.Curation
      .tokenBudgetSelectPerGroup(df, "doc_id", "lang", col("n_toks"),
        col("sc"), budgets.toDF("lang", "budget"))
      .collect().map(_.getLong(0)).toSet
    // independent flat formulation, greedy within each group
    def flat(budgets: Map[String, Long]): Set[Long] =
      rows.groupBy(_._2).flatMap { case (g, rs) =>
        var acc = 0L
        val b = budgets.getOrElse(g, -1L)
        rs.sortBy { case (id, _, _, sc) => (-sc, id) }.flatMap {
          case (id, _, nt, _) =>
            acc += nt; if (b >= 0 && acc <= b) Some(id) else None
        }
      }.toSet
    val totals = rows.groupBy(_._2).map { case (g, rs) => g -> rs.map(_._3).sum }
    for (frac <- Seq(0L, 3L, 10L)) {
      val b = totals.map { case (g, t) => g -> (if (frac == 0) 0L else t / frac) }
      assert(run(b.toSeq) === flat(b), s"frac $frac")
    }
    // a group absent from the budgets frame selects nothing
    val enOnly = Seq("en" -> totals("en"))
    assert(run(enOnly) === flat(Map("en" -> totals("en"))))
    assert(run(enOnly).forall(id => id % 3 == 0))
    // full budgets keep everything
    assert(run(totals.toSeq) === rows.map(_._1).toSet)
  }

  test("sequencePack: two-level offsets equal the flat concat order; chop math") {
    import spark.implicits._
    val rows = (1L to 80L).map(i => (i, s"d$i", i % 9)) // some zero-token docs
    val df = rows.map { case (i, _, nt) => (i, nt) }.toDF("doc_id", "nt")
    val out = graft.operators.Curation
      .sequencePack(df, "doc_id", col("nt"), seqLen = 7L, buckets = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
    // zero-token docs dropped
    assert(out.length === rows.count(_._3 > 0))
    // offsets must be the exact cumsum of the (bucket, doc_id) order
    val ordered = out.sortBy { case (id, _, bkt, _, _, _, _) => (bkt, id) }
    var off = 0L
    ordered.foreach { case (id, nt, _, tokOff, sf, sl, ns) =>
      assert(tokOff === off, s"doc $id offset")
      assert(sf === tokOff / 7 && sl === (tokOff + nt - 1) / 7, s"doc $id chop")
      assert(ns === sl - sf + 1)
      off += nt
    }
    // adjacent sequences are gap-free: total tokens == final offset sum
    assert(off === rows.filter(_._3 > 0).map(_._3).sum)
    // partition invariance
    val out7 = graft.operators.Curation
      .sequencePack(df.repartition(7), "doc_id", col("nt"), 7L, 5)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out7 === out.map(t => (t._1, t._4)).toMap)
  }

  test("sequenceSlices: slices reconstruct docs and tile sequences gap-free") {
    import spark.implicits._
    val rows = (1L to 80L).map(i => (i, i % 9))
    val df = rows.toDF("doc_id", "nt")
    val slices = graft.operators.Curation
      .sequenceSlices(df, "doc_id", col("nt"), seqLen = 7L, buckets = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // per doc: slice lengths sum to n_tokens, starts are contiguous
    slices.groupBy(_._1).foreach { case (id, ss) =>
      val ordered = ss.sortBy(_._2)
      assert(ordered.map(_._5).sum === rows.find(_._1 == id).get._2)
      ordered.foldLeft(0L) { case (expectStart, (_, _, _, st, ln)) =>
        assert(st === expectStart, s"doc $id slice gap"); st + ln
      }
    }
    // per sequence: seq_off intervals tile [0, fill) without gap/overlap
    val totalTokens = rows.map(_._2).sum
    slices.groupBy(_._2).foreach { case (seq, ss) =>
      val ordered = ss.sortBy(_._3)
      val fill = ordered.foldLeft(0L) { case (expectOff, (_, _, off, _, ln)) =>
        assert(off === expectOff, s"seq $seq tile gap"); off + ln
      }
      val isLast = seq === (totalTokens - 1) / 7
      assert(if (isLast) fill === totalTokens - seq * 7 else fill === 7L,
        s"seq $seq fill $fill")
    }
    // consistency with sequencePack's span columns
    val packed = graft.operators.Curation
      .sequencePack(df, "doc_id", col("nt"), 7L, 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(4), r.getLong(5)))).toMap
    slices.groupBy(_._1).foreach { case (id, ss) =>
      assert((ss.map(_._2).min, ss.map(_._2).max) === packed(id))
    }
  }

  test("valueDeciles equals per-row ntile for every tie/size shape") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // strata engineered to hit every edge: heavy ties straddling tile
    // boundaries (one value = half the stratum), a stratum smaller
    // than the tile count, single-value strata, exact multiples
    val rows =
      (0L until 137L).map(i => (i, "big", if (i < 70) 40L else 40L + i % 9)) ++
      (0L until 7L).map(i => (1000L + i, "tiny", 5L + i % 2)) ++
      (0L until 30L).map(i => (2000L + i, "flat", 9L)) ++
      (0L until 40L).map(i => (3000L + i, "even", i % 4))
    val df = rows.toDF("doc_id", "lang", "n_chars")
    val w = Window.partitionBy("lang").orderBy(col("n_chars"), col("doc_id"))
    val expected = df.withColumn("tile", ntile(10).over(w))
      .groupBy(col("lang"), col("tile"))
      .agg(count(lit(1)).as("n_rows"), min(col("n_chars")).as("min_value"),
        max(col("n_chars")).as("max_value"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val got = graft.operators.Curation.valueDeciles(df, "lang", "n_chars", 10)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === expected)
    // partition invariance (a repartition must not change the profile)
    val got7 = graft.operators.Curation
      .valueDeciles(df.repartition(7), "lang", "n_chars", 10)
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got7 === expected)
  }

  test("familiarityScore: repeated bigrams score high, rare text low, tiny docs zero") {
    import spark.implicits._
    // "common phrase" occurs in docs 1-4 (8 occurrences of each of its
    // bigrams); doc 5 is all-unique bigrams (count 1 -> ilog 0)
    val docs = (1L to 4L).map(i => (i, "the common phrase the common phrase")) ++
      Seq((5L, "zq xv wk yj"), (6L, "solo"))
    val out = graft.operators.Curation
      .familiarityScore(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // doc 1: bigrams = [the common]x2, [common phrase]x2, [phrase the]x1
    //   corpus counts: the common=8, common phrase=8, phrase the=4
    //   ilogs: 3,3,3,3,2 -> sum 14, n=5 -> 14000/5 = 2800
    assert(out(1L) === ((5L, 14L, 2800L)))
    assert(out(4L) === out(1L))
    assert(out(5L) === ((3L, 0L, 0L))) // three unseen bigrams, ilog2(1)=0
    assert(out(6L) === ((0L, 0L, 0L))) // single token: no bigrams
    assert(out(1L)._3 > out(5L)._3, "familiar text must outscore gibberish")
  }

  test("dsir feature-hash kernel == windowed uni+bigram derivation (multiset)") {
    // plans.FeatureHashes must emit the same (doc, feature-id)
    // occurrence multiset as the former posexplode + lead-window +
    // explode statement — counts and per-doc sums see nothing else
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "apple banana cherry apple banana"),
      (2L, ""), (3L, null.asInstanceOf[String]), (4L, "solo"),
      (5L, "ümlaut tökens über straße don't stop"), (6L, "a b a b a b"))
      .toDF("doc_id", "text")
    val buckets = 64 // small table forces collisions; multisets must still agree
    val kernel = docs.select(col("doc_id"),
        explode(graft.plans.Kernels.feature_hashes(
          split(lower(col("text")), "[^a-z0-9_']+"), lit(buckets))).as("f"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    val relational = docs.select(col("doc_id"),
        posexplode(filter(split(lower(col("text")), "[^a-z0-9_']+"),
          t => length(t) > 0)).as(Seq("pos", "tok")))
      .withColumn("nxt", lead(col("tok"), 1).over(wDoc))
      .select(col("doc_id"), explode(when(col("nxt").isNotNull,
          array(col("tok"), concat_ws(" ", col("tok"), col("nxt"))))
        .otherwise(array(col("tok")))).as("g"))
      .select(col("doc_id"), pmod(
        graft.functions.TextAnalysis.portableHash(col("g")),
        lit(buckets)).as("f"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    assert(kernel === relational)
  }

  test("dsirWeights: target-like docs outweigh raw-only, DIV truncates toward zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "en", "apple banana"),   // target doc
      (2L, "de", "apple cherry"),   // raw-only vocabulary
      (3L, "de", ""),               // no features at all
      (4L, "en", "solo"))           // single token: unigram only
    val out = graft.operators.Curation
      .dsirWeights(docs.toDF("doc_id", "lang", "text"), "doc_id", "text",
        col("lang") === "en")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // feature counts (no hash collisions among these 6 grams):
    //   raw: apple=2 banana=1 cherry=1 'apple banana'=1 'apple cherry'=1 solo=1
    //   tgt: apple=1 banana=1 'apple banana'=1 solo=1
    // ilog2(c+1): raw apple=1 (c=2 -> ilog2(3)=1), every other raw=1;
    //   tgt present=1, tgt absent=0.
    // doc 1: apple 1-1=0, banana 1-1=0, bigram 1-1=0 -> sum 0
    assert(out(1L) === ((3L, 0L, 0L)))
    // doc 2: apple 0, cherry -1, bigram -1 -> sum -2; (1000*-2) DIV 3
    //   must TRUNCATE toward zero: -666 (both engines' semantics)
    assert(out(2L) === ((3L, -2L, -666L)))
    assert(out(3L) === ((0L, 0L, 0L)))
    assert(out(4L) === ((1L, 0L, 0L)))
    assert(out(1L)._3 > out(2L)._3, "target-like text must outweigh raw-only")
  }

  test("corpusMixReport: integer-milli shares over the group dimension; empty corpus") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "a b c"),   // 3 tokens
      (2L, "en", "d"),       // 1 token
      (3L, "de", "e f g h")) // 4 tokens
      .toDF("doc_id", "lang", "text")
    val out = graft.operators.Curation
      .corpusMixReport(docs, Seq("lang"),
        graft.functions.TextAnalysis.tokenCount(col("text")))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out("en") === ((2L, 4L, 500L)))
    assert(out("de") === ((1L, 4L, 500L)))
    // empty corpus: empty report, never an NPE on the null total
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "lang", "text")
    assert(graft.operators.Curation.corpusMixReport(empty, Seq("lang"),
      graft.functions.TextAnalysis.tokenCount(col("text"))).isEmpty)
  }

  test("knContinuationCounts: raw vs continuation counts, leading nulls skipped") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "a cat ran"),
      (3L, "cat cat cat"),
      (4L, ""))
    val out = graft.operators.Curation
      .knContinuationCounts(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // 'cat': 5 occurrences; predecessors {the, a, cat} (doc 3's first
    // 'cat' has a null prev — skipped) -> N1+ = 3
    assert(out("cat") === ((5L, 3L)))
    // 'the': 2 occurrences, one doc-initial (null prev) and one after
    // 'on' -> N1+ = 1. The high-frequency/low-continuation split is
    // exactly what KN adjusts for.
    assert(out("the") === ((2L, 1L)))
    assert(out("sat") === ((1L, 1L)))   // after 'cat'
    assert(out("a") === ((1L, 0L)))     // doc-initial only
    assert(!out.contains(""), "empty docs contribute nothing")
    assert(out.values.forall { case (c, n) => n <= c },
      "continuation count can never exceed the raw count")
  }

  test("CrawlTraps: digit-collapsed templates, trap verdict at the cap") {
    import spark.implicits._
    val urls = (
      (1 to 9).map(i => s"http://a.test/cal/2024/$i/view") ++   // explodes
      Seq("http://a.test/page/1", "http://a.test/page/2",       // bounded
        "http://a.test/page/1",                                 // dup url
        "http://b.test/cal/2024/1/view",                        // other host
        "not a url")                                            // unparseable
    ).toDF("url")
    val out = graft.operators.CrawlTraps.trapTemplates(urls, "url", 5L)
      .collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(("a.test", "/cal/D/D/view")) === ((9L, true)),
      "nine distinct urls under one template must trip the >5 gate")
    assert(out(("a.test", "/page/D")) === ((2L, false)),
      "distinct-url count, not row count: the duplicate url collapses")
    assert(out(("b.test", "/cal/D/D/view")) === ((1L, false)),
      "templates are per-host — b.test's lone page is clean")
    assert(out.contains(("", "")), "unparseable urls group under empty keys")
  }

  test("SnapshotDiff: added/removed/changed/same via full-outer hash compare") {
    import spark.implicits._
    val prev = Seq((1L, "h1"), (2L, "h2"), (3L, "h3")).toDF("url_id", "h")
    val cur = Seq((2L, "h2"), (3L, "h3x"), (4L, "h4")).toDF("url_id", "h")
    val out = graft.operators.SnapshotDiff.diff(prev, cur, "url_id", "h")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "removed", 2L -> "same",
      3L -> "changed", 4L -> "added"))
    // empty-side edges: everything added / everything removed
    val empty = Seq.empty[(Long, String)].toDF("url_id", "h")
    assert(graft.operators.SnapshotDiff.diff(empty, cur, "url_id", "h")
      .collect().forall(_.getString(1) == "added"))
    assert(graft.operators.SnapshotDiff.diff(prev, empty, "url_id", "h")
      .collect().forall(_.getString(1) == "removed"))
  }
}
