package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.core.Model.CrawlConfig
import graft.crawl.{SyntheticCorpus, WaveRunner}

/** Scaling experiment: work-dominated crawl (many seeds, 2 waves) on a
  * fixed corpus at two core counts.
  * Usage: ScaleProbe [nUrls] [bcast|bucket] [cores...]
  */
object ScaleProbe {

  var regime: String = "bcast"

  def cfgFor(numUrls: Long, corpusBase: String): CrawlConfig = {
    val base = CrawlConfig(maxDepth = 3,
      defaultMaxPerWave = (numUrls * 4).toInt, // never binds: work-dominated probe
      maxWaves = 2, assumeUniqueUrls = true,
      broadcastPopRows = numUrls * 2,
      // GRAFT_STRICT_EXTRACT=1 probes the two-parse extractor — the
      // fused-vs-strict pair is the falsifiable test of the
      // memory-bandwidth-knee attribution (BENCH.md)
      strictExtract = sys.env.contains("GRAFT_STRICT_EXTRACT"),
      // GRAFT_SEEN_KEYS=0 disables the broadcast-exact seen gate so the
      // expand phase's shuffled path can be probed at any core count
      broadcastSeenKeys = sys.env.get("GRAFT_SEEN_KEYS").map(_.toLong)
        .getOrElse(10000000L))
    if (regime == "bucket")
      base.copy(fetchBuckets = 64,
        fetchBucketDir = Some(s"$corpusBase-buckets64"),
        broadcastPopRows = 0L, fetchIngestVerifyCount = false)
    else base
  }
  def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-probe-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // extraction is CPU-bound per byte: shrink splits so the html
      // scan fans out to all cores (default 128m packs the whole
      // corpus into a handful of tasks)
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // shuffle/spill on tmpfs too: /tmp sits on the sandbox's one
      // throttled virtio disk and its writeback noise swamps the
      // measurement (a cluster's shuffle IO scales with executors)
      .config("spark.local.dir",
        if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
          "/dev/shm/graft-spark-local" else "/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(spark: SparkSession, corpusPath: String, spec: SyntheticCorpus.Spec,
          seedsN: Int, label: String): (Long, Double) = {
    // crawl state on tmpfs: the sandbox's single throttled virtio disk
    // would serialize state IO that a real cluster spreads across
    // executors' disks/DFS — measure compute scaling, not one disk
    val stateRoot = Files.createTempDirectory(
      if (Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
        java.nio.file.Paths.get("/dev/shm") else java.nio.file.Paths.get("/tmp"),
      s"graft-probe-$label-").toString
    val runner = new WaveRunner(spark, spark.read.parquet(corpusPath), stateRoot,
      cfgFor(spec.numUrls, corpusPath))
    val step = math.max(1, (spec.numUrls / seedsN).toInt)
    runner.initSeeds((0L until spec.numUrls by step).map(i =>
      SyntheticCorpus.urlFor(i, spec) -> 1))
    val t0 = System.nanoTime()
    runner.run()
    val sec = (System.nanoTime() - t0) / 1e9
    val urls = runner.crawlOrder().count() + runner.pages().count()
    // free the tmpfs state (RAM) before the next measurement
    try {
      import scala.sys.process._
      Seq("rm", "-rf", stateRoot).!
    } catch { case _: Exception => }
    println(f"[probe] $label: $urls urls in $sec%.1fs = ${urls / sec}%.0f urls/s")
    (urls, sec)
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    if (args.length > 1) regime = args(1)
    val coreList = if (args.length > 2) args.drop(2).map(_.toInt).toSeq else Seq(8, 32)
    val spec = SyntheticCorpus.Spec(numUrls = n, numHosts = math.max(50, (n / 100).toInt))
    val corpusPath =
      (if (Files.isDirectory(java.nio.file.Paths.get("/dev/shm"))) "/dev/shm"
       else "target") + s"/graft-probe-corpus-$n"

    val prep = newSession(32)
    if (!Files.exists(Paths.get(corpusPath, "_SUCCESS")))
      SyntheticCorpus.generate(prep, spec, partitions = 64)
        .write.mode("overwrite").parquet(corpusPath)
    if (regime == "bucket" &&
        !Files.exists(Paths.get(s"$corpusPath-buckets64", "_SUCCESS")))
      new graft.crawl.FetchSource(prep, prep.read.parquet(corpusPath),
        "/unused-state", cfgFor(n, corpusPath)).source.queryExecution
    // JIT warmup through the full code path (enough pages that C2
    // compiles the extract/link/normalize hot loops)
    run(prep, corpusPath, spec, seedsN = 1500, label = "warmup")
    prep.stop()

    val results = coreList.map { c =>
      val s = newSession(c)
      // per-session warmup: generated-code classes differ per session
      // (fresh expression ids), so codegen compilation must be paid
      // before the timed run, inside THIS session
      run(s, corpusPath, spec, seedsN = 1500, label = s"warm-c$c")
      val (urls, sec) = run(s, corpusPath, spec, seedsN = (n / 4).toInt, label = s"c$c")
      s.stop()
      c -> (urls, sec)
    }
    for (Seq((c1, (_, t1)), (c2, (_, t2))) <- results.sliding(2)) {
      val eff = (t1 / t2) / (c2.toDouble / c1)
      println(f"[probe] scaling c$c1->c$c2: speedup ${t1 / t2}%.2f efficiency $eff%.3f")
    }
  }
}
