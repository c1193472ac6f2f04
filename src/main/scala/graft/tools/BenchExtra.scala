package graft.tools

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Query-only benchmark for the optimization loop (guide §1.4): times
  * every SparkEntry query through the noop sink in a session configured
  * IDENTICALLY to the frozen [[graft.Bench]] query leg (same master,
  * shuffle partitions, split sizes, tmpfs local dir), so its per-query
  * numbers are comparable with the driver bench's — without paying the
  * ~15 min crawl legs on every iteration.
  *
  * Usage: BenchExtra [repeats] [queryName...]
  *   repeats: timed repeats per query (default 3; min is reported —
  *            the noise-free estimator for a quiet host)
  *   queryName...: subset to run (default: all)
  * Prints one JSON line: {"queries": {name: minSec, ...}, "jobs": {name:
  * most Spark jobs of any run, ...}, "plan_chars": {name: most
  * plan-description characters of any run, ...}, "total": sum}, and to
  * stderr one line per query with its times and each run's job count
  * and plan characters. A query's plan characters are the lengths of
  * every physical-plan description its SQL executions post (at start
  * and at each adaptive re-plan), which Spark's SQL status store keeps
  * for the session. A listener counts both, so counting adds no job;
  * the counts are read once the session has stopped, when the listener
  * has seen every event.
  */
object BenchExtra {
  private val shmOk = Files.isDirectory(Paths.get("/dev/shm"))

  def newSession(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-benchextra-$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", if (shmOk) "/dev/shm/graft-spark-local" else "/tmp")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val repeats = args.headOption.flatMap(a => scala.util.Try(a.toInt).toOption)
      .getOrElse(3)
    val subset = (if (args.nonEmpty && scala.util.Try(args.head.toInt).isSuccess)
      args.tail else args).toSet
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = newSession(cores)
    val sc = spark.sparkContext
    val jobRuns = new ConcurrentLinkedQueue[String] // one description per job
    // SQL execution id -> the run ("name#r") that started it, and one
    // (run, characters) per posted plan description
    val runOfExecution = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val planChars = new ConcurrentLinkedQueue[(String, Long)]
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(jobRuns.add(_))
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          runOfExecution.put(s.executionId, s.description)
          planChars.add(s.description -> s.physicalPlanDescription.length.toLong)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          Option(runOfExecution.get(u.executionId)).foreach(run =>
            planChars.add(run -> u.physicalPlanDescription.length.toLong))
        case _ =>
      }
    })
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
      .filter(n => subset.isEmpty || subset.contains(n))
    val times = names.map { n =>
      val fn = graft.SparkEntry.queries(n)
      n -> (1 to repeats).map { r =>
        sc.setJobDescription(s"$n#$r")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
    }
    sc.setJobDescription(null)
    spark.stop() // drains the listener bus
    val jobsOf = jobRuns.asScala.groupBy(identity).view.mapValues(_.size).toMap
    val charsOf = planChars.asScala.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val results = times.map { case (n, ts) =>
      val jobs = (1 to repeats).map(r => jobsOf.getOrElse(s"$n#$r", 0))
      val chars = (1 to repeats).map(r => charsOf.getOrElse(s"$n#$r", 0L))
      System.err.println(f"[bx] $n%-24s " + ts.map(t => f"$t%.2f").mkString(" ") +
        "  jobs " + jobs.mkString(" ") + "  plan_chars " + chars.mkString(" "))
      (n, ts.min, jobs.max, chars.max)
    }
    val total = results.map(_._2).sum
    def obj(kvs: Seq[(String, String)]) =
      kvs.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val qs = obj(results.map { case (n, t, _, _) => n -> f"$t%.3f" })
    val js = obj(results.map { case (n, _, j, _) => n -> j.toString })
    val cs = obj(results.map { case (n, _, _, c) => n -> c.toString })
    println(s"""{"queries":$qs,"jobs":$js,"plan_chars":$cs,"total":${f"$total%.3f"},"repeats":$repeats,"sf":"$sfDir"}""")
  }
}
