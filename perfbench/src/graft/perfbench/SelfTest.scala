package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks the output digest the crawl checks rest on: equal for the same
  * rows in any order or partitioning, different when a row changes or
  * is duplicated. Exits non-zero on a failure.
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "3")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val rows = (1 to 500).map(i => (i % 7, i.toLong * 31, s"u$i"))
    val df = rows.toDF("wave", "score", "url")
    val base = Workloads.digest(df)
    val checks = Seq(
      "reordered rows" -> (Workloads.digest(df.orderBy(rand(7))) == base),
      "repartitioned rows" -> (Workloads.digest(df.repartition(5, $"url")) == base),
      "reversed input" -> (Workloads.digest(rows.reverse.toDF("wave", "score", "url")) == base),
      "changed row" -> (Workloads.digest(df.withColumn("score",
        when($"url" === "u9", $"score" + 1).otherwise($"score"))) != base),
      "duplicated row" -> (Workloads.digest(df.union(df.limit(1))) != base),
      "duplicated pair" -> (Workloads.digest(df.union(df.limit(2)).union(df.limit(2))) != base),
      "empty relation" -> (Workloads.digest(df.limit(0)) == "0:0000000000000000:0:0"))
    spark.stop()
    checks.foreach { case (n, ok) => System.err.println(s"digest ${if (ok) "ok  " else "FAIL"} $n") }
    if (!checks.forall(_._2)) sys.exit(1)
  }
}
