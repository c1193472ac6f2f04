package graft

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.state.StateFiles

/** The driver contract surface: entry() runs a real crawl end-to-end
  * and returns a non-empty, correctly-shaped order log.
  */
class EntrySmokeSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-entry-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** The crawl state roots `entry()` makes in the temporary directory. */
  private def entryRoots(): Set[String] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    StateFiles.list(tmp).map(_.getFileName.toString).filter(_.startsWith("graft-entry-")).toSet
  }

  test("entry() produces a non-empty crawl-order log") {
    val before = entryRoots()
    val df = SparkEntry.entry(spark)
    assert(entryRoots() -- before === Set.empty, "entry() left its crawl state behind")
    assert(df.columns.toSeq === Seq("wave", "score", "urlHash", "url"))
    val n = df.count()
    assert(n > 0, "flagship crawl scheduled nothing")
  }

  test("every query in the catalog runs at sf0.001 and oracle keys exist") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle for unknown queries: $missing")
    // cheap structural check: each query materializes a row or schema
    SparkEntry.queries.foreach { case (name, fn) =>
      val df = fn(spark, "/root/testdata/sf0.001")
      assert(df.columns.nonEmpty, name)
    }
  }
}
