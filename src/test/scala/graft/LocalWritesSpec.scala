package graft

import java.net.URI
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Model.CrawlConfig
import graft.crawl.{FetchSource, SyntheticCorpus}
import graft.state.{NioLocalFileSystem, ParquetDir}

/** Parquet outputs on a local path are written without forking a
  * process per file, with the same files and the same permission bits
  * as Hadoop's own local file system.
  */
class LocalWritesSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .appName("graft-local-writes-spec")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmp(p: String): Path = TempDirs.make(p)

  /** Every file under `dir`: (path relative to it with part-file ids
    * masked, mode bits), directories included.
    */
  private def layout(dir: Path): Seq[(String, Int)] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.toList.map { p =>
      dir.relativize(p).toString
        .replaceAll("part-\\d+-[0-9a-f-]{36}", "part-N") -> mode(p)
    }.sorted finally s.close()
  }

  private def mode(p: Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("ParquetDir.write to a local directory starts no process") {
    val df = spark.range(0, 1000, 1, 4).selectExpr("id", "cast(id as string) as s")
    ParquetDir.write(df, tmp("graft-warm-").resolve("t").toString) // classes loaded
    val dir = tmp("graft-pdw-").resolve("t")
    val (_, started) = ProcessProbe.started(ParquetDir.write(df, dir.toString))
    assert(started.isEmpty, s"processes started: $started")
    // the files and modes Hadoop's own write leaves, plus the sidecar
    val plain = tmp("graft-plain-").resolve("t")
    df.write.parquet(plain.toString)
    assert(layout(dir).filterNot(_._1 == ParquetDir.SchemaFile) === layout(plain))
    assert(layout(dir).exists(_._1 == "_SUCCESS"))
    assert(ParquetDir.read(spark, dir.toString).count() === 1000L)
  }

  test("NioLocalFileSystem sets the bits Hadoop's chmod sets") {
    val conf = spark.sessionState.newHadoopConf()
    def local(fs: FileSystem): FileSystem = { fs.initialize(new URI("file:///"), conf); fs }
    val nio = local(new NioLocalFileSystem)
    val hadoop = local(new LocalFileSystem)
    val (nioRoot, hadoopRoot) = (tmp("graft-nio-"), tmp("graft-hadoop-"))
    /** (mode bits, processes started) of what `make` leaves at `name`. */
    def made(fs: FileSystem, root: Path, name: String)(make: HPath => Unit): (Int, Int) = {
      val p = root.resolve(name)
      val (_, started) = ProcessProbe.started(make(new HPath(p.toUri)))
      (mode(p), started.size)
    }
    def both(name: String, forks: Boolean)(make: (FileSystem, HPath) => Unit): Unit = {
      val (nioMode, nioForks) = made(nio, nioRoot, name)(make(nio, _))
      val (hadoopMode, hadoopForks) = made(hadoop, hadoopRoot, name)(make(hadoop, _))
      assert(hadoopForks > 0 || NativeIO.isAvailable, s"$name: Hadoop's chmod did not run")
      assert(nioMode === hadoopMode, f"$name: $nioMode%o vs Hadoop's $hadoopMode%o")
      assert((nioForks > 0) === forks, s"$name: $nioForks processes")
    }
    // defaults under the session's umask, the checksum file included
    both("file", forks = false)((fs, p) => fs.create(p).close())
    assert(mode(nioRoot.resolve(".file.crc")) === mode(hadoopRoot.resolve(".file.crc")))
    both("dir", forks = false)((fs, p) => assert(fs.mkdirs(p)))
    both("dir/a/b", forks = false)((fs, p) => assert(fs.mkdirs(p)))
    Seq(0x180, 0x1a4, 0x1c0, 0x1e8, 0x1ed).foreach { m => // 0600 0644 0700 0750 0755
      both(f"f$m%o", forks = false) { (fs, p) =>
        fs.create(p).close(); fs.setPermission(p, new FsPermission(m.toShort))
      }
      both(f"d$m%o", forks = false) { (fs, p) =>
        assert(fs.mkdirs(p)); fs.setPermission(p, new FsPermission(m.toShort))
      }
    }
    // NIO cannot set a sticky bit: Hadoop's own path does (a fork
    // without the native library)
    both("sticky", forks = !NativeIO.isAvailable) { (fs, p) =>
      assert(fs.mkdirs(p)); fs.setPermission(p, new FsPermission(0x3ed.toShort)) // 1755
    }
    assert((mode(nioRoot.resolve("sticky")) & 0x200) != 0, "sticky bit lost")
  }

  test("the bucketed fetch ingest starts no process and keeps its layout") {
    val spec = SyntheticCorpus.Spec(numUrls = 200, numHosts = 4)
    val corpus = SyntheticCorpus.generate(spark, spec, partitions = 4).toDF()
    val root = tmp("graft-ingest-").toString
    val cfg = CrawlConfig(fetchBuckets = 4, broadcastPopRows = 0L)
    val fresh = new FetchSource(spark, corpus, root, cfg)
    spark.catalog.listTables().count() // the catalog's own set-up: its warehouse dir
    val (rows, started) = ProcessProbe.started(fresh.source.count())
    assert(started.isEmpty, s"processes started: $started")
    val dir = Paths.get(root, "fetch_bucketed")
    assert(Files.exists(dir.resolve("_SUCCESS")) && Files.exists(dir.resolve("_graft_ingest.meta")))
    // the catalog entry is the one a restart registers: no write option
    val table = spark.sessionState.catalog.listTables("default", "graft_fetch_*")
      .map(spark.sessionState.catalog.getTableMetadata)
      .find(t => Paths.get(t.location) == dir).get
    assert(table.bucketSpec.map(_.numBuckets) === Some(4))
    assert(!table.storage.properties.keySet.exists(_.startsWith("fs.")),
      s"write options kept by the catalog: ${table.storage.properties}")
    // a restart re-registers the directory without rewriting it
    val before = layout(dir)
    spark.sessionState.catalog.dropTable(table.identifier, ignoreIfNotExists = false, purge = false)
    val restarted = new FetchSource(spark, corpus, root, cfg)
    assert(restarted.source.schema === fresh.source.schema)
    assert(restarted.source.count() === rows)
    assert(layout(dir) === before)
  }
}
