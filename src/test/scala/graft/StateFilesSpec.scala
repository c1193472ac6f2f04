package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.crawl.WaveRunner
import graft.core.Model.WaveMetrics
import graft.crawl.WaveRunner.{StageCounts, WaveRecord}
import graft.state.{SnapshotTable, StateFiles}
import graft.state.SnapshotTable.{FileLineage, Manifest}

/** The crawl-state file seam: atomic writes, listings, renames and
  * deletes, and the JSON files read through it (table manifests, wave
  * records).
  */
class StateFilesSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .appName("graft-state-files-spec")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def text(p: Path): String = new String(Files.readAllBytes(p), UTF_8)

  test("a write replaces the file whole, creates its directory and leaves no tmp file") {
    val dir = TempDirs.make("graft-sf-")
    val p = dir.resolve("a").resolve("b.meta")
    StateFiles.write(p, "1".getBytes(UTF_8))
    StateFiles.write(p, "22".getBytes(UTF_8))
    assert(text(p) === "22")
    assert(StateFiles.list(p.getParent) === Seq(p))
    assert(StateFiles.read(dir.resolve("missing")) === None)
    assert(StateFiles.list(dir.resolve("missing")) === Nil)
  }

  test("rename moves a directory; delete removes a tree and ignores a missing path") {
    val dir = TempDirs.make("graft-sf-")
    StateFiles.write(dir.resolve("src").resolve("x").resolve("f"), Array[Byte](1))
    StateFiles.rename(dir.resolve("src"), dir.resolve("sub").resolve("dst"))
    assert(!StateFiles.exists(dir.resolve("src")))
    assert(StateFiles.files(dir) === Seq(dir.resolve("sub/dst/x/f")))
    StateFiles.delete(dir.resolve("sub"))
    StateFiles.delete(dir.resolve("sub"))
    assert(StateFiles.list(dir) === Nil)
  }

  test("the hook sees every mutating operation before it runs, and can stop it") {
    val dir = TempDirs.make("graft-sf-")
    val seen = Seq.newBuilder[(String, Path)]
    StateFiles.beforeOp = (op, p) => {
      seen += op -> p
      if (op == "delete") throw new IllegalStateException("kill")
    }
    try {
      StateFiles.write(dir.resolve("f"), Array[Byte](1))
      StateFiles.rename(dir.resolve("f"), dir.resolve("g"))
      StateFiles.read(dir.resolve("g")); StateFiles.list(dir); StateFiles.files(dir)
      intercept[IllegalStateException](StateFiles.delete(dir.resolve("g")))
    } finally StateFiles.beforeOp = (_, _) => ()
    assert(seen.result() === Seq("write" -> dir.resolve("f"), "rename" -> dir.resolve("g"),
      "delete" -> dir.resolve("g")))
    assert(StateFiles.exists(dir.resolve("g")), "the killed delete ran")
  }

  /** A table named `t` whose manifest.json holds `json`. */
  private def tableWith(json: String): SnapshotTable = {
    val root = TempDirs.make("graft-sf-manifest-")
    Files.createDirectories(root.resolve("t"))
    Files.write(root.resolve("t").resolve("manifest.json"), json.getBytes(UTF_8))
    SnapshotTable(spark, root.toString, "t")
  }

  test("manifests in the layout written before the seam read to the same Manifest") {
    // byte for byte as the hand-written codec wrote them, file names
    // with a quote and a backslash escaped
    val files = """[{"file":"part-00000-a.snappy.parquet","bytes":1200},""" +
      """{"file":"odd\"name\\x.parquet","bytes":7}]"""
    val lineage = Seq(FileLineage("part-00000-a.snappy.parquet", 1200L),
      FileLineage("odd\"name\\x.parquet", 7L))
    val withWaves = tableWith(
      s"""{"version":5,"wave":4,"segments":[1,3,5],"segmentWaves":[2,3,4],"files":$files}""")
    assert(withWaves.currentManifest() === Some(Manifest(5, 4, Seq(1, 3, 5), lineage, Seq(2, 3, 4))))
    // before per-segment waves: every segment reads as the manifest's wave
    val noWaves = tableWith(s"""{"version":5,"wave":4,"segments":[1,3,5],"files":$files}""")
    assert(noWaves.currentManifest() === Some(Manifest(5, 4, Seq(1, 3, 5), lineage, Seq(4, 4, 4))))
    // before append segments: one segment, the version itself
    val oneSegment = tableWith(s"""{"version":2,"wave":1,"files":[]}""")
    assert(oneSegment.currentManifest() === Some(Manifest(2, 1, Seq(2), Nil, Seq(1))))
    // a manifest without its version is no manifest
    intercept[Exception](tableWith("""{"wave":1,"segments":[1],"files":[]}""").currentManifest())
  }

  test("a written manifest keeps the stored fields and reads back unchanged") {
    val root = TempDirs.make("graft-sf-roundtrip-").toString
    val t = SnapshotTable(spark, root, "t")
    t.commit(spark.range(3).toDF(), wave = 0)
    t.appendCommit(spark.range(2).toDF(), wave = 1)
    val m = t.currentManifest().get
    assert(m.segments === Seq(1, 2) && m.segmentWaves === Seq(0, 1) && m.wave === 1)
    val stored = text(Path.of(root, "t", "manifest.json"))
    Seq("\"version\":2", "\"wave\":1", "\"segments\":[1,2]", "\"segmentWaves\":[0,1]",
      "\"files\":[{\"file\":").foreach(f => assert(stored.contains(f), s"$f in $stored"))
    assert(SnapshotTable(spark, root, "t").currentManifest() === Some(m))
  }

  test("staged counts: a missing or malformed field is a lost count, never a zero") {
    val dir = TempDirs.make("graft-sf-counts-")
    def read[T: scala.reflect.ClassTag](marker: String, json: String): Option[T] = {
      Files.write(dir.resolve(marker), json.getBytes(UTF_8))
      WaveRunner.readRecord[T](dir.resolve(marker))
    }
    def lost[T: scala.reflect.ClassTag](marker: String, full: String, field: String): Unit = {
      assert(read[T](marker, full.replace(s""""$field":900,""", "")) === None, "a missing field")
      assert(read[T](marker, full.replace("900", "null")) === None, "a null field")
      assert(read[T](marker, full.replace("900", "\"x\"")) === None, "a mistyped field")
      assert(read[T](marker, full.take(40)) === None, "a torn record")
      assert(read[T](marker, "null") === None, "a null record")
      assert(read[T](marker, "") === None, "an empty marker")
      Files.delete(dir.resolve(marker))
      assert(WaveRunner.readRecord[T](dir.resolve(marker)) === None, "no file")
    }
    // the _STAGED record
    val staged = """{"scheduled":8,"fetched":5,"failed":1,"deferred":2,"bytes":900,""" +
      """"newUrls":12,"retries":1,"recrawls":0}"""
    assert(read[StageCounts](WaveRunner.StagedMarker, staged) ===
      Some(StageCounts(8, 5, 1, 2, 900, 12, 1, 0)))
    lost[StageCounts](WaveRunner.StagedMarker, staged, "bytes")
    // the _COMMITTED record: what it writes reads back unchanged
    val record = WaveRecord(Some(WaveMetrics(3, 8, 5, 1, 2, 900, 12, 40, 77)), 60, 20,
      deferrals = true)
    StateFiles.writeJson(dir.resolve(WaveRunner.CommittedMarker), record)
    assert(WaveRunner.readRecord[WaveRecord](dir.resolve(WaveRunner.CommittedMarker)) ===
      Some(record))
    val committed = text(dir.resolve(WaveRunner.CommittedMarker))
    assert(committed.contains("\"contentBytes\":900,"), committed)
    lost[WaveRecord](WaveRunner.CommittedMarker, committed, "contentBytes")
    assert(committed.contains("\"processed\":20,"), committed)
    assert(read[WaveRecord](WaveRunner.CommittedMarker,
      committed.replace("\"processed\":20,", "")) === None, "a missing total")
    // wave 0's record has no metrics row
    val seeds = WaveRecord(None, 2, 0, deferrals = false)
    StateFiles.writeJson(dir.resolve(WaveRunner.CommittedMarker), seeds)
    assert(WaveRunner.readRecord[WaveRecord](dir.resolve(WaveRunner.CommittedMarker)) ===
      Some(seeds))
  }
}
