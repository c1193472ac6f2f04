package graft.state

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-style snapshot table over Parquet (SURVEY.md §7 constraint:
  * no Iceberg runtime jar ships offline, so the frontier / seen /
  * pages state is a directory of immutable snapshot versions plus a
  * small JSON manifest whose pointer flip is the atomic commit).
  *
  * Layout:
  * {{{
  *   <root>/<name>/snapshots/v00001/               (immutable parquet)
  *   <root>/<name>/snapshots/v00001/_schema.json  (its schema, [[ParquetDir]])
  *   <root>/<name>/manifest.json                   (current pointer + lineage)
  * }}}
  *
  * Commit protocol: write the new snapshot directory fully, then
  * atomically replace `manifest.json` (write tmp + ATOMIC_MOVE). A
  * killed job never observes a half-written table: either the old
  * manifest (old snapshot) or the new one. Old snapshots are retained
  * for time travel / rollback until `vacuum`.
  *
  * The API is seam-compatible with a real catalog (read / commit /
  * rollback / version), so swapping in actual Iceberg on a cluster is
  * a one-class change. This mirrors the recoverability role of the
  * reference's bsddb-persisted queue (crawler/utils/priorityqueue.py:23-55)
  * with table snapshots instead of a B-tree.
  */
final class SnapshotTable(spark: SparkSession, root: String, val name: String) {
  import SnapshotTable.deleteRecursively

  private val tableDir: Path = Paths.get(root, name)
  private val snapshotsDir: Path = tableDir.resolve("snapshots")
  private val manifestPath: Path = tableDir.resolve("manifest.json")

  final case class FileLineage(file: String, bytes: Long)

  /** `segments` are the live snapshot version dirs: a replace commit's
    * manifest lists only the new version; an append commit's manifest
    * lists all previous segments plus the new delta — so appends never
    * rewrite history (the 100 TB-honest path for pages/order/metrics).
    * `segmentWaves` pairs each segment with the newest wave committed
    * into it (a merged segment takes the newest of its inputs), which
    * is what [[readNewerThan]] selects on. A manifest written without
    * them reads as if every segment held the manifest's wave: an upper
    * bound, so a selection over it only ever keeps too much.
    */
  final case class Manifest(version: Int, wave: Int, segments: Seq[Int],
                            files: Seq[FileLineage], segmentWaves: Seq[Int])

  def currentManifest(): Option[Manifest] = {
    if (!Files.exists(manifestPath)) return None
    val text = new String(Files.readAllBytes(manifestPath), UTF_8)
    Some(parseManifest(text))
  }

  def currentVersion(): Option[Int] = currentManifest().map(_.version)

  /** Wave id recorded by the last commit; -1 if never committed. */
  def committedWave(): Int = currentManifest().map(_.wave).getOrElse(-1)

  def exists(): Boolean = currentManifest().isDefined

  /** Read the current snapshot; None when the table has never been
    * committed. The read is a plain parquet scan — predicate pushdown,
    * column pruning and partition pruning all apply — and launches no
    * job (the schema comes from the segments' sidecars).
    */
  def read(): Option[DataFrame] = currentManifest().map(m => readSegments(m.segments))

  /** Write `df` as the next snapshot and atomically flip the pointer,
    * REPLACING table contents. `wave` is the crawl wave this commit
    * belongs to (idempotence key for resume: a re-run of wave w sees
    * committedWave >= w and skips). Returns the new version number.
    */
  def commit(df: DataFrame, wave: Int): Int = commitInternal(df, wave, append = false)

  /** Write `df` as a new delta segment and flip the pointer; previous
    * segments stay live. O(delta), not O(table) — appends to the
    * pages / order / metrics logs never rewrite history.
    */
  def appendCommit(df: DataFrame, wave: Int): Int = commitInternal(df, wave, append = true)

  /** Adopt an existing parquet directory as the next append segment by
    * ATOMIC DIRECTORY RENAME — zero Spark jobs, zero data copy. The
    * source must live on the same filesystem (wave staging does).
    * Idempotent across crashes: if the rename already happened but the
    * manifest flip didn't, a retry just flips.
    */
  def adoptCommit(srcDir: String, wave: Int): Int = {
    val prev = currentManifest()
    val next = prev.map(_.version).getOrElse(0) + 1
    val dir = versionDir(next)
    val src = Paths.get(srcDir)
    Files.createDirectories(snapshotsDir)
    if (Files.exists(src)) {
      // the staged source still exists, so any directory already at the
      // target version is an ORPHAN of a crashed unflipped commit (e.g.
      // a compaction killed between its segment write and manifest flip)
      // — never adopt it in place of the real delta
      if (Files.exists(dir)) deleteRecursively(dir)
      Files.move(src, dir, StandardCopyOption.ATOMIC_MOVE)
    } else require(Files.exists(dir),
      s"adoptCommit: neither source $srcDir nor target $dir exists")
    val segments = prev.map(_.segments).getOrElse(Nil) :+ next
    val waves = prev.map(_.segmentWaves).getOrElse(Nil) :+ wave
    writeManifest(Manifest(next, wave, segments, listLineage(dir), waves))
    next
  }

  /** Advance the committed-wave marker WITHOUT new data (an idle wave:
    * nothing was schedulable this wave, e.g. all remaining work is
    * behind a retry backoff or re-crawl frequency gate). Zero jobs,
    * zero segments — just a manifest flip. No-op on a fresh table.
    */
  def markCommit(wave: Int): Unit =
    currentManifest().foreach(m => writeManifest(m.copy(wave = wave)))

  /** The rows of the segment committed for `wave`: the newest segment
    * when its recorded wave is `wave`, else None (a later commit, or a
    * wave advanced by [[markCommit]], which has no segment of its own).
    */
  def readWaveSegment(wave: Int): Option[DataFrame] =
    currentManifest().filter(_.segmentWaves.lastOption.contains(wave))
      .map(m => readSegments(Seq(m.segments.last)))

  /** The live segments that may hold rows committed after `wave`, read
    * as one relation; None when no segment does. The selection is by
    * manifest, so skipped segments cost no file listing or footer read.
    * A kept segment may still hold older rows (a merged one), so a
    * reader that needs exactly the newer rows filters them as well.
    */
  def readNewerThan(wave: Int): Option[DataFrame] =
    currentManifest().flatMap { m =>
      val newer = m.segments.zip(m.segmentWaves).collect { case (v, w) if w > wave => v }
      if (newer.isEmpty) None else Some(readSegments(newer))
    }

  private def commitInternal(df: DataFrame, wave: Int, append: Boolean): Int = {
    val prev = currentManifest()
    val next = prev.map(_.version).getOrElse(0) + 1
    val dir = versionDir(next)
    ParquetDir.write(df, dir.toString)
    val (segments, waves) =
      if (append) (prev.map(_.segments).getOrElse(Nil) :+ next,
        prev.map(_.segmentWaves).getOrElse(Nil) :+ wave)
      else (Seq(next), Seq(wave))
    writeManifest(Manifest(next, wave, segments, listLineage(dir), waves))
    next
  }

  /** LSM-style tiered compaction: when more than `maxSegments` live
    * segments exist, merge the SMALLEST ones (by on-disk bytes) into a
    * single new segment, leaving the largest segments and the newest
    * delta untouched, so the count drops to max(2, maxSegments/2). The
    * write cost depends on the bound. A large one (the default 64)
    * makes merges infrequent, and each merge mostly rewrites recent
    * small deltas while the large merged segments stay put. A bound of
    * 2 rewrites every segment but the newest on each compaction: the
    * whole history, O(history) bytes per check. The newest segment is
    * never merged, so `readWaveSegment` still returns the latest
    * delta.
    * Crash-safe like any commit (atomic manifest flip, wave marker
    * unchanged); old segments stay until `vacuum`. Returns the merged
    * segment's version, or None when under the bound.
    *
    * `merge` transforms the unioned rows of the segments being merged
    * before they are written — the seam for ROLLUP tables (e.g. a
    * latest-state table collapses to one row per key with a max_by):
    * correctness requires the table's read-side resolution to be
    * associative over segments (max_by is), since unmerged segments'
    * rows for the same key survive untouched.
    */
  def compactTiered(maxSegments: Int,
                    merge: DataFrame => DataFrame = identity): Option[Int] =
    currentManifest().filter(_.segments.size > math.max(2, maxSegments)).flatMap { m =>
      val bySize = m.segments.init.sortBy(segmentBytes) // init: newest never merges
      val k = bySize.size + 2 - math.max(1, maxSegments / 2)
      if (k < 2) None
      else {
        val toMerge = bySize.take(k).toSet
        val merged = merge(readSegments(m.segments.filter(toMerge)))
        val next = m.version + 1
        ParquetDir.write(merged, versionDir(next).toString)
        // merged segment FIRST, survivors in original order: `.last`
        // stays the newest delta for readWaveSegment
        val (mergedAway, kept) = m.segments.zip(m.segmentWaves).partition(s => toMerge(s._1))
        writeManifest(Manifest(next, m.wave, next +: kept.map(_._1),
          listLineage(versionDir(next)), mergedAway.map(_._2).max +: kept.map(_._2)))
        Some(next)
      }
    }

  private def segmentBytes(v: Int): Long =
    listing(Files.walk(versionDir(v)))(_.filter(Files.isRegularFile(_)).map(Files.size).sum)

  /** Point the manifest back at an older version (rollback; replace
    * tables only).
    */
  def rollback(version: Int): Unit = {
    require(Files.exists(versionDir(version)), s"no snapshot v$version for $name")
    val wave = currentManifest().map(_.wave).getOrElse(-1)
    writeManifest(Manifest(version, wave, Seq(version), listLineage(versionDir(version)),
      Seq(wave)))
  }

  /** Drop all snapshot dirs not referenced by the current manifest. */
  def vacuum(): Unit = {
    val live = currentManifest().map(_.segments.toSet).getOrElse(return)
    if (Files.exists(snapshotsDir))
      listing(Files.list(snapshotsDir))(_.toList)
        .filter(p => versionOf(p).exists(v => !live.contains(v)))
        .foreach(deleteRecursively)
  }

  // ---- internals ----

  private def versionDir(v: Int): Path = snapshotsDir.resolve(f"v$v%05d")

  private def readSegments(versions: Seq[Int]): DataFrame =
    ParquetDir.read(spark, versions.map(v => versionDir(v).toString): _*)

  /** Consume a directory stream and close it: an unclosed
    * `Files.list`/`Files.walk` stream holds its descriptors until the
    * JVM exits.
    */
  private def listing[T](s: java.util.stream.Stream[Path])(f: Iterator[Path] => T): T =
    try f(s.iterator().asScala) finally s.close()

  private def versionOf(p: Path): Option[Int] = {
    val n = p.getFileName.toString
    if (n.startsWith("v")) n.substring(1).toIntOption else None
  }

  private def listLineage(dir: Path): Seq[FileLineage] =
    listing(Files.walk(dir))(_
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => FileLineage(dir.relativize(p).toString, Files.size(p)))
      .toList.sortBy(_.file))

  private def writeManifest(m: Manifest): Unit = {
    Files.createDirectories(tableDir)
    val files = m.files.map(f =>
      s"""{"file":${jsonStr(f.file)},"bytes":${f.bytes}}""").mkString("[", ",", "]")
    val segs = m.segments.mkString("[", ",", "]")
    val waves = m.segmentWaves.mkString("[", ",", "]")
    val json =
      s"""{"version":${m.version},"wave":${m.wave},"segments":$segs,""" +
        s""""segmentWaves":$waves,"files":$files}"""
    val tmp = tableDir.resolve(s"manifest.json.tmp-${m.version}")
    Files.write(tmp, json.getBytes(UTF_8))
    Files.move(tmp, manifestPath, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def parseManifest(json: String): Manifest = {
    // minimal hand parser for the fixed shape we write
    def intField(k: String): Int = {
      val m = s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json)
      m.map(_.group(1).toInt).getOrElse(
        throw new IllegalStateException(s"manifest missing $k: $json"))
    }
    val files = """\{"file":"((?:[^"\\]|\\.)*)","bytes":(\d+)\}""".r
      .findAllMatchIn(json)
      .map(m => FileLineage(unescape(m.group(1)), m.group(2).toLong)).toSeq
    def intList(k: String): Option[Seq[Int]] = s""""$k"\\s*:\\s*\\[([0-9,\\s-]*)\\]""".r
      .findFirstMatchIn(json)
      .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).map(_.toInt).toSeq)
    val segments = intList("segments").getOrElse(Seq(intField("version")))
    val wave = intField("wave")
    val segmentWaves = intList("segmentWaves").filter(_.size == segments.size)
      .getOrElse(segments.map(_ => wave))
    Manifest(intField("version"), wave, segments, files, segmentWaves)
  }

  private def unescape(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 'u' if i + 5 < s.length =>
            sb.append(Integer.parseInt(s.substring(i + 2, i + 6), 16).toChar); i += 6
          case other => sb.append(other); i += 2
        }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}

object SnapshotTable {

  /** Delete a file, or a directory tree children first. */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      val children = try s.iterator().asScala.toList finally s.close()
      children.foreach(deleteRecursively)
    }
    Files.deleteIfExists(p)
  }

  def apply(spark: SparkSession, root: String, name: String): SnapshotTable =
    new SnapshotTable(spark, root, name)
}
