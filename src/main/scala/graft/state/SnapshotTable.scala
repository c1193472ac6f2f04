package graft.state

import java.nio.file.{Path, Paths}

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
  * atomically replace `manifest.json` ([[StateFiles.writeJson]]). A
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
  import SnapshotTable.{FileLineage, Manifest, ManifestJson}

  private val tableDir: Path = Paths.get(root, name)
  private val snapshotsDir: Path = tableDir.resolve("snapshots")
  private val manifestPath: Path = tableDir.resolve("manifest.json")

  def currentManifest(): Option[Manifest] =
    StateFiles.readJson[ManifestJson](manifestPath).map(_.manifest)

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
  def commit(df: DataFrame, wave: Int): Int =
    commitSegment(wave, append = false)(dir => ParquetDir.write(df, dir.toString))

  /** Write `df` as a new delta segment and flip the pointer; previous
    * segments stay live. O(delta), not O(table) — appends to the
    * pages / order / metrics logs never rewrite history.
    */
  def appendCommit(df: DataFrame, wave: Int): Int =
    commitSegment(wave, append = true)(dir => ParquetDir.write(df, dir.toString))

  /** Adopt an existing parquet directory as the next append segment by
    * ATOMIC DIRECTORY RENAME — zero Spark jobs, zero data copy. The
    * source must live on the same filesystem (wave staging does).
    * Idempotent across crashes: if the rename already happened but the
    * manifest flip didn't, a retry just flips.
    */
  def adoptCommit(srcDir: String, wave: Int): Int =
    commitSegment(wave, append = true) { dir =>
      val src = Paths.get(srcDir)
      if (StateFiles.exists(src)) {
        // the staged source still exists, so any directory already at the
        // target version is an ORPHAN of a crashed unflipped commit (e.g.
        // a compaction killed between its segment write and manifest flip)
        // — never adopt it in place of the real delta
        if (StateFiles.exists(dir)) StateFiles.delete(dir)
        StateFiles.rename(src, dir)
      } else require(StateFiles.exists(dir),
        s"adoptCommit: neither source $srcDir nor target $dir exists")
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

  /** Fill the next version's directory with `fill`, then flip the
    * manifest to it: after the live segments when `append`, else alone.
    */
  private def commitSegment(wave: Int, append: Boolean)(fill: Path => Unit): Int = {
    val prev = currentManifest()
    val next = prev.map(_.version).getOrElse(0) + 1
    fill(versionDir(next))
    val kept = prev.filter(_ => append).toSeq.flatMap(m => m.segments.zip(m.segmentWaves))
    val (segments, waves) = (kept :+ (next -> wave)).unzip
    writeManifest(Manifest(next, wave, segments, listLineage(versionDir(next)), waves))
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
    StateFiles.files(versionDir(v)).map(_.toFile.length).sum

  /** Point the manifest back at an older version (rollback; replace
    * tables only).
    */
  def rollback(version: Int): Unit = {
    require(StateFiles.exists(versionDir(version)), s"no snapshot v$version for $name")
    val wave = currentManifest().map(_.wave).getOrElse(-1)
    writeManifest(Manifest(version, wave, Seq(version), listLineage(versionDir(version)),
      Seq(wave)))
  }

  /** Drop all snapshot dirs not referenced by the current manifest. */
  def vacuum(): Unit = {
    val live = currentManifest().map(_.segments.toSet).getOrElse(return)
    StateFiles.list(snapshotsDir)
      .filter(p => versionOf(p).exists(v => !live.contains(v)))
      .foreach(StateFiles.delete)
  }

  // ---- internals ----

  private def versionDir(v: Int): Path = snapshotsDir.resolve(f"v$v%05d")

  private def readSegments(versions: Seq[Int]): DataFrame =
    ParquetDir.read(spark, versions.map(v => versionDir(v).toString): _*)

  private def versionOf(p: Path): Option[Int] = {
    val n = p.getFileName.toString
    if (n.startsWith("v")) n.substring(1).toIntOption else None
  }

  private def listLineage(dir: Path): Seq[FileLineage] =
    StateFiles.files(dir).filter(_.toString.endsWith(".parquet"))
      .map(p => FileLineage(dir.relativize(p).toString, p.toFile.length))
      .sortBy(_.file)

  private def writeManifest(m: Manifest): Unit =
    StateFiles.writeJson(manifestPath, ManifestJson(m.version, m.wave, Some(m.segments),
      Some(m.segmentWaves), m.files))
}

object SnapshotTable {

  final case class FileLineage(file: String, bytes: Long)

  /** `segments` are the live snapshot version dirs: a replace commit's
    * manifest lists only the new version; an append commit's manifest
    * lists all previous segments plus the new delta — so appends never
    * rewrite history (the 100 TB-honest path for pages/order/metrics).
    * `segmentWaves` pairs each segment with the newest wave committed
    * into it (a merged segment takes the newest of its inputs), which
    * is what [[SnapshotTable.readNewerThan]] selects on. A manifest
    * written without them reads as if every segment held the manifest's
    * wave: an upper bound, so a selection over it only ever keeps too
    * much.
    */
  final case class Manifest(version: Int, wave: Int, segments: Seq[Int],
                            files: Seq[FileLineage], segmentWaves: Seq[Int])

  /** `manifest.json` as it is stored. Manifests written before
    * per-segment waves lack `segmentWaves`; older ones lack `segments`
    * too (a one-segment table at `version`).
    */
  private final case class ManifestJson(version: Int, wave: Int, segments: Option[Seq[Int]],
                                        segmentWaves: Option[Seq[Int]], files: Seq[FileLineage]) {
    def manifest: Manifest = {
      val segs = segments.getOrElse(Seq(version))
      Manifest(version, wave, segs, files,
        segmentWaves.filter(_.size == segs.size).getOrElse(segs.map(_ => wave)))
    }
  }

  def apply(spark: SparkSession, root: String, name: String): SnapshotTable =
    new SnapshotTable(spark, root, name)
}
