package graft.crawl

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Path, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.util.sketch.BloomFilter

import graft.core.Model.CrawlConfig
import graft.operators.SeenSet
import graft.state.StateFiles

/** Persistent, incremental Bloom sketch over the frontier's urlHash
  * keys (the north-rule seen-set sketch, SURVEY.md §2.4 D1).
  *
  * Chain protocol: the sketch for wave w = sketch(w-1) ∪ delta(w)
  * (the wave's new frontier entries), persisted as
  * `<state>/bloom/wave_w.bloom` with a sidecar `.meta` carrying the
  * running key count (both written atomically, [[StateFiles]]). O(delta)
  * per wave instead of a full frontier pass; older sketch files are
  * dropped ([[dropSketchesBefore]]), every `.meta` is kept. A gap in the
  * chain (a missing `wave_{w-1}.meta`) re-seeds the count from the full
  * log's row count — one job, only after a gap — so the count stays an
  * upper bound.
  * The sketch is ADVISORY ONLY — a missing/stale file degrades
  * to the exact anti-join, never to wrong results (false negatives
  * are impossible because every key that entered the frontier went
  * through `advance`; a broken chain yields None, not a stale filter).
  *
  * Cost gating: below `bloomMinFrontier` keys no sketch is built at
  * all (two whole-frontier jobs per wave would cost more than the
  * anti-join they'd save); crossing the threshold triggers one full
  * rebuild sized 4× the current count (min `bloomCapacity`), after
  * which merges are delta-sized.
  */
final class FrontierBloom(
    stateRoot: String,
    config: CrawlConfig,
    fullFrontier: () => Option[DataFrame],
    subdir: String = "bloom") {

  private val dir: Path = Paths.get(stateRoot, subdir)

  @volatile private var cachedWave: Int = -2
  @volatile private var cachedBloom: Option[BloomFilter] = None

  private def bloomPath(w: Int): Path = dir.resolve(s"wave_$w.bloom")
  private def metaPath(w: Int): Path = dir.resolve(s"wave_$w.meta")

  /** Running key count as of completed wave `w` (the sidecar meta is
    * written every wave even when the bloom itself is cost-gated off).
    * None when the chain has a gap (e.g. wiped state on resume) —
    * callers must then assume the seen side is unbounded.
    */
  def count(w: Int): Option[Long] =
    StateFiles.read(metaPath(w)).flatMap(new String(_, UTF_8).trim.toLongOption)

  /** The sketch consistent with the frontier as of completed wave `w`,
    * or None (→ caller uses the exact anti-join alone).
    */
  def get(w: Int): Option[BloomFilter] = {
    if (cachedWave != w) {
      cachedBloom = StateFiles.read(bloomPath(w))
        .map(b => BloomFilter.readFrom(new ByteArrayInputStream(b)))
      cachedWave = w
    }
    cachedBloom
  }

  /** Record wave `w`'s delta (DataFrame with an `urlHash` column).
    * Idempotent: a second call for the same wave is a no-op.
    * `knownCount` skips the counting job when the caller already
    * observed the delta's row count during its own write.
    */
  def advance(w: Int, delta: DataFrame, knownCount: Option[Long] = None): Unit = {
    if (StateFiles.exists(metaPath(w))) return // already advanced (resume)
    // after a gap in the chain, re-seed from the full log's row count:
    // an upper bound (the log already holds this wave's delta, and a
    // key may repeat), never 0 — an undercount would let the budget
    // short-circuit skip the per-host ranking for the rest of the crawl
    val prevCount = count(w - 1).getOrElse(
      if (w >= 1) fullFrontier().map(_.count()).getOrElse(0L) else 0L)
    val deltaCount = knownCount.getOrElse(delta.count())
    val total = prevCount + deltaCount

    val next: Option[BloomFilter] =
      if (total < config.bloomMinFrontier) None
      else get(w - 1) match {
        case Some(prev) if fits(prev, total) =>
          if (deltaCount > 0) {
            val d = SeenSet.buildBloom(delta, "urlHash", expectedOf(prev), config.bloomFpp)
            prev.mergeInPlace(d)
          }
          Some(prev)
        case _ => // first crossing or outgrown: one full rebuild
          fullFrontier().map { f =>
            SeenSet.buildBloom(f.select("urlHash"), "urlHash",
              math.max(total * 4, config.bloomCapacity), config.bloomFpp)
          }
      }

    next.foreach(bf => StateFiles.writeWith(bloomPath(w))(bf.writeTo))
    StateFiles.write(metaPath(w), total.toString.getBytes(UTF_8))
    cachedWave = w
    cachedBloom = next
  }

  /** Delete the sketch files of the waves before `w` (their metas
    * stay: one line each). Once wave w-1 is committed, only its sketch
    * and the one wave w advances into are read again; a missing file
    * costs only the exact anti-join.
    */
  def dropSketchesBefore(w: Int): Unit =
    StateFiles.list(dir).filter(p => p.toString.endsWith(".bloom") &&
      p.getFileName.toString.stripPrefix("wave_").stripSuffix(".bloom").toIntOption.exists(_ < w))
      .foreach(StateFiles.delete)

  /** Sizing bookkeeping: a filter built for n items has bitSize ≈
    * -n·ln(fpp)/ln(2)²; invert to recover the capacity it was built
    * for and check the running count still fits with headroom.
    */
  private def expectedOf(bf: BloomFilter): Long =
    (-bf.bitSize() * math.pow(math.log(2), 2) / math.log(config.bloomFpp)).toLong

  private def fits(bf: BloomFilter, total: Long): Boolean =
    total <= expectedOf(bf)
}
