package graft.crawl

import java.io.ByteArrayInputStream
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
  * (the wave's new keys), persisted as `<state>/bloom/wave_w.bloom`
  * (written atomically, [[StateFiles]]). O(delta) per wave instead of
  * a full frontier pass; older sketch files are dropped
  * ([[dropSketchesBefore]]). The chain keeps no count of its own: the
  * caller passes each wave's running key total, from the wave records.
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

  /** False-positive rate every sketch is built for. */
  private val Fpp = 0.01

  private val dir: Path = Paths.get(stateRoot, subdir)

  @volatile private var cachedWave: Int = -2
  @volatile private var cachedBloom: Option[BloomFilter] = None

  private def bloomPath(w: Int): Path = dir.resolve(s"wave_$w.bloom")

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

  /** Record wave `w`'s new keys (`delta`, with an `urlHash` column;
    * None when the wave added none), `total` keys in all as of wave
    * `w`. Idempotent: a wave whose sketch file exists is done, and one
    * below the cost gate writes nothing.
    */
  def advance(w: Int, delta: Option[DataFrame], total: Long): Unit = {
    if (StateFiles.exists(bloomPath(w))) return // already advanced (resume)
    val next: Option[BloomFilter] =
      if (total < config.bloomMinFrontier) None
      else get(w - 1) match {
        case Some(prev) if fits(prev, total) =>
          delta.foreach(d =>
            prev.mergeInPlace(SeenSet.buildBloom(d, "urlHash", expectedOf(prev), Fpp)))
          Some(prev)
        case _ => // first crossing or outgrown: one full rebuild
          fullFrontier().map { f =>
            SeenSet.buildBloom(f.select("urlHash"), "urlHash",
              math.max(total * 4, config.bloomCapacity), Fpp)
          }
      }

    next.foreach(bf => StateFiles.writeWith(bloomPath(w))(bf.writeTo))
    cachedWave = w
    cachedBloom = next
  }

  /** Delete the sketch files of the waves before `w`. Once wave w-1 is
    * committed, only its sketch and the one wave w advances into are
    * read again; a missing file costs only the exact anti-join.
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
    (-bf.bitSize() * math.pow(math.log(2), 2) / math.log(Fpp)).toLong

  private def fits(bf: BloomFilter, total: Long): Boolean =
    total <= expectedOf(bf)
}
