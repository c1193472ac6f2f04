package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The URL-seen set: an exact left-anti join against parquet state.
  *
  * Semantics follow the reference's two dedup layers (SURVEY.md §2.4):
  * in-queue dedup by url identity (crawler/utils/taskmanager.py:363-383)
  * and cross-run seen-set with content hashes
  * (crawler/utils/sessioninfomanager.py:56-86). Two things decide
  * whether a URL is seen: its canonical key (`urlHash`) and this join.
  * Nothing approximate sits in front of it.
  *
  * No sketch: a Bloom pre-filter over the seen keys used to split the
  * candidates before the shuffled join. It could only shrink the probe
  * side, never the seen side, and its filters were rebuilt and written
  * in full every wave (at 10^10 keys, tens of GB on the driver). On the
  * benchmark's frontier-bound crawl (20k URLs, 3 waves, local[4],
  * sketches on from wave 0) passes without it took 3.84 s against
  * 4.71 s at the median, with identical crawl order and seen set, so
  * it was removed. The large-seen-side problem at 10^10 keys is the
  * seen side's shuffle, which a sketch does not touch.
  */
object SeenSet {

  /** Candidates (keyed `urlHash`) minus seen (keyed `urlHash`), in one
    * of two exact plans:
    *  - seen side provably ≤ `broadcastSeenMax` keys (`seenCount` hint,
    *    the previous wave record's running total — no counting job) → one
    *    BROADCAST left-anti hash join: the candidate side never
    *    shuffles at all. 8-byte keys make the relation ~80 MB even at
    *    10^7 seen keys; a 17M-link expand stays entirely map-side.
    *  - above the gate (seen keys don't broadcast) → a shuffled
    *    left-anti join of the candidates against the seen keys.
    */
  def notSeen(candidates: DataFrame, seen: Option[DataFrame],
              seenCount: Option[Long] = None,
              broadcastSeenMax: Long = 0L): DataFrame = {
    seen match {
      case None => candidates
      case Some(seenDf) if seenCount.exists(_ <= broadcastSeenMax) =>
        // distinct BEFORE the broadcast build: callers may pass a log
        // with duplicate rows per key (retries/recrawls), and the gate
        // sized the relation from the wave record's DISTINCT-key total
        // — the built relation must match that count, not be a
        // multiple of it
        candidates.join(broadcast(seenDf.select("urlHash").distinct()),
          Seq("urlHash"), "left_anti")
      case Some(seenDf) =>
        candidates.join(seenDf.select("urlHash"), Seq("urlHash"), "left_anti")
    }
  }

  /** Content-hash-aware variant: a URL re-enters only if its content
    * hash changed (the reference's update-mode skip,
    * sessioninfomanager.py:70-86). Candidates need (urlHash,
    * contentHash).
    */
  def changedOrNew(candidates: DataFrame, seen: DataFrame): DataFrame =
    candidates.join(seen.select("urlHash", "contentHash"),
      Seq("urlHash", "contentHash"), "left_anti")
}
