package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** The URL-seen set: exact parquet state + Bloom pre-filter.
  *
  * Semantics follow the reference's two dedup layers (SURVEY.md §2.4):
  * in-queue dedup by url identity (crawler/utils/taskmanager.py:363-383)
  * and cross-run seen-set with content hashes
  * (crawler/utils/sessioninfomanager.py:56-86). The north rule upgrades
  * the lookup to a Bloom sketch merged across partitions; correctness
  * stays anchored on an exact anti-join — the sketch only shrinks the
  * join's probe side, false positives can never drop a URL
  * (SURVEY.md §7.4#4).
  *
  * Scale notes: at 10^10 seen URLs a monolithic bloom is ~12 GB at 1%
  * fpp — too big to broadcast. The design splits by candidate volume:
  * the bloom is sized for the CURRENT wave's discovery frontier
  * (bounded by wave budget × branching), built over the seen side with
  * `DataFrameStatFunctions.bloomFilter` (internally an RDD aggregate
  * merging per-partition sketches — the treeAggregate pattern), and
  * candidates that the bloom rules out skip the shuffle entirely.
  */
object SeenSet {

  /** Build a bloom over `col` of `seen`. */
  def buildBloom(seen: DataFrame, column: String, expectedItems: Long,
                 fpp: Double): BloomFilter = {
    val n = math.max(expectedItems, 1L)
    seen.stat.bloomFilter(column, n, fpp)
  }

  /** Candidates (keyed `urlHash`) minus seen (keyed `urlHash`).
    *
    * Plan shape, smallest-cost-first:
    *  - seen side provably ≤ `broadcastSeenMax` keys (`seenCount` hint,
    *    the previous wave record's running total — no counting job) → one
    *    BROADCAST left-anti hash join: the candidate side never
    *    shuffles at all. 8-byte keys make the relation ~80 MB even at
    *    10^7 seen keys; a 17M-link expand stays entirely map-side.
    *  - above the gate (the 10^10 regime — seen keys don't broadcast)
    *    → candidates the broadcast bloom says "definitely new" bypass
    *    the anti-join; the "maybe seen" rest — |true seen ∩ candidates|
    *    + fpp·|new| rows — goes through an exact shuffled left-anti
    *    join. Union of both is exact.
    */
  def notSeen(candidates: DataFrame, seen: Option[DataFrame],
              bloom: Option[BloomFilter],
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
        bloom match {
          case None =>
            candidates.join(seenDf.select("urlHash"), Seq("urlHash"), "left_anti")
          case Some(bf) =>
            // declared nondeterministic so the optimizer keeps the probe
            // where it is written: over an aggregate it stays over it (a
            // copy pushed below into each union branch would run the
            // aggregate's exchange once per branch), and it is never
            // copied onto the seen side as an inferred filter (every
            // seen key passes a sketch built over the seen keys)
            val mightContain = udf((h: Long) => bf.mightContainLong(h)).asNondeterministic()
            val definitelyNew = candidates.filter(!mightContain(col("urlHash")))
            val maybeSeen = candidates.filter(mightContain(col("urlHash")))
            definitelyNew.unionByName(
              maybeSeen.join(seenDf.select("urlHash"), Seq("urlHash"), "left_anti"))
        }
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
