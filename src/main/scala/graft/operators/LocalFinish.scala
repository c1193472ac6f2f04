package graft.operators

/** The one bound under which the iterative graph operators
  * ([[Dedup.connectedMinLabels]], [[LinkGraph.pageRank]]) finish on the
  * driver.
  *
  * Each operator materializes its working set once and counts it with
  * an `Observation` on that job. When the count, in collected values
  * (one per id or long), is at most [[MaxValues]], the operator
  * collects the working set once and runs its rounds in driver memory
  * with the same integer arithmetic; above it, every round is a
  * distributed plan with its own checkpoints. The bound is a constant,
  * not a setting, so it does not grow with the input.
  *
  * Where it sits, measured in local mode on a 4-core host (4 shuffle
  * partitions, best of 2), as wall time and bytes allocated on the
  * calling driver thread (an upper bound on the driver heap a finish
  * adds):
  *  - at 2^16 values the local finish wins on both: connected
  *    components (a random graph, 1 pair per 4 vertices) 0.20 s and
  *    68 MB against 2.34 s and 188 MB for the distributed rounds;
  *    PageRank (3 out-edges per vertex, 3 iterations) 0.41 s and 40 MB
  *    against 0.95 s and 60 MB;
  *  - above it the local finish stays faster but allocates more: at
  *    2^18 PageRank's takes 92 MB against 60 MB distributed, and at
  *    2^20 connected components' takes 873 MB, about 0.8 KB per value.
  */
private[graft] object LocalFinish {
  val MaxValues: Long = 1L << 16
}
