package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor — the coarse-
  * quantizer scale path next to [[Similarity.lshTopKPortable]]:
  *
  *  1. [[trainPortable]]: k centroids from a few Lloyd iterations,
  *     fully as DataFrame aggregations (posexplode → per-dimension
  *     sum); deterministic init (the k corpus rows with smallest
  *     portable hash of their id — no RNG state, replays identically);
  *  2. [[assignPortable]]: every corpus vector to its nearest centroid
  *     (one narrow cluster-id column — the inverted file);
  *  3. [[topKPortable]]: probe the `nprobe` nearest centroid lists
  *     only, exact cosine rerank inside them.
  *
  * Every step is exactly reproducible across engines: vectors are
  * quantized to fixed-point longs (floor(x·10⁴ + 0.5) — exact in
  * doubles, identical everywhere), so sums and distances are exact
  * integers (order-independent), centroid components are
  * floor(sum/count), argmin ties break by cluster id, and the ONLY
  * floats left are the final rerank cosines — the same
  * sequential-fold double arithmetic the LSH path uses. The whole
  * train → assign → probe → rerank pipeline is therefore statable
  * (unrolled) as one SQL oracle.
  *
  * At 10^10 vectors the assign pass is one map over the corpus and
  * the probe join touches nprobe/k of it — the classic IVF trade.
  */
object IvfIndex {

  /** Fixed-point scale: 4 decimal digits. */
  val QScale = 10000.0

  /** vec (array<float>) → quantized array<long>, exact both engines. */
  def quantize(vec: Column): Column =
    transform(vec, x => floor(x.cast("double") * QScale + 0.5d).cast("long"))

  /** Deterministic portable k-means over (id, vec): seeds = the k rows
    * with smallest (portableHash("seed:" + id), id); each Lloyd round
    * assigns by exact integer distance (the [[graft.plans.IvfNearest]]
    * kernel, ties to the smaller cid) and recomputes centroid
    * components as floor(Σq / n) via one posexplode aggregate. Empty
    * clusters keep their previous centroid. Driver state is k×dim
    * longs — nothing data-sized ever collects.
    */
  def trainPortable(spark: SparkSession, corpus: DataFrame, k: Int,
                    iterations: Int = 2): Array[Array[Long]] = {
    import spark.implicits._
    val qv = corpus.select(col("id"), quantize(col("vec")).as("qv"))
    var cents: Array[Array[Long]] = qv
      .withColumn("ph", graft.functions.TextAnalysis.portableHash(
        concat(lit("seed:"), col("id").cast("string"))))
      .orderBy(col("ph").asc, col("id").asc).limit(k)
      .select("qv").as[Array[Long]].collect()
    (0 until iterations).foreach { _ =>
      val sums = qv
        .withColumn("cid", graft.plans.Kernels.ivf_nearest(col("qv"),
          new graft.plans.IvfCentroids(cents)))
        .select(col("cid"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(floor(sum(col("v")).cast("double") / count(lit(1))).cast("long").as("m"))
        .collect()
      val next = cents.map(_.clone())
      sums.foreach(r => next(r.getInt(0))(r.getInt(1)) = r.getLong(2))
      cents = next
    }
    cents
  }

  /** Corpus with its portable inverted-file cluster column. */
  def assignPortable(corpus: DataFrame, cents: Array[Array[Long]]): DataFrame =
    corpus.withColumn("cluster", graft.plans.Kernels.ivf_nearest(
      quantize(col("vec")), new graft.plans.IvfCentroids(cents)))

  /** Portable probe + exact cosine rerank: nprobe nearest centroids by
    * integer distance (ties to smaller cid), candidates from those
    * inverted lists only (each corpus vector lives in exactly ONE list,
    * so no candidate dedup is needed), float cosine rerank.
    */
  def topKPortable(queries: DataFrame, corpusAssigned: DataFrame,
                   cents: Array[Array[Long]], k: Int, nprobe: Int): DataFrame = {
    val q = queries
      .select(col("id").as("query_id"), col("vec").as("qvec"),
        explode(graft.plans.Kernels.ivf_probe(quantize(col("vec")),
          new graft.plans.IvfCentroids(cents), nprobe)).as("cluster"))
    val c = corpusAssigned.select(col("id").as("neighbor_id"),
      col("vec").as("cvec"), col("cluster"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id").asc)
    q.join(c, Seq("cluster"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", Similarity.cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cosine", "rank")
  }
}
