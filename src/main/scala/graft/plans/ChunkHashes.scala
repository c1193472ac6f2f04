package graft.plans

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import KernelSupport.{hex, joinedDigest, nonEmptyTokens}

/** Kernel `graft_chunk_hashes`: fixed-window token chunking of one
  * document in one generated pass
  * ([[graft.functions.TextAnalysis.chunkTokens]] semantics): chunk c
  * covers token positions [c·stride, c·stride + window) of the
  * non-empty token sequence; chunks with ≥ minTokens tokens emit
  * (chunk_id, n_tokens, md5-hex of the space-joined window).
  * `explode` of the result reproduces the former rows exactly —
  * without the (doc, chunk) shuffle and the per-chunk
  * collect_list/sort the aggregate paid. Null token array → null
  * (explode drops the doc, like the former posexplode-of-null).
  */
object ChunkHashes {
  val Entry: StructType = StructType(Seq(
    StructField("chunk_id", IntegerType, nullable = false),
    StructField("n_tokens", IntegerType, nullable = false),
    StructField("chunk_hash", StringType, nullable = false)))

  def invoke(arr: ArrayData, window: Int, stride: Int,
             minTokens: Int): ArrayData = {
    val toks = nonEmptyTokens(arr)
    val n = toks.size()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val maxChunk = (n - 1) / stride
    val out = new java.util.ArrayList[Any](maxChunk + 1)
    var c = 0
    while (c <= maxChunk) {
      val from = c * stride
      val until = math.min(from + window, n)
      val nTok = until - from
      if (nTok >= minTokens) {
        out.add(new GenericInternalRow(Array[Any](c, nTok,
          hex(joinedDigest(toks, from, until)))))
      }
      c += 1
    }
    new GenericArrayData(out.toArray)
  }
}
