package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.GraftHashOps

/** In-process kernel microloop: the GraftHashOps kernels called
  * directly on fixture payloads (documents.text, embeddings, and the
  * Multimodal.mediaFromDocuments bytes), with no Spark scheduling in
  * the loop. Each kernel runs over its whole input in rounds of at
  * least `minSeconds`; rows/s is the median of five rounds.
  */
object Kernels {
  private val minSeconds = 0.1

  def loop(dir: String, spark: SparkSession): Map[String, Any] = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
    val texts = docs.orderBy("doc_id").select("text").as[String].collect().map(UTF8String.fromString)
    val media = graft.operators.Multimodal.mediaFromDocuments(docs.orderBy("doc_id"))
      .collect().map(_.payload)
    val embF = graft.Tables.embeddings(spark, dir).orderBy("vec_id").select("embedding")
      .as[Array[Float]].collect()
    val vecF = embF.map(a => UnsafeArrayData.fromPrimitiveArray(a))
    val vecD = embF.map(a => UnsafeArrayData.fromPrimitiveArray(a.map(_.toDouble)))
    val dim = embF.head.length
    // 16 centroids: the first vectors, as ivfTrain would seed them
    val cents = embF.take(16).flatMap(_.map(_.toDouble))
    var sink = 0L
    def rate(n: Int)(f: Int => Any): Double = {
      def round(): Double = {
        var rows = 0L
        val t0 = System.nanoTime()
        var el = 0L
        while (el < minSeconds * 1e9) {
          var i = 0
          while (i < n) { val r = f(i); if (r != null) sink += r.hashCode; i += 1 }
          rows += n
          el = System.nanoTime() - t0
        }
        rows / (el / 1e9)
      }
      round()
      Seq.fill(5)(round()).sorted.apply(2)
    }
    val res = Seq(
      "clean_text"   -> rate(texts.length)(i => GraftHashOps.cleanText(texts(i))),
      "minhash_sig"  -> rate(texts.length)(i => GraftHashOps.minhashSig(texts(i), 8, 3)),
      "simhash60"    -> rate(texts.length)(i => GraftHashOps.simhash60(texts(i))),
      "simhash120"   -> rate(texts.length)(i => GraftHashOps.simhash120(texts(i))),
      "feature_hash" -> rate(texts.length)(i => GraftHashOps.featureHash(texts(i), 64)),
      "cdc_bounds"   -> rate(texts.length)(i => GraftHashOps.cdcBounds(texts(i), 64L, 16)),
      "lsh_bucket"   -> rate(vecF.length)(i => GraftHashOps.lshBucket(vecF(i), 16, true)),
      "ivf_assign"   -> rate(vecD.length)(i => GraftHashOps.ivfAssign(vecD(i), cents, dim, true)),
      "bpe_stats"    -> rate(texts.length)(i => GraftHashOps.bpeStats(texts(i))),
      "byte_stats"   -> rate(media.length)(i => GraftHashOps.byteStats(media(i))))
    if (sink == 42L) System.err.println("") // keeps the results observable to the JIT
    res.map { case (k, v) => s"plans.kernel.$k.rows_per_s" -> v }.toMap
  }
}
