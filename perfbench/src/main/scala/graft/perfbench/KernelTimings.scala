package graft.perfbench

import graft.expressions.{BpeTable, Kernels}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread throughput of graft's text kernels, called directly
  * (not through a plan) on the run's own corpus text: MB of UTF-8 text
  * in per second of kernel time. A pass runs the kernel over the sample
  * as many times as it takes to cover `PassMb` of text; one untimed warm
  * pass, then the best of three timed passes. */
object KernelTimings {
  private val SampleDocs = 2000
  private val PassMb = 1.0

  def measure(spark: SparkSession, input: String): Map[String, Double] = {
    import spark.implicits._
    val texts = graft.Tables(spark, input).documents.select("text")
      .orderBy("doc_id").limit(SampleDocs).as[String].collect()
    val utf = texts.map(UTF8String.fromString)
    val toks = texts.map(t => new GenericArrayData(
      t.split("\\s+").map(w => UTF8String.fromString(w): Any)))
    val mb = texts.map(_.getBytes("UTF-8").length.toLong).sum / 1048576.0
    val bpe = new BpeTable(graft.operators.Bpe.docMerges.map(_._1).toArray,
      graft.operators.Bpe.docMerges.map(_._2).toArray)
    val kernels: Seq[(String, Int => Unit)] = Seq(
      "bpe_encode" -> { i => toks(i).array.foreach(w => bpe.encode(w.asInstanceOf[UTF8String])) },
      "minhash" -> { i => Kernels.minhash(toks(i), 64) },
      "simhash64" -> { i => Kernels.simhash64(toks(i)) },
      "winnow_select" -> { i => Kernels.winnowSelect(utf(i), 25, 10) },
      "ngram_hashes" -> { i => Kernels.ngramHashes(utf(i), 5) },
      "text_embed" -> { i => Kernels.textEmbedMd5(toks(i), 60) })
    val reps = math.max(1, math.ceil(PassMb / mb).toInt)
    def pass(k: Int => Unit): Double = {
      val t0 = System.nanoTime()
      for (_ <- 1 to reps) {
        var i = 0
        while (i < texts.length) { k(i); i += 1 }
      }
      (System.nanoTime() - t0) / 1e9
    }
    kernels.map { case (name, k) =>
      pass(k)
      name -> reps * mb / (1 to 3).map(_ => pass(k)).min
    }.toMap
  }
}
