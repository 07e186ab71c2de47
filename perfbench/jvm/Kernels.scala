package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions._

/** Per-row cost of the graft kernels that have a public Column
  * constructor: a `noop` write of the kernel's column over the run's
  * documents (or embeddings), minus a write of a constant over the same
  * rows (the per-row cost of producing rows at all), per input row.
  * Writing the input column itself would not do as the baseline: an array
  * column costs more to write than a kernel's scalar result. Inputs are
  * replicated and pinned first so the scan costs the same on both sides.
  */
object Kernels {
  val DocReplicas = 20
  val EmbeddingReplicas = 200
  val Reps = 3

  /** Merge rules that build every vocabulary word from its letters. */
  lazy val merges: Seq[(String, String)] =
    Data.Vocab.toSeq.filter(_.length > 1).flatMap { w =>
      (1 until w.length).map(i => (w.take(i), w.substring(i, i + 1)))
    }.distinct

  def kernels: Seq[(String, String, Column)] = Seq(
    ("minhash_shingle_sig", "toks", MinHashSig.minhash_shingle_sig(col("toks"), 3, 16)),
    ("simhash_sig", "toks", SimHashSig.simhash_sig(col("toks"))),
    ("winnow_select", "text", WinnowSelect.winnow_select(col("text"), 30, 15)),
    ("nfc_normalize", "text", NfcNormalize.nfc_normalize(col("text"))),
    ("bpe_encode", "text", BpeEncode.bpe_encode(col("text"), merges)),
    ("deflate_size", "text", DeflateSize.deflate_size(col("text"))),
    ("float_dot", "embedding", FloatDot.float_dot(col("embedding"), col("embedding"))))

  private def noopSeconds(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def measure(spark: SparkSession, inDir: String): Map[String, Any] = {
    def reps(n: Int) = spark.range(n).toDF("rep")
    val docs = spark.read.parquet(s"$inDir/documents.parquet").select("text")
      .crossJoin(reps(DocReplicas)).select(col("text"), split(col("text"), " ").as("toks"))
      .localCheckpoint()
    val embs = spark.read.parquet(s"$inDir/embeddings.parquet").select("embedding")
      .crossJoin(reps(EmbeddingReplicas)).select("embedding").localCheckpoint()
    val rows = Map("text" -> docs.count(), "toks" -> docs.count(), "embedding" -> embs.count())
    def input(c: String): DataFrame = if (c == "embedding") embs else docs
    val baseline = rows.keys.map { c =>
      noopSeconds(input(c).select(lit(0)))
      c -> median(Seq.fill(Reps)(noopSeconds(input(c).select(lit(0)))))
    }.toMap
    kernels.map { case (name, in, k) =>
      noopSeconds(input(in).select(k))
      val t = median(Seq.fill(Reps)(noopSeconds(input(in).select(k.as("k")))))
      name -> Map("rows" -> rows(in), "kernel_s" -> t, "baseline_s" -> baseline(in),
        "ns_per_row" -> (t - baseline(in)) * 1e9 / rows(in))
    }.toMap
  }
}
