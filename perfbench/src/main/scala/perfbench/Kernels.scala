package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, split}
import graft.Tables
import graft.functions.{CharNgramFunctions, GraftFunctions, Md5Functions, MinHashFunctions,
  ShingleFunctions, VectorFunctions}
import graft.ops.Dedup

/** Per-row cost of each native Catalyst kernel, measured on the workload's
  * own `documents` and `embeddings` columns replicated [[Copies]] times and
  * cached. Each figure is the kernel projection's median time minus the
  * median time of a plain projection of the same input column. */
object Kernels {
  val Copies = 20
  val Reps = 3

  def measure(spark: SparkSession, dir: String): Seq[Metric] = {
    val copies = spark.range(Copies).toDF("copy")
    val docs = Tables.documents(spark, dir).filter(col("text").isNotNull)
      .select("text").crossJoin(copies)
      .select(col("text"), split(col("text"), " ").as("tokens"))
      .withColumn("hashes", ShingleFunctions.shingleHashes(col("tokens"), 3))
      .persist()
    val vecs = Tables.embeddings(spark, dir).crossJoin(copies)
      .select(col("embedding").cast("array<double>").as("embedding")).persist()
    try {
      val docRows = docs.count()
      val vecRows = vecs.count()
      def noop(df: DataFrame): Double = {
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      def nsPerRow(in: DataFrame, rows: Long, input: String, kernel: Column): Double = {
        val plain = ArrayBuffer.empty[Double]
        val kern = ArrayBuffer.empty[Double]
        (0 to Reps).foreach { i => // rep 0 warms the generated code
          val p = noop(in.select(col(input)))
          val k = noop(in.select(kernel))
          if (i > 0) { plain += p; kern += k }
        }
        (Stats.median(kern.toSeq) - Stats.median(plain.toSeq)) / rows
      }
      val hashes = col("hashes")
      val tokens = col("tokens")
      val text = col("text")
      Seq(
        "blake2b_256" -> nsPerRow(docs, docRows, "text", GraftFunctions.blake2b_256(text)),
        "md5_prefix24" -> nsPerRow(docs, docRows, "text", Md5Functions.md5Prefix24(text)),
        "shingle_hashes" -> nsPerRow(docs, docRows, "tokens", ShingleFunctions.shingleHashes(tokens, 3)),
        "minhash_band_keys" -> nsPerRow(docs, docRows, "hashes",
          MinHashFunctions.minHashBandKeys(hashes, Dedup.MinHashes, Dedup.Bands)),
        "simhash64" -> nsPerRow(docs, docRows, "hashes", MinHashFunctions.simHash64(hashes)),
        "token_top_count" -> nsPerRow(docs, docRows, "tokens", ShingleFunctions.tokenTopCount(tokens)),
        "char_trigrams" -> nsPerRow(docs, docRows, "text", CharNgramFunctions.charTrigrams(text)),
        "lsh_signatures" -> nsPerRow(vecs, vecRows, "embedding",
          VectorFunctions.lshSignatures(col("embedding"), 6, 8))
      ).map { case (k, v) => Metric(s"functions.$k.ns_per_row", v, "ns/row") }
    } finally {
      docs.unpersist(blocking = true)
      vecs.unpersist(blocking = true)
    }
  }
}
