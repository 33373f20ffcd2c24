package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions._

/** The engine's custom Catalyst kernels, each timed alone as one projection
  * over the curation inputs. The inputs are replicated and cached first, so
  * the timed job is the kernel plus a scan of cached rows.
  */
object Kernels {
  private val Copies = 20
  private val Reps = 3

  def probe(spark: SparkSession, dataDir: String): Map[String, Double] = {
    val copies = spark.range(Copies).withColumnRenamed("id", "copy")
    val docs = Tables.documents(spark, dataDir).crossJoin(copies)
      .select(col("text"), split(col("text"), " ").as("toks")).cache()
    val vecs = Tables.embeddings(spark, dataDir).crossJoin(copies)
      .select(col("embedding")).cache()
    try {
      docs.count(); vecs.count()
      val probes: Seq[(String, DataFrame, Column)] = Seq(
        ("md5_slices", docs, Md5SlicesOps.md5Slices16(col("text"))),
        ("winnow", docs, WinnowOps.winnow(col("text"), 8, 4)),
        ("c4_stats", docs, C4Ops.c4Stats(col("text"))),
        ("ngrams", docs, NGramsOps.ngrams(col("toks"), 3)),
        ("srp", vecs, SrpOps.srpBuckets(col("embedding"), 10, 16, 64)),
        ("cosine", vecs, VectorOps.cosineSim(col("embedding"), col("embedding"))),
        ("normalize", docs, NormalizeOps.nfkc(col("text"))))
      probes.map { case (name, in, kernel) =>
        val times = (1 to Reps).map { _ =>
          val t0 = System.nanoTime()
          in.select(kernel.as("k")).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        s"functions.${name}_s" -> times.sorted.apply(Reps / 2)
      }.toMap
    } finally {
      docs.unpersist(blocking = true)
      vecs.unpersist(blocking = true)
    }
  }
}
