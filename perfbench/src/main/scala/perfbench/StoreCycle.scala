package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.ManifestTable

/** One life cycle of a [[ManifestTable]], composed from its public calls:
  * overwrite a base, MERGE an upsert batch, append a batch exactly once
  * (the replay is a no-op), read the snapshot, compact and vacuum. Inputs
  * derive from the run's seed. Each call is timed on its own.
  */
object StoreCycle {
  val Name = "store_cycle"

  private val Rows = 20000L

  private def rows(spark: SparkSession, from: Long, until: Long, seed: Long, tag: String): DataFrame =
    spark.range(from, until).select(
      col("id"),
      (xxhash64(col("id"), lit(seed), lit(tag)) % 1000000L).as("v"),
      lit(tag).as("tag"))

  private def inputs(spark: SparkSession, seed: Long): (DataFrame, DataFrame, DataFrame) = {
    val base = rows(spark, 0, Rows, seed, "base")
    // every 7th key (the phase depends on the seed) is updated, and a tail
    // of new keys is inserted
    val phase = math.floorMod(seed, 7L)
    val updates = rows(spark, 0, Rows + Rows / 10, seed, "upd")
      .where(col("id") >= Rows || col("id") % 7 === phase)
    val appended = rows(spark, 2 * Rows, 2 * Rows + Rows / 20, seed, "app")
    (base, updates, appended)
  }

  /** Runs the cycle in a fresh directory under `workDir`, deleted
    * afterwards, and returns the seconds each call took plus the files and
    * megabytes the cycle wrote. With `check`, the final snapshot must equal
    * the relational MERGE of the same inputs, or the call throws.
    */
  def run(spark: SparkSession, workDir: String, seed: Long, check: Boolean): Map[String, Double] = {
    val root = new File(workDir, s"store-${System.nanoTime()}")
    try {
      val (base, updates, appended) = inputs(spark, seed)
      val t = ManifestTable(spark, root.getPath, statsCols = Seq("id"))
      val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      def timed[A](call: String)(f: => A): A = {
        val t0 = System.nanoTime()
        try f finally times(s"${call}_s") = (System.nanoTime() - t0) / 1e9
      }
      timed("overwrite")(t.overwrite(base))
      timed("merge")(t.merge(updates, Seq("id")))
      timed("append_once") {
        t.appendOnce(appended, "perfbench", 1L)
        t.appendOnce(appended, "perfbench", 1L)
      }
      timed("snapshot")(t.snapshot().write.format("noop").mode("overwrite").save())
      timed("compact")(t.compact())
      val files = listFiles(root)
      timed("vacuum")(t.vacuum(retainLast = 1, graceMs = 0L))
      if (check) {
        val want = base.join(updates, Seq("id"), "left_anti")
          .unionByName(updates).unionByName(appended)
        def sorted(df: DataFrame) = df.select("id", "v", "tag").orderBy("id").collect().toSeq
        val got = sorted(t.snapshot())
        val exp = sorted(want)
        if (got != exp) {
          val firstDiff = got.zipAll(exp, null, null).find { case (a, b) => a != b }
          throw new IllegalStateException(
            s"store cycle: snapshot has ${got.size} rows, relational MERGE ${exp.size}; " +
              s"first difference ${firstDiff.getOrElse("none")}")
        }
      }
      times.toMap ++ Map(
        "files_written" -> files.size.toDouble,
        "bytes_written_mb" -> files.map(_.length).sum / 1e6)
    } finally deleteRecursively(root)
  }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private def listFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap(f => if (f.isDirectory) listFiles(f) else Seq(f))
}
