package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{Queries, QueryDef, Tables}

/** Times the engine's public entry points from outside, one op after
  * another on one driver thread (a closed loop with one client).
  *
  * Usage: `perfbench.Main <plan.json> <raw-out.json>`. The plan (written by
  * `run.py`) names the posture, the data directory, every pass's op order
  * and which passes are traced. The raw output holds every timing and
  * counter; `run.py` turns it into metrics.
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Plan(
      dataDir: String,
      workDir: String,
      seed: Long,
      cores: Int,
      shufflePartitions: Int,
      aqe: Boolean,
      launchMs: Long,
      passes: Seq[Seq[String]],
      traced: Seq[Boolean],
      deadlineS: Double,
      kernels: Boolean,
      probes: Seq[String])

  private def readPlan(path: String): Plan = {
    val j = mapper.readTree(new File(path))
    def strs(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq
    Plan(
      dataDir = j.get("data_dir").asText,
      workDir = j.get("work_dir").asText,
      seed = j.get("seed").asLong,
      cores = j.get("cores").asInt,
      shufflePartitions = j.get("shuffle_partitions").asInt,
      aqe = j.get("aqe").asBoolean,
      launchMs = j.get("launch_ms").asLong,
      passes = j.get("passes").elements().asScala.map(strs).toSeq,
      traced = j.get("traced").elements().asScala.map(_.asBoolean).toSeq,
      deadlineS = j.get("deadline_s").asDouble,
      kernels = j.get("kernels").asBoolean,
      probes = strs(j.get("probes")))
  }

  private def session(p: Plan): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${p.cores}]")
      .config("spark.sql.shuffle.partitions", p.shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", p.aqe.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // first touch of each table pays a listing/footer job; it belongs to set-up
    Tables.all.foreach { t =>
      Tables.load(spark, p.dataDir, t).limit(1).write.format("noop").mode("overwrite").save()
    }
    spark
  }

  /** Old-generation occupancy right after a full collection, in MB. The
    * blocks an op cached are released asynchronously, and broadcast blocks
    * only once a collection has found their handles unreachable, so the
    * heap is collected until both have settled: the lower of two readings
    * taken after the storage is empty.
    */
  private def oldGenAfterGcMb(spark: SparkSession): Double = {
    def oldGen(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(b => b.getName.contains("Old Gen") || b.getName.contains("Tenured"))
        .map(_.getUsage.getUsed).sum / 1e6
    }
    oldGen()
    val deadline = System.nanoTime() + 2000000000L
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(100)
    val first = oldGen()
    Thread.sleep(100)
    math.min(first, oldGen())
  }

  def main(args: Array[String]): Unit = {
    val Array(planPath, outPath) = args
    val p = readPlan(planPath)
    val byName: Map[String, QueryDef] = Queries.all.map(q => q.name -> q).toMap
    val unknown = (p.passes.flatten ++ p.probes).distinct
      .filterNot(n => byName.contains(n) || n == StoreCycle.Name)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] ops not in Queries.all: ${unknown.mkString(", ")}")
      sys.exit(3)
    }

    // set-up: from the launch of this process to a session whose tables are warm
    val spark = session(p)
    val setupS = (System.currentTimeMillis() - p.launchMs) / 1e3

    val tracer = new Tracer(spark)
    // every timed run of an op writes to the noop sink, as graft.Bench does
    def exec(name: String, traced: Boolean): Map[String, Double] =
      if (name == StoreCycle.Name) StoreCycle.run(spark, p.workDir, p.seed, check = false)
      else {
        val b0 = System.currentTimeMillis()
        val df = byName(name).fn(spark, p.dataDir)
        if (traced) tracer.build(b0, System.currentTimeMillis())
        df.write.format("noop").mode("overwrite").save()
        Map.empty
      }

    val t0Run = System.nanoTime()
    def elapsed = (System.nanoTime() - t0Run) / 1e9
    val passOut = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passIter = p.passes.zip(p.traced).iterator
    // the cold pass always runs; later passes stop at the deadline
    while (passIter.hasNext && (passOut.isEmpty || elapsed < p.deadlineS)) {
      val (ops, traced) = passIter.next()
      if (traced) tracer.attach()
      val passMs = System.currentTimeMillis()
      val pass0 = System.nanoTime()
      val opOut = ops.map { name =>
        val w0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var store = Map.empty[String, Double]
        val err = try { store = exec(name, traced); null }
          catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val dt = (System.nanoTime() - t0) / 1e9
        if (traced) {
          tracer.op(w0, System.currentTimeMillis())
          store.foreach { case (k, v) => tracer.put(s"store.$k", v) }
        }
        // as in graft.Bench: no cached intermediate survives into the next op
        spark.catalog.clearCache()
        if (err != null) System.err.println(s"[perfbench] FAIL $name: $err")
        Seq(name, dt, err)
      }
      val wall = (System.nanoTime() - pass0) / 1e9
      val layers =
        if (traced) tracer.detach(p.cores, passMs, System.currentTimeMillis())
        else Map.empty[String, Double]
      passOut += Map("traced" -> traced, "wall_s" -> wall, "ops" -> opOut,
        "heap_mb" -> oldGenAfterGcMb(spark), "layers" -> layers)
    }

    // output check, untimed: each oracle-checked op's result is dumped as
    // parquet for the DuckDB compare, and the store cycle is checked against
    // its relational MERGE; an op that throws here fails the check
    val verifyDir = new File(p.workDir, "verify")
    val oracle = mutable.LinkedHashMap.empty[String, String]
    val verifyErrors = mutable.LinkedHashMap.empty[String, String]
    p.passes.head.distinct.foreach { name =>
      try {
        if (name == StoreCycle.Name) StoreCycle.run(spark, p.workDir, p.seed, check = true)
        else byName(name).oracle.foreach { sql =>
          oracle(name) = sql
          byName(name).fn(spark, p.dataDir).write.mode("overwrite")
            .parquet(new File(verifyDir, name).getPath)
        }
      } catch {
        case e: Throwable => verifyErrors(name) = s"${e.getClass.getSimpleName}: ${e.getMessage}"
      }
      spark.catalog.clearCache()
    }

    // traced-only probes: an op run once to warm up, then once traced
    val probeLayers = p.probes.map { name =>
      exec(name, traced = false)
      spark.catalog.clearCache()
      tracer.attach()
      val w0 = System.currentTimeMillis()
      exec(name, traced = true)
      val w1 = System.currentTimeMillis()
      tracer.op(w0, w1)
      spark.catalog.clearCache()
      name -> tracer.detach(p.cores, w0, w1)
    }.toMap
    val kernels = if (p.kernels) Kernels.probe(spark, p.dataDir) else Map.empty[String, Double]
    val posture = Map(
      "cores" -> p.cores,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
      "aqe" -> spark.conf.get("spark.sql.adaptive.enabled").toBoolean,
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString)
    spark.stop()
    mapper.writeValue(new File(outPath), Map(
      "posture" -> posture,
      "setup_s" -> setupS,
      "passes" -> passOut,
      "verify_dir" -> verifyDir.getPath,
      "oracle_sql" -> oracle,
      "verify_errors" -> verifyErrors,
      "probe_layers" -> probeLayers,
      "kernels" -> kernels))
  }
}
