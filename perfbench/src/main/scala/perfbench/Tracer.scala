package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for one traced pass, gathered only through Spark's
  * public hooks: a QueryExecutionListener (planning phases), a SparkListener
  * (jobs, stages, task metrics), a StreamingQueryListener (micro-batches)
  * and the JVM-wide codegen counters. Nothing inside the engine is touched.
  *
  * `attach` registers the listeners and `detach` drains the listener bus
  * and unregisters them, so untraced passes run with no listener at all.
  *
  * Besides the counters, the tracer keeps every interval it sees on the
  * wall clock (ops, the building of each op's Dataset, planning phases,
  * jobs and codegen compiles) and, at `detach`, splits the pass's wall
  * time among them millisecond by millisecond; see [[reconcile]].
  */
final class Tracer(spark: SparkSession) {
  private type Interval = (Long, Long) // wall-clock ms, [start, end)

  private val lock = new Object
  private val c = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobs = mutable.ArrayBuffer.empty[Interval]
  private val phases = mutable.ArrayBuffer.empty[Interval]
  private val builds = mutable.ArrayBuffer.empty[Interval]
  private val compiles = mutable.ArrayBuffer.empty[Interval]
  private val ops = mutable.ArrayBuffer.empty[Interval]
  private var compileNs0 = 0L
  private var compiles0 = 0L
  @volatile private var sampling = false
  private var sampler: Thread = _

  private def add(k: String, v: Double): Unit = c(k) += v

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = lock.synchronized {
      val ph = qe.tracker.phases
      def s(p: String): Double = ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
      add("plan.analysis_s", s(QueryPlanningTracker.ANALYSIS))
      add("plan.optimization_s", s(QueryPlanningTracker.OPTIMIZATION))
      add("plan.planning_s", s(QueryPlanningTracker.PLANNING))
      add("plan.query_executions", 1)
      ph.values.foreach(p => phases += (p.startTimeMs -> p.endTimeMs))
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      add("sched.jobs", 1)
      jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobs += (t0 -> e.time))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = lock.synchronized {
      add("sched.stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      add("sched.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("exec.task_run_s", m.executorRunTime / 1e3)
        add("exec.task_cpu_s", m.executorCpuTime / 1e9)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add("exec.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("exec.spill_mb", m.diskBytesSpilled / 1e6)
        add("exec.output_mb", m.outputMetrics.bytesWritten / 1e6)
        add("Tables.rows_read", m.inputMetrics.recordsRead.toDouble)
        add("Tables.bytes_read", m.inputMetrics.bytesRead.toDouble)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        add("stream.batches", 1)
        add("stream.batch_s", e.progress.batchDuration / 1e3)
        add("stream.rows_in", e.progress.numInputRows.toDouble)
      }
  }

  /** Polls the JVM-wide compile-time counter every millisecond or so. A
    * compile that finished since the last poll and took d ms becomes the
    * interval [now - d, now): its place on the wall clock tells a compile on
    * the driver (outside every job) from one inside a task.
    */
  private def sample(): Unit = {
    var last = CodeGenerator.compileTime
    while (sampling) {
      val now = CodeGenerator.compileTime
      if (now != last) {
        val t = System.currentTimeMillis()
        lock.synchronized { compiles += ((t - (now - last) / 1000000L) -> t) }
        last = now
      }
      Thread.sleep(1)
    }
  }

  def attach(): Unit = {
    lock.synchronized {
      Seq(jobs, phases, builds, compiles, ops).foreach(_.clear())
      c.clear(); jobStart.clear()
    }
    compileNs0 = CodeGenerator.compileTime
    compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    sampling = true
    sampler = new Thread(() => sample(), "perfbench-codegen-sampler")
    sampler.setDaemon(true)
    sampler.start()
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  /** Wall-clock interval of one op, in the listener events' time base. */
  def op(startMs: Long, endMs: Long): Unit = lock.synchronized { ops += (startMs -> endMs) }

  /** Wall-clock interval in which an op built its Dataset (`QueryDef.fn`):
    * Dataset construction and the eager analysis of every transformation. */
  def build(startMs: Long, endMs: Long): Unit = lock.synchronized { builds += (startMs -> endMs) }

  /** Adds a counter measured by the harness itself (e.g. a store call). */
  def put(k: String, v: Double): Unit = lock.synchronized { add(k, v) }

  /** Stops tracing and returns the counters of the pass that ran from
    * `passStartMs` to `passEndMs`. */
  def detach(cores: Int, passStartMs: Long, passEndMs: Long): Map[String, Double] = {
    GraftBridge.drainListenerBus(spark)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
    sampling = false
    sampler.join()
    lock.synchronized {
      add("codegen.compile_s", (CodeGenerator.compileTime - compileNs0) / 1e9)
      add("codegen.compiles", (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0).toDouble)
      reconcile(passStartMs, passEndMs).foreach { case (k, v) => add(k, v) }
      val active = c("sched.job_active_s")
      add("sched.slot_util", if (active > 0) c("exec.task_run_s") / (cores * active) else 0.0)
      c.toMap
    }
  }

  /** Splits the pass's wall time, one millisecond at a time, among the
    * layers. Between ops a millisecond is the harness's. Inside an op it goes
    * to the first of these that covers it: a running job, a planning phase
    * of a query execution, a codegen compile, the building of the op's
    * Dataset; a millisecond none of them covers is unexplained.
    */
  private def reconcile(p0: Long, p1: Long): Map[String, Double] = {
    val Between = 0; val Gap = 1; val Build = 2; val Compile = 3; val Plan = 4; val Job = 5
    val owner = Array.fill(math.max(0L, p1 - p0).toInt)(Between)
    def paint(ivs: Iterable[Interval], layer: Int): Unit = ivs.foreach { case (a, b) =>
      var t = math.max(a, p0)
      while (t < math.min(b, p1)) {
        val i = (t - p0).toInt
        if (layer == Gap || owner(i) != Between) owner(i) = layer
        t += 1
      }
    }
    paint(ops, Gap)
    paint(builds, Build)
    paint(compiles, Compile)
    paint(phases, Plan)
    paint(jobs, Job)
    val ms = Array.fill(6)(0L)
    owner.foreach(l => ms(l) += 1)
    Map(
      "sched.job_active_s" -> ms(Job) / 1e3,
      "sched.driver_gap_s" -> (ms(Gap) + ms(Build) + ms(Compile) + ms(Plan)) / 1e3,
      "trace.plan_phases_s" -> ms(Plan) / 1e3,
      "codegen.driver_s" -> ms(Compile) / 1e3,
      "plan.build_s" -> ms(Build) / 1e3,
      "trace.unexplained_s" -> (ms(Gap) + ms(Between)) / 1e3)
  }
}
