package pipebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine layers read through Spark's public hooks: a SparkListener for
  * jobs, stages and task metrics (`exec`, `shuffle`, `spill`, `io`), a
  * QueryExecutionListener for the planning tracker's phases (`catalyst`),
  * and the JVM-wide codegen counters (`codegen`). Registered only in traced
  * runs. Counters are cumulative; callers take [[snap]]s and subtract. */
final class Engine(spark: SparkSession) extends SparkListener {
  private val jobs, stages, tasks, runMs, cpuNs, shRead, shWrite, spill,
    written, analysisMs, optimizationMs, planningMs, queries = new AtomicLong
  private val lastEventNs = new AtomicLong(System.nanoTime())
  /** (submission, completion) epoch ms of every completed stage. */
  private val stageSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  /** (end epoch ms, analysis, optimization, planning ms) per execution. */
  private val phases = new ConcurrentLinkedQueue[(Long, Long, Long, Long)]()

  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobs.incrementAndGet(); touch() }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.incrementAndGet()
    for (s <- i.submissionTime; c <- i.completionTime) stageSpans.add((s, c))
    touch()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled)
      written.addAndGet(m.outputMetrics.bytesWritten)
    }
    touch()
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      analysisMs.addAndGet(ms("analysis"))
      optimizationMs.addAndGet(ms("optimization"))
      planningMs.addAndGet(ms("planning"))
      phases.add((System.currentTimeMillis(), ms("analysis"), ms("optimization"), ms("planning")))
      queries.incrementAndGet()
      touch()
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = touch()
  }

  def register(): this.type = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(qeListener)
    this
  }

  /** Listener events arrive asynchronously; wait until none has arrived
    * for `quietMs` (bounded) before reading counters at a phase edge. */
  def settle(quietMs: Long = 300, maxMs: Long = 3000): Unit = {
    val t0 = System.nanoTime()
    while ((System.nanoTime() - lastEventNs.get()) / 1000000 < quietMs &&
      (System.nanoTime() - t0) / 1000000 < maxMs) Thread.sleep(20)
  }

  def snap(): Engine.Snap = Engine.Snap(System.currentTimeMillis(),
    jobs.get, stages.get, tasks.get, runMs.get, cpuNs.get, shRead.get,
    shWrite.get, spill.get, written.get, analysisMs.get, optimizationMs.get,
    planningMs.get, queries.get,
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  /** Planning phases (analysis, optimization, planning ms) of the
    * executions that finished within [fromMs, toMs]. */
  def phaseSamples(fromMs: Long, toMs: Long): Seq[(Double, Double, Double)] = {
    import scala.jdk.CollectionConverters._
    phases.asScala.toSeq.collect {
      case (at, a, o, p) if at >= fromMs && at <= toMs => (a.toDouble, o.toDouble, p.toDouble)
    }
  }

  /** Union of stage active intervals that overlap [fromMs, toMs], in ms. */
  def stageActiveMs(fromMs: Long, toMs: Long): Long = {
    import scala.jdk.CollectionConverters._
    val iv = stageSpans.asScala.toSeq
      .map { case (s, c) => (math.max(s, fromMs), math.min(c, toMs)) }
      .filter { case (s, c) => c > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + curE - curS
  }
}

object Engine {
  final case class Snap(atMs: Long, jobs: Long, stages: Long, tasks: Long,
      runMs: Long, cpuNs: Long, shRead: Long, shWrite: Long, spill: Long,
      written: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long,
      queries: Long, compiles: Long, compileNs: Long)

  /** The layer metrics every workload reports for one measured phase. */
  def layers(e: Engine, a: Snap, b: Snap, cores: Int): Seq[(String, Double, String)] = {
    val wallS = math.max(1L, b.atMs - a.atMs) / 1e3
    val runS = (b.runMs - a.runMs) / 1e3
    Seq(
      ("exec.jobs", (b.jobs - a.jobs).toDouble, "count"),
      ("exec.stages", (b.stages - a.stages).toDouble, "count"),
      ("exec.tasks", (b.tasks - a.tasks).toDouble, "count"),
      ("exec.task_run_s", runS, "s"),
      ("exec.task_cpu_s", (b.cpuNs - a.cpuNs) / 1e9, "s"),
      ("exec.stage_active_s", e.stageActiveMs(a.atMs, b.atMs) / 1e3, "s"),
      ("exec.busy_ratio", runS / (wallS * cores), "ratio"),
      ("shuffle.read_bytes", (b.shRead - a.shRead).toDouble, "B"),
      ("shuffle.write_bytes", (b.shWrite - a.shWrite).toDouble, "B"),
      ("spill.bytes", (b.spill - a.spill).toDouble, "B"),
      ("io.bytes_written", (b.written - a.written).toDouble, "B"),
      ("catalyst.analysis_s", (b.analysisMs - a.analysisMs) / 1e3, "s"),
      ("catalyst.optimization_s", (b.optimizationMs - a.optimizationMs) / 1e3, "s"),
      ("catalyst.planning_s", (b.planningMs - a.planningMs) / 1e3, "s"),
      ("codegen.compiles", (b.compiles - a.compiles).toDouble, "count"),
      ("codegen.compile_s", (b.compileNs - a.compileNs) / 1e9, "s"))
  }
}
