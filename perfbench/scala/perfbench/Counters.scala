package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer

/** What Spark reported for one measured window. */
final case class Window(
    jobs: Int, stages: Int, tasks: Int, taskS: Double, gcS: Double,
    shuffleReadMb: Double, shuffleWriteMb: Double, spillMb: Double,
    peakTaskMemMb: Double, inputBytes: Long, outputBytes: Long,
    skew: Double, analysisMs: Long, optimizationMs: Long, planningMs: Long,
    objectNodes: Int, writeS: Seq[Double], codegenMs: Double, codegenClasses: Long) {
  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_s" -> taskS,
    "gc_s" -> gcS, "shuffle_read_mb" -> shuffleReadMb,
    "shuffle_write_mb" -> shuffleWriteMb, "spill_mb" -> spillMb,
    "peak_task_mem_mb" -> peakTaskMemMb, "input_bytes" -> inputBytes,
    "output_bytes" -> outputBytes, "skew" -> skew, "analysis_ms" -> analysisMs,
    "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
    "object_nodes" -> objectNodes, "codegen_ms" -> codegenMs,
    "codegen_classes" -> codegenClasses)
}

/** Spark's public counters, read from outside the program: a SparkListener
  * for jobs/stages/tasks, a QueryExecutionListener for the planning phases
  * of `QueryExecution.tracker`, and the static `CodegenMetrics` histograms.
  *
  * Every read is preceded by [[drain]], which blocks until the listener bus
  * is empty and then checks that every job seen to start has ended, so a
  * window never misses the tail of the action it measured. */
final class Counters(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private final case class Task(stage: Int, runMs: Long, gcMs: Long, readBytes: Long,
      readRecords: Long, writeBytes: Long, spill: Long, peakMem: Long,
      inBytes: Long, outBytes: Long)
  private final case class Query(analysis: Long, optimization: Long, planning: Long,
      objectNodes: Int, write: Boolean, durationNs: Long)

  private var jobs = 0
  private var stages = 0
  private val open = scala.collection.mutable.Set[Int]()
  private val tasks = ArrayBuffer[Task]()
  private val queries = ArrayBuffer[Query]()

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1; open += e.jobId }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized { open -= e.jobId }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      m.peakExecutionMemory, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
  }

  private val objectOps = Set("DeserializeToObject", "SerializeFromObject", "MapPartitions")
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val nodes = qe.optimizedPlan.collect { case p if objectOps(p.nodeName) => 1 }.size
    val write = qe.logical.nodeName.contains("Insert") || qe.logical.nodeName.contains("Write") ||
      qe.logical.nodeName.contains("SaveIntoDataSource")
    synchronized { queries += Query(ms("analysis"), ms("optimization"), ms("planning"), nodes, write, durationNs) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  def drain(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    synchronized { require(open.isEmpty, s"jobs still open after drain: $open") }
  }

  /** Forget everything seen so far (between passes). */
  def reset(): Unit = { drain(); synchronized { jobs = 0; stages = 0; tasks.clear(); queries.clear() } }

  final case class Mark(jobs: Int, stages: Int, tasks: Int, queries: Int,
      compileNs: Long, classes: Long)
  def mark(): Mark = { drain(); synchronized {
    Mark(jobs, stages, tasks.size, queries.size, CodeGenerator.compileTime,
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount) } }

  def since(m: Mark): Window = {
    drain()
    synchronized {
      val ts = tasks.drop(m.tasks).toSeq
      val qs = queries.drop(m.queries).toSeq
      val mb = 1024.0 * 1024.0
      // skew: max over shuffle-reading stages of (max / median records per reduce task)
      val skew = ts.filter(_.readRecords > 0).groupBy(_.stage).values.map { st =>
        val r = st.map(_.readRecords).sorted
        r.last.toDouble / r(r.size / 2).max(1L)
      }.foldLeft(0.0)(math.max)
      Window(jobs - m.jobs, stages - m.stages, ts.size, ts.map(_.runMs).sum / 1000.0,
        ts.map(_.gcMs).sum / 1000.0, ts.map(_.readBytes).sum / mb,
        ts.map(_.writeBytes).sum / mb, ts.map(_.spill).sum / mb,
        ts.map(_.peakMem).foldLeft(0L)(math.max) / mb,
        ts.map(_.inBytes).sum, ts.map(_.outBytes).sum, skew,
        qs.map(_.analysis).sum, qs.map(_.optimization).sum, qs.map(_.planning).sum,
        qs.map(_.objectNodes).sum, qs.filter(_.write).map(_.durationNs / 1e9),
        (CodeGenerator.compileTime - m.compileNs) / 1e6,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - m.classes)
    }
  }

  def window[T](f: => T): (T, Window) = { val m = mark(); val r = f; (r, since(m)) }

  /** Largest generated method seen by this JVM, in bytecode bytes. */
  def maxMethodBytes: Long = CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax
}
