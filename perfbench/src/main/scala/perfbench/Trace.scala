package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters read at layer boundaries in a traced run. One instance is
  * registered as a SparkListener (scheduler and exec) and as a
  * QueryExecutionListener (catalyst phases of the output query, sink
  * writes); [[StreamTrace]] collects micro-batch progress.
  *
  * Listener events arrive on Spark's asynchronous bus, so readers call
  * [[settle]] before taking a snapshot; every event carries its own
  * timestamp, so durations do not depend on delivery time. */
final class Trace(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {

  val jobs, stages, tasks = new AtomicLong
  val taskMs, shuffleBytes, spillBytes = new AtomicLong
  /** (start, end) of every finished job, in the order they finished. */
  private val jobSpans = new ConcurrentLinkedQueue[(Long, Long)]()
  private val jobSpansSeen = new AtomicLong
  /** Analysis + optimization + planning of the complete-output (noop)
    * queries, in nanoseconds. */
  val outputPlanNs = new AtomicLong
  /** Time of writes into the engine's sink directories, nanoseconds. */
  val sinkWriteNs = new AtomicLong
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    if (t0 != null) {
      jobSpans.add((t0.longValue, e.time))
      jobSpansSeen.incrementAndGet()
    }
  }

  /** Wall time covered by the jobs that finished between two snapshots:
    * the union of their spans, since jobs of one query can overlap. */
  def jobWallMs(from: Trace.Snap, to: Trace.Snap): Long =
    jobSpans.asScala.slice(from.jobSpans.toInt, to.jobSpans.toInt).toSeq
      .sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((covered, reach), (s, e)) =>
        (covered + math.max(0L, e - math.max(s, reach)), math.max(reach, e))
      }._1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = observe(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  private def observe(qe: QueryExecution, durationNs: Long): Unit = {
    val plan = qe.analyzed
    val isNoop = plan match {
      case w: V2WriteCommand => w.table match {
        case r: DataSourceV2Relation => r.table.getClass.getName.contains(".noop.")
        case _ => false
      }
      case _ => false
    }
    if (isNoop) {
      val phases = qe.tracker.phases.values.map(_.durationMs).sum
      outputPlanNs.addAndGet(phases * 1000000L)
    } else if (plan.getClass.getName.contains("command") &&
        plan.simpleString(8).contains("graft_")) {
      sinkWriteNs.addAndGet(durationNs)
    }
  }

  /** Wait until every posted listener event has been delivered. */
  def settle(): Unit = org.apache.spark.perfbenchbridge.Bus.drain(sc)

  def snapshot(): Trace.Snap = {
    settle()
    Trace.Snap(jobs.get, stages.get, tasks.get, jobSpansSeen.get, taskMs.get,
      shuffleBytes.get, spillBytes.get, outputPlanNs.get, sinkWriteNs.get,
      Trace.gcMs(), Trace.codegenCompiles())
  }
}

object Trace {
  /** Counter readings; `jobSpans` is a position in the job-span log. */
  final case class Snap(jobs: Long, stages: Long, tasks: Long,
      jobSpans: Long, taskMs: Long, shuffleBytes: Long, spillBytes: Long,
      outputPlanNs: Long, sinkWriteNs: Long, gcMs: Long, compiles: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, jobSpans - o.jobSpans, taskMs - o.taskMs,
      shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
      outputPlanNs - o.outputPlanNs, sinkWriteNs - o.sinkWriteNs,
      gcMs - o.gcMs, compiles - o.compiles)
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Whole-stage and expression classes compiled by Janino so far. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Micro-batch progress as the streaming engine reports it. */
final class StreamTrace extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
