package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job credited to an operation. Times are epoch ms. */
final class JobSpan(val jobId: Int, val startMs: Long, val callSite: String) {
  @volatile var endMs: Long = -1L
  var stages, tasks = 0
  var taskRunMs, taskCpuMs, taskGcMs, schedDelayMs = 0.0
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var inputBytes, inputRows = 0L
}

/** One query execution (a Dataset action) seen during an operation. */
final case class QuerySpan(funcName: String, analysisMs: Double,
                           optimizerMs: Double, planningMs: Double,
                           exchanges: Int, scanFiles: Long, scanBytes: Long,
                           scanRows: Long, readsMatviewState: Boolean)

/** One harness operation: the span whose children are its Spark jobs and
  * its queries' planning phases. `attrs` holds numbers the operation's
  * own body measured (e.g. time inside a front-door call) and numbers
  * the workload read off disk around it (e.g. bytes a tx wrote). */
final class OpSpan(val index: Int, val kind: String, val name: String,
                   val occurrence: Int) {
  var startMs = 0L           // epoch ms at start, for clipping job times
  var wallMs = 0.0           // System.nanoTime based
  var traced = false
  var error: Option[String] = None
  val jobs = ArrayBuffer.empty[JobSpan]
  val queries = ArrayBuffer.empty[QuerySpan]
  val attrs = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  var driverGcMs = 0.0

  def endMs: Double = startMs + wallMs
  def opType: String = OpSpan.opType(kind, name)

  /** The op's self time: the wall not covered by any of its jobs. */
  def driverGapMs: Double = Stats.selfTime(startMs.toDouble, endMs,
    jobs.toSeq.filter(_.endMs >= 0).map(j => (j.startMs.toDouble, j.endMs.toDouble)))

  /** Union of this op's job intervals, clipped to the op's own window. */
  def jobBusyMs: Double = wallMs - driverGapMs

  def sumJobs(f: JobSpan => Double): Double = jobs.iterator.map(f).sum

  /** Wall time of the jobs whose call site matches `frame`, first start to
    * last end (0 when none ran): the time one engine phase took. */
  def phaseMs(frame: String): Double = {
    val js = jobs.filter(j => j.callSite.contains(frame) && j.endMs >= 0)
    if (js.isEmpty) 0.0 else (js.map(_.endMs).max - js.map(_.startMs).min).toDouble
  }
  def phaseJobs(frame: String): Int = jobs.count(_.callSite.contains(frame))
}

object OpSpan {
  /** The type counters and the trace toggle key on: the kind, or for
    * catalog queries the entry itself. */
  def opType(kind: String, name: String): String =
    if (kind == "query") s"query.$name" else kind
}

object PlanStats extends AdaptiveSparkPlanHelper {
  def of(funcName: String, qe: QueryExecution): QuerySpan = {
    val plan = qe.executedPlan
    val phases = qe.tracker.phases
    def phase(n: String) = phases.get(n).map(_.durationMs.toDouble).getOrElse(0.0)
    val scans = collectWithSubqueries(plan) { case f: FileSourceScanExec => f }
    def metric(f: FileSourceScanExec, m: String): Long =
      f.metrics.get(m).map(_.value).getOrElse(0L)
    val exchanges = collectWithSubqueries(plan) { case e: ShuffleExchangeLike => e }
    QuerySpan(funcName, phase("analysis"), phase("optimization"),
      phase("planning"), exchanges.size,
      scans.map(metric(_, "numFiles")).sum,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum,
      scans.exists(_.relation.location.rootPaths
        .exists(_.toString.contains("matview"))))
  }
}

/** Per-layer attribution from Spark's own listeners. Jobs are credited to
  * the operation named in the job-local property [[Tracer.OpProperty]],
  * which [[begin]] sets on the client thread; tasks reach their op through
  * their stage's job. Query executions (planning phases, exchanges, scan
  * metrics) are credited to the op open when they are delivered — exact,
  * because [[end]] drains the listener bus before it closes the op. */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val ops = new ConcurrentHashMap[String, OpSpan]()
  private val stageToJob = new ConcurrentHashMap[Int, JobSpan]()
  private val jobsById = new ConcurrentHashMap[Int, JobSpan]()
  @volatile private var open: OpSpan = null
  /** jobs started while an op was open but carrying another op's id (a
    * thread that inherited the property from an earlier op) or none;
    * credited to the op open at the time */
  @volatile var strayJobs = 0
  /** time spent inside this tracer's callbacks, on the listener bus */
  @volatile var callbackNs = 0L

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    callbackNs += System.nanoTime() - t0
  }

  sc.addSparkListener(this)
  spark.listenerManager.register(this)

  def begin(op: OpSpan): Unit = {
    Bus.drain(sc)
    op.traced = true
    ops.put(op.index.toString, op)
    open = op
    sc.setLocalProperty(OpProperty, op.index.toString)
  }

  /** Close the op opened by [[begin]] once all of its events are in. */
  def end(op: OpSpan): Unit = {
    sc.setLocalProperty(OpProperty, null)
    Bus.drain(sc)
    open = null
  }

  def detach(): Unit = {
    Bus.drain(sc)
    sc.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(OpProperty)))
    val cur = open
    val target = id.flatMap(i => Option(ops.get(i))) match {
      case Some(op) if cur != null && (op eq cur) => Some(op)
      case Some(_) if cur != null => strayJobs += 1; Some(cur)
      case Some(op) => Some(op)
      case None if cur != null => strayJobs += 1; Some(cur)
      case None => None
    }
    target.foreach { op =>
      val site = e.stageInfos.headOption.map(_.details).getOrElse("")
      val j = new JobSpan(e.jobId, e.time, site)
      e.stageIds.foreach(stageToJob.put(_, j))
      jobsById.put(e.jobId, j)
      op.synchronized { op.jobs += j }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobsById.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    Option(stageToJob.get(e.stageInfo.stageId)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    Option(stageToJob.get(e.stageId)).foreach { j =>
      val m = e.taskMetrics
      j.tasks += 1
      if (m != null) {
        j.taskRunMs += m.executorRunTime
        j.taskCpuMs += m.executorCpuTime / 1e6
        j.taskGcMs += m.jvmGCTime
        j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRows += m.inputMetrics.recordsRead
        val i = e.taskInfo
        if (i != null && i.finished) {
          val d = i.duration - m.executorRunTime - m.executorDeserializeTime -
            m.resultSerializationTime - i.gettingResultTime
          j.schedDelayMs += math.max(0L, d)
        }
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = timed {
    val cur = open
    if (cur != null) {
      val q = PlanStats.of(funcName, qe)
      cur.synchronized { cur.queries += q }
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object Tracer {
  val OpProperty = "perfbench.op"
}
