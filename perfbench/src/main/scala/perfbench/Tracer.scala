package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. `parent` is -1 for a root (pass) span. */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long,
    attrs: Seq[(String, Any)] = Nil) {
  def json: String = {
    val a = attrs.map { case (k, v) =>
      val vs = v match {
        case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
        case other => other.toString
      }
      s""""$k":$vs"""
    }.mkString(",")
    s"""{"id":$id,"parent":$parent,"name":"$name","start_ms":$startMs,"end_ms":$endMs,""" +
      s""""attrs":{$a}}"""
  }
}

/** Everything Spark reported for one op, filled by the listeners. */
final class OpTrace(val pass: Int, val kind: String) {
  var startMs = 0L
  var endMs = 0L
  /** jobId -> (start, end) */
  val jobs = mutable.LinkedHashMap[Int, Array[Long]]()
  /** stageId -> (jobId, submitted, completed, leaf); a stage a job skipped
    * keeps submitted = 0
    */
  val stages = mutable.LinkedHashMap[Int, Array[Long]]()
  var tasks = 0L
  var schedDelayMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var leafRunMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var peakMemB = 0L
  var planMs = 0L
  var planStart = Long.MaxValue
  var planEnd = 0L
  var filesListed = 0L
  var filesPlanned = 0L

  def wallMs: Long = endMs - startMs

  /** Op wall time covered by no job: the driver's own share. */
  def driverGapMs: Long = {
    val ivs = jobs.values.map(a => (math.max(a(0), startMs), math.min(a(1), endMs)))
      .filter { case (s, e) => e > s }.toSeq.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    ivs.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, wallMs - covered)
  }

  /** From the last job's end until the op returned (a write's commit). */
  def commitMs: Long =
    if (jobs.isEmpty) 0L else math.max(0L, endMs - jobs.values.map(_(1)).max)
}

/** Records spans and Spark's counters around each op, using only public
  * hooks: a `SparkListener` for jobs, stages and tasks and a
  * `QueryExecutionListener` for planning phases and scan metrics. GC time
  * comes from the JVM ([[JvmProbe]]): in local mode executors share it.
  * Spans stay in memory until [[spansJson]] writes them out.
  */
final class Tracer(spark: SparkSession) {
  @volatile private var current: OpTrace = null
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private var passSpan = -1
  private var passStart = 0L
  val ops = mutable.ArrayBuffer[OpTrace]()

  private def newId(): Int = { nextId += 1; nextId }

  private object Plans extends AdaptiveSparkPlanHelper

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = withOp { t =>
      t.jobs(e.jobId) = Array(e.time, e.time)
      e.stageInfos.foreach { s =>
        if (!t.stages.contains(s.stageId))
          t.stages(s.stageId) = Array(e.jobId.toLong, 0L, 0L, if (s.parentIds.isEmpty) 1L else 0L)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = withOp { t =>
      t.jobs.get(e.jobId).foreach(_(1) = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = withOp { t =>
      val si = e.stageInfo
      val a = t.stages.getOrElseUpdate(si.stageId,
        Array(-1L, 0L, 0L, if (si.parentIds.isEmpty) 1L else 0L))
      a(1) = si.submissionTime.getOrElse(0L)
      a(2) = si.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = withOp { t =>
      val m = e.taskMetrics
      val info = e.taskInfo
      t.tasks += 1
      if (m != null) {
        t.runMs += m.executorRunTime
        t.cpuNs += m.executorCpuTime
        t.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
        t.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        t.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        t.peakMemB = math.max(t.peakMemB, m.peakExecutionMemory)
        if (t.stages.get(e.stageId).exists(_(3) == 1L)) t.leafRunMs += m.executorRunTime
        // the scheduler-delay rule of Spark's own UI
        val dur = info.finishTime - info.launchTime
        t.schedDelayMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResultTime > 0)
            info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      withOp { t =>
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").flatMap(phases.get).foreach { p =>
          t.planMs += p.durationMs
          t.planStart = math.min(t.planStart, p.startTimeMs)
          t.planEnd = math.max(t.planEnd, p.endTimeMs)
        }
        Plans.collectWithSubqueries(qe.executedPlan) { case b: BatchScanExec => b }
          .filter(_.scan.getClass.getName.contains("Colf")).foreach { b =>
            t.filesListed += b.metrics.get("colfFilesListed").map(_.value).getOrElse(0L)
            t.filesPlanned += b.metrics.get("colfFilesPlanned").map(_.value).getOrElse(0L)
          }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def withOp(f: OpTrace => Unit): Unit = {
    val t = current
    if (t != null) t.synchronized(f(t))
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def beginPass(): Unit = {
    passSpan = newId()
    passStart = System.currentTimeMillis()
  }

  def endPass(pass: Int, workload: String): Unit =
    spans += Span(passSpan, -1, s"pass.$workload", passStart, System.currentTimeMillis(),
      Seq("pass" -> pass))

  /** Runs one op with its events attributed to it, then records its spans. */
  def op[T](pass: Int, kind: String)(body: => T): T = {
    val t = new OpTrace(pass, kind)
    PerfbenchBus.drain(spark.sparkContext)
    current = t
    t.startMs = System.currentTimeMillis()
    try body
    finally {
      t.endMs = System.currentTimeMillis()
      PerfbenchBus.drain(spark.sparkContext)
      current = null
      ops += t
      record(t)
    }
  }

  private def record(t: OpTrace): Unit = {
    val opId = newId()
    spans += Span(opId, passSpan, s"op.${t.kind}", t.startMs, t.endMs,
      Seq("self_ms" -> t.driverGapMs, "jobs" -> t.jobs.size, "tasks" -> t.tasks,
        "files_listed" -> t.filesListed, "files_planned" -> t.filesPlanned))
    if (t.planEnd > 0)
      spans += Span(newId(), opId, "plan", t.planStart, t.planEnd, Seq("plan_ms" -> t.planMs))
    val jobSpan = t.jobs.map { case (j, a) =>
      val id = newId()
      spans += Span(id, opId, "job", a(0), a(1), Seq("job_id" -> j))
      j -> id
    }
    t.stages.foreach { case (s, a) =>
      if (a(1) > 0)
        spans += Span(newId(), jobSpan.getOrElse(a(0).toInt, opId), "stage", a(1), a(2),
          Seq("stage_id" -> s, "leaf" -> (a(3) == 1L)))
    }
    if (Set("append", "merge", "delete", "compact")(t.kind) && t.jobs.nonEmpty)
      spans += Span(newId(), opId, "commit", t.endMs - t.commitMs, t.endMs)
  }

  def spansJson: String = spans.map(_.json).mkString("[\n", ",\n", "\n]")
}

/** Whole-JVM counters over an interval: GC time, CPU time and peak heap. */
final class JvmProbe {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private var gc0 = 0L
  private var cpu0 = 0L
  private var wall0 = 0L

  private def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum

  def start(): Unit = {
    heapPools.foreach(_.resetPeakUsage())
    gc0 = gcMs
    cpu0 = os.getProcessCpuTime
    wall0 = System.nanoTime()
  }

  /** (gc ms, peak heap MB, cpu s, cpu utilisation over all cores) */
  def stop(): (Double, Double, Double, Double) = {
    val wall = (System.nanoTime() - wall0) / 1e9
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    val peak = heapPools.map(_.getPeakUsage.getUsed).sum / 1e6
    (gcMs - gc0, peak, cpu, cpu / (wall * Runtime.getRuntime.availableProcessors()))
  }
}
