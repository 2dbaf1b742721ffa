package perfbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchBus
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Spark's layers as seen from outside, for the traced run.
  *
  * Each traced call sets the local property [[Tracer.Key]] to
  * `<call id>/<phase>` around its build and consume phases; a job carries
  * the property, so jobs, their stages and their tasks are attributed to
  * calls exactly, never by time window. Query executions carry no local
  * property: the client drains the listener bus after every traced call,
  * so each execution event is processed while [[current]] still names the
  * call that ran it. Executions are read off the SQL execution end events
  * on the listener bus, which carry those of every session, including the
  * child sessions some queries run in.
  *
  * Listener callbacks run on the bus thread; every read and write of the
  * recorded state holds this object's lock.
  */
final class Tracer extends SparkListener {
  import Tracer._

  @volatile var current: Int = -1

  private val jobs = ArrayBuffer.empty[JobSpan]
  private val stageCall = mutable.Map.empty[Int, Int]
  private val counters = mutable.Map.empty[Int, Counters]
  private val unattributed = new java.util.concurrent.atomic.AtomicInteger

  private def acc(call: Int): Counters = counters.getOrElseUpdate(call, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))) match {
      case Some(tag) =>
        val Array(call, phase) = tag.split('/')
        jobs += JobSpan(e.jobId, call.toInt, phase, e.time, -1L)
        e.stageIds.foreach(stageCall(_) = call.toInt)
      case None => unattributed.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageCall.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageCall.get(e.stageId).foreach { call =>
      val c = acc(call)
      c.tasks += 1
      c.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty) += e.taskInfo.duration
      Option(e.taskMetrics).foreach { m =>
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd => PerfbenchBus.namedExecution(end).foreach { qe =>
      synchronized {
        val c = acc(current)
        c.actions += 1
        val phases = qe.tracker.phases
        def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
    case _ =>
  }

  def jobsOf(call: Int): Seq[JobSpan] = synchronized(jobs.filter(_.call == call).toList)
  def countersOf(call: Int): Counters = synchronized(acc(call))
  def unattributedJobs: Int = unattributed.get
}

object Tracer {
  val Key = "perfbench.span"

  final case class JobSpan(id: Int, call: Int, phase: String, start: Long, var end: Long)

  final class Counters {
    var actions, stages, tasks = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    var runMs, cpuNs, gcMs = 0L
    var inputBytes, inputRows, shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, spillBytes = 0L
    val taskMs = mutable.Map.empty[Int, ArrayBuffer[Long]]

    /** Slowest over median task time of the worst stage with 2+ tasks;
      * 1 when no stage ran more than one task. */
    def taskSkew: Double = {
      val ratios = taskMs.values.filter(_.size >= 2).map { ts =>
        val sorted = ts.sorted
        val med = sorted(sorted.size / 2).toDouble
        if (med > 0) sorted.last / med else 1.0
      }
      if (ratios.isEmpty) 1.0 else ratios.max
    }
  }

  /** Length of the part of [start, end] covered by the union of `spans`. */
  def covered(start: Double, end: Double, spans: Seq[(Double, Double)]): Double = {
    val clipped = spans.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
