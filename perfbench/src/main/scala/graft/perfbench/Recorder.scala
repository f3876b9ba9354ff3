package graft.perfbench

import scala.collection.mutable

import org.apache.spark.perfbench.BusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. `parent` is the id of the enclosing span
  * (-1 for the run span); times are epoch milliseconds. */
final case class Span(id: Int, name: String, op: Int, parent: Int,
                      startMs: Long, endMs: Long, site: String = "")

/** One Spark job: epoch-ms interval, graft module and call-site frame. */
final case class JobRec(startMs: Long, endMs: Long, module: String,
                        site: String)

/** What the listeners saw while one op ran. */
final class OpStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var analysisMs = 0L
  var optimizerMs = 0L
  var physicalMs = 0L
  var queryExecutions = 0
  val jobSpans = mutable.ArrayBuffer.empty[JobRec]
  /** Plan text of every query execution, for the kernel coverage guard. */
  val plans = mutable.ArrayBuffer.empty[String]
}

/** The benchmark's own SparkListener and QueryExecutionListener. Events
  * arrive on Spark's listener bus, so [[take]] first drains the bus; ops
  * run one after another, so everything seen since the previous take
  * belongs to the op that just ended.
  *
  * @param ownModule the module a job is counted in when its call site has
  *                  no graft frame: a job the benchmark starts itself on a
  *                  frame built by that module */
final class Recorder(spark: SparkSession, keepPlans: Boolean = false,
                     ownModule: String = "queries")
    extends SparkListener
    with QueryExecutionListener {

  private var cur = new OpStats
  private val jobStart = mutable.Map.empty[Int, (Long, (String, String))]
  /** Call site of each running SQL execution, by execution id. */
  private val executionSite = mutable.Map.empty[String, String]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Stats of the op that just ended; starts a fresh accumulator. */
  def take(): OpStats = {
    BusAccess.drain(spark.sparkContext)
    synchronized { val s = cur; cur = new OpStats; s }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // A job submitted from a helper thread (broadcast, adaptive stages) has
    // no graft frame of its own; its SQL execution's call site has.
    val site = e.stageInfos.headOption.map(_.details).getOrElse("")
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(executionSite.get)
    jobStart(e.jobId) = (e.time, Recorder.module(site)
      .orElse(execution.flatMap(Recorder.module))
      .getOrElse((ownModule, site.linesIterator.nextOption().getOrElse(""))))
    cur.jobs += 1
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { executionSite(s.executionId.toString) = s.details }
    case s: SparkListenerSQLExecutionEnd =>
      synchronized { executionSite.remove(s.executionId.toString) }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, (m, site)) =>
      cur.jobSpans += JobRec(t0, e.time, m, site)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { cur.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    cur.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      cur.taskRunMs += m.executorRunTime
      cur.taskCpuNs += m.executorCpuTime
      cur.gcMs += m.jvmGCTime
      cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
    val plan = if (keepPlans) qe.executedPlan.toString else ""
    synchronized {
      cur.queryExecutions += 1
      cur.analysisMs += ms("analysis")
      cur.optimizerMs += ms("optimization")
      cur.physicalMs += ms("planning")
      if (keepPlans) cur.plans += plan
    }
  }
}

object Recorder {
  val Modules: Seq[String] =
    Seq("queries", "ops", "jobs", "gen", "streaming", "functions")

  /** (module, frame) of the innermost frame of a graft module in a call
    * site (innermost frame first). */
  def module(callSite: String): Option[(String, String)] =
    callSite.linesIterator.map(_.trim)
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.perfbench."))
      .map(f => (f.split('.')(1), f))
      .find { case (m, _) => Modules.contains(m) }
}
