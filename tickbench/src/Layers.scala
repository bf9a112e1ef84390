package tickbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-stage task totals, summed over the stage's finished tasks. */
final class StageTotals {
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  var recordsRead = 0L
}

/** One Spark job: the layer it is charged to and its stages. */
final case class JobSpan(id: Int, layer: String, execId: Long, start: Long, stages: Seq[Int]) {
  @volatile var end: Long = -1L
}

/** One SQL execution as it started: the layer its call site names and
  * its physical plan text. */
final case class SqlStart(id: Long, layer: String, plan: String)

/** One SQL execution as the planner saw it. */
final case class ExecSpan(id: Long, func: String, analysisMs: Long, optimizationMs: Long,
    planningMs: Long, scans: Seq[String], end: Long)

/** Observes Spark from outside the program: a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for planner phases
  * and the files each execution scanned. Handler time is accumulated so
  * the cost of observing shows as its own number.
  */
final class Layers extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentHashMap[Int, JobSpan]()
  val execs = new ConcurrentHashMap[Long, ExecSpan]()
  val sqlStarts = new ConcurrentHashMap[Long, SqlStart]()
  val stageJob = new ConcurrentHashMap[Int, Int]()
  val stageSubmit = new ConcurrentHashMap[Int, Long]()
  val stageEnd = new ConcurrentHashMap[Int, Long]()
  val stageTotals = new ConcurrentHashMap[Int, StageTotals]()
  val handlerNs = new AtomicLong()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally handlerNs.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse("")
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, JobSpan(e.jobId, Layers.layerOf(site), execId, e.time, e.stageIds))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = timed {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.put(s.executionId,
          SqlStart(s.executionId, Layers.layerOf(s.details), s.physicalPlanDescription))
      case _ =>
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    stageSubmit.put(e.stageInfo.stageId,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    stageEnd.put(e.stageInfo.stageId,
      e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val t = stageTotals.computeIfAbsent(e.stageId, _ => new StageTotals)
    val m = e.taskMetrics
    t.synchronized {
      t.tasks += 1
      Option(stageSubmit.get(e.stageId)).foreach { s =>
        t.waitMs += math.max(0L, e.taskInfo.launchTime - s)
      }
      if (m != null) {
        t.cpuNs += m.executorCpuTime
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.outputBytes += m.outputMetrics.bytesWritten
        t.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    timed(record(funcName, qe))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    timed(record(funcName, qe))

  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val scans = Layers.scanRoots(qe)
    execs.put(qe.id, ExecSpan(qe.id, funcName, ms("analysis"), ms("optimization"),
      ms("planning"), scans, System.currentTimeMillis()))
  }

  /** Jobs submitted in [from, to] (wall ms), ended or not. A job whose
    * call site has no `graft.` frame (adaptive execution submits stages
    * from its own threads) takes the layer of its SQL execution's call
    * site.
    */
  def jobsIn(from: Long, to: Long): Seq[JobSpan] =
    jobs.values.asScala.toSeq.filter(j => j.start >= from && j.start <= to).map { j =>
      Option(sqlStarts.get(j.execId)).filter(_ => j.layer == "other") match {
        case Some(s) => val c = j.copy(layer = s.layer); c.end = j.end; c
        case None => j
      }
    }

  def totals(js: Seq[JobSpan]): StageTotals = {
    val sum = new StageTotals
    for (j <- js; s <- j.stages; t <- Option(stageTotals.get(s))) t.synchronized {
      sum.tasks += t.tasks; sum.cpuNs += t.cpuNs; sum.runMs += t.runMs; sum.gcMs += t.gcMs
      sum.waitMs += t.waitMs; sum.shuffleWriteBytes += t.shuffleWriteBytes
      sum.outputBytes += t.outputBytes; sum.recordsRead += t.recordsRead
    }
    sum
  }

  def stagesRun(js: Seq[JobSpan]): Int = js.map(_.stages.count(stageTotals.containsKey)).sum

  /** Wait (bounded) until the listener bus has delivered every job end. */
  def settle(timeoutMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (jobs.values.asScala.exists(_.end < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }
}

object Layers {
  private object Plans extends AdaptiveSparkPlanHelper

  /** Root paths of every file scan in the executed plan. */
  def scanRoots(qe: QueryExecution): Seq[String] =
    try Plans.collect(qe.executedPlan) {
      case s: FileSourceScanExec => s.relation.location.rootPaths.map(_.toString)
    }.flatten
    catch { case _: Throwable => Seq.empty }

  /** The layer a job is charged to: the innermost frame of a layer
    * class (TickStore, Rollup, TickApi, Tables) in its call site, with the
    * store operation the call sits in (a rollup read inside `refresh` is
    * ingest work). Other `graft.` frames name a query module. Attribution
    * by call site needs no request id, so it holds under concurrency.
    */
  def layerOf(site: String): String = {
    val frames = site.linesIterator.map(_.trim).filter(_.startsWith("graft.")).map { f =>
      val qualified = f.takeWhile(_ != '(')
      val raw = qualified.split('.').lastOption.getOrElse("")
      // lambdas show as `$anonfun$ingest$2`: charge them to their method
      (qualified.stripSuffix("." + raw).stripSuffix("$"), raw.stripPrefix("$anonfun$").takeWhile(_ != '$'))
    }.toSeq
    def methods(cls: String*) = frames.filter(f => cls.contains(f._1)).map(_._2)
    frames.find(f => LayerClasses(f._1)) match {
      case Some(("graft.tick.TickStore" | "graft.tick.StoreSource", _)) =>
        val ms = methods("graft.tick.TickStore", "graft.tick.StoreSource")
        if (ms.exists(_.startsWith("ingest"))) "tickstore.post"
        else if (ms.contains("get")) "tickstore.get"
        else "tickstore.other"
      case Some(("graft.tick.Rollup", m)) =>
        val ms = methods("graft.tick.Rollup")
        if (ms.contains("refresh")) "rollup.post"
        else if (ms.contains("materialize")) "rollup.setup"
        else if (m == "read") "rollup.read"
        else "rollup.other"
      case Some(("graft.tick.TickApi", m)) => "api." + m
      case Some(("graft.Tables", _)) => "tables"
      case _ => frames.headOption.map("module." + _._1.stripPrefix("graft.")).getOrElse("other")
    }
  }

  private val LayerClasses = Set("graft.tick.TickStore", "graft.tick.StoreSource",
    "graft.tick.Rollup", "graft.tick.TickApi", "graft.Tables")
}
