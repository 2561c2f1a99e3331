package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A Spark job as seen by the listener; attributed to a benchmark
  * operation through its job group, description and streaming batch id. */
final class JobRec(val id: Int, val group: String, val desc: String, val batchId: String,
                   val startMs: Long, val stageIds: Seq[Int]) {
  @volatile var endMs: Long = startMs
}

/** One stage's task totals (attempt 0 and any retries folded together). */
final class StageRec(val id: Int, val numTasks: Int, val parents: Seq[Int]) {
  var submitMs = -1L
  var doneMs = -1L
  var firstLaunchMs = Long.MaxValue
  var tasks = 0
  var taskFailures = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var input = 0L
}

/** A QueryExecution's planning phases (QueryPlanningTracker), wall ms. */
final case class QeRec(func: String, phases: Map[String, (Long, Long)]) {
  def startMs: Long = phases.values.map(_._1).min
  def endMs: Long = phases.values.map(_._2).max
  def ms(phase: String): Double = phases.get(phase).map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)
}

/** Totals of Spark execution for one benchmark operation. */
final case class ExecStats(jobs: Int, stages: Int, stagesSkipped: Int, tasks: Int,
                           runS: Double, cpuS: Double, gcS: Double, waitS: Double,
                           shuffleReadB: Long, shuffleWriteB: Long, spillB: Long, inputB: Long,
                           taskFailures: Int, jobUnionS: Double, rootTasks: Int)

/** Listener state of a traced run. Recording is gated by `on`, which the
  * runs flip per operation so that traced and untraced operations
  * alternate within one run; `flush` drains Spark's asynchronous listener
  * bus at each operation boundary so no event crosses into the next. */
final class Trace(sc: SparkContext) extends SparkListener {
  @volatile var on = false
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentHashMap[Int, StageRec]()
  val qes = new ConcurrentLinkedQueue[QeRec]()

  sc.addSparkListener(this)
  Trace.active = this

  def flush(): Unit = org.apache.spark.perfbench.Bus.flush(sc)

  private def prop(p: java.util.Properties, k: String): String =
    Option(p).flatMap(x => Option(x.getProperty(k))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    jobs.put(e.jobId, new JobRec(e.jobId, prop(e.properties, "spark.jobGroup.id"),
      prop(e.properties, "spark.job.description"), prop(e.properties, "streaming.sql.batchId"),
      e.time, e.stageIds))
    e.stageInfos.foreach(si =>
      stages.putIfAbsent(si.stageId, new StageRec(si.stageId, si.numTasks, si.parentIds)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      if (s.submitMs < 0) s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach { s =>
      s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stages.get(e.stageId)).foreach { s =>
      s.tasks += 1
      s.firstLaunchMs = math.min(s.firstLaunchMs, e.taskInfo.launchTime)
      if (!e.taskInfo.successful) s.taskFailures += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }

  def jobsWhere(p: JobRec => Boolean): Seq[JobRec] =
    jobs.values.asScala.filter(p).toSeq.sortBy(_.id)

  def qesIn(startMs: Long, endMs: Long): Seq[QeRec] =
    qes.asScala.filter(q => q.startMs >= startMs && q.startMs <= endMs).toSeq

  def exec(js: Seq[JobRec]): ExecStats = {
    val ss = js.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
    val ran = ss.filter(_.submitMs >= 0)
    ExecStats(
      jobs = js.size, stages = ss.size, stagesSkipped = ss.size - ran.size,
      tasks = ran.map(_.tasks).sum,
      runS = ran.map(_.runMs).sum / 1e3, cpuS = ran.map(_.cpuNs).sum / 1e9,
      gcS = ran.map(_.gcMs).sum / 1e3,
      waitS = ran.filter(_.firstLaunchMs != Long.MaxValue)
        .map(s => math.max(0L, s.firstLaunchMs - s.submitMs)).sum / 1e3,
      shuffleReadB = ran.map(_.shuffleRead).sum, shuffleWriteB = ran.map(_.shuffleWrite).sum,
      spillB = ran.map(_.spill).sum, inputB = ran.map(_.input).sum,
      taskFailures = ran.map(_.taskFailures).sum,
      jobUnionS = Trace.unionMs(js.map(j => (j.startMs, j.endMs))) / 1e3,
      rootTasks = ran.filter(_.parents.isEmpty).map(_.tasks).sum)
  }

  /** Job and stage spans under `parent`. */
  def jobSpans(spans: Spans, parent: Int, js: Seq[JobRec]): Unit = js.foreach { j =>
    val jid = spans.add(parent, s"job ${j.id}", "job", j.startMs, j.endMs)
    j.stageIds.flatMap(id => Option(stages.get(id))).filter(s => s.submitMs >= 0 && s.doneMs >= 0)
      .foreach(s => spans.add(jid, s"stage ${s.id}", "stage", s.submitMs, s.doneMs))
  }

  /** Catalyst spans (QueryExecution → analysis/optimization/planning). */
  def qeSpans(spans: Spans, parent: Int, q: QeRec): Unit = {
    val id = spans.add(parent, s"QueryExecution ${q.func}", "catalyst", q.startMs, q.endMs)
    q.phases.foreach { case (ph, (s, e)) => spans.add(id, ph, s"catalyst.$ph", s, e) }
  }
}

object Trace {
  @volatile var active: Trace = _

  def unionMs(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }
}

/** Registered through `spark.sql.queryExecutionListeners`, so child
  * sessions (`newSession()`, used by the iterative operators) report too. */
class QeListener extends QueryExecutionListener {
  private def record(func: String, qe: QueryExecution): Unit =
    Option(Trace.active).filter(_.on).foreach { t =>
      val ph = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      if (ph.nonEmpty) t.qes.add(QeRec(func, ph))
    }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)
}

final case class Span(id: Int, parent: Int, name: String, kind: String, startMs: Long, endMs: Long)

/** In-memory span log of one run; written out with the run record. */
final class Spans {
  private val buf = ArrayBuffer.empty[Span]

  def add(parent: Int, name: String, kind: String, startMs: Long, endMs: Long): Int = {
    buf += Span(buf.size + 1, parent, name, kind, startMs, math.max(startMs, endMs))
    buf.size
  }

  def all: Seq[Span] = buf.toSeq

  /** Each span's duration minus the part of it its children cover,
    * summed per span kind (ms). */
  def selfMsByKind: Map[String, Double] = {
    val kids = buf.groupBy(_.parent)
    buf.toSeq.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = Trace.unionMs(kids.getOrElse(s.id, Nil).toSeq
          .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
          .filter { case (a, b) => b > a })
        (s.endMs - s.startMs) - covered
      }.sum
    }
  }

  def json: Seq[Map[String, Any]] = buf.toSeq.map(s => Json.obj(
    "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
    "start_ms" -> s.startMs, "end_ms" -> s.endMs))
}
