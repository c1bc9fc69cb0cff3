package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side counters, read from outside the program: a SparkListener
  * and a QueryExecutionListener registered on the benchmark's own session.
  * Untraced runs keep only the per-task execution-memory peak; traced runs
  * also keep every job, task and query so a time window can be split by
  * the module whose code submitted each job.
  */
final class Engine(sc: SparkContext, detailed: Boolean)
    extends SparkListener with QueryExecutionListener {
  import Engine._

  val peakTaskMem = new AtomicLong(0L)
  private val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val queries = new ConcurrentLinkedQueue[QueryRec]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  private val execLayers = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  sc.addSparkListener(this)

  /** Drain the asynchronous listener bus, so every event of work that has
    * finished is counted before a window is read.
    */
  def flush(): Unit = org.apache.spark.graft.BusFlush.flush(sc)

  def resetPeak(): Unit = { flush(); peakTaskMem.set(0L) }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (detailed) {
    val result = e.stageInfos.maxBy(_.stageId)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    jobs.add(JobRec(e.jobId, e.time, layerOf(result.details), result.name,
      e.stageInfos.map(_.stageId).toSet, exec))
  }

  /** SQL executions carry the call site of the thread that started them;
    * jobs the engine submits from its own threads (broadcasts, subqueries,
    * file writes) inherit their module from it.
    */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart if detailed =>
      execLayers.put(s.executionId, layerOf(s.details))
    case _ =>
  }

  private def resolved(j: JobRec): JobRec =
    if (j.layer != "spark") j
    else j.copy(layer = Option(execLayers.get(j.execId)).getOrElse("spark"))

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (detailed) jobEnds.put(e.jobId, e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      peakTaskMem.getAndAccumulate(m.peakExecutionMemory, Math.max(_, _))
      if (detailed) tasks.add(TaskRec(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (detailed) {
      val phases = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum
      queries.add(QueryRec(System.currentTimeMillis(), planMs / 1000.0, durationNs / 1e9))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Every job recorded so far, one JSON object a line. */
  def jobsJson: String = {
    flush()
    jobs.asScala.toVector.sortBy(_.id).map(resolved).map { j =>
      val end = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(j.startMs)
      s"""{"job":${j.id},"layer":"${j.layer}","call_site":"${j.callSite}",""" +
        s""""start_ms":${j.startMs},"end_ms":$end}"""
    }.mkString("", "\n", "\n")
  }

  /** Everything recorded with a timestamp in `[fromMs, toMs]`. */
  def window(fromMs: Long, toMs: Long): Window = {
    flush()
    val js = jobs.asScala.filter(j => j.startMs >= fromMs && j.startMs <= toMs).toVector
      .map(resolved).map(j => j.copy(endMs = Option(jobEnds.get(j.id)).map(_.longValue).getOrElse(toMs)))
    val ts = tasks.asScala.filter(t => t.launchMs >= fromMs && t.launchMs <= toMs).toVector
    val qs = queries.asScala.filter(q => q.endMs >= fromMs && q.endMs <= toMs).toVector
    Window(fromMs, toMs, js, ts, qs)
  }
}

object Engine {
  final case class JobRec(id: Int, startMs: Long, layer: String, callSite: String,
                          stages: Set[Int], execId: Long, endMs: Long = 0L)
  final case class TaskRec(stage: Int, launchMs: Long, finishMs: Long, runMs: Long,
                           gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long)
  final case class QueryRec(endMs: Long, planS: Double, execS: Double)

  /** The module a job belongs to: the package of the first program frame
    * (`graft.<module>.…`) in the job's long call site; `bench` when the
    * benchmark's own code submitted it.
    */
  def layerOf(callSite: String): String = {
    val frame = raw"(?m)^(graftbench|graft)\.([a-z]+)?".r
    frame.findFirstMatchIn(callSite).map { m =>
      if (m.group(1) == "graftbench") "bench" else Option(m.group(2)).getOrElse("graft")
    }.getOrElse("spark")
  }

  final case class Window(fromMs: Long, toMs: Long, jobs: Vector[JobRec],
                          tasks: Vector[TaskRec], queries: Vector[QueryRec]) {
    def wallS: Double = math.max(toMs - fromMs, 1L) / 1000.0
    private lazy val stageLayer: Map[Int, String] =
      jobs.flatMap(j => j.stages.map(_ -> j.layer)).toMap
    def jobsOf(layer: String): Int = jobs.count(_.layer == layer)
    /** Summed executor run time of the tasks of `layer`'s jobs, seconds. */
    def stageSecondsOf(layer: String): Double =
      tasks.filter(t => stageLayer.get(t.stage).contains(layer)).map(_.runMs).sum / 1000.0

    /** The `spark.*` layer metrics for this window. */
    def sparkMetrics: Seq[(String, Double, String)] = {
      val runS = tasks.map(_.runMs).sum / 1000.0
      val busyMs = unionLength(tasks.map(t => (t.launchMs, t.finishMs)))
      val skew = tasks.groupBy(_.stage).values.filter(_.size >= 2).map { ts =>
        val d = ts.map(t => (t.finishMs - t.launchMs).toDouble).sorted
        d.last / math.max(d(d.size / 2), 1.0)
      }.maxOption.getOrElse(1.0)
      val mb = 1024.0 * 1024.0
      Seq(
        ("spark.jobs", jobs.size.toDouble, "count"),
        ("spark.tasks", tasks.size.toDouble, "count"),
        ("spark.busy_cores", runS / wallS, "cores"),
        ("spark.idle_frac", 1.0 - busyMs / 1000.0 / wallS, "fraction"),
        ("spark.shuffle_read_mb", tasks.map(_.shuffleRead).sum / mb, "MB"),
        ("spark.shuffle_write_mb", tasks.map(_.shuffleWrite).sum / mb, "MB"),
        ("spark.spill_mb", tasks.map(_.spill).sum / mb, "MB"),
        ("spark.gc_s", tasks.map(_.gcMs).sum / 1000.0, "s"),
        ("spark.task_skew", skew, "ratio"))
    }
  }

  /** Total length of the union of `[start, end]` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
