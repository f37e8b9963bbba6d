package graftbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recording from outside the engine, for the traced run.
  *
  * Everything here rides Spark's public instrumentation: a
  * [[SparkListener]] for jobs, stages and tasks, a
  * [[QueryExecutionListener]] for planning phases and scan metrics. The
  * records stay in memory; [[Tracer.spans]] turns them into a span tree
  * (operation → job → stage) at the end of the run. The recorder installs
  * the tracer around one operation at a time and drains the listener bus
  * before removing it, so every query recorded belongs to the operation
  * named by `op`. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  /** The operation currently traced. */
  @volatile var op: Int = -1

  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Option[Long], Seq[Int])]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val stages = new ConcurrentLinkedQueue[Stage]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, TaskAgg]()
  val queries = new ConcurrentLinkedQueue[Query]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val batch = Option(e.properties)
      .flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .flatMap(_.toLongOption)
    jobStarts.put(e.jobId, (e.time, batch, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStarts.remove(e.jobId)
    if (s != null) jobs.add(Job(e.jobId, s._1, e.time, s._2, s._3))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskAgg.computeIfAbsent(e.stageId, _ => new TaskAgg).add(
      m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val agg = Option(taskAgg.remove(i.stageId)).getOrElse(new TaskAgg)
    for (s <- i.submissionTime; c <- i.completionTime)
      stages.add(Stage(i.stageId, s, c, agg.tasks, agg.runMs, agg.cpuMs,
        agg.gcMs, agg.shuffleWrite, agg.shuffleRead, agg.spill))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    val planning = phases.values.map(_.durationMs).sum
    val scans = leaves(qe.executedPlan)
    def metric(name: String): Long = scans.iterator.flatMap(_.metrics.get(name)).map(_.value).sum
    queries.add(Query(op, planning, durationNs / 1000000L, scans.map(filesRead).sum,
      metric("numOutputRows")))
  }

  /** Listener events arrive on Spark's listener bus, after the action that
    * caused them returns. Wait until the record counts stop moving. */
  def drain(): Unit = {
    var last = -1
    var stable = 0
    while (stable < 3) {
      Thread.sleep(50)
      val n = jobs.size + stages.size + queries.size + jobStarts.size
      if (n == last && jobStarts.isEmpty) stable += 1 else stable = 0
      last = n
    }
  }
}

object Tracer {
  final case class Job(id: Int, start: Long, end: Long, batchId: Option[Long],
      stageIds: Seq[Int])
  final case class Stage(id: Int, start: Long, end: Long, tasks: Long,
      runMs: Long, cpuMs: Long, gcMs: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long)
  final case class Query(op: Int, planningMs: Long, durationMs: Long,
      filesRead: Long, rowsScanned: Long)

  final class TaskAgg {
    var tasks, runMs, cpuMs, gcMs, shuffleWrite, shuffleRead, spill = 0L
    def add(run: Long, cpu: Long, gc: Long, sw: Long, sr: Long, sp: Long): Unit =
      synchronized {
        tasks += 1; runMs += run; cpuMs += cpu; gcMs += gc
        shuffleWrite += sw; shuffleRead += sr; spill += sp
      }
  }

  /** Leaves of an executed plan, looking through adaptive execution
    * wrappers and query stages to the final scans. */
  def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => leaves(a.executedPlan)
    case q: QueryStageExec => leaves(q.plan)
    case other if other.children.isEmpty => Seq(other)
    case other => other.children.flatMap(leaves)
  }

  /** Files a scan read: the file source's own metric, or the files in the
    * input partitions of a DataSource V2 scan over files. */
  def filesRead(scan: SparkPlan): Long = scan match {
    case b: BatchScanExec => b.inputPartitions.map {
      case fp: FilePartition => fp.files.length.toLong
      case _ => 1L
    }.sum
    case other => other.metrics.get("numFiles").map(_.value).getOrElse(0L)
  }

  def install(spark: SparkSession, t: Tracer): Unit = {
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
  }

  def uninstall(spark: SparkSession, t: Tracer): Unit = {
    spark.listenerManager.unregister(t)
    spark.sparkContext.removeSparkListener(t)
  }

  /** One node of the span tree written at the end of a traced run. */
  final case class Span(id: String, parent: Option[String], kind: String,
      name: String, start: Long, end: Long, selfMs: Long) {
    def json: String =
      s"""{"id":"$id","parent":${parent.map(p => "\"" + p + "\"").getOrElse("null")},""" +
        s""""kind":"$kind","name":"$name","start":$start,"end":$end,""" +
        s""""dur_ms":${end - start},"self_ms":$selfMs}"""
  }

  /** Build the operation → job → stage span tree. Self time is a span's
    * duration minus the part its children cover. */
  def spans(ops: Seq[(Stats.OpWindow, String)], byOp: Map[Int, Seq[Job]],
      stagesById: Map[Int, Stage]): Seq[Span] =
    ops.flatMap { case (w, name) =>
      val js = byOp.getOrElse(w.op, Nil)
      val opId = s"op${w.op}"
      val opSpan = Span(opId, None, "op", name, w.start, w.end,
        Stats.uncovered((w.start, w.end), js.map(j => (j.start, j.end))))
      opSpan +: js.flatMap { j =>
        val ss = j.stageIds.flatMap(stagesById.get)
        val jobId = s"job${j.id}"
        Span(jobId, Some(opId), "job", s"job ${j.id}", j.start, j.end,
          Stats.uncovered((j.start, j.end), ss.map(s => (s.start, s.end)))) +:
          ss.map(s => Span(s"stage${s.id}", Some(jobId), "stage",
            s"stage ${s.id}", s.start, s.end, s.end - s.start))
      }
    }
}
