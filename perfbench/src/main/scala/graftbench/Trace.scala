package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One finished Spark task, reduced to the counters the benchmark reads. */
final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, gcMs: Long, inBytes: Long, inRecs: Long,
    outBytes: Long, outRecs: Long, shuffleRead: Long, shuffleWrite: Long,
    spill: Long)

/** One Spark job with the local properties that say who launched it:
  * the benchmark's span (job group), the SQL execution, or the stream's
  * micro-batch. */
final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    group: String, execId: Long, batchId: Long, stages: Seq[Int])

/** A client-side span around one call into a graft layer. `kind` is "op"
  * for work on the timed path, "read" for point reads beside it and
  * "prefix" for the prefix materializations that split lazy plans. */
final case class Span(id: String, parent: String, layer: String,
    name: String, kind: String, op: Int, startMs: Long, startNs: Long,
    var endMs: Long = 0L, var endNs: Long = 0L) {
  def secs: Double = (endNs - startNs) / 1e9
}

/** Span recorder handed to the workloads. The timed run uses [[NoTrace]],
  * which only runs the body, so the timed path carries no listener and no
  * job-group bookkeeping. */
trait Tracer {
  def span[A](layer: String, name: String, kind: String = "op")(body: => A): A
  /** Sets the operation index that later spans are filed under. */
  def atOp(i: Int): Unit = ()
  def enabled: Boolean = false
}

object NoTrace extends Tracer {
  def span[A](layer: String, name: String, kind: String)(body: => A): A = body
}

/** Records spans on the client thread and every scheduler, SQL and
  * streaming event of the session, all in memory until the pass ends. */
final class Recorder(spark: SparkSession) extends Tracer {
  private val sc = spark.sparkContext
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val execEnd = mutable.Map.empty[Long, Long]
  /** (callback time ms, planning ms from QueryExecution.tracker). */
  val planning = mutable.ArrayBuffer.empty[(Long, Double)]
  val progress =
    mutable.ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var opIdx = -1
  private var seq = 0

  private def prop(p: java.util.Properties, k: String): String =
    if (p == null) null else p.getProperty(k)
  private def longProp(p: java.util.Properties, k: String): Long =
    Option(prop(p, k)).flatMap(_.toLongOption).getOrElse(-1L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time, -1L,
        prop(e.properties, "spark.jobGroup.id"),
        longProp(e.properties, "spark.sql.execution.id"),
        longProp(e.properties, "streaming.sql.batchId"), e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) tasks += TaskRec(e.stageId, e.taskInfo.launchTime,
        e.taskInfo.finishTime, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionEnd =>
        synchronized { execEnd(x.executionId) = x.time }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      Recorder.this.synchronized { planning += ((System.currentTimeMillis(), ms)) }
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized { progress += e.progress }
  }

  /** Registers the three listeners. Streams started afterwards inherit the
    * query-execution listener through their cloned session. */
  def start(): this.type = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    this
  }

  /** Waits for the listener bus to deliver every event, then detaches. */
  def stop(): Unit = {
    org.apache.spark.graftbench.BusDrain(sc)
    spark.streams.removeListener(streamListener)
    spark.listenerManager.unregister(qeListener)
    sc.removeSparkListener(sparkListener)
  }

  override def enabled: Boolean = true
  override def atOp(i: Int): Unit = opIdx = i

  def span[A](layer: String, name: String, kind: String)(body: => A): A = {
    seq += 1
    val parent = stack.headOption
    val s = Span(s"graftbench-$seq", parent.map(_.id).orNull, layer, name,
      parent.map(_.kind).getOrElse(kind), opIdx,
      System.currentTimeMillis(), System.nanoTime())
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobGroup(s.id, s"$layer.$name", interruptOnCancel = false)
    stack.push(s)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.pop()
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevDesc, interruptOnCancel = false)
      synchronized { spans += s }
    }
  }

  // ---- queries over the recorded pass ----

  /** Spans of `kind`, optionally restricted to one layer. */
  def spansOf(kind: String, layer: String = null): Seq[Span] =
    spans.toSeq.filter(s => s.kind == kind && (layer == null || s.layer == layer))

  /** Jobs launched under the span or any of its descendants. */
  def jobsIn(s: Span): Seq[JobRec] = {
    val ids = mutable.Set(s.id)
    var grew = true
    while (grew) {
      val more = spans.filter(c => c.parent != null && ids(c.parent) && !ids(c.id))
      more.foreach(c => ids += c.id)
      grew = more.nonEmpty
    }
    jobs.values.filter(j => j.group != null && ids(j.group)).toSeq
  }

  /** Jobs a stream ran for micro-batches that started inside the span. */
  def streamJobsIn(s: Span): Seq[JobRec] =
    jobs.values.filter(j => j.batchId >= 0 &&
      j.startMs >= s.startMs && j.startMs <= s.endMs).toSeq

  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = {
    val stages = js.flatMap(_.stages).toSet
    tasks.filter(t => stages(t.stageId)).toSeq
  }

  /** Seconds of `[s0, s1]` (epoch ms) covered by the union of intervals. */
  def covered(s0: Long, s1: Long, ivs: Seq[(Long, Long)]): Double = {
    var sum = 0L
    var cur = s0
    ivs.map { case (a, b) => (math.max(a, s0), math.min(b, s1)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > cur) { sum += b - math.max(a, cur); cur = b }
      }
    sum / 1e3
  }

  /** A span's self time: its duration minus what its child spans cover. */
  def selfSecs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(c => (c.startMs, c.endMs)).toSeq
    math.max(0.0, s.secs - covered(s.startMs, s.endMs, kids))
  }

  /** Driver-side job commit of a write: SQL execution end minus the end of
    * its last job (the job itself ends with its last task, before the
    * driver renames task output into place). */
  def commitSecs(js: Seq[JobRec]): Double =
    js.filter(_.execId >= 0).groupBy(_.execId).toSeq.map { case (id, g) =>
      execEnd.get(id).map(e => math.max(0L, e - g.map(_.endMs).max) / 1e3)
        .getOrElse(0.0)
    }.sum
}
