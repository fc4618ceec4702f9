package perfbench

import java.util.concurrent.{CountDownLatch, TimeUnit}

import scala.collection.concurrent.TrieMap
import scala.collection.mutable

import org.apache.spark.{Success, TaskEndReason}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans around the benchmark's calls into graft's layers, and the
  * Spark-side work done inside each.
  *
  * While enabled, [[span]] records (name, start, end, parent) and tags
  * every job the calling thread submits with the span id (a Spark local
  * property, which Spark hands on to the threads it starts for
  * broadcasts and subqueries). A `SparkListener` adds each job's
  * interval and its tasks' CPU, GC, shuffle, spill and failures to the
  * tagged span; a `QueryExecutionListener` adds each action's
  * analysis, optimization and planning time to the span that was open
  * when planning started. While disabled, [[span]] only runs its body
  * and no listener is registered, so untraced passes pay nothing.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: Option[Span] = None
  private var enabled = false

  private val stageSpan = TrieMap.empty[Int, Span]
  private val jobSpan = TrieMap.empty[Int, Span]
  private val actionName = TrieMap.empty[Long, String]
  @volatile private var drainLatch: (String, CountDownLatch) = ("", new CountDownLatch(0))
  private var drains = 0

  /** Wall seconds spent in [[probe]] spans since the trace was created. */
  var probeWallS = 0.0

  /** A span around work only traced passes do: materializing one layer
    * on its own to time it. Skipped while disabled; its wall is kept
    * apart so the tracing overhead can leave it out. */
  def probe(name: String)(body: => Unit): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      span(name)(body)
      probeWallS += (System.nanoTime() - t0) / 1e9
    }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(spans.size, name, open.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      spans.synchronized { spans += s }
      val parent = open
      open = Some(s)
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        open = parent
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      }
    }

  /** The innermost span open at wall time `ms`. */
  private def spanAt(ms: Long): Option[Span] = spans.synchronized {
    spans.reverseIterator.find(s => s.startMs <= ms && (s.endMs == 0 || ms <= s.endMs))
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      props.flatMap(p => Option(p.getProperty(SpanKey))).foreach { id =>
        val s = spans.synchronized(spans(id.toInt))
        jobSpan(e.jobId) = s
        e.stageIds.foreach(stageSpan(_) = s)
        s.synchronized { s.jobStart(e.jobId) = e.time }
      }
      props.flatMap(p => Option(p.getProperty(DrainKey))).foreach { token =>
        jobSpan(e.jobId) = new Span(-1, token, -1, 0, 0)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobSpan.remove(e.jobId).foreach { s =>
        if (s.id < 0) {
          val (token, latch) = drainLatch
          if (s.name == token) latch.countDown()
        } else s.synchronized {
          s.jobEnd(e.jobId) = e.time
          if (e.jobResult != JobSucceeded) s.abortedJobs += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageSpan.get(e.stageId).foreach { s =>
        s.synchronized {
          s.tasks += 1
          if (!isSuccess(e.reason)) s.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            s.taskCpuNs += m.executorCpuTime
            s.gcMs += m.jvmGCTime
            s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
            s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
            s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        actionName(x.executionId) = x.description.takeWhile(_ != ' ')
      case x: SparkListenerSQLExecutionEnd =>
        val name = actionName.remove(x.executionId).getOrElse("")
        spanAt(x.time).foreach(s => s.synchronized { s.actionEnds += ((x.time, name)) })
      case _ =>
    }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty)
        spanAt(phases.map(_.startTimeMs).min).foreach { s =>
          s.synchronized { s.planMs += phases.map(_.durationMs).sum }
        }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def enable(): Unit = if (!enabled) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    enabled = true
  }

  /** Wait for the listeners to see every event posted so far, then stop
    * listening. */
  def disable(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    enabled = false
  }

  /** Listener events arrive asynchronously and in order: run a marker
    * job and wait until the listener has seen it end. */
  private def drain(): Unit = {
    drains += 1
    val token = s"drain-$drains"
    val latch = new CountDownLatch(1)
    drainLatch = (token, latch)
    sc.setLocalProperty(DrainKey, token)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DrainKey, null)
    if (!latch.await(30, TimeUnit.SECONDS))
      System.err.println("[perfbench] trace listener did not drain within 30 s")
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq
}

object Trace {
  private val SpanKey = "perfbench.span"
  private val DrainKey = "perfbench.drain"

  private def isSuccess(r: TaskEndReason): Boolean = r == Success

  final class Span(val id: Int, val name: String, val parent: Int,
                   val startMs: Long, val startNs: Long) {
    var endMs = 0L
    var endNs = 0L
    val jobStart = mutable.HashMap.empty[Int, Long]
    val jobEnd = mutable.HashMap.empty[Int, Long]
    /** (end time, action name) of the SQL actions ending in the span. */
    val actionEnds = mutable.ArrayBuffer.empty[(Long, String)]
    var abortedJobs = 0
    var tasks = 0L
    var failedTasks = 0L
    var taskCpuNs = 0L
    var gcMs = 0L
    var shuffleWriteB = 0L
    var shuffleReadB = 0L
    var spillB = 0L
    var planMs = 0L

    def wallS: Double = (endNs - startNs) / 1e9
    def jobs: Int = jobStart.size

    /** Wall time covered by at least one of this span's jobs. */
    def jobWallS: Double = {
      val iv = jobStart.toSeq.map { case (j, s) => (s, jobEnd.getOrElse(j, endMs)) }.sorted
      var covered = 0L
      var reach = Long.MinValue
      for ((s, e) <- iv) {
        val from = math.max(s, reach)
        if (e > from) covered += e - from
        reach = math.max(reach, e)
      }
      covered / 1e3
    }

    /** Per-round wall times of an iterative operator whose rounds each
      * end in one `action` (e.g. the convergence `count`): the
      * intervals between the ends of those actions inside the span. */
    def roundWallsS(action: String): Seq[Double] = {
      val ends = actionEnds.collect { case (t, `action`) => t }.sorted.toSeq
      (startMs +: ends).zip(ends).map { case (a, b) => (b - a) / 1e3 }
    }

    def toJson: String = {
      def f(d: Double) = Json.num(d)
      s"""{"id":$id,"name":"$name","parent":$parent,"start_ms":$startMs,""" +
        s""""end_ms":$endMs,"wall_s":${f(wallS)},"jobs":$jobs,""" +
        s""""job_wall_s":${f(jobWallS)},"aborted_jobs":$abortedJobs,""" +
        s""""tasks":$tasks,"failed_tasks":$failedTasks,""" +
        s""""task_cpu_s":${f(taskCpuNs / 1e9)},"gc_s":${f(gcMs / 1e3)},""" +
        s""""plan_s":${f(planMs / 1e3)},"shuffle_write_b":$shuffleWriteB,""" +
        s""""shuffle_read_b":$shuffleReadB,"spill_b":$spillB,""" +
        s""""actions":${actionEnds.size}}"""
    }
  }
}
