package chessbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call from the benchmark into a layer of the
  * program. Spans nest (the cycle is the root); times are nanoseconds
  * on the driver's monotonic clock.
  */
final class Span(val id: Int, val layer: String, val name: String,
                 val parent: Option[Span], val startNs: Long) {
  var endNs: Long = -1L
  val children: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  def wallNs: Long = endNs - startNs
  def selfNs: Long = wallNs - children.map(_.wallNs).sum
  def descendants: Seq[Span] = this +: children.toSeq.flatMap(_.descendants)
}

/** One Spark job as seen by the trace listener, with the task metrics
  * of its stages summed in.
  */
final class JobRec(val jobId: Int, val spanId: Int, val callSite: String,
                   val startNs: Long) {
  var endNs: Long = -1L
  var stages = 0
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var fetchWaitMs = 0L
  var spill = 0L
  var input = 0L
}

/** Span recorder and its Spark listeners.
  *
  * Off by default: with tracing off `span` only runs its body, and no
  * listener is registered. When on, each span sets the bench-owned
  * local property [[SpanProperty]] for the jobs it submits, so jobs are
  * attributed by that property (the job description is not usable:
  * some queries set and clear it themselves). Jobs submitted from a
  * thread that never inherited the property fall back to the span open
  * on the driver when the job started.
  */
final class Trace(val enabled: Boolean) {
  val SpanProperty = "chessbench.span"

  private var nextId = 0
  private val stack = mutable.Stack[Span]()
  val roots: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  // listener-fed state; written on the listener thread
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  @volatile private var openSpanId: Int = -1
  val progress: java.util.concurrent.ConcurrentLinkedQueue[(Int, StreamingQueryListener.QueryProgressEvent)] =
    new java.util.concurrent.ConcurrentLinkedQueue()
  private val queryStartSpan = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Int]()
  val planningNs = new java.util.concurrent.atomic.AtomicLong()
  val sqlActions = new java.util.concurrent.atomic.AtomicLong()
  // listener events carry epoch milliseconds; spans use nanoTime
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  private def eventNs(ms: Long): Long = baseNs + (ms - baseMs) * 1000000L

  def span[T](sc: SparkContext, layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, layer, name, stack.headOption, System.nanoTime())
      nextId += 1
      s.parent match {
        case Some(p) => p.children += s
        case None    => roots += s
      }
      val prevProp = sc.getLocalProperty(SpanProperty)
      stack.push(s)
      openSpanId = s.id
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        openSpanId = stack.headOption.map(_.id).getOrElse(-1)
        sc.setLocalProperty(SpanProperty, prevProp)
      }
    }

  // ------------------------------------------------------------ listeners

  private object JobListener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val spanId = props.flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toInt).getOrElse(openSpanId)
      // the final stage is named after the job's short call site
      val site = if (e.stageInfos.isEmpty) "unknown" else e.stageInfos.maxBy(_.stageId).name
      val rec = new JobRec(e.jobId, spanId, site, eventNs(e.time))
      rec.stages = e.stageIds.size
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(st => stageJob.put(st, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endNs = eventNs(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j))).foreach { r =>
        r.synchronized {
          r.tasks += 1
          if (!e.taskInfo.successful) r.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            r.runMs += m.executorRunTime
            r.cpuNs += m.executorCpuTime
            r.gcMs += m.jvmGCTime
            r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            r.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            r.input += m.inputMetrics.bytesRead
          }
        }
      }
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryStartSpan.put(e.runId, openSpanId)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add((queryStartSpan.getOrDefault(e.progress.runId, -1), e))
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private object ExecListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      sqlActions.incrementAndGet()
      val phases = qe.tracker.phases
      planningNs.addAndGet(phases.values.map(_.durationMs).sum * 1000000L)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      sqlActions.incrementAndGet()
  }

  def install(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(JobListener)
    spark.streams.addListener(StreamListener)
    spark.listenerManager.register(ExecListener)
  }

  def uninstall(spark: SparkSession): Unit = if (enabled) {
    drain(spark)
    spark.sparkContext.removeSparkListener(JobListener)
    spark.streams.removeListener(StreamListener)
    spark.listenerManager.unregister(ExecListener)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.chessbench.ListenerBus.drain(spark.sparkContext)

  // ------------------------------------------------------------ readers

  def allJobs: Seq[JobRec] = jobs.values().asScala.toSeq

  /** Jobs attributed to `s` or any span below it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = s.descendants.map(_.id).toSet
    allJobs.filter(j => ids(j.spanId))
  }

  /** Span wall minus the union of the job intervals it caused. */
  def driverGapNs(s: Span): Long = {
    val iv = jobsUnder(s).filter(_.endNs > 0)
      .map(j => (math.max(j.startNs, s.startNs), math.min(j.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue; var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    s.wallNs - covered
  }

  def progressUnder(s: Span): Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val ids = s.descendants.map(_.id).toSet
    progress.asScala.toSeq.filter(p => ids(p._1)).map(_._2.progress)
  }

  /** Self times add up to the root's wall and none is negative. */
  def reconciles(root: Span): Boolean = {
    val spans = root.descendants
    spans.forall(_.selfNs >= 0) && spans.map(_.selfNs).sum == root.wallNs
  }

  /** The span tree as JSON (times in seconds). */
  def treeJson(s: Span): String = {
    val kids = s.children.map(treeJson).mkString(",")
    val js = jobsUnder(s).size
    f"""{"layer":"${s.layer}","name":"${s.name}","wall_s":${s.wallNs / 1e9}%.6f,"self_s":${s.selfNs / 1e9}%.6f,"driver_gap_s":${driverGapNs(s) / 1e9}%.6f,"jobs":$js,"children":[$kids]}"""
  }
}
