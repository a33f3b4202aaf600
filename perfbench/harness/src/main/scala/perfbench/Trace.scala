package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a pass, or one call into a program layer. Times
  * are epoch milliseconds with sub-millisecond precision. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    pass: Int, start: Double, end: Double, io: Array[Long])

/** Spark counters attributed to one span. */
final class Counters {
  var jobs, failedJobs, stages, tasks, taskRetries = 0L
  var waitMs, runMs, cpuNs, gcMs = 0L
  var shWrite, shRead, fetchWaitMs, spill = 0L
}

/** Epoch-aligned clock with nanosecond resolution. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder plus the listeners that attribute Spark's own
  * counts to spans. A span's id travels to every job it starts through
  * the `perfbench.span` local property (inherited by the threads a
  * streaming query starts) and the job group; jobs carry their local
  * properties, stages and tasks are mapped through their job. Catalyst
  * phases and micro-batch progress carry no properties and are matched
  * to spans by time when the trace is analysed.
  */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(-1)
  private var nextId = 0
  val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  /** (job id, span, submit ms, end ms, succeeded) */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long, Long, Boolean)]()
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  /** (phase, start ms, end ms) from each finished query execution */
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()
  /** micro-batch progress: (start ms, duration map, state rows) */
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Map[String, Long], Long)]()

  private def ctr(span: Int): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty("perfbench.span"))).map(_.toInt).getOrElse(-1)
      jobStart.put(e.jobId, (span, e.time))
      e.stageIds.foreach(s => stageSpan.put(s, span))
      val c = ctr(span)
      c.synchronized { c.jobs += 1; c.stages += e.stageIds.size }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (span, t0) = Option(jobStart.remove(e.jobId)).getOrElse((-1, e.time))
      val ok = e.jobResult == JobSucceeded
      jobs.add((e.jobId, span, t0, e.time, ok))
      if (!ok) { val c = ctr(span); c.synchronized { c.failedJobs += 1 } }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t =>
        stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.getOrDefault(e.stageId, -1)
      val c = ctr(span)
      val m = e.taskMetrics
      val info = e.taskInfo
      c.synchronized {
        c.tasks += 1
        if (info.attemptNumber > 0 || !info.successful) c.taskRetries += 1
        val sub = stageSubmit.getOrDefault(e.stageId, info.launchTime)
        c.waitMs += math.max(0L, info.launchTime - sub)
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shWrite += m.shuffleWriteMetrics.bytesWritten
          c.shRead += m.shuffleReadMetrics.totalBytesRead
          c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add((name, p.startTimeMs, p.endTimeMs))
      }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** Micro-batch trigger times are an end-to-end metric, so this
    * listener runs with tracing off too. */
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t0 = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      progress.add((t0, d, p.stateOperators.map(_.numRowsTotal).sum))
    }
  }

  spark.streams.addListener(streamListener)
  if (enabled) {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Hadoop FileSystem statistics, all schemes: bytes read, bytes
    * written, write operations. */
  def ioNow(): Array[Long] = {
    val all = org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics
      .iterator().asScala.toSeq
    def sum(key: String): Long =
      all.map(s => Option(s.getLong(key)).map(_.longValue).getOrElse(0L)).sum
    Array(sum("bytesRead"), sum("bytesWritten"), sum("writeOps"))
  }

  /** Run `body` inside a span. */
  def span[T](name: String, layer: String, pass: Int)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = stack.head
    stack = id :: stack
    sc.setLocalProperty("perfbench.span", id.toString)
    sc.setJobGroup(s"perfbench-$id", s"$layer:$name", interruptOnCancel = false)
    val io0 = ioNow()
    val t0 = Clock.nowMs
    try body
    finally {
      val t1 = Clock.nowMs
      val io1 = ioNow()
      spans += Span(id, parent, name, layer, pass, t0, t1,
        io1.zip(io0).map { case (a, b) => a - b })
      stack = stack.tail
      if (stack.head >= 0) {
        sc.setLocalProperty("perfbench.span", stack.head.toString)
        sc.setJobGroup(s"perfbench-${stack.head}", "", interruptOnCancel = false)
      } else {
        sc.setLocalProperty("perfbench.span", null)
        sc.clearJobGroup()
      }
    }
  }
}
