package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into the engine, with Spark job,
  * stage and task counters attributed to the enclosing span.
  *
  * A span's id rides the SparkContext local property [[SpanKey]]; local
  * properties are inherited by threads the caller starts, so jobs a
  * streaming query runs on its own thread land on the span that started
  * the query. Spans are kept in memory and written out by the caller
  * when the run ends. Until [[listen]] is called no listener is
  * registered and no span is recorded.
  */
final class Trace(spark: SparkSession, val runId: String) {
  import Trace._

  val spans = mutable.ArrayBuffer.empty[Span]
  private var current: Option[Span] = None
  private var nextId = 0L
  private var listening = false

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[BatchRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val j = JobRec(e.jobId,
        p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(-1L),
        p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(_.toLong).getOrElse(-1L),
        e.time)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics)) j.synchronized {
        j.executorMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.bytesWritten += m.outputMetrics.bytesWritten
        j.recordsWritten += m.outputMetrics.recordsWritten
      }
  }

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      progress.add(BatchRec(p.runId.toString, p.batchId, p.numInputRows,
        d.getOrElse("addBatch", 0L), d.getOrElse("triggerExecution", 0L),
        java.time.Instant.parse(p.timestamp).toEpochMilli))
    }
  }

  /** Start attributing Spark activity to spans. */
  def listen(): Unit = if (!listening) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(queryListener)
    listening = true
  }

  /** Stop attributing; waits for the listener bus to drain first. */
  def quiesce(): Unit = if (listening) {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(queryListener)
    listening = false
  }

  /** Run `body` inside a span named `name`, child of the current span;
    * only while listening, so untraced work records nothing. */
  def span[A](name: String)(body: => A): A = if (!listening) body else {
    val s = Span(nextId, name, current.map(_.id).getOrElse(-1L), System.nanoTime())
    nextId += 1
    spans += s
    val parent = current
    val sc = spark.sparkContext
    val prevProp = sc.getLocalProperty(SpanKey)
    current = Some(s)
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      current = parent
      sc.setLocalProperty(SpanKey, prevProp)
    }
  }

  def children(s: Span): Seq[Span] = spans.toSeq.filter(_.parent == s.id)

  /** Span duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = s.seconds - unionSeconds(children(s).map(c => (c.start, c.end)))

  /** Jobs attributed to `s` or any span below it. */
  def jobsUnder(s: Span): Seq[JobRec] = {
    val ids = mutable.Set(s.id)
    spans.foreach(x => if (ids(x.parent)) ids += x.id)
    jobs.values.asScala.toSeq.filter(j => ids(j.span))
  }

  // job times are wall-clock ms; span times are monotonic ns
  private val nsShift = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def epochMs(ns: Long): Long = (ns + nsShift) / 1000000L

  /** Streaming progress of micro-batches that started inside `s`. */
  def batchesIn(s: Span): Seq[BatchRec] = progress.asScala.toSeq.filter { b =>
    b.startEpochMs >= epochMs(s.start) && b.startEpochMs <= epochMs(s.end)
  }

  /** Wall of `s` not covered by any of its jobs: driver-side time. */
  def driverGapSeconds(s: Span): Double = {
    val iv = jobsUnder(s).filter(_.end > 0).map { j =>
      (math.max(j.start * 1000000L - nsShift, s.start),
        math.min(j.end * 1000000L - nsShift, s.end))
    }.filter(x => x._2 > x._1)
    s.seconds - unionSeconds(iv)
  }

  def json: String = spans.map { s =>
    s"""{"run":"$runId","id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      s""""start_ns":${s.start},"end_ns":${s.end}}"""
  }.mkString("[", ",", "]")
}

object Trace {
  val SpanKey = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, start: Long) {
    var end: Long = start
    def seconds: Double = (end - start) / 1e9
  }

  final case class JobRec(id: Int, span: Long, batchId: Long, start: Long) {
    @volatile var end: Long = 0L
    var executorMs = 0L
    var shuffleBytes = 0L
    var bytesWritten = 0L
    var recordsWritten = 0L
    def seconds: Double = if (end > 0) (end - start) / 1e3 else 0.0
  }

  final case class BatchRec(runId: String, batchId: Long, rows: Long, addBatchMs: Long,
      triggerMs: Long, startEpochMs: Long)

  /** Total length of the union of `[start, end)` intervals, in seconds. */
  def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    if (curE > curS) total += curE - curS
    total / 1e9
  }
}
