package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener,
  StreamingQueryProgress}

/** A span around one call into a layer. Spans of one op share `op`;
  * `parent` is the enclosing span (0 for the op's root span).
  */
final case class Span(id: Long, op: Long, parent: Long, name: String,
    startNs: Long, endNs: Long)

/** One timed operation of a workload: a streaming cycle or hop, a
  * backlog drain, a dashboard query or a commit. `cls` groups ops for
  * the end-to-end metrics ("read", "commit", "cycle", "drain").
  */
final case class OpRec(id: Long, kind: String, cls: String,
    startMs: Long, endMs: Long, wallS: Double, ok: Boolean,
    traced: Boolean)

/** In-memory tracing for the traced run. Spans are recorded by the
  * benchmark's own code around its calls into graft; Spark's public
  * listeners collect job, task and streaming-progress counts. Nothing is
  * written until [[writeSpans]] at the end of the run. With `on = false`
  * no listener is registered and [[span]] only runs its body.
  */
final class Tracer(spark: SparkSession, val on: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var nextSpan = 0L
  private var stack: List[Long] = Nil
  @volatile private var curOp = 0L

  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobEnd = new ConcurrentHashMap[Int, java.lang.Long]()
  private val taskLaunch = new ConcurrentLinkedQueue[java.lang.Long]()
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.put(e.jobId, e.time)
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobEnd.put(e.jobId, e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) taskLaunch.add(e.taskInfo.launchTime)
  }
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
  }

  def beginOp(op: Long): Unit = { curOp = op; stack = Nil }

  /** Times `body` as a child of the innermost open span of this op. */
  def span[T](name: String, traced: Boolean)(body: => T): T =
    if (!on || !traced) body
    else {
      nextSpan += 1
      val id = nextSpan
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, curOp, parent, name, t0, t1)
      }
    }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def spanSeconds(name: String): Seq[Double] =
    spansNamed(name).map(s => (s.endNs - s.startNs) / 1e9)

  /** Listener events arrive asynchronously; give the bus a moment to
    * deliver what the last op produced before counting.
    */
  def settle(): Unit = if (on) {
    var last = -1
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val n = jobEnd.size + taskLaunch.size + progress.size
      if (n == last) stable += 1 else { stable = 0; last = n }
    }
  }

  /** Jobs started inside the op's wall-clock window, as (start, end). */
  def jobsIn(op: OpRec): Seq[(Long, Long)] =
    jobStart.asScala.toSeq.collect {
      case (id, s) if s >= op.startMs && s <= op.endMs =>
        (s.longValue, Option(jobEnd.get(id)).map(_.longValue)
          .getOrElse(op.endMs))
    }

  def tasksIn(op: OpRec): Int =
    taskLaunch.asScala.count(t => t >= op.startMs && t <= op.endMs)

  /** Op wall time not covered by any Spark job: driver-side planning,
    * listing, commits and waits.
    */
  def driverGapS(op: OpRec): Double = {
    val iv = jobsIn(op).map { case (s, e) =>
      (math.max(s, op.startMs), math.min(e, op.endMs)) }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0.0, op.wallS - covered / 1000.0)
  }

  def writeSpans(path: java.io.File, ops: Seq[OpRec]): Unit = if (on) {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      ops.foreach { o =>
        w.println(s"""{"type":"op","op":${o.id},"kind":"${o.kind}",""" +
          s""""cls":"${o.cls}","start_ms":${o.startMs},""" +
          s""""end_ms":${o.endMs},"ok":${o.ok},"traced":${o.traced}}""")
      }
      spans.foreach { s =>
        w.println(s"""{"type":"span","id":${s.id},"op":${s.op},""" +
          s""""parent":${s.parent},"name":"${s.name}",""" +
          s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      }
    } finally w.close()
  }

  def close(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.streams.removeListener(streamListener)
  }
}
