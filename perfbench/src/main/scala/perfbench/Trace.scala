package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One bench-side span around a public engine call. Times are
  * `System.nanoTime` values; `parent` is -1 for a root span.
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    op: Int, start: Long, var end: Long = 0L, var failed: Boolean = false)

/** A Spark job as seen by the listener: interval in nanoTime units, the
  * span it is attributed to, and the task metrics of its stages.
  */
final class JobRec(val id: Int, val span: Int, val start: Long) {
  var end: Long = -1L
  var shuffleBytes = 0L
  var recordsRead = 0L
  var bytesWritten = 0L
}

/** Records spans around the bench's calls into the engine. With `traced`
  * a listener attributes every Spark job, and its tasks' metrics, to the
  * innermost span open when the job started; the bench has one client
  * thread, so exactly one call is open at any time. Without `traced` the
  * spans are still kept (they are cheap), but no listener is installed.
  */
final class Tracer(sc: SparkContext, val traced: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var open: Int = -1
  var op: Int = -1

  // job/event times are wall-clock millis; spans are nanoTime
  private val wallOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def toNano(ms: Long): Long = ms * 1000000L - wallOffsetNs

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties)
        .flatMap(p => Option(p.getProperty(Tracer.SpanProperty))).map(_.toInt)
      val r = new JobRec(e.jobId, prop.getOrElse(open), toNano(e.time))
      jobs.put(e.jobId, r)
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = toNano(e.time))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for {
        m <- Option(e.taskMetrics)
        j <- Option(stageJob.get(e.stageId))
        r <- Option(jobs.get(j))
      } r.synchronized {
        r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        r.recordsRead += m.inputMetrics.recordsRead
        r.bytesWritten += m.outputMetrics.bytesWritten
      }
  }
  if (traced) sc.addSparkListener(listener)

  /** Runs `f` inside a span of `layer`. Failures are recorded and rethrown. */
  def apply[A](layer: String, name: String)(f: => A): A = {
    val s = Span(spans.length, name, layer, stack.headOption.map(_.id).getOrElse(-1),
      op, System.nanoTime())
    spans += s
    stack = s :: stack
    open = s.id
    if (traced) sc.setLocalProperty(Tracer.SpanProperty, s.id.toString)
    try f
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      open = stack.headOption.map(_.id).getOrElse(-1)
      if (traced)
        sc.setLocalProperty(Tracer.SpanProperty, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Adds a finished root span for work done before the tracer existed. */
  def record(layer: String, name: String, start: Long, end: Long): Unit =
    spans += Span(spans.length, name, layer, -1, op, start, end)

  /** Forgets the spans and jobs of set-up and warm-up. `engine` spans
    * (the session build) are kept: they happen once, before set-up.
    */
  def reset(): Unit = {
    if (traced) org.apache.spark.graftbridge.Listeners.drain(sc)
    val keep = spans.filter(_.layer == "engine").zipWithIndex
      .map { case (s, i) => s.copy(id = i) }
    spans.clear()
    spans ++= keep
    jobs.clear()
    stageJob.clear()
  }

  def allSpans: Seq[Span] = spans.toSeq

  /** Jobs after the listener bus has drained, each with its span. A job
    * whose property names a span that had already closed when the job
    * started (a pool thread holding a stale inherited property) is
    * re-attributed by time to the innermost span open at its start.
    */
  def allJobs: Seq[JobRec] = {
    if (traced) org.apache.spark.graftbridge.Listeners.drain(sc)
    import scala.jdk.CollectionConverters._
    val js = jobs.values.asScala.toSeq.sortBy(_.id)
    js.map { j =>
      val ok = j.span >= 0 && j.span < spans.length && {
        val s = spans(j.span)
        s.start <= j.start + 2000000L && (s.end == 0L || j.start <= s.end + 2000000L)
      }
      if (ok) j
      else {
        val inner = spans.filter(s => s.start <= j.start && j.start <= s.end)
          .sortBy(-_.start).headOption.map(_.id).getOrElse(-1)
        val r = new JobRec(j.id, inner, j.start)
        r.end = j.end; r.shuffleBytes = j.shuffleBytes
        r.recordsRead = j.recordsRead; r.bytesWritten = j.bytesWritten
        r
      }
    }
  }

  def close(): Unit = if (traced) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanProperty = "perfbench.span"

  /** Total length of the union of `[start, end]` intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
