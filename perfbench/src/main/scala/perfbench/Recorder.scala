package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Counters of one span: everything its jobs and their tasks did. */
final case class SpanStats(
    jobs: Int = 0,
    taskCpuNs: Long = 0L,
    gcMs: Long = 0L,
    shuffleWriteBytes: Long = 0L,
    spillBytes: Long = 0L,
    peakExecBytes: Long = 0L,
    jobIntervals: Vector[(Long, Long)] = Vector.empty) {
  def taskCpuS: Double = taskCpuNs / 1e9
  def gcS: Double = gcMs / 1e3
  def shuffleWriteMb: Double = shuffleWriteBytes / 1048576.0
  def spillMb: Double = spillBytes / 1048576.0
  def peakExecMb: Double = peakExecBytes / 1048576.0
}

/** Attributes Spark jobs, and through their stages every task, to the span
  * named by the `perfbench.span` local property the benchmark set on the
  * submitting thread before calling into the engine. Threads the engine
  * starts inherit the property from the thread that created them. */
final class Recorder(sc: SparkContext) extends SparkListener {
  private val stageSpan = mutable.Map[Int, String]()
  private val jobSpan = mutable.Map[Int, (String, Long)]()
  private val spans = mutable.Map[String, SpanStats]()

  sc.addSparkListener(this)

  private def upd(span: String)(f: SpanStats => SpanStats): Unit =
    spans(span) = f(spans.getOrElse(span, SpanStats()))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Recorder.Key)))
      .getOrElse("")
    e.stageIds.foreach(stageSpan(_) = span)
    jobSpan(e.jobId) = (span, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (span, t0) =>
      upd(span)(s => s.copy(jobs = s.jobs + 1, jobIntervals = s.jobIntervals :+ (t0 -> e.time)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) upd(stageSpan.getOrElse(e.stageId, "")) { s =>
      s.copy(
        taskCpuNs = s.taskCpuNs + m.executorCpuTime,
        gcMs = s.gcMs + m.jvmGCTime,
        shuffleWriteBytes = s.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
        spillBytes = s.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
        peakExecBytes = math.max(s.peakExecBytes, m.peakExecutionMemory))
    }
  }

  /** Runs `body` with its jobs attributed to `span`; returns the result and
    * the wall seconds. Counters are read later with `take`. */
  def span[A](name: String)(body: => A): (A, Double) = {
    val prev = sc.getLocalProperty(Recorder.Key)
    sc.setLocalProperty(Recorder.Key, name)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } finally sc.setLocalProperty(Recorder.Key, prev)
  }

  /** Removes and returns the counters of `name`, after every event posted
    * so far has been delivered. */
  def take(name: String): SpanStats = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(spans.remove(name).getOrElse(SpanStats()))
  }

  def clear(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized(spans.clear())
  }
}

object Recorder {
  val Key = "perfbench.span"
}
