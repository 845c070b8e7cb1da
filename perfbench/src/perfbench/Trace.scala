package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer: `name` is `<layer>.<op>` (e.g.
  * `store.upsert`), `parent` the enclosing span (0 = none). All spans of
  * one run share the recorder's run id. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task metrics summed over the jobs one span started. */
final class SpanStats {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var cpuNs = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var memSpillBytes = 0L
  var diskSpillBytes = 0L
  var inputRecords = 0L
  var outputRecords = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def maxTaskMs: Long = if (taskMs.isEmpty) 0L else taskMs.max
  def medianTaskMs: Double = Stats.median(taskMs.map(_.toDouble).toSeq)
}

/** Span recorder: a stack of open spans on the calling thread. While a
  * span is open its id rides the Spark local property [[SpanKey]], so
  * [[SpanListener]] can attribute every job it starts. Disabled recorders
  * only run the body. Spans stay in memory until [[Tracer.spans]] is read
  * at exit. */
final class Tracer(sc: SparkContext) {
  val runId: String = java.util.UUID.randomUUID().toString
  @volatile var enabled = false
  private val all = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(all.size + 1, stack.headOption.fold(0)(_.id), name, System.nanoTime())
      all += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def spans: Seq[Span] = all.toSeq
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Attributes jobs, stages and task metrics to the span whose id was the
  * submitting thread's [[Tracer.SpanKey]] local property. Also counts
  * session-wide jobs, tasks and GC regardless of spans. */
final class SpanListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[Int, SpanStats]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  val session = new SpanStats

  private def stats(span: Int): SpanStats = bySpan.getOrElseUpdate(span, new SpanStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    session.jobs += 1
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt)
    span.foreach { s =>
      stats(s).jobs += 1
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(stats(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val targets = Seq(session) ++ stageSpan.get(e.stageId).map(stats)
    targets.foreach { st =>
      st.tasks += 1
      st.taskMs += e.taskInfo.duration
      if (m != null) {
        st.cpuNs += m.executorCpuTime
        st.runMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        st.memSpillBytes += m.memoryBytesSpilled
        st.diskSpillBytes += m.diskBytesSpilled
        st.inputRecords += m.inputMetrics.recordsRead
        st.outputRecords += m.outputMetrics.recordsWritten
      }
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Nearest-rank percentile, or None unless at least ten samples lie
    * above it. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    val s = xs.sorted
    val rank = math.ceil(p * s.size).toInt
    if (s.size - rank < 10) None else Some(s(rank - 1))
  }
}
