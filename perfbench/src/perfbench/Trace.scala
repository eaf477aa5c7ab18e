package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark counters charged to one span. */
final class Counters {
  var jobs, stages, tasks = 0L
  var recordsRead, shuffleRead, shuffleWrite, spill, outputBytes = 0L
}

/** One timed call: `layer` is the graft package the call enters
  * (`vector`, `plans`, `expressions`), `op` the benchmark operation it
  * belongs to. Times are System.nanoTime.
  */
final case class Span(id: Int, parent: Int, opId: Int, op: String, layer: String,
                      start: Long, var end: Long = 0L, var exchanges: Int = -1) {
  def ms: Double = (end - start) / 1e6
}

/** Spans around the benchmark's calls into graft. Spans are always
  * recorded (they carry the latencies); the SparkListener that charges
  * job, stage and task counters to the open span is attached only while
  * `counting` is on, so untraced runs run no listener at all.
  */
final class Tracer(sc: SparkContext) {
  import Tracer.SpanKey

  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: Option[Span] = None
  private var counting = false
  private val counters = new ConcurrentHashMap[Int, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Int]()

  private def of(span: Int): Counters = counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    private def spanOf(props: java.util.Properties): Option[Int] =
      Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)

    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { s =>
        of(s).synchronized(of(s).jobs += 1)
        e.stageIds.foreach(stageSpan.put(_, s))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { s =>
        val c = of(s); c.synchronized(c.stages += 1)
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        val c = of(s)
        val m = e.taskMetrics
        c.synchronized {
          c.tasks += 1
          if (m != null) {
            c.recordsRead += m.inputMetrics.recordsRead
            c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            c.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  def tracing: Boolean = counting

  /** Attach or detach the listener. Detaching first drains the listener
    * bus so every event of the finished spans is counted.
    */
  def setCounting(on: Boolean): Unit = if (on != counting) {
    if (on) sc.addSparkListener(listener)
    else {
      org.apache.spark.perfbench.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    counting = on
  }

  def span[T](opId: Int, op: String, layer: String)(body: => T): (T, Span) = {
    val s = Span(spans.size + 1, open.map(_.id).getOrElse(0), opId, op, layer, System.nanoTime())
    spans += s
    val parent = open
    open = Some(s)
    if (counting) sc.setLocalProperty(SpanKey, s.id.toString)
    try (body, s)
    finally {
      s.end = System.nanoTime()
      open = parent
      if (counting) sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
    }
  }

  /** Counters charged to `span` (zero when it ran untraced). */
  def countersOf(span: Span): Counters = Option(counters.get(span.id)).getOrElse(new Counters)

  def children(span: Span): Seq[Span] = spans.filter(_.parent == span.id).toSeq

  /** Span time minus the time its child spans cover. */
  def selfMs(span: Span): Double = span.ms - children(span).map(_.ms).sum
}

object Tracer {
  val SpanKey = "perfbench.span"
}
