package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into the program. `query` ties the spans of one search
  * together; `parent` is 0 for a root span.
  */
final case class Span(
    id: Long, name: String, parent: Long, query: Long, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Spark work done under one span: jobs started, and the summed metrics of
  * their tasks.
  */
final class Work {
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill
  }
}

/** Attributes every Spark job to the span that was open on the thread that
  * submitted it (a thread-inherited local property), and sums task metrics
  * per span.
  */
final class JobListener extends SparkListener {
  private val bySpan = new ConcurrentHashMap[Long, Work]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()

  private def work(span: Long): Work = bySpan.computeIfAbsent(span, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val w = work(span)
    w.synchronized(w.jobs += 1)
    e.stageIds.foreach(s => stageSpan.putIfAbsent(s, span))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageSpan.getOrDefault(e.stageId, 0L))
      w.synchronized {
        w.taskMs += m.executorRunTime
        w.gcMs += m.jvmGCTime
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def of(span: Long): Work = Option(bySpan.get(span)).getOrElse(new Work)
}

/** In-memory span recorder. Disabled, `span` only runs its body and
  * `count` records nothing.
  */
final class Trace(val enabled: Boolean, sc: SparkContext) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }
  val listener: Option[JobListener] =
    if (enabled) {
      val l = new JobListener
      sc.addSparkListener(l)
      Some(l)
    } else None

  /** Kind of each traced query, and counts recorded per query. */
  val kinds = new ConcurrentHashMap[Long, String]()
  val counts = new ConcurrentHashMap[(Long, String), Double]()

  def newQueryId(kind: String): Long = {
    val id = ids.incrementAndGet()
    kinds.put(id, kind)
    id
  }

  def count(query: Long, name: String, v: Double): Unit =
    if (enabled) counts.put((query, name), v)

  def span[A](name: String, query: Long = 0L)(body: => A): A = {
    if (!enabled) return body
    val id = ids.incrementAndGet()
    val parent: Long = current.get()
    current.set(id)
    sc.setLocalProperty(Trace.SpanProperty, id.toString)
    val start = System.nanoTime()
    try body
    finally {
      val end = System.nanoTime()
      spans.add(Span(id, name, parent, query, start, end))
      current.set(parent)
      sc.setLocalProperty(Trace.SpanProperty,
        if (parent == 0L) null else parent.toString)
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Spark work under `root` and every span below it. */
  def workUnder(root: Span, byParent: Map[Long, Seq[Span]]): Work = {
    val w = new Work
    def go(s: Span): Unit = {
      listener.foreach(l => w.add(l.of(s.id)))
      byParent.getOrElse(s.id, Nil).foreach(go)
    }
    go(root)
    w
  }

  /** Duration of `s` minus the time its child spans cover. Children of one
    * span are sequential calls, so their durations add up.
    */
  def selfMs(s: Span, byParent: Map[Long, Seq[Span]]): Double =
    s.ms - byParent.getOrElse(s.id, Nil).map(_.ms).sum
}

object Trace {
  val SpanProperty = "perfbench.span"

  /** Records nothing: runs the same calls untraced. */
  val Off = new Trace(false, null)
}
