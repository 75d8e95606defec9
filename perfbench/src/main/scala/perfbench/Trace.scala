package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One call into a layer, timed by the benchmark from outside the call.
  * `op` groups the spans of one user operation (a window read, a
  * backfill, a curation query). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark work attributed to one span. */
final class Work {
  val jobs, stages, tasks, inputBytes, inputRecords, outputBytes,
      shuffleBytes, spillBytes = new LongAdder
}

/** Benchmark-side tracing. Off (the untraced runs that give end-to-end
  * metrics), [[span]] just runs its body. On, every span is kept in
  * memory and the span id travels to Spark as a thread-local job
  * property, so [[WorkListener]] can charge each job, stage and task to
  * the innermost span open on the thread that submitted it. */
object Trace {
  val SpanProperty = "perfbench.span"

  @volatile private var sc: SparkContext = _
  @volatile private var on = false
  private val ids = new AtomicLong(0L)
  private val finished = new ConcurrentLinkedQueue[Span]()
  // open spans of this thread, innermost first: (span id, op id)
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  val listener = new WorkListener

  def start(context: SparkContext, enabled: Boolean): Unit = {
    sc = context
    on = enabled
    if (enabled) context.addSparkListener(listener)
  }

  /** A fresh operation id, for spans that begin a user operation. */
  def newOp(): Long = ids.incrementAndGet()

  def span[T](name: String, op: Long = 0L)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val stack = open.get
      val parent = stack.headOption.map(_._1).getOrElse(0L)
      val opId =
        if (op != 0L) op else stack.headOption.map(_._2).getOrElse(id)
      val prev = sc.getLocalProperty(SpanProperty)
      open.set((id, opId) :: stack)
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        finished.add(Span(id, parent, opId, name, t0, System.nanoTime()))
        open.set(stack)
        sc.setLocalProperty(SpanProperty, prev)
      }
    }

  /** Forget everything recorded so far (the end of set-up). */
  def reset(): Unit = {
    if (on) org.apache.spark.PerfbenchBus.drain(sc)
    finished.clear()
    listener.clear()
  }

  /** Every finished span, once all Spark events have been delivered. */
  def spans(): Seq[Span] = {
    if (on) org.apache.spark.PerfbenchBus.drain(sc)
    finished.asScala.toSeq
  }

  /** Self time per span name: each span's duration minus the part of its
    * interval its child spans cover. */
  def selfMs(all: Seq[Span]): Map[String, Double] = {
    val children = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val covered = children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
          .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
            val from = math.max(a, reach)
            (sum + math.max(0L, b - from), math.max(reach, b))
          }._1
        (s.endNs - s.startNs - covered) / 1e6
      }.sum
    }
  }
}

/** Charges Spark work to the span named by the submitting thread's
  * [[Trace.SpanProperty]]; work outside any span lands on span 0. */
final class WorkListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val bySpan = new ConcurrentHashMap[Long, Work]()

  def clear(): Unit = { stageSpan.clear(); bySpan.clear() }

  def work(span: Long): Work = bySpan.computeIfAbsent(span, _ => new Work)

  def all: Map[Long, Work] = bySpan.asScala.toMap

  private def spanOf(stage: Int): Long =
    Option(stageSpan.get(stage)).map(_.longValue).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    work(span).jobs.increment()
    e.stageIds.foreach(s => stageSpan.put(s, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    work(spanOf(e.stageInfo.stageId)).stages.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = work(spanOf(e.stageId))
    w.tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      w.inputBytes.add(m.inputMetrics.bytesRead)
      w.inputRecords.add(m.inputMetrics.recordsRead)
      w.outputBytes.add(m.outputMetrics.bytesWritten)
      w.shuffleBytes.add(m.shuffleWriteMetrics.bytesWritten)
      w.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }
}
