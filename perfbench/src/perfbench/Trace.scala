package perfbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. Times are epoch nanoseconds so they line
  * up with the listener's job timestamps (epoch milliseconds). */
final case class Span(id: Long, name: String, parent: Long, pass: Int,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
  def ms: Double = (end - start) / 1e6
}

/** Engine counters attributed to one span. */
final class Counts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var input = 0L; var output = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead; spill += o.spill
    input += o.input; output += o.output
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
  }
}

/** Records spans around every call the benchmark makes into a layer.
  *
  * Spans are always recorded: they are the benchmark's stopwatch. The
  * engine listener is attached only in the traced run. Each span stamps
  * its id into the Spark local property [[Tracer.SpanKey]] of the calling
  * thread, so every job submitted inside the call (and from threads the
  * call creates) is attributed to the innermost open span. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  private val spans = ArrayBuffer[Span]()
  private val ids = new AtomicLong(0)
  /** ids of the spans open on each thread, innermost first */
  private val open = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }
  private val wall0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  @volatile var pass: Int = 0

  def now(): Long = wall0 + (System.nanoTime() - nano0)

  def span[T](name: String)(body: => T): T = {
    val stack = open.get
    val id = ids.incrementAndGet()
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(SpanKey)
    val p = pass
    val start = now()
    open.set(id :: stack)
    sc.setLocalProperty(SpanKey, id.toString)
    try body
    finally {
      val end = now()
      sc.setLocalProperty(SpanKey, prevProp)
      open.set(stack)
      spans.synchronized(spans += Span(id, name, parent, p, start, end))
    }
  }

  def all: Seq[Span] = spans.synchronized(spans.toList).sortBy(_.start)
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Engine counts per span, from Spark's listener bus (traced run only). */
final class EngineListener extends SparkListener {
  val counts = new ConcurrentHashMap[Long, Counts]()
  /** (span, job start ms, job end ms) for every finished job */
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
  private val jobSpan = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val drains = new ConcurrentHashMap[String, CountDownLatch]()

  private def of(span: Long): Counts = counts.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val prop = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
    prop.filter(_.startsWith("drain:")).foreach { k =>
      Option(drains.get(k)).foreach(_.countDown())
    }
    val span = prop.flatMap(_.toLongOption).getOrElse(0L)
    jobSpan.put(e.jobId, span)
    jobStart.put(e.jobId, e.time)
    e.stageIds.foreach(s => stageSpan.put(s, span))
    of(span).synchronized(of(span).jobs += 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val span = Option(jobSpan.remove(e.jobId)).getOrElse(0L)
    val start = Option(jobStart.remove(e.jobId)).getOrElse(e.time)
    jobs.add((span, start, e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageInfo.stageId, 0L))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageId, 0L))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.input += m.inputMetrics.bytesRead
        c.output += m.outputMetrics.bytesWritten
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
      }
    }
  }

  /** Block until every event posted before this call has reached the
    * listener: the bus delivers in order, so once a marker job's start
    * arrives, all earlier events have been seen. */
  def drain(sc: SparkContext): Unit = {
    val key = s"drain:${System.nanoTime()}"
    val latch = new CountDownLatch(1)
    drains.put(key, latch)
    val prev = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, key)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(Tracer.SpanKey, prev)
    latch.await(60, TimeUnit.SECONDS)
    drains.remove(key)
    // the marker job's own end event may still be in flight; it is
    // attributed to span 0 and ignored
  }

  def countsFor(spanIds: Set[Long]): Counts = {
    val tot = new Counts
    counts.asScala.foreach { case (s, c) => if (spanIds(s)) c.synchronized(tot.add(c)) }
    tot
  }

  def jobIntervals(spanIds: Set[Long]): Seq[(Long, Long)] =
    jobs.asScala.toList.collect { case (s, a, b) if spanIds(s) => (a, b) }
}
