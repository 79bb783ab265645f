package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One recorded span: a timed call into one layer of the engine. `parent`
  * is the id of the span open on the same thread when this one began
  * (0 = none). */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    thread: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans are kept until the run ends, when the
  * caller writes them out once; nothing is logged while timing.
  * When disabled, [[apply]] runs the body and records nothing. The id of
  * the innermost open span rides on the Spark thread-local property
  * [[Spans.Property]], so [[JobListener]] can charge jobs to it. */
final class Spans(val runId: String, val enabled: Boolean, sc: SparkContext) {
  private val done = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val open = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val names = new java.util.concurrent.ConcurrentHashMap[Int, String]()

  def apply[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      names.put(id, name)
      val stack = open.get
      val parent = stack.headOption.getOrElse(0)
      val prevProp = sc.getLocalProperty(Spans.Property)
      open.set(id :: stack)
      sc.setLocalProperty(Spans.Property, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        sc.setLocalProperty(Spans.Property, prevProp)
        done.add(Span(id, name, parent, runId, Thread.currentThread.getName, t0, t1))
      }
    }

  def nameOf(id: Int): Option[String] = Option(names.get(id))

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)

  /** Per span name: count, total seconds and self seconds (duration minus
    * the part of it that child spans cover). */
  def summary: Map[String, (Int, Double, Double)] = {
    val spans = all
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val covered = Spans.unionNs(children.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
      name -> ((ss.size, ss.map(_.seconds).sum, self))
    }
  }
}

object Spans {
  val Property = "perfbench.span"

  /** Total length of the union of [start, end) intervals, in ns. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Work charged to one key: a crawl stage (`crawl.<stage>`, from the
  * `e<N>-<stage>` job groups that CrawlEpoch sets) or the enclosing span. */
final class KeyStats {
  val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  var jobs = 0
  var tasks = 0
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  /** Spark stage id -> task run times (ms), for the skew ratio. */
  val taskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def busySeconds: Double = Spans.unionNs(jobIntervals.toSeq) / 1e9

  /** max / median task run time in the Spark stage with the most task
    * time; 0 when no stage ran two or more tasks. */
  def skew: Double = {
    val stages = taskMs.values.filter(_.size >= 2)
    if (stages.isEmpty) 0.0
    else {
      val ts = stages.maxBy(_.sum).sorted
      val med = Stats.median(ts.map(_.toDouble).toSeq)
      if (med <= 0) 0.0 else ts.last / med
    }
  }
}

/** Charges Spark jobs and their tasks to crawl stages or spans, counting
  * only jobs that start inside the recording window (wall-clock ms). The
  * time spent inside its own callbacks is kept in [[callbackNs]]: it is
  * the tracing work that runs alongside the timed operations. */
final class JobListener(spans: Spans) extends SparkListener {
  private val StageGroup = "e[0-9]+-([a-z]+)".r
  @volatile private var windowStart = Long.MaxValue
  @volatile private var windowEnd = Long.MaxValue
  private val jobKey = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, Long]()
  private val stageKey = mutable.Map[Int, String]()
  private val stats = mutable.Map[String, KeyStats]()
  private val pending = new AtomicInteger(0)
  val callbackNs = new AtomicLong(0L)

  def startWindow(): Unit = { windowEnd = Long.MaxValue; windowStart = System.currentTimeMillis() }
  def endWindow(): Unit = windowEnd = System.currentTimeMillis()

  private def timedCallback(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try synchronized(f) finally callbackNs.addAndGet(System.nanoTime() - t0)
  }

  private def keyOf(props: java.util.Properties): String = {
    val p = Option(props)
    p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))) match {
      case Some(StageGroup(stage)) => s"crawl.$stage"
      case _ => p.flatMap(x => Option(x.getProperty(Spans.Property)))
        .flatMap(id => spans.nameOf(id.toInt)).getOrElse("other")
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timedCallback {
    if (e.time >= windowStart && e.time <= windowEnd) {
      val k = keyOf(e.properties)
      jobKey(e.jobId) = k
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageKey(s) = k)
      stats.getOrElseUpdate(k, new KeyStats).jobs += 1
      pending.incrementAndGet()
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timedCallback {
    jobKey.remove(e.jobId).foreach { k =>
      stats(k).jobIntervals += ((jobStart(e.jobId) * 1000000L, e.time * 1000000L))
      pending.decrementAndGet()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timedCallback {
    for (k <- stageKey.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats(k)
      s.tasks += 1
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer[Long]()) += m.executorRunTime
    }
  }

  /** Wait (at most `maxMs`) until every windowed job has ended and the
    * listener bus has been quiet for a moment. */
  def drain(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = -1L
    while (System.currentTimeMillis() < deadline &&
        (pending.get() > 0 || last != callbackNs.get())) {
      last = callbackNs.get()
      Thread.sleep(200)
    }
  }

  def snapshot: Map[String, KeyStats] = synchronized(stats.toMap)
}
