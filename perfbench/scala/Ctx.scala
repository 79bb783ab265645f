package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** State of one benchmark run, shared by the workloads and layer probes. */
final class Ctx(
    val spark: SparkSession,
    val cores: Int,
    val seed: Long,
    val seconds: Double,
    val trace: Boolean,
    val work: String,
    val dataDir: String,
    val pinsPath: String,
    val spans: Spans,
    val listener: Option[JobListener]) {

  val outcome = new Outcome
  /** End-to-end metrics, named as in BENCHMARK.json. */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics; layers the workload does not exercise stay 0. */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Everything else worth keeping: workload-specific metric names with
    * their sample counts, counts checked, weather. */
  val report = mutable.LinkedHashMap[String, Any]()

  /** CPU seconds of the whole JVM during the timed phase. */
  var timedCpuSeconds = 0.0
  private var timedStart = 0L
  private var timedEnd = Long.MaxValue
  private var gc0 = 0.0
  private var cpu0 = 0.0
  private var steal0 = 0L

  /** Marks the start of the timed phase; setup ends at the first call. */
  def beginTimed(): Unit = {
    if (!e2e.contains("setup_s")) e2e("setup_s") = Window.uptimeSeconds()
    gc0 = Window.gcSeconds()
    cpu0 = Window.cpuSeconds()
    steal0 = Window.stealTicks()
    listener.foreach(_.startWindow())
    timedEnd = Long.MaxValue
    timedStart = System.nanoTime()
  }

  /** Ends the timed phase; returns its wall seconds and records weather. */
  def endTimed(): Double = {
    timedEnd = System.nanoTime()
    val wall = (timedEnd - timedStart) / 1e9
    timedCpuSeconds = Window.cpuSeconds() - cpu0
    listener.foreach { l => l.endWindow(); l.drain() }
    layer("jvm.gc_s") = Window.gcSeconds() - gc0
    layer("host.steal_ticks") = (Window.stealTicks() - steal0).toDouble
    report("timed_wall_s") = wall
    report("window") = Map("jvm.gc_s" -> layer("jvm.gc_s"),
      "host.steal_ticks" -> layer("host.steal_ticks"))
    wall
  }

  /** Wall-clock throughput (items per second) and latency of the timed
    * operations. Kept as per-layer metrics: steal on a shared host moves
    * them by more than a tenth from run to run. */
  def wall(itemsPerSecond: Double, latencies: Seq[Double]): Unit = {
    layer("wall.throughput_per_s") = itemsPerSecond
    layer("wall.latency_p50_s") = Stats.median(latencies)
    layer("wall.latency_p90_s") = Stats.quantile(latencies, 0.9)
  }

  /** Durations of the spans called `name` that ran inside the timed phase. */
  def timedSpanSeconds(name: String): Seq[Double] =
    spans.all.filter(s => s.name == name && s.startNs >= timedStart && s.endNs <= timedEnd)
      .map(_.seconds)

  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Keeps starting units of work while the next one, predicted from the
    * median of those done, still ends within the run's seconds. */
  def timeBoxed(minUnits: Int)(unit: Int => Option[Double]): Seq[Double] = {
    val t0 = System.nanoTime()
    val done = mutable.ArrayBuffer[Double]()
    var go = true
    while (go) {
      unit(done.size + 1) match {
        case Some(s) => done += s
        case None => go = false
      }
      val elapsed = (System.nanoTime() - t0) / 1e9
      if (done.size >= minUnits && elapsed + Stats.median(done.toSeq) > seconds) go = false
    }
    done.toSeq
  }
}
