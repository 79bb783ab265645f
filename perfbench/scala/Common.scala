package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Host and JVM weather: GC wall, CPU steal, resident memory. */
object Window {
  def gcSeconds(): Double =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Cumulative CPU-steal jiffies of the host (/proc/stat, field 8). */
  def stealTicks(): Long =
    try {
      val cpu = Files.readAllLines(Paths.get("/proc/stat")).asScala
        .find(_.startsWith("cpu ")).getOrElse("")
      cpu.trim.split("\\s+").lift(8).map(_.toLong).getOrElse(0L)
    } catch { case _: Exception => 0L }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(0.0)

  /** CPU seconds used by all threads of this JVM so far. */
  def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Seconds since this JVM started. */
  def uptimeSeconds(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
}

object Disk {
  def du(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_: Path)).sum
      finally s.close()
    }
  }

  def rmrf(p: String): Unit = {
    val root = Paths.get(p)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      val all = try s.iterator().asScala.toSeq finally s.close()
      all.reverse.foreach(x => Files.deleteIfExists(x))
    }
  }
}

object Sink {
  /** Runs the full plan of `df` and discards the rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** (rows, order-insensitive digest) of `df`: one aggregate job over
    * every column, so no column is pruned and a final ORDER BY is dropped.
    * The digest is the exact sum of xxhash64 over each row's JSON, with
    * columns in name order. */
  def digest(df: DataFrame): (Long, String) = {
    val cols = df.columns.sorted.map(c => col(s"`$c`")).toIndexedSeq
    val r = df.agg(count(lit(1)),
      sum(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)"))).head()
    (r.getLong(0), String.valueOf(r.get(1)))
  }
}

object Json {
  val mapper = new ObjectMapper()
  def read(path: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(new java.io.File(path))
  def write(path: String, value: AnyRef): Unit =
    mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(path), value)

  /** Scala maps/seqs to Java collections, for the mapper. */
  def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double => java.lang.Double.valueOf(d)
    case l: Long => java.lang.Long.valueOf(l)
    case i: Int => java.lang.Integer.valueOf(i)
    case b: Boolean => java.lang.Boolean.valueOf(b)
    case null => null
    case x => x.asInstanceOf[AnyRef]
  }
}

/** Counts attempted and failed operations; a failure is an operation that
  * threw or an output check that did not hold. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val errors = scala.collection.mutable.ArrayBuffer[String]()

  def check(what: String)(ok: => Boolean): Boolean = {
    val r = try ok catch { case e: Throwable => record(what, Some(e.toString)); return false }
    record(what, if (r) None else Some("mismatch"))
    r
  }

  /** Runs `op`; a throw counts as one failure and yields None. */
  def attempt[A](what: String)(op: => A): Option[A] =
    try { val a = op; record(what, None); Some(a) }
    catch { case e: Throwable => record(what, Some(e.toString)); None }

  def addAttempts(n: Int): Unit = synchronized(attempted += n)

  private def record(what: String, error: Option[String]): Unit = synchronized {
    attempted += 1
    error.foreach { e =>
      failed += 1
      errors += s"$what: $e"
    }
  }
}

object Session {
  def apply(work: String, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.Graft.init(spark)
  }
}
