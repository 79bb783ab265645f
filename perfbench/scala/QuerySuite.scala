package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** query-suite: every `SparkEntry.queries` entry over the committed sf0.01
  * tables. One untimed cold pass, then warm passes in the same JVM; the
  * workload seed sets the query order of each pass. Every execution is
  * checked against the row count and digest pinned for that query. */
object QuerySuite {

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val queries = graft.SparkEntry.queries.toSeq.sortBy(_._1)
    val pins = Json.read(ctx.pinsPath).path("query-suite")
    val rng = new scala.util.Random(ctx.seed)
    val samples = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val digests = new java.util.concurrent.ConcurrentHashMap[String, Map[String, Any]]()

    def runOne(name: String, fn: (org.apache.spark.sql.SparkSession, String) => DataFrame,
        warm: Boolean): Boolean =
      ctx.outcome.attempt(s"query $name") {
        val ((rows, digest), s) = ctx.timed {
          ctx.spans(if (warm) s"queries.$name" else s"queries.cold.$name") {
            Sink.digest(fn(spark, ctx.dataDir))
          }
        }
        if (warm) samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += s
        else digests.put(name, Map("rows" -> rows, "digest" -> digest))
        val pin = pins.path(name)
        ctx.outcome.check(s"query $name rows and digest")(
          pin.path("rows").asLong(-1L) == rows && pin.path("digest").asText == digest)
      }.isDefined

    def pass(): Option[Double] = {
      val (ok, s) = ctx.timed(rng.shuffle(queries).map { case (n, f) => runOne(n, f, warm = true) })
      if (ok.forall(identity)) Some(s) else None
    }

    // The cold pass compiles every plan and checks every digest. It runs
    // one query per core at a time: it is warm-up, not a latency sample,
    // and JIT and code generation then proceed in parallel.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    val coldS = try ctx.timed {
      rng.shuffle(queries).map { case (n, f) =>
        pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = runOne(n, f, warm = false)
        })
      }.foreach(_.get())
    }._2 finally pool.shutdown()
    val tmpDir = System.getProperty("java.io.tmpdir")
    val fixtureBytes = Disk.du(tmpDir).toDouble

    ctx.beginTimed()
    val passes = ctx.timeBoxed(minUnits = 1)(_ => pass())
    ctx.endTimed()

    val all = samples.values.flatten.toSeq
    ctx.e2e("cpu_ms_per_item") = ctx.timedCpuSeconds * 1e3 / math.max(1, all.size)
    ctx.wall(all.size / math.max(1e-9, passes.sum), all)
    ctx.e2e("state_bytes_per_item") = fixtureBytes / queries.size
    ctx.report("query_pass_s") = Map("value" -> Stats.median(passes), "samples" -> passes.size,
      "all" -> passes)
    ctx.report("query_latency_p50_s") = Map("value" -> Stats.median(all), "samples" -> all.size)
    ctx.report("query_latency_p90_s") = Map("value" -> Stats.quantile(all, 0.9),
      "samples" -> all.size)
    ctx.report("cold_pass_s") = coldS
    ctx.report("fixture_bytes") = fixtureBytes
    ctx.report("queries") = queries.size
    ctx.report("digests") = digests.asScala.toSeq.sortBy(_._1).toMap

    if (ctx.trace) {
      queries.foreach { case (n, _) =>
        ctx.layer(s"queries.$n.warm_s") = Stats.median(samples.get(n).map(_.toSeq).getOrElse(Nil))
      }
      ctx.layer("queries.cold_pass_s") = coldS
      val plans = queries.map { case (_, f) => planCounts(f(spark, ctx.dataDir)) }
      ctx.layer("queries.plan.exchanges") = plans.map(_._1).sum
      ctx.layer("queries.plan.windows") = plans.map(_._2).sum
      ctx.layer("queries.plan.sorts") = plans.map(_._3).sum
      val stats = ctx.listener.map(_.snapshot).getOrElse(Map.empty)
        .filter { case (k, _) => k.startsWith("queries.") && !k.startsWith("queries.cold.") }
        .values
      val per = math.max(1, passes.size).toDouble
      ctx.layer("queries.shuffle_write_mb") = stats.map(_.shuffleWriteBytes).sum / 1e6 / per
      ctx.layer("queries.task_gc_s") = stats.map(_.gcMs).sum / 1e3 / per
      ctx.layer("queries.spill_mb") = stats.map(_.spillBytes).sum / 1e6 / per
    }
  }

  /** (exchanges, windows, sorts) in the initial physical plan, before
    * adaptive re-optimization, subqueries included. */
  def planCounts(df: DataFrame): (Int, Int, Int) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case x => x +: (x.children ++ x.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    (all.count(n => n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      all.count(_.isInstanceOf[WindowExec]),
      all.count(_.isInstanceOf[SortExec]))
  }
}
