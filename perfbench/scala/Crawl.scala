package perfbench

import graft.crawl.CrawlEpoch
import graft.crawl.CrawlEpoch.EpochMetrics
import graft.frontier.SeenSet
import graft.functions.GraftFunctions
import graft.gen.SyntheticCorpus
import graft.table.SnapshotTable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** The simulated web both crawl workloads fetch from. Pages, images and
  * robots rules are fixed by the page count; only the seed list depends on
  * the workload seed. */
final class Web(spark: SparkSession, val nPages: Long) {
  val nImages: Long = math.max(500L, nPages / 10)
  val pages: DataFrame = SyntheticCorpus.pages(spark, nPages).persist(StorageLevel.MEMORY_AND_DISK)
  val images: DataFrame = SyntheticCorpus.images(spark, nImages).persist(StorageLevel.MEMORY_AND_DISK)
  val robots: DataFrame = SyntheticCorpus.robots(spark)
  pages.count()
  images.count()
}

object Inputs {
  /** The seed that reproduces `SyntheticCorpus.seedUrls` exactly, and with
    * it the counts pinned for `graft.Bench`'s inputs. */
  val DefaultSeed = 0L

  /** `n` seed URLs aimed at page ids in [0, pageCount). The default seed
    * returns `SyntheticCorpus.seedUrls` itself; any other seed salts the
    * choice of target page, URL variant and priority, with the same five
    * canonicalization variants (plain, upper-case scheme and host, default
    * port, fragment, percent-encoded path). */
  def seedUrls(spark: SparkSession, n: Long, pageCount: Long, seed: Long): DataFrame =
    if (seed == DefaultSeed) SyntheticCorpus.seedUrls(spark, n, pageCount)
    else {
      val id = col("id").cast("string")
      val salt = lit(s"perfbench-$seed")
      val target = pmod(hash(id, lit("seed"), salt), lit(pageCount))
      val base = SyntheticCorpus.pageUrl(target, 64)
      val variant = pmod(hash(id, lit("variant"), salt), lit(5))
      val url = when(variant === 0, base)
        .when(variant === 1,
          regexp_replace(base, "^http://site([0-9]+)\\.example", "HTTP://SITE$1.EXAMPLE"))
        .when(variant === 2, regexp_replace(base, "\\.example/", ".example:80/"))
        .when(variant === 3, concat(base, lit("#section-2")))
        .otherwise(regexp_replace(base, "/page/", "/%70age/"))
      val priority = round(
        pmod(hash(id, lit("prio"), salt), lit(1000)).cast("double") / 100.0, 2)
      spark.range(n).select(url.as("url"), priority.as("priority"))
    }
}

object Crawl {
  /** Page count of `graft.Bench`'s crawl inputs at sf0.1. */
  val BenchPages = 400000L
  val Stages = Seq("robots", "schedule", "seen", "frontier", "out")
  private val StateTables = Seq("frontier", "seen", "scheduled", "out", "robots")

  private def counts(m: EpochMetrics): Seq[Long] =
    Seq(m.scheduled, m.fetched, m.licensed, m.decodeOk, m.newFrontier)

  /** Two untimed epochs (each with its requeue and expiry) over the same
    * web from a small seed list, so the timed epochs do not pay the first
    * compile of the epoch plans. */
  private def warmUpDeep(ctx: Ctx, web: Web, budget: Int, pageCount: Long,
      retryBudget: Int): Unit = {
    val root = s"${ctx.work}/crawl-warmup"
    CrawlEpoch.seed(root, ctx.spark, SyntheticCorpus.seedUrls(ctx.spark, 4000, pageCount))
    (1 to 2).foreach { e =>
      CrawlEpoch.run(root, ctx.spark, web.pages, web.images, Some(web.robots), budget, e)
      CrawlEpoch.requeueFailures(root, ctx.spark, e, retryBudget = retryBudget)
      CrawlEpoch.expireState(root, ctx.spark, keepLast = 2)
    }
    Disk.rmrf(root)
  }

  /** crawl-wide: Bench's sf0.1 shape (64 hosts skewed toward host 0, seeds
    * = 2 x pages, images = pages / 10, budget = pages / 8 per host), scaled
    * by `nPages`. Each timed unit is a three-epoch crawl from a fresh root,
    * pipelined with one out stage in flight: start(e+1) before finish(e). */
  def wide(ctx: Ctx, nPages: Long): Unit = {
    val spark = ctx.spark
    // The seen-set Bloom build moves from the driver to executors above
    // 100k keys. Scale that gate with the web, so that epoch 1 builds on
    // executors and later epochs on the driver, as at Bench's 400k pages.
    if (nPages < BenchPages)
      spark.conf.set("graft.bloomDriverMax", (100000L * nPages / BenchPages).toString)
    val web = new Web(spark, nPages)
    val budget = math.max(100, (nPages / 8).toInt)
    val seeds = Inputs.seedUrls(spark, nPages * 2, nPages, ctx.seed)
      .persist(StorageLevel.MEMORY_AND_DISK)
    seeds.count()
    // every crawl gets its own root; seeding it is not timed
    def seedRoot(k: Int): String = {
      val r = s"${ctx.work}/crawl-wide-$k"
      CrawlEpoch.seed(r, spark, seeds)
      r
    }
    /** (epoch metrics, per-epoch latency, crawl wall, GC seconds). */
    def crawl(root: String): (Seq[EpochMetrics], Seq[Double], Double, Double) = {
      val startNs = new Array[Long](4)
      val latency = new Array[Double](4)
      def start(e: Int) = {
        startNs(e) = System.nanoTime()
        ctx.spans("crawl.start") {
          CrawlEpoch.start(root, spark, web.pages, web.images, Some(web.robots), budget, e)
        }
      }
      def finish(e: Int, h: CrawlEpoch.RunningEpoch) = {
        val m = ctx.spans("crawl.finish_wait")(CrawlEpoch.finish(h))
        latency(e) = (System.nanoTime() - startNs(e)) / 1e9
        m
      }
      val gc0 = Window.gcSeconds()
      val t0 = System.nanoTime()
      val h1 = start(1)
      val h2 = start(2)
      val m1 = finish(1, h1)
      val h3 = start(3)
      val m2 = finish(2, h2)
      val m3 = finish(3, h3)
      (Seq(m1, m2, m3), latency.toSeq.drop(1), (System.nanoTime() - t0) / 1e9,
        Window.gcSeconds() - gc0)
    }

    // Warm-up: one identical crawl, untimed, so that the timed crawls run
    // plans of the same shapes and sizes that are already compiled. It is
    // also the first of the same-JVM repeats reported under `crawls`.
    val warmRoot = seedRoot(0)
    val warm = ctx.outcome.attempt("crawl-wide warm-up crawl")(crawl(warmRoot))
    Disk.rmrf(warmRoot)
    var nextRoot = seedRoot(1)

    val crawls = mutable.ArrayBuffer[(Seq[EpochMetrics], Seq[Double], Double, Double)]()
    val stateBytes = mutable.ArrayBuffer[Double]()
    val stateMb = mutable.Map[String, Double]().withDefaultValue(0.0)
    var lastRoot: Option[String] = None
    ctx.beginTimed()
    val walls = ctx.timeBoxed(minUnits = 1) { k =>
      val root = nextRoot
      val result = ctx.outcome.attempt(s"crawl-wide crawl $k")(crawl(root))
      ctx.outcome.addAttempts(2) // three epochs per crawl
      result.foreach { r =>
        crawls += r
        stateBytes += Disk.du(root).toDouble / math.max(1L, r._1.map(_.scheduled).sum)
        StateTables.foreach(t => stateMb(t) += Disk.du(s"$root/$t") / 1e6)
        // the next root is seeded outside the crawl's own wall time
        lastRoot.foreach(Disk.rmrf)
        lastRoot = Some(root)
        nextRoot = seedRoot(k + 1)
      }
      result.map(_._3)
    }
    val timedWall = ctx.endTimed()
    Disk.rmrf(nextRoot)

    val epochs = crawls.flatMap(_._1)
    val urls = epochs.map(_.scheduled).sum
    val latencies = crawls.flatMap(_._2).toSeq
    ctx.e2e("cpu_ms_per_item") = ctx.timedCpuSeconds * 1e3 / math.max(1L, urls)
    ctx.e2e("state_bytes_per_item") = Stats.median(stateBytes.toSeq)
    ctx.wall(urls / math.max(1e-9, walls.sum), latencies)
    ctx.report("crawl_urls_per_s") = Map("value" -> ctx.layer("wall.throughput_per_s"),
      "samples" -> epochs.size, "crawls" -> crawls.size)
    ctx.report("epoch_latency_s") = Map("value" -> Stats.median(latencies),
      "samples" -> latencies.size, "all" -> latencies)
    ctx.report("crawls") = (warm.toSeq ++ crawls).zipWithIndex.map { case (c, i) =>
      Map("timed" -> (i > 0 || warm.isEmpty), "wall_s" -> c._3, "epoch_latency_s" -> c._2,
        "gc_s" -> c._4)
    }
    ctx.report("state_bytes_per_url") = Map("value" -> ctx.e2e("state_bytes_per_item"),
      "samples" -> stateBytes.size)
    ctx.report("timed_phase_s") = timedWall
    ctx.report("pages") = nPages
    ctx.report("budget_per_host") = budget

    (warm.toSeq ++ crawls).headOption.foreach { case (first, _, _, _) =>
      ctx.report("epoch_counts") = first.map(m => counts(m))
      ctx.outcome.check("every crawl repeats the first crawl's counts")(
        crawls.forall(_._1.map(counts) == first.map(counts)))
      checkPins(ctx, "crawl-wide", nPages, first)
      lastRoot.foreach(r => checkRoot(ctx, r, first, budget, retryBudget = 0))
    }
    if (crawls.isEmpty) ctx.outcome.check("at least one crawl completed")(false)

    if (ctx.trace) {
      crawlLayer(ctx, epochs.size)
      StateTables.foreach(t => ctx.layer(s"table.state_mb.$t") = stateMb(t) / math.max(1, crawls.size))
      lastRoot.foreach { r =>
        // crawl-wide never requeues or expires while timed; time both
        // calls once on its final state
        ctx.layer("crawl.requeue_s") = ctx.timed(ctx.spans("crawl.requeue")(
          CrawlEpoch.requeueFailures(r, spark, 3, retryBudget = 2)))._2
        ctx.layer("crawl.expire_s") = ctx.timed(ctx.spans("crawl.expire")(
          CrawlEpoch.expireState(r, spark, keepLast = 2)))._2
        Layers.frontier(ctx, r, web.robots, budget)
        Layers.table(ctx, r)
      }
    }
    lastRoot.foreach(Disk.rmrf)
    seeds.unpersist()
  }

  /** crawl-deep: a small web, seeds aimed at twice its size (about half of
    * them 404), a low per-host budget, and sequential epochs each followed
    * by a requeue of the 404s and expiry of old state. */
  def deep(ctx: Ctx, nPages: Long, budget: Int): Unit = {
    val spark = ctx.spark
    val retryBudget = 2
    val web = new Web(spark, nPages)
    val root = s"${ctx.work}/crawl-deep"
    CrawlEpoch.seed(root, spark, Inputs.seedUrls(spark, nPages * 2, nPages * 2, ctx.seed))
    warmUpDeep(ctx, web, budget, nPages * 2, retryBudget)

    val metrics = mutable.ArrayBuffer[EpochMetrics]()
    val latencies = mutable.ArrayBuffer[Double]()
    ctx.beginTimed()
    val cycles = ctx.timeBoxed(minUnits = 3) { e =>
      val t0 = System.nanoTime()
      val ok = ctx.outcome.attempt(s"crawl-deep epoch $e") {
        val (m, s) = ctx.timed {
          val h = ctx.spans("crawl.start") {
            CrawlEpoch.start(root, spark, web.pages, web.images, Some(web.robots), budget, e)
          }
          ctx.spans("crawl.finish_wait")(CrawlEpoch.finish(h))
        }
        metrics += m
        latencies += s
      }.flatMap(_ => ctx.outcome.attempt(s"crawl-deep requeue $e") {
        ctx.spans("crawl.requeue")(
          CrawlEpoch.requeueFailures(root, spark, e, retryBudget = retryBudget))
      }).flatMap(_ => ctx.outcome.attempt(s"crawl-deep expire $e") {
        ctx.spans("crawl.expire")(CrawlEpoch.expireState(root, spark, keepLast = 2))
      })
      ok.map(_ => (System.nanoTime() - t0) / 1e9)
    }
    val timedWall = ctx.endTimed()

    val urls = metrics.map(_.scheduled).sum
    val stateBytes = Disk.du(root).toDouble / math.max(1L, urls)
    ctx.e2e("cpu_ms_per_item") = ctx.timedCpuSeconds * 1e3 / math.max(1L, urls)
    ctx.e2e("state_bytes_per_item") = stateBytes
    ctx.wall(urls / math.max(1e-9, cycles.sum), latencies.toSeq)
    ctx.report("crawl_urls_per_s") = Map("value" -> ctx.layer("wall.throughput_per_s"),
      "samples" -> metrics.size)
    ctx.report("epoch_latency_s") = Map("value" -> Stats.median(latencies.toSeq),
      "samples" -> latencies.size, "all" -> latencies.toSeq)
    ctx.report("epoch_cycle_s") = cycles
    ctx.report("state_bytes_per_url") = Map("value" -> stateBytes, "samples" -> 1)
    ctx.report("timed_phase_s") = timedWall
    ctx.report("pages") = nPages
    ctx.report("budget_per_host") = budget
    ctx.report("epoch_counts") = metrics.map(counts).toSeq

    if (metrics.size < 3) ctx.outcome.check("at least three epochs completed")(false)
    checkPins(ctx, "crawl-deep", nPages, metrics.toSeq)
    if (metrics.nonEmpty) checkRoot(ctx, root, metrics.toSeq, budget, retryBudget)

    if (ctx.trace) {
      crawlLayer(ctx, metrics.size)
      StateTables.foreach(t => ctx.layer(s"table.state_mb.$t") = Disk.du(s"$root/$t") / 1e6)
      Layers.frontier(ctx, root, web.robots, budget)
      Layers.table(ctx, root)
    }
    Disk.rmrf(root)
  }

  /** Per-stage work from the job listener, per timed epoch, plus the
    * medians of the timed calls. */
  private def crawlLayer(ctx: Ctx, nEpochs: Int): Unit = {
    val stats = ctx.listener.map(_.snapshot).getOrElse(Map.empty)
    val per = math.max(1, nEpochs).toDouble
    Stages.foreach { st =>
      val s = stats.getOrElse(s"crawl.$st", new KeyStats)
      ctx.layer(s"crawl.$st.busy_s") = s.busySeconds / per
      ctx.layer(s"crawl.$st.jobs") = s.jobs / per
      ctx.layer(s"crawl.$st.tasks") = s.tasks / per
      ctx.layer(s"crawl.$st.task_gc_s") = s.gcMs / 1e3 / per
      ctx.layer(s"crawl.$st.shuffle_write_mb") = s.shuffleWriteBytes / 1e6 / per
      ctx.layer(s"crawl.$st.spill_mb") = s.spillBytes / 1e6 / per
      if (st == "schedule" || st == "out") ctx.layer(s"crawl.$st.task_skew") = s.skew
    }
    Seq("start", "finish_wait", "requeue", "expire").foreach(c =>
      ctx.layer(s"crawl.${c}_s") = Stats.median(ctx.timedSpanSeconds(s"crawl.$c")))
  }

  /** With the default seed, the first epochs must repeat the counts pinned
    * for this workload and page count, when there are pins for it. */
  private def checkPins(ctx: Ctx, workload: String, nPages: Long, ms: Seq[EpochMetrics]): Unit =
    if (ctx.seed == Inputs.DefaultSeed) {
      val pin = Json.read(ctx.pinsPath).path(workload).path(nPages.toString)
      if (!pin.isMissingNode) {
        val want = (0 until pin.size).map(i =>
          (0 until pin.get(i).size).map(j => pin.get(i).get(j).asLong))
        ctx.report("pinned_counts_checked") = want.size
        ctx.outcome.check(s"$workload pinned epoch counts")(
          ms.size >= want.size && ms.take(want.size).map(counts) == want)
      }
    }

  /** Output invariants over every epoch the root's out table holds:
    * out rows = scheduled, fetched + 404 = scheduled, no host above its
    * budget, no URL scheduled again unless it failed and stayed within the
    * retry budget, and the seen set holds exactly the scheduled hashes. */
  private def checkRoot(ctx: Ctx, root: String, ms: Seq[EpochMetrics],
      budget: Int, retryBudget: Int): Unit = {
    val spark = ctx.spark
    val out = new SnapshotTable(s"$root/out", spark)
    val all = ms.map { m =>
      val df = out.readAt(out.snapshotForLineage("epoch", m.epoch.toString).get)
      val retries = if (df.columns.contains("retries")) coalesce(col("retries"), lit(0)) else lit(0)
      df.select(col("url_hash"), GraftFunctions.urlHost(col("canon_url")).as("host"),
        col("fetch_status"), retries.as("retries"), lit(m.epoch).as("ep"))
    }.reduce(_ unionByName _).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val perEpoch = all.groupBy(col("ep")).agg(count(lit(1)),
        count(when(col("fetch_status") === 200, 1)),
        count(when(col("fetch_status") === 404, 1))).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      ctx.outcome.check("out rows = scheduled, fetched + 404 = scheduled")(ms.forall { m =>
        val (n, ok, nf) = perEpoch.getOrElse(m.epoch, (0L, 0L, 0L))
        n == m.scheduled && ok == m.fetched && ok + nf == n
      })
      val maxPerHost = all.groupBy(col("ep"), col("host")).count()
        .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
      ctx.outcome.check("every host within its budget")(maxPerHost <= budget)
      val perUrl = all.groupBy(col("url_hash")).agg(count(lit(1)).as("n"),
        count(when(col("fetch_status") =!= 404, 1)).as("ok"), max(col("retries")).as("r"))
        .agg(max(col("n")), max(col("ok")), max(col("r")), count(lit(1))).head()
      ctx.outcome.check("no URL scheduled twice except failed retries")(
        perUrl.getLong(0) <= 1 + retryBudget && perUrl.getLong(1) <= 1)
      ctx.outcome.check("every requeue within its retry budget")(perUrl.getAs[Number](2).longValue <= retryBudget)
      val seen = new SeenSet(s"$root/seen", spark).keys().distinct()
      val sched = all.select(col("url_hash")).distinct()
      ctx.outcome.check("seen keys = distinct scheduled hashes")(
        seen.count() == perUrl.getLong(3) && seen.exceptAll(sched).isEmpty)
    } finally all.unpersist()
  }
}
