package perfbench

import graft.crawl.CrawlEpoch
import graft.frontier.{BloomProbe, CuckooFilter, Scheduler, SeenSet}
import graft.functions.GraftFunctions
import graft.gen.SyntheticCorpus
import graft.table.SnapshotTable

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}

/** Per-layer probes of the traced run: timed calls into the public API of
  * one layer at a time, made after the timed phase so they never overlap
  * the end-to-end measurement. */
object Layers {

  val Functions = Seq("extract_cc_licenses", "extract_links", "canonicalize_url",
    "url_hash64", "image_check", "phash64", "minhash_sig", "simhash64", "lang_decision",
    "sorted_pairs", "bounded_min_list")

  /** Every per-layer metric a traced run reports. A layer the workload does
    * not exercise reports 0 and is listed under `layers_not_exercised`. */
  def names(queryNames: Seq[String]): Seq[String] = {
    val crawl = Seq("crawl.start_s", "crawl.finish_wait_s") ++
      Crawl.Stages.flatMap(s => Seq("busy_s", "jobs", "tasks", "task_gc_s",
        "shuffle_write_mb", "spill_mb").map(m => s"crawl.$s.$m")) ++
      Seq("crawl.schedule.task_skew", "crawl.out.task_skew", "crawl.requeue_s", "crawl.expire_s")
    val frontier = Seq("schedule_epoch_s", "schedule_rows_out", "filter_unseen_s",
      "filter_unseen_routed_s", "bloom_probe_ns", "bloom_fp_ratio", "seen_add_s", "retract_s",
      "cuckoo_insert_ns", "cuckoo_contains_ns", "cuckoo_delete_ns", "cuckoo_fp_ratio")
      .map("frontier." + _)
    val table = Seq("commit_s", "commit_delta_s", "read_s", "lineage_lookup_s").map("table." + _) ++
      Seq("frontier", "seen", "scheduled", "out", "robots").map("table.state_mb." + _)
    val functions = Functions.map(f => s"functions.$f.rows_per_s")
    val queries = queryNames.map(q => s"queries.$q.warm_s") ++ Seq("queries.cold_pass_s",
      "queries.plan.exchanges", "queries.plan.windows",
      "queries.plan.sorts", "queries.shuffle_write_mb", "queries.task_gc_s", "queries.spill_mb")
    Seq("wall.throughput_per_s", "wall.latency_p50_s", "wall.latency_p90_s") ++
      crawl ++ frontier ++ table ++ functions ++ queries ++
      Seq("jvm.gc_s", "host.steal_ticks", "trace.listener_s")
  }

  /** Best (lowest) of `reps` timed runs of `f`, each inside a span. */
  private def best(ctx: Ctx, span: String, reps: Int)(f: => Unit): Double =
    (1 to reps).map(_ => ctx.timed(ctx.spans(span)(f))._2).min

  /** Seen-set, scheduler and filter calls on the state a crawl left behind.
    * Read-only probes run first; add and retract change the state last. */
  def frontier(ctx: Ctx, root: String, robots: DataFrame, budget: Int): Unit = {
    val spark = ctx.spark
    val raw = CrawlEpoch.frontierTable(root, spark).read()
    val seenRoot = s"$root/seen"
    val seen = new SeenSet(seenRoot, spark)
    var rowsOut = 0L
    ctx.layer("frontier.schedule_epoch_s") = best(ctx, "frontier.schedule_epoch", 2) {
      val obs = Observation()
      Sink.noop(Scheduler.scheduleEpoch(raw, seen, Some(robots), budget)
        .observe(obs, count(lit(1)).as("n")))
      rowsOut = obs.get("n").asInstanceOf[Long]
    }
    ctx.layer("frontier.schedule_rows_out") = rowsOut.toDouble
    val normalized = Scheduler.normalize(raw).persist(StorageLevel.MEMORY_AND_DISK)
    normalized.count()
    ctx.layer("frontier.filter_unseen_s") =
      best(ctx, "frontier.filter_unseen", 2)(Sink.noop(seen.filterUnseen(normalized)))
    ctx.layer("frontier.filter_unseen_routed_s") =
      best(ctx, "frontier.filter_unseen_routed", 2)(Sink.noop(seen.filterUnseenRouted(normalized)))
    normalized.unpersist()

    val keys = seen.keys().distinct().collect().map(_.getLong(0)).sorted
    ctx.spans("frontier.bloom_probe")(bloom(ctx, seenRoot, seen, keys))

    val rng = new scala.util.Random(ctx.seed + 1)
    val fresh = Iterator.continually(rng.nextLong())
      .filter(k => java.util.Arrays.binarySearch(keys, k) < 0).take(10000).toSeq
    import spark.implicits._
    ctx.layer("frontier.seen_add_s") = ctx.timed(ctx.spans("frontier.seen_add")(
      seen.add(fresh.toDF("url_hash"))))._2
    ctx.layer("frontier.retract_s") = ctx.timed(ctx.spans("frontier.retract")(
      seen.retract(keys.take(1000).toSeq.toDF("url_hash"))))._2

    ctx.spans("frontier.cuckoo")(cuckoo(ctx))
  }

  /** Bloom sidecar probes through `BloomProbe.probe`: ns per probe, and the
    * share of "maybe" answers on keys known to be unseen (each one costs
    * an exact confirm). A seen key answered "no" is a failed check. */
  private def bloom(ctx: Ctx, seenRoot: String, seen: SeenSet, keys: Array[Long]): Unit = {
    val sid = seen.table.currentSnapshotId.get
    val countFile = Paths.get(seenRoot, "snapshots", "shard-count")
    val shards =
      if (Files.exists(countFile)) new String(Files.readAllBytes(countFile)).trim.toInt
      else SeenSet.ShardCount
    val rng = new scala.util.Random(ctx.seed)
    val unseen = Iterator.continually(rng.nextLong())
      .filter(k => java.util.Arrays.binarySearch(keys, k) < 0).take(1000000).toArray
    keys.take(1000).foreach(k => BloomProbe.probe(seenRoot, sid, shards, k)) // loads the shards
    var maybes = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < unseen.length) {
      if (BloomProbe.probe(seenRoot, sid, shards, unseen(i))) maybes += 1
      i += 1
    }
    val dt = System.nanoTime() - t0
    ctx.layer("frontier.bloom_probe_ns") = dt.toDouble / unseen.length
    ctx.layer("frontier.bloom_fp_ratio") = maybes.toDouble / unseen.length
    ctx.outcome.check("bloom sidecar answers maybe for every seen key")(
      keys.forall(k => BloomProbe.probe(seenRoot, sid, shards, k)))
  }

  /** CuckooFilter insert / contains / delete on 200k random keys: ns per
    * operation after one warm-up round, and the share of false "contains"
    * answers on keys never inserted. */
  private def cuckoo(ctx: Ctx): Unit = {
    val n = 200000
    val rng = new scala.util.Random(ctx.seed + 2)
    val all = Iterator.continually(rng.nextLong()).distinct.take(2 * n).toArray
    val in = all.take(n)
    val out = all.drop(n)
    def round(): (Double, Double, Double, Long, Boolean) = {
      val cf = CuckooFilter.forCapacity(n.toLong)
      var ok = true
      val t0 = System.nanoTime()
      in.foreach(k => ok &= cf.insert(k))
      val t1 = System.nanoTime()
      in.foreach(k => ok &= cf.contains(k))
      var fp = 0L
      out.foreach(k => if (cf.contains(k)) fp += 1)
      val t2 = System.nanoTime()
      in.foreach(k => ok &= cf.delete(k))
      val t3 = System.nanoTime()
      ((t1 - t0).toDouble / n, (t2 - t1).toDouble / (2 * n), (t3 - t2).toDouble / n, fp, ok)
    }
    round()
    val (ins, con, del, fp, ok) = round()
    ctx.layer("frontier.cuckoo_insert_ns") = ins
    ctx.layer("frontier.cuckoo_contains_ns") = con
    ctx.layer("frontier.cuckoo_delete_ns") = del
    ctx.layer("frontier.cuckoo_fp_ratio") = fp.toDouble / n
    ctx.outcome.check("cuckoo filter keeps and deletes every inserted key")(ok)
  }

  /** SnapshotTable commit, delta commit, read and lineage lookup. */
  def table(ctx: Ctx, root: String): Unit = {
    val spark = ctx.spark
    val src = CrawlEpoch.frontierTable(root, spark).read().persist(StorageLevel.MEMORY_AND_DISK)
    src.count()
    val delta = src.where(pmod(xxhash64(col("url")), lit(10)) === 0)
    val t = new SnapshotTable(s"${ctx.work}/table-probe", spark)
    ctx.layer("table.commit_s") = best(ctx, "table.commit", 2)(t.commit(src))
    ctx.layer("table.commit_delta_s") = best(ctx, "table.commit_delta", 2)(t.commitDelta(delta))
    ctx.layer("table.read_s") = best(ctx, "table.read", 2)(Sink.noop(t.read()))
    src.unpersist()
    val out = new SnapshotTable(s"$root/out", spark)
    val lookups = (1 to 64).iterator
      .map(e => ctx.timed(ctx.spans("table.lineage_lookup")(
        out.snapshotForLineage("epoch", e.toString))))
      .takeWhile(_._1.isDefined).map(_._2).toSeq
    ctx.layer("table.lineage_lookup_s") = Stats.median(lookups)
    Disk.rmrf(s"${ctx.work}/table-probe")
  }

  /** Rows per second of one projection per kernel through the public
    * GraftFunctions helpers, over a fixed sample of the crawl inputs
    * (pages, images and their visible text), into a noop sink; median of
    * three runs after one warm-up run. */
  def functions(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def keep(df: DataFrame) = { val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p }
    val nPages = 20000L
    val nImages = 2000L
    val pages = keep(SyntheticCorpus.pages(spark, nPages))
    val images = keep(SyntheticCorpus.images(spark, nImages))
    val text = keep(pages.select(GraftFunctions.extractVisibleText(col("html")).as("text")))
    val arrays = keep(text.select(sort_array(slice(GraftFunctions.minhashSig(col("text")), 1, 24))
      .as("arr")))
    val keyed = keep(pages.select(GraftFunctions.urlHost(col("url")).as("host"),
      GraftFunctions.urlHash64(col("url")).as("h")))
    val imgSeed = substring(col("image_id"), 5, 8).cast("long")
    val plans: Seq[(String, DataFrame, Long)] = Seq(
      ("extract_cc_licenses", pages.select(GraftFunctions.extractCcLicenses(col("html"))), nPages),
      ("extract_links", pages.select(GraftFunctions.extractLinks(col("html"))), nPages),
      ("canonicalize_url", pages.select(GraftFunctions.canonicalizeUrl(col("url"))), nPages),
      ("url_hash64", pages.select(GraftFunctions.urlHash64(col("url"))), nPages),
      ("image_check", images.select(GraftFunctions.imageCheck(col("bytes"), imgSeed,
        col("w"), col("h"))), nImages),
      ("phash64", images.select(GraftFunctions.phash64(col("bytes"))), nImages),
      ("minhash_sig", text.select(GraftFunctions.minhashSig(col("text"))), nPages),
      ("simhash64", text.select(GraftFunctions.simhash64(col("text"))), nPages),
      ("lang_decision", text.select(graft.pipeline.MainPipeline.languageColumns(col("text")): _*),
        nPages),
      ("sorted_pairs", arrays.select(GraftFunctions.sortedPairs(col("arr"))), nPages),
      ("bounded_min_list", keyed.groupBy(col("host"))
        .agg(GraftFunctions.boundedMinList(col("h"), 64)), nPages))
    plans.foreach { case (name, df, rows) =>
      Sink.noop(df)
      val s = Stats.median((1 to 3).map(_ =>
        ctx.timed(ctx.spans(s"functions.$name")(Sink.noop(df)))._2))
      ctx.layer(s"functions.$name.rows_per_s") = rows / s
    }
    Seq(pages, images, text, arrays, keyed).foreach(_.unpersist())
  }
}
