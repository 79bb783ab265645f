package graft

import graft.crawl.CrawlEpoch
import graft.functions.GraftFunctions
import graft.gen.SyntheticCorpus

import org.apache.spark.metrics.source.CodegenMetrics

import java.nio.file.Files

/** Generated code is compiled once per plan shape and then reused: the
  * engine sizes Spark's generated-class cache to its working set, and no
  * per-snapshot constant is inlined into generated source. Measured with
  * Spark's own compile counter, which counts cache misses only. */
class CodegenReuseSpec extends SparkSpecBase {

  /** Classes compiled while `f` runs, and its result. */
  private def compiles[A](f: => A): (Long, A) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val a = f
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before, a)
  }

  test("register sizes the generated-class cache; an explicit value wins") {
    val key = GraftFunctions.CodegenCacheKey
    val sized = GraftFunctions.CodegenCacheEntries.toString
    assert(spark.sessionState.conf.getConfString(key) === sized)
    val fresh = spark.newSession()
    assert(!fresh.sessionState.conf.contains(key))
    GraftFunctions.register(fresh)
    assert(fresh.sessionState.conf.getConfString(key) === sized)
    val explicit = spark.newSession()
    explicit.sessionState.conf.setConfString(key, "300")
    GraftFunctions.register(explicit)
    assert(explicit.sessionState.conf.getConfString(key) === "300")
  }

  test("crawl epochs reuse their generated classes: fresh root and next epoch") {
    val pages = SyntheticCorpus.pages(spark, 400).cache()
    val images = SyntheticCorpus.images(spark, 400).cache()
    val seeds = SyntheticCorpus.seedUrls(spark, 300, pageCount = 400)
    val robots = SyntheticCorpus.robots(spark)
    def crawl(root: String, epochs: Seq[Long]): Unit = epochs.foreach { e =>
      CrawlEpoch.run(root, spark, pages, images, Some(robots), budgetPerHost = 5, epoch = e)
    }
    def freshCrawl(): String = {
      val root = Files.createTempDirectory("codegenReuse").toString
      CrawlEpoch.seed(root, spark, seeds)
      crawl(root, 1L to 3L)
      root
    }
    val (first, _) = compiles(freshCrawl())
    val (again, root) = compiles(freshCrawl())
    val (next, _) = compiles(crawl(root, Seq(4L)))
    info(s"compiles: first crawl $first, same crawl on a fresh root $again, epoch 4 $next")
    // the crawl uses ~170 classes, more than Spark's default cache of 100:
    // at that size the repeat recompiles ~320 of them
    assert(again === 0, "a repeated crawl recompiled generated classes")
    // epoch number and snapshot ids reach generated code as references, so
    // a new epoch is the same generated source as the ones before it
    assert(next === 0, "a further epoch on the same root recompiled its stages")
    pages.unpersist()
    images.unpersist()
  }

  test("a repeated query pass compiles nothing") {
    val dir = "perfbench/data/sf0.01"
    val names = Seq("q1_agg", "q_license_extract", "q_dedup_minhash", "q_langid",
      "q_window_topn", "q_url_host_domain", "q_semi_join", "q_percentiles",
      "q_dedup_simhash", "q_cube", "q_sessionize")
    def pass(): Unit = names.foreach(n => SparkEntry.queries(n)(spark, dir).collect())
    val (first, _) = compiles(pass())
    val (again, _) = compiles(pass())
    info(s"compiles: first pass $first, second pass $again")
    // ~145 classes, more than Spark's default cache of 100 (at that size
    // the second pass recompiles ~140 of them)
    assert(again === 0, "a repeated query pass recompiled generated classes")
  }
}
