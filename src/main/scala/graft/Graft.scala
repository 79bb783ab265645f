package graft

import graft.functions.GraftFunctions

import org.apache.spark.sql.SparkSession

/** Library entry point for users switching from the reference pipeline:
  *
  * {{{
  *   val spark = Graft.session()                 // tuned local session
  *   Graft.init(spark)                           // register all expressions
  *   val c5 = graft.pipeline.MainPipeline.annotate(fetchedDocs)
  *
  *   // crawl epochs (north-rule pipeline) over a state root:
  *   import graft.crawl.CrawlEpoch
  *   CrawlEpoch.seed(root, spark, seeds)
  *   val m = CrawlEpoch.run(root, spark, pages, images, Some(robots),
  *     budgetPerHost = 100, epoch = 1)           // or start/finish to pipeline
  *   CrawlEpoch.requeueFailures(root, spark, epoch = 1,
  *     retryBudget = 100)                        // per-URL cap, then permanent drop
  *   CrawlEpoch.expireState(root, spark, keepLast = 2)  // storage maintenance
  *
  *   // corpus too large to cache: bucketed store, fetch scans prune to the
  *   // schedule's hash buckets (I/O ∝ schedule, not ∝ store)
  *   graft.crawl.PageStore.write(pages, storePath, nBuckets = 4096)
  *   CrawlEpoch.run(root, spark, pages, images, Some(robots),
  *     budgetPerHost = 100, epoch = 1, pageStore = Some(storePath))
  *
  *   // ANN at corpus scale: bucket once, probe with partition pruning:
  *   import graft.ops.Ann
  *   Ann.ivfWriteBucketed(corpus, path, "id", "embedding", dim = 128, nCells = 256)
  *   val nn = Ann.ivfTopKBucketed(path, queries, "embedding", "id",
  *     dim = 128, nCells = 256, nProbe = 8, k = 10)
  * }}}
  *
  * On a cluster, build your own session and just call `Graft.init`.
  */
object Graft {

  /** Register the graft expression library on an existing session
    * (idempotent; see [[graft.functions.GraftFunctions]] for the list). Call
    * it before the session's first query: it also sizes Spark's
    * generated-class cache, which is fixed at the first compile. */
  def init(spark: SparkSession): SparkSession = {
    GraftFunctions.register(spark)
    spark
  }

  /** Local session with the settings this engine is tuned for. */
  def session(master: String = "local[*]",
      shufflePartitions: Option[Int] = None): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        shufflePartitions.getOrElse(cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(GraftFunctions.CodegenCacheKey, GraftFunctions.CodegenCacheEntries.toString)
      .getOrCreate()
    init(s)
  }
}
