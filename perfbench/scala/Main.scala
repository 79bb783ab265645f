package perfbench

/** One benchmark run in one JVM. `perfbench/run.py` builds the classes,
  * starts this main and prints the result line; see perfbench/NOTES.md.
  *
  * Arguments (all `--key value`): workload, seed, seconds, trace (0|1),
  * work (scratch directory, emptied by the caller), data (query tables),
  * pins (pinned outputs), result (JSON written here), trace-out (spans
  * written here when tracing), and optionally pages (crawl web size).
  */
object Main {
  val Workloads = Seq("crawl-wide", "crawl-deep", "query-suite")
  val WidePages = 30000L
  val DeepPages = 20000L
  val DeepBudget = 100

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val trace = a("trace") == "1"
    val cores = math.min(4, Runtime.getRuntime.availableProcessors)
    val spark = Session(a("work"), cores)
    val runId = s"$workload-seed${a("seed")}-trace${a("trace")}-${System.currentTimeMillis()}"
    val spans = new Spans(runId, trace, spark.sparkContext)
    val listener = if (trace) Some(new JobListener(spans)) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, cores, a("seed").toLong, a("seconds").toDouble, trace,
      a("work"), a("data"), a("pins"), spans, listener)

    ctx.outcome.attempt(s"workload $workload") {
      workload match {
        case "crawl-wide" => Crawl.wide(ctx, a.get("pages").map(_.toLong).getOrElse(WidePages))
        case "crawl-deep" => Crawl.deep(ctx, a.get("pages").map(_.toLong).getOrElse(DeepPages),
          DeepBudget)
        case "query-suite" => QuerySuite.run(ctx)
      }
    }
    if (trace) ctx.outcome.attempt("functions probes")(Layers.functions(ctx))
    ctx.e2e("peak_rss_mb") = Window.peakRssMb()

    val layerNames = Layers.names(graft.SparkEntry.queries.keys.toSeq.sorted)
    if (trace) {
      ctx.layer("trace.listener_s") = listener.map(_.callbackNs.get / 1e9).getOrElse(0.0)
      ctx.report("layers_not_exercised") = layerNames.filterNot(ctx.layer.contains)
        .map(_.split('.')(0)).distinct
      layerNames.foreach(n => if (!ctx.layer.contains(n)) ctx.layer(n) = 0.0)
    }
    val o = ctx.outcome
    ctx.report("ops_failed_ratio") = Map("value" -> o.failed.toDouble / math.max(1L, o.attempted),
      "failed" -> o.failed, "attempted" -> o.attempted)
    ctx.report("e2e_in_this_run") = ctx.e2e
    ctx.report("wall") = ctx.layer.filter(_._1.startsWith("wall."))
    Json.write(a("result"), Json.toJava(Map(
      "correct" -> (o.failed == 0 && o.attempted > 0),
      "attempted" -> o.attempted,
      "failed" -> o.failed,
      "end_to_end" -> ctx.e2e,
      "per_layer" -> (if (trace) layerNames.map(n => n -> ctx.layer(n)).toMap else Map.empty),
      "report" -> ctx.report,
      "errors" -> o.errors)))

    if (trace) {
      val summary = spans.summary.map { case (n, (c, total, self)) =>
        n -> Map("count" -> c, "total_s" -> total, "self_s" -> self)
      }
      val jobs = listener.map(_.snapshot).getOrElse(Map.empty).map { case (k, s) =>
        k -> Map("jobs" -> s.jobs, "tasks" -> s.tasks, "busy_s" -> s.busySeconds,
          "task_gc_s" -> s.gcMs / 1e3, "shuffle_write_mb" -> s.shuffleWriteBytes / 1e6,
          "spill_mb" -> s.spillBytes / 1e6)
      }
      Json.write(a("trace-out"), Json.toJava(Map(
        "run_id" -> runId,
        "spans" -> spans.all.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
          "run_id" -> s.runId, "thread" -> s.thread, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
        "summary" -> summary,
        "jobs_by_key" -> jobs)))
    }
    spark.stop()
  }
}
