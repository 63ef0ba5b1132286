package perfbench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <result.json>`.
  * Writes the result (and, when traced, the spans) as JSON; `run.py`
  * drives it and prints the final line. */
object Main {

  val setupReps = 2

  def workload(name: String): Workload = name match {
    case "daily_dag" => new DailyDag(Sizes.feed)
    case "analytics_mix" => new AnalyticsMix(Sizes.warehouseFeed, Sizes.corpusSf)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      argv(4), argv(5))
    val w = workload(a.workload)
    val cpus = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val ticks0 = Steal.ticks()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val b = new Bench(spark, a)
    val inputsS = b.setup(w, setupReps)
    val t1 = System.nanoTime()
    w.prebuild(b)
    val prebuildS = (System.nanoTime() - t1) / 1e9
    val setupSteal = Steal.share(ticks0)
    if (a.trace) b.sampler = Some(new StorageSampler(spark))
    b.measure(w)
    b.sampler.foreach(_.stop())

    val setupS = (sessionS + inputsS + prebuildS) * Steal.kept(setupSteal)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) b.endToEnd(setupS)
      else {
        val layer = b.perLayer(w) ++ Map("setup.session_s" -> sessionS,
          "setup.inputs_s" -> inputsS, "setup.prebuild_s" -> prebuildS)
        Files.write(s"${a.out}.trace.json", b.tracer.toJson)
        Layers.all.map { case (n, unit) => (n, layer.getOrElse(n, 0.0), unit) }
      }
    val m = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }
    def list(xs: Seq[String]) = xs.map(Json.str).mkString("[", ", ", "]")
    val fields = Seq(
      "correct" -> (b.mismatches.isEmpty).toString,
      "attempted" -> b.attempted.toString,
      "failed" -> b.failed.toString,
      "metrics" -> m.mkString("{", ", ", "}"),
      "mismatches" -> list(b.mismatches.toSeq),
      "failures" -> list(b.failures.toSeq),
      "timing" -> (s"""{"session_s": ${Json.num(sessionS)}, """ +
        s""""setup_s": ${b.setupTimes.map(Json.num).mkString("[", ", ", "]")}, """ +
        s""""prebuild_s": ${Json.num(prebuildS)}, """ +
        s""""setup_steal_share": ${Json.num(setupSteal)}, """ +
        s""""units_s": ${b.unitTimes.map(Json.num).mkString("[", ", ", "]")}, """ +
        s""""units_run_s": ${b.unitRunTimes.map(Json.num).mkString("[", ", ", "]")}, """ +
        s""""samples_ms": ${b.samples.map(Json.num).mkString("[", ", ", "]")}, """ +
        s""""ops_ms": ${b.opLog.map { case (n, ms) => s"[${Json.str(n)}, ${Json.num(ms)}]" }
          .mkString("[", ", ", "]")}}""")) ++
      w.extra(b)
    Files.write(a.out, fields.map { case (k, v) => s"${Json.str(k)}: $v" }
      .mkString("{", ",\n", "}\n"))
    spark.stop()
  }
}

/** Every per-layer metric a traced run reports, with its unit. A workload
  * that does not enter a layer reports 0 for it. */
object Layers {
  private val stages = Seq("staging_load", "check_data_quality",
    "operational_load", "warehouse_build", "feature_build", "predict",
    "evaluate", "monitoring_gate")
  private val reads = Seq("route_ranking", "rush_hour", "weather_trend",
    "stop_cumulative", "day_of_week", "monthly_trend", "hotspots", "kpis",
    "daily_trend", "top_routes", "hourly_pattern", "weather_impact",
    "recent_predictions")
  private val modules = Seq("Ingest", "Filters", "Scalars", "Joins",
    "Aggregates", "Windows", "TopK", "JsonArray", "Streaming", "TextAnalysis",
    "Dedup", "Curation", "Sampling", "Clustering", "Similarity", "Multimodal",
    "Advanced", "Quality", "SqlSurface", "Extras", "Behavior")

  val all: Seq[(String, String)] = Seq(
    "setup.session_s" -> "s", "setup.inputs_s" -> "s", "setup.prebuild_s" -> "s",
    "trace.unit_s" -> "s", "trace.overhead_pct" -> "%",
    "etl.staging_s" -> "s", "etl.dq_s" -> "s", "etl.operational_s" -> "s",
    "etl.warehouse_s" -> "s", "etl.shuffle_mb" -> "MB", "etl.cpu_s" -> "s",
    "features.build_s" -> "s", "features.cpu_s" -> "s",
    "features.shuffle_mb" -> "MB", "features.exchanges" -> "count",
    "features.broadcasts" -> "count", "features.split_s" -> "s",
    "eval.predict_s" -> "s", "eval.evaluate_s" -> "s", "eval.gate_s" -> "s",
    "eval.risk_s" -> "s",
    "dag.s" -> "s", "dag.jobs" -> "count", "dag.retained_mb" -> "MB") ++
    stages.map(s => s"dag.cached_mb.$s" -> "MB") ++ Seq(
    "trainer.fit_s" -> "s", "trainer.jobs" -> "count", "trainer.cpu_s" -> "s",
    "trainer.gate_s" -> "s", "trainer.acc10_pct" -> "%") ++
    reads.map(r => s"analytics.${r}_ms" -> "ms") ++ Seq(
    "analytics.plan_ms" -> "ms", "analytics.scan_mb" -> "MB",
    "analytics.jobs" -> "count", "analytics.exchanges" -> "count",
    "mv.refresh_ms" -> "ms") ++
    modules.map(m => s"ops.${m}_s" -> "s") ++ Seq(
    "suite.fast_s" -> "s", "suite.fast_n" -> "count", "suite.plan_ms" -> "ms",
    "suite.jobs" -> "count", "suite.tasks" -> "count", "suite.scans" -> "count",
    "suite.exchanges" -> "count",
    "kernels.entries_s" -> "s", "kernels.cpu_s" -> "s",
    "stream.batches" -> "count", "stream.add_batch_ms" -> "ms",
    "stream.trigger_ms" -> "ms", "stream.state_rows" -> "count")
}
