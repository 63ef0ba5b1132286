package perfbench

import graft.etl._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Sizes of the generated inputs. */
object Sizes {
  val feed: FeedSpec = FeedSpec(routes = 100, trips = 2000, stopsPerTrip = 25,
    stops = 2000, days = 60, startDate = "2024-03-04")
  val warehouseFeed: FeedSpec = feed.copy(trips = 1000)
  val corpusSf = 0.002
  /** Files in the streaming source: one micro-batch each. */
  val streamFiles = 4
}

object Digest {
  /** Order-independent digest of a frame's rows; doubles are rounded to
    * 6 places so partial-aggregate merge order cannot flip it. */
  def frame(df: DataFrame): Long = {
    val cols = df.schema.fields.map { f =>
      if (f.dataType.typeName == "double") round(col(f.name), 6) else col(f.name)
    }
    df.select(pmod(xxhash64(cols.toIndexedSeq: _*), lit(1L << 31)).as("h"))
      .agg(coalesce(sum("h"), lit(0L))).first().getLong(0)
  }

  /** Digest of collected rows, in their order. */
  def rows(rs: Seq[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rs.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** A row as a JSON array. */
  def json(r: Row): String = r.toSeq.map {
    case null => "null"
    case d: Double => Json.num(d)
    case x: java.math.BigDecimal => x.toPlainString
    case n: java.lang.Number => n.toString
    case v => Json.str(v.toString)
  }.mkString("[", ", ", "]")
}

/** The write path: one `Pipeline.runDaily` from raw CSV to the monitoring
  * gate. A traced run follows each DAG with the weekly retrain over the
  * feature table the DAG built (split → label encoder and scaler →
  * `Trainer.fit` → gate → risk report), so the trainer's layers are traced
  * without the untimed runs paying for them. */
class DailyDag(spec: FeedSpec) extends Workload {
  private var root = ""
  private var nEvents = 0L
  private var out = mutable.Map.empty[String, DataFrame]
  private var report = Seq.empty[Row]
  private var retainedMb = 0.0
  private val digests = mutable.ArrayBuffer.empty[Long]
  private val accs = mutable.ArrayBuffer.empty[Double]
  /** Steal-corrected DAG seconds per unit span, like the untraced `unit_s`. */
  private val dagRunS = mutable.HashMap.empty[Int, Double]
  val stages = Seq("staging_load", "check_data_quality", "operational_load",
    "warehouse_build", "feature_build", "predict", "evaluate", "monitoring_gate")

  def setup(b: Bench, dir: String): Unit = {
    root = dir
    nEvents = GtfsFeed.write(b.spark, spec, b.a.seed, dir)
  }

  def unit(b: Bench, i: Int): Unit = {
    val parent = b.currentSpan
    val start = b.tracer.now
    val ticks = Steal.ticks()
    out = mutable.Map.empty[String, DataFrame]
    report = Pipeline.runDaily(b.spark, GtfsFeed.Paths(root).feed,
      GtfsFeed.events(b.spark, root), GtfsFeed.weather(b.spark, root),
      spec.asOf, out).collect().toSeq
    val dag = b.tracer.add("dag", parent, start, b.tracer.now)
    dagRunS(parent) = Steal.remove(dag.seconds, ticks)
    // the latency a user of the batch sees is the DAG's: the median of
    // eight unlike stage times rested on two short ones and spread nearly
    // twice as far between runs as the DAG time
    b.sample(dag.seconds * 1000)
    // the report's per-stage seconds, laid end to end from the DAG start
    var t = start
    report.foreach { r =>
      val (stage, status, secs) = (r.getString(0), r.getString(1), r.getDouble(2))
      b.recordOp(stage, secs, status == "success", s"$status ${r.getString(3)}")
      b.tracer.add(s"dag.$stage", dag.id, t, t + secs * 1000)
      t += secs * 1000
    }
    retainedMb = b.spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    if (b.a.trace) out.get("features").foreach(retrain(b, _))
  }

  private def retrain(b: Bench, features: DataFrame): Unit = {
    val split = b.op("split") {
      val (train, test) = FeatureBuild.split(features)
      val (tr, te) = (train.cache(), test.cache())
      val (nTr, nTe) = (tr.count(), te.count())
      b.check(nTr == nEvents * 4 / 5 && nTe == nEvents - nTr,
        s"split $nTr/$nTe of $nEvents")
      (tr, te, nTe)
    }
    split.foreach { case (train, test, nTest) =>
      b.op("encode") {
        val codes = FeatureBuild.fitLabelEncoder(train, "weather_condition")
          .collect().map(_.getInt(1)).sorted.toSeq
        b.check(codes == codes.indices, s"label codes $codes")
      }
      b.op("scale") {
        val p = FeatureBuild.fitScaler(train,
          Seq("temperature", "precipitation", "wind_speed", "hour_of_day"))
        b.check(p.values.forall(_._2 >= 0), "scaler stddev < 0")
      }
      b.op("fit")(Trainer.fit(train)).foreach { model =>
        b.op("gate") {
          val r = Trainer.evaluateGate(model, test)._1.first()
          b.check(r.getAs[Long]("n") == nTest, s"gate n ${r.getAs[Long]("n")} != $nTest")
          accs += r.getAs[Double]("accuracy_within_10min") * 100
        }
        b.op("risk") {
          val n = Evaluation.riskReport(Trainer.predict(model, test))
            .agg(sum("n_trips")).first().getLong(0)
          b.check(n == nTest, s"risk report covers $n of $nTest")
        }
      }
      train.unpersist()
      test.unpersist()
    }
  }

  override def after(b: Bench, i: Int): Unit = {
    b.check(report.map(_.getString(0)) == stages,
      s"dag stages ${report.map(_.getString(0)).mkString(",")}")
    report.filter(_.getString(1) != "success").foreach(r =>
      b.check(false, s"stage ${r.getString(0)} ${r.getString(1)}: ${r.getString(3)}"))
    // the generator's guarantees: a clean feed, and every event joins
    out.get("dq").foreach(_.collect().filter(_.getLong(1) != 0).foreach(r =>
      b.check(false, s"data quality ${r.getString(0)}=${r.getLong(1)}")))
    out.get("fact").foreach { f =>
      val n = f.count()
      b.check(n == nEvents, s"fact rows $n != events $nEvents")
    }
    out.get("features").foreach { f =>
      val n = f.count()
      b.check(n == nEvents, s"feature rows $n != events $nEvents")
      digests += Digest.frame(f)
    }
    b.check(digests.distinct.size <= 1, s"features digest moved: ${digests.distinct}")
    b.check(accs.distinct.size <= 1, s"model accuracy moved: ${accs.distinct}")
    // runDaily leaves its stage outputs cached; release them from outside
    b.spark.catalog.clearCache()
  }

  def layers(b: Bench, unit: Span): Map[String, Double] = {
    val kids = b.tracer.subtree(unit.id).map(s => s.name.stripPrefix("dag.") -> s).toMap
    def secs(n: String) = kids.get(n).map(_.seconds).getOrElse(0.0)
    def ctr(names: String*) = names.flatMap(kids.get).map(b.tracer.counters)
      .foldLeft(Counters())(_ + _)
    val etl = ctr("staging_load", "check_data_quality", "operational_load",
      "warehouse_build")
    val feat = ctr("feature_build")
    val fit = ctr("fit")
    val cached = b.sampler.toSeq.flatMap(s => stages.map(st =>
      s"dag.cached_mb.$st" -> kids.get(st).map(x => s.at(x.endMs)).getOrElse(0.0)))
    // the stage spans come from the report; they must tile the DAG span
    kids.get("dag").foreach { dag =>
      val covered = stages.map(secs).sum
      b.check(covered <= dag.seconds + 0.01 && covered >= dag.seconds * 0.9,
        f"stage spans cover $covered%.3f s of a ${dag.seconds}%.3f s DAG")
    }
    Map(
      "etl.staging_s" -> secs("staging_load"),
      "etl.dq_s" -> secs("check_data_quality"),
      "etl.operational_s" -> secs("operational_load"),
      "etl.warehouse_s" -> secs("warehouse_build"),
      "etl.shuffle_mb" -> etl.shuffleMb,
      "etl.cpu_s" -> etl.execCpuS,
      "features.build_s" -> secs("feature_build"),
      "features.cpu_s" -> feat.execCpuS,
      "features.shuffle_mb" -> feat.shuffleMb,
      "features.exchanges" -> feat.exchanges,
      "features.broadcasts" -> feat.broadcasts,
      "features.split_s" -> secs("split"),
      "eval.predict_s" -> secs("predict"),
      "eval.evaluate_s" -> secs("evaluate"),
      "eval.gate_s" -> secs("monitoring_gate"),
      "eval.risk_s" -> secs("risk"),
      "dag.s" -> secs("dag"),
      "dag.jobs" -> ctr("dag").jobs,
      "dag.retained_mb" -> retainedMb,
      "trainer.fit_s" -> secs("fit"),
      "trainer.jobs" -> fit.jobs,
      "trainer.cpu_s" -> fit.execCpuS,
      "trainer.gate_s" -> secs("gate"),
      "trainer.acc10_pct" -> accs.lastOption.getOrElse(0.0),
      // the untraced unit is the DAG alone
      "trace.unit_s" -> dagRunS.getOrElse(unit.id, secs("dag"))) ++ cached
  }

  override def extra(b: Bench): Seq[(String, String)] = {
    val repeat = digests.headOption.map(d => s""""features_digest": $d""") ++
      accs.headOption.map(a => s""""acc10_pct": ${Json.num(a)}""")
    Seq("repeat" -> repeat.mkString("{", ", ", "}"))
  }
}

/** The read path: dashboard and analysis queries and materialized-view
  * refreshes over a persisted warehouse, a module-stratified sample of the
  * `SparkEntry` registry over a generated corpus, and a micro-batched
  * stream drain; one client in a closed loop. */
class AnalyticsMix(spec: FeedSpec, sf: Double) extends Workload {
  import graft.ops._

  private var dir = ""
  private var wh: GtfsEtl.WarehouseTables = _
  private var op: GtfsEtl.OperationalTables = _
  private var events: DataFrame = _
  private var preds: DataFrame = _
  private var cascadeIn: DataFrame = _
  private var cascadeRows = 0L
  private var streamN = 0
  private val digests = mutable.HashMap.empty[String, String]
  private val counts = mutable.LinkedHashMap.empty[String, Long]
  private val firstRows = mutable.LinkedHashMap.empty[String, Seq[Row]]
  private val duckChecked = Set("kpis", "rush_hour", "day_of_week", "hourly_pattern")
  private val whNames = Seq("dim_date", "dim_time", "dim_stop", "dim_route",
    "dim_trip", "fact")

  val modules: Seq[(String, Map[String, Q])] = Seq(
    "Ingest" -> Ingest.queries, "Filters" -> Filters.queries,
    "Scalars" -> Scalars.queries, "Joins" -> Joins.queries,
    "Aggregates" -> Aggregates.queries, "Windows" -> Windows.queries,
    "TopK" -> TopK.queries, "JsonArray" -> JsonArray.queries,
    "Streaming" -> Streaming.queries, "TextAnalysis" -> TextAnalysis.queries,
    "Dedup" -> Dedup.queries, "Curation" -> Curation.queries,
    "Sampling" -> Sampling.queries, "Clustering" -> Clustering.queries,
    "Similarity" -> Similarity.queries, "Multimodal" -> Multimodal.queries,
    "Advanced" -> Advanced.queries, "Quality" -> Quality.queries,
    "SqlSurface" -> SqlSurface.queries, "Extras" -> Extras.queries,
    "Behavior" -> Behavior.queries)

  /** One entry per registry module, fixed across seeds (lowest name hash).
    * The registry's streaming entries keep their checkpoints under a fixed
    * path outside the run directory, so the streaming layer is driven
    * through `EventsStream`'s path-taking functions instead. */
  val sample: Seq[(String, String, Q)] = {
    val reg = graft.SparkEntry.queries
    modules.filter(_._1 != "Streaming").map { case (m, qs) =>
      val n = qs.keys.toSeq.filter(reg.contains)
        .minBy(n => (scala.util.hashing.MurmurHash3.stringHash(n), n))
      (m, n, reg(n))
    }
  }

  private def corpus = s"$dir/corpus"
  private def streamSrc = s"$dir/stream_src"

  def setup(b: Bench, d: String): Unit = {
    dir = d
    GtfsFeed.write(b.spark, spec, b.a.seed, d)
    Corpus.write(b.spark, sf, b.a.seed, corpus)
    // time-ordered files, one per micro-batch
    b.spark.read.parquet(s"$corpus/events.parquet")
      .repartitionByRange(Sizes.streamFiles, col("ts")).write.parquet(streamSrc)
    // the scores of an out-of-engine model: the actual delay give or take
    // up to 10 minutes
    val noise = pmod(xxhash64(lit(b.a.seed), col("trip_id"), col("stop_id"),
      col("actual_arrival")), lit(2001L)) / 100.0 - 10.0
    GtfsFeed.events(b.spark, d).select(col("trip_id"), col("stop_id"),
        col("delay_minutes").cast("double").as("actual"),
        greatest(lit(0.0), col("delay_minutes") + noise).as("predicted"))
      .write.parquet(s"$d/predictions")
  }

  /** The warehouse the reads serve from: built by the library, persisted.
    * The delay-cascade input joins the events to the cached stop times. */
  override def prebuild(b: Bench): Unit = {
    val s = b.spark
    events = GtfsFeed.events(s, dir)
    // the operational tables stay cached, as runDaily leaves them; view
    // refreshes re-run the warehouse stage over them
    op = GtfsEtl.operational(GtfsFeed.staging(s, dir))
    Seq(op.stops, op.routes, op.trips, op.stopTimes, op.calendar).foreach(_.cache())
    val w = GtfsEtl.warehouse(s, op, events)
    val tables = Seq(w.dimDate, w.dimTime, w.dimStop, w.dimRoute, w.dimTrip,
      w.factDelayEvents).zip(whNames).map { case (df, n) =>
      df.write.parquet(s"$dir/warehouse/$n")
      s.read.parquet(s"$dir/warehouse/$n")
    }
    val fact = tables(5)
    // the aggregate facts are refreshed as views below, never read here
    wh = GtfsEtl.WarehouseTables(tables(0), tables(1), tables(2), tables(3),
      tables(4), fact, fact.limit(0), fact.limit(0))
    cascadeIn = events.join(op.stopTimes.select("trip_id", "stop_id", "stop_sequence"),
      Seq("trip_id", "stop_id"))
    preds = s.read.parquet(s"$dir/predictions")
    // every event but the first of its trip has a previous stop delay
    cascadeRows = cascadeIn.count() - cascadeIn.select("trip_id").distinct().count()
  }

  private val reads: Seq[(String, () => DataFrame)] = Seq(
    "route_ranking" -> (() => AnalysisQueries.routePerformanceRanking(wh)),
    "rush_hour" -> (() => AnalysisQueries.rushHourAnalysis(wh)),
    "weather_trend" -> (() => AnalysisQueries.weatherImpactTrend(wh, events)),
    "stop_cumulative" -> (() => AnalysisQueries.stopCumulativeAnalysis(wh)),
    "day_of_week" -> (() => AnalysisQueries.dayOfWeekPatterns(wh)),
    "monthly_trend" -> (() => AnalysisQueries.monthlyTrend(wh)),
    "hotspots" -> (() => AnalysisQueries.hotspotMatrix(wh)),
    "kpis" -> (() => DashboardQueries.kpis(wh)),
    "daily_trend" -> (() => DashboardQueries.dailyTrend(wh)),
    "top_routes" -> (() => DashboardQueries.topRoutes(wh)),
    "hourly_pattern" -> (() => DashboardQueries.hourlyPattern(wh)),
    "weather_impact" -> (() => DashboardQueries.weatherImpact(events)),
    "recent_predictions" -> (() => DashboardQueries.recentPredictions(preds)))

  private def refresh(b: Bench, name: String, df: => DataFrame): Long =
    MaterializedViews.materialize(b.spark, df, s"$dir/mv/$name", s"mv_$name").count()

  /** The warehouse stage re-run once per round; both aggregate-fact
    * refreshes read it, and the first one pays for it. */
  private var fresh: Option[GtfsEtl.WarehouseTables] = None
  private def rebuilt(b: Bench) = fresh.getOrElse {
    val w = GtfsEtl.warehouse(b.spark, op, events)
    fresh = Some(w)
    w
  }

  private val writes: Seq[(String, Bench => Long)] = Seq(
    "cascade" -> (b => refresh(b, "cascade", AnalysisQueries.delayCascade(cascadeIn))),
    "daily_route_perf" -> (b => refresh(b, "daily_route_perf", rebuilt(b).dailyRoutePerf)),
    "hourly_stop_perf" -> (b => refresh(b, "hourly_stop_perf", rebuilt(b).hourlyStopPerf)))

  /** Drain the stream source through `runningMaxPerType`; the final
    * running maximum per event type. */
  private def drain(b: Bench): Seq[Row] = {
    streamN += 1
    val base = s"${b.a.work}/stream/running_max$streamN"
    graft.streaming.EventsStream.runningMaxPerType(b.spark, streamSrc,
        s"$base/ckpt", s"perfbench_running_max_$streamN")
      .groupBy("event_type").agg(max("running_max")).orderBy("event_type")
      .collect().toSeq
  }

  def unit(b: Bench, i: Int): Unit = {
    def keep(name: String, rows: Seq[Row]): Unit = {
      val d = Digest.rows(rows)
      b.check(digests.getOrElseUpdate(name, d) == d, s"$name result changed across rounds")
      if (!firstRows.contains(name)) firstRows(name) = rows
    }
    def keepCount(name: String, n: Long): Unit =
      b.check(counts.getOrElseUpdate(name, n) == n, s"$name rows $n != ${counts(name)}")
    fresh = None

    val ops: Seq[() => Unit] =
      reads.map { case (n, q) => () =>
        b.op(s"read.$n")(q().collect().toSeq).foreach(keep(n, _)) } ++
      writes.map { case (n, w) => () =>
        b.op(s"mv.$n", stat = false)(w(b)).foreach { c =>
          keepCount(s"mv.$n", c)
          if (n == "cascade") b.check(c == cascadeRows, s"cascade rows $c != $cascadeRows")
        } } ++
      sample.map { case (m, n, q) => () =>
        b.op(s"$m/$n", stat = false)(q(b.spark, corpus).count())
          .foreach(keepCount(n, _)) } :+
      (() => b.op("Streaming/running_max", stat = false)(drain(b))
        .foreach(keep("running_max", _)))
    // the order is shuffled per round but the same for every seed: the
    // first round runs cold, and a seed-dependent order would move JIT and
    // codegen warm-up between operations from run to run
    new scala.util.Random(1000L + i).shuffle(ops).foreach(_())
  }

  def layers(b: Bench, unit: Span): Map[String, Double] = {
    val kids = b.tracer.children(unit.id)
    def sum(xs: Seq[Span]) = xs.map(b.tracer.counters).foldLeft(Counters())(_ + _)
    val rd = kids.filter(_.name.startsWith("read."))
    val mv = kids.filter(_.name.startsWith("mv."))
    val entries = kids.filter(k => k.name.contains("/") && !k.name.startsWith("Streaming/"))
    val r = sum(rd)
    val e = sum(entries)
    val st = sum(kids.filter(_.name.startsWith("Streaming/")))
    val kernels = entries.filter(k => b.tracer.counters(k).kernelQueries > 0)
    val fast = entries.filter(_.seconds < 0.3)
    val byModule = kids.groupBy(_.name.takeWhile(_ != '/'))
    rd.map(s => s"analytics.${s.name.stripPrefix("read.")}_ms" -> s.seconds * 1000).toMap ++
    modules.map { case (m, _) =>
      s"ops.${m}_s" -> byModule.getOrElse(m, Nil).map(_.seconds).sum }.toMap ++
    Map(
      "analytics.plan_ms" -> r.planMs,
      "analytics.scan_mb" -> r.scanMb,
      "analytics.jobs" -> r.jobs,
      "analytics.exchanges" -> r.exchanges,
      "mv.refresh_ms" -> Stats.median(mv.map(_.seconds * 1000)),
      "suite.fast_s" -> fast.map(_.seconds).sum,
      "suite.fast_n" -> fast.size.toDouble,
      "suite.plan_ms" -> e.planMs,
      "suite.jobs" -> e.jobs,
      "suite.tasks" -> e.tasks,
      "suite.scans" -> e.scans,
      "suite.exchanges" -> e.exchanges,
      "kernels.entries_s" -> kernels.map(_.seconds).sum,
      "kernels.cpu_s" -> sum(kernels).execCpuS,
      "stream.batches" -> st.streamBatches,
      "stream.add_batch_ms" -> st.addBatchMs,
      "stream.trigger_ms" -> st.triggerMs,
      "stream.state_rows" -> st.stateRows)
  }

  /** First-round results and row counts for the out-of-engine
    * cross-check in DuckDB, with the parquet they came from. */
  override def extra(b: Bench): Seq[(String, String)] = {
    val rows = firstRows.filter { case (n, _) => duckChecked(n) || n == "running_max" }
      .map { case (n, rs) => Json.str(n) + ": " + rs.map(Digest.json).mkString("[", ", ", "]") }
    val oracles = sample.flatMap { case (_, n, _) =>
      for (sql <- graft.SparkEntry.oracleSql.get(n); c <- counts.get(n))
        yield s"""{"name": ${Json.str(n)}, "rows": $c, "sql": ${Json.str(sql)}}"""
    }
    Seq("duckdb" -> (s"""{"warehouse": ${Json.str(s"$dir/warehouse")}, """ +
      s""""corpus": ${Json.str(corpus)}, "results": """ +
      rows.mkString("{", ", ", "}") + ", \"entries\": " +
      oracles.mkString("[", ", ", "]") + "}"))
  }
}
