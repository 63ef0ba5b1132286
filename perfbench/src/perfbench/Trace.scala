package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed interval at a layer boundary. Times are wall-clock
  * milliseconds, the clock Spark stamps its own events with, so events can
  * be attributed to the innermost span that contains them. */
case class Span(id: Int, parent: Int, name: String, startMs: Double,
                endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1000.0
  def contains(t: Double): Boolean = t >= startMs && t <= endMs
}

/** Counters attributed to a span: execution counters from task and job
  * events, plan shape from each finished query's AQE-final plan. */
case class Counters(
    jobs: Double = 0, tasks: Double = 0, shuffleReadMb: Double = 0,
    shuffleWriteMb: Double = 0, spillMb: Double = 0, scanMb: Double = 0,
    execRunS: Double = 0, execCpuS: Double = 0, gcS: Double = 0,
    queries: Double = 0, planMs: Double = 0, exchanges: Double = 0,
    reusedExchanges: Double = 0, scans: Double = 0, broadcasts: Double = 0,
    singlePartitionWindows: Double = 0, kernelQueries: Double = 0,
    streamBatches: Double = 0, addBatchMs: Double = 0, triggerMs: Double = 0,
    stateRows: Double = 0) {
  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, tasks + o.tasks, shuffleReadMb + o.shuffleReadMb,
    shuffleWriteMb + o.shuffleWriteMb, spillMb + o.spillMb, scanMb + o.scanMb,
    execRunS + o.execRunS, execCpuS + o.execCpuS, gcS + o.gcS,
    queries + o.queries, planMs + o.planMs, exchanges + o.exchanges,
    reusedExchanges + o.reusedExchanges, scans + o.scans,
    broadcasts + o.broadcasts, singlePartitionWindows + o.singlePartitionWindows,
    kernelQueries + o.kernelQueries, streamBatches + o.streamBatches,
    addBatchMs + o.addBatchMs, triggerMs + o.triggerMs, stateRows + o.stateRows)
  def shuffleMb: Double = shuffleReadMb + shuffleWriteMb
  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs, "tasks" -> tasks, "shuffle_read_mb" -> shuffleReadMb,
    "shuffle_write_mb" -> shuffleWriteMb, "spill_mb" -> spillMb,
    "scan_mb" -> scanMb, "exec_run_s" -> execRunS, "exec_cpu_s" -> execCpuS,
    "gc_s" -> gcS, "queries" -> queries, "plan_ms" -> planMs,
    "exchanges" -> exchanges, "reused_exchanges" -> reusedExchanges,
    "scans" -> scans, "broadcasts" -> broadcasts,
    "single_partition_windows" -> singlePartitionWindows,
    "kernel_queries" -> kernelQueries, "stream_batches" -> streamBatches,
    "add_batch_ms" -> addBatchMs, "trigger_ms" -> triggerMs,
    "state_rows" -> stateRows)
}

/** Plan-shape counts of one executed query. A cached relation's plan is
  * counted with the first query that reads it, the one that fills it. */
object PlanShape {
  private val filled = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[AnyRef, java.lang.Boolean])

  private def walk(p: SparkPlan, f: SparkPlan => Unit): Unit = {
    f(p)
    p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, f)
      case q: QueryStageExec => walk(q.plan, f)
      case m: InMemoryTableScanExec =>
        if (filled.put(m.relation.cacheBuilder, true) == null)
          walk(m.relation.cachedPlan, f)
      case _: ReusedExchangeExec => // its child is counted where it runs
      case _ => p.children.foreach(walk(_, f))
    }
    p.subqueries.foreach(walk(_, f))
  }

  def of(qe: QueryExecution): Counters = {
    var c = Counters(queries = 1)
    var kernel = false
    walk(qe.executedPlan, {
      case _: ReusedExchangeExec => c = c.copy(reusedExchanges = c.reusedExchanges + 1)
      case _: BroadcastExchangeLike => c = c.copy(broadcasts = c.broadcasts + 1)
      case _: ShuffleExchangeLike => c = c.copy(exchanges = c.exchanges + 1)
      case _: FileSourceScanExec | _: BatchScanExec => c = c.copy(scans = c.scans + 1)
      case w: WindowExec if w.partitionSpec.isEmpty =>
        c = c.copy(singlePartitionWindows = c.singlePartitionWindows + 1)
      case p =>
        if (!kernel) kernel = p.expressions.exists(_.exists(
          _.getClass.getName.startsWith("graft.expressions.")))
    })
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    c.copy(planMs = planMs, kernelQueries = if (kernel) 1 else 0)
  }
}

/** Listeners the benchmark registers on the session for a traced run.
  * They keep raw, timestamped records in memory; [[Tracer.attribute]]
  * assigns each record to a span after the bus has drained. */
class Recorder(spark: SparkSession) {
  private case class JobRec(timeMs: Double, stages: Seq[Int])
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stageCounters = mutable.HashMap.empty[Int, Counters]
  private val timed = mutable.ArrayBuffer.empty[(Double, Counters)]
  private val lock = new Object
  private val mb = 1024.0 * 1024.0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      jobs += JobRec(e.time.toDouble, e.stageIds)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) lock.synchronized {
        val c = Counters(
          tasks = 1,
          shuffleReadMb = m.shuffleReadMetrics.totalBytesRead / mb,
          shuffleWriteMb = m.shuffleWriteMetrics.bytesWritten / mb,
          spillMb = m.memoryBytesSpilled / mb,
          scanMb = m.inputMetrics.bytesRead / mb,
          execRunS = m.executorRunTime / 1e3,
          execCpuS = m.executorCpuTime / 1e9,
          gcS = m.jvmGCTime / 1e3)
        stageCounters(e.stageId) = stageCounters.getOrElse(e.stageId, Counters()) + c
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = {
      val phaseEnd = qe.tracker.phases.values.map(_.endTimeMs)
      val t = if (phaseEnd.isEmpty) System.currentTimeMillis().toDouble
              else phaseEnd.max.toDouble
      val c = PlanShape.of(qe)
      lock.synchronized { timed += (t -> c) }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String) = Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val c = Counters(streamBatches = 1, addBatchMs = d("addBatch"),
        triggerMs = d("triggerExecution"),
        stateRows = p.stateOperators.map(_.numRowsTotal).sum.toDouble)
      lock.synchronized { timed += (t -> c) }
    }
  }

  private var attached = false

  def attach(): Unit = if (!attached) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
    attached = false
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  /** Every record as (timestamp, counters); a job's task counters ride on
    * the job's submission time. */
  def records: Seq[(Double, Counters)] = lock.synchronized {
    val byJob = jobs.toSeq.map { j =>
      j.timeMs -> j.stages.flatMap(stageCounters.get)
        .foldLeft(Counters(jobs = 1))(_ + _)
    }
    byJob ++ timed.toSeq
  }
}

/** Samples the storage memory held by cached data, for a traced run. */
class StorageSampler(spark: SparkSession, periodMs: Long = 20) {
  private val samples = mutable.ArrayBuffer.empty[(Double, Double)]
  @volatile private var running = true
  private val thread = new Thread(() => {
    while (running) {
      val bytes = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      samples.synchronized {
        samples += (System.currentTimeMillis().toDouble -> bytes / 1048576.0)
      }
      Thread.sleep(periodMs)
    }
  }, "perfbench-storage-sampler")
  thread.setDaemon(true)
  thread.start()

  /** Cached MB at the last sample taken no later than `tMs`. */
  def at(tMs: Double): Double = samples.synchronized {
    samples.filter(_._1 <= tMs).lastOption.map(_._2).getOrElse(0.0)
  }

  def stop(): Unit = { running = false; thread.join() }
}

/** Spans kept in memory for one run, written out when it ends. */
class Tracer(val runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def now: Double = System.currentTimeMillis().toDouble

  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    val parent = stack.head
    spans += Span(id, parent, name, now, Double.NaN)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endMs = now)
    }
  }

  /** A span known only after the fact (a stage of a report). */
  def add(name: String, parent: Int, startMs: Double, endMs: Double): Span = {
    val s = Span(spans.size, parent, name, startMs, endMs)
    spans += s
    s
  }

  def lastNamed(name: String): Option[Span] = spans.reverseIterator.find(_.name == name)

  def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  def subtree(id: Int): Seq[Span] = {
    val kids = children(id)
    kids ++ kids.flatMap(k => subtree(k.id))
  }

  /** Duration minus the part of it covered by child spans. */
  def selfSeconds(s: Span): Double = {
    val covered = children(s.id).map(c =>
      math.max(0.0, math.min(c.endMs, s.endMs) - math.max(c.startMs, s.startMs)))
      .sum / 1000.0
    math.max(0.0, s.seconds - covered)
  }

  private var own = Map.empty[Int, Counters]

  /** Assign each record to the innermost span containing its timestamp. */
  def attribute(records: Seq[(Double, Counters)]): Unit = {
    val depth = mutable.HashMap.empty[Int, Int]
    def d(s: Span): Int = depth.getOrElseUpdate(s.id,
      if (s.parent < 0) 0 else d(spans(s.parent)) + 1)
    val acc = mutable.HashMap.empty[Int, Counters]
    records.foreach { case (t, c) =>
      val hits = spans.filter(_.contains(t))
      if (hits.nonEmpty) {
        val s = hits.maxBy(d)
        acc(s.id) = acc.getOrElse(s.id, Counters()) + c
      }
    }
    own = acc.toMap
  }

  /** Counters of a span including everything attributed to its subtree. */
  def counters(s: Span): Counters =
    (s +: subtree(s.id)).flatMap(x => own.get(x.id)).foldLeft(Counters())(_ + _)

  def toJson: String = {
    val rows = spans.map { s =>
      val c = counters(s).fields.map { case (k, v) => s""""$k": ${Json.num(v)}""" }
      s"""{"run_id": ${Json.str(runId)}, "id": ${s.id}, "parent": ${s.parent}, """ +
        s""""name": ${Json.str(s.name)}, "start_ms": ${Json.num(s.startMs)}, """ +
        s""""end_ms": ${Json.num(s.endMs)}, "seconds": ${Json.num(s.seconds)}, """ +
        s""""self_seconds": ${Json.num(selfSeconds(s))}, ${c.mkString(", ")}}"""
    }
    rows.mkString("[\n", ",\n", "\n]\n")
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}
