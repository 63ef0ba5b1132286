package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.control.NonFatal

case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                work: String, out: String)

/** One workload: inputs generated in `setup` (timed, repeated), program
  * work the inputs need before the first unit in `prebuild` (timed, once),
  * and a unit of work repeated for the measured window. */
trait Workload {
  /** Generate the run's inputs into `dir`. Called several times; the last
    * call's inputs are the ones measured. */
  def setup(b: Bench, dir: String): Unit
  def prebuild(b: Bench): Unit = ()
  /** One unit of work, made of operations recorded through `b.op`. */
  def unit(b: Bench, i: Int): Unit
  /** Untimed checks after a unit. */
  def after(b: Bench, i: Int): Unit = ()
  /** Per-layer metrics of one traced unit, from its span. */
  def layers(b: Bench, unit: Span): Map[String, Double]
  /** Extra result fields (JSON object members), written once at the end. */
  def extra(b: Bench): Seq[(String, String)] = Nil
}

/** The harness around a workload: operation and failure accounting,
  * output checks, the measured window, and the traced run's bookkeeping. */
class Bench(val spark: SparkSession, val a: Args) {
  val tracer = new Tracer(s"${a.workload}-${a.seed}-${ProcessHandle.current().pid()}")
  val recorder: Option[Recorder] = if (a.trace) Some(new Recorder(spark)) else None
  var sampler: Option[StorageSampler] = None

  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  val failures = mutable.ArrayBuffer.empty[String]

  val setupTimes = mutable.ArrayBuffer.empty[Double]
  val unitTimes = mutable.ArrayBuffer.empty[Double]
  /** Unit times with the CPU time stolen by the hypervisor removed. */
  val unitRunTimes = mutable.ArrayBuffer.empty[Double]
  /** Every operation of the measured window, in order: (name, ms). */
  val opLog = mutable.ArrayBuffer.empty[(String, Double)]
  private val opMs = mutable.ArrayBuffer.empty[Double]
  /** The latency samples of the measured window, in order (ms). */
  def samples: Seq[Double] = opMs.toSeq
  private var measuring = false
  private var unitTicks = Steal.ticks()
  private val units = mutable.ArrayBuffer.empty[Span]

  def check(ok: Boolean, what: => String): Unit =
    if (!ok && mismatches.size < 50) mismatches += what

  private def count(name: String, ms: Double, ok: Boolean, stat: Boolean,
                    err: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 50) failures += s"$name: $err"
    }
    if (measuring && ok && stat) opMs += ms
    if (measuring) opLog += (name -> ms)
  }

  /** Run one operation: counted as attempted, as failed if it throws,
    * timed into the latency samples when `stat`. */
  def op[A](name: String, stat: Boolean = true)(body: => A): Option[A] = {
    val (t0, s0) = (System.nanoTime(), Steal.ticks())
    try {
      val r = tracer.span(name)(body)
      count(name, Steal.remove((System.nanoTime() - t0) / 1e6, s0), ok = true, stat, "")
      Some(r)
    } catch {
      case NonFatal(e) =>
        count(name, 0, ok = false, stat, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** An operation the program ran and timed itself (a DAG stage), inside
    * the current unit: counted and logged, but not a latency sample. */
  def recordOp(name: String, seconds: Double, ok: Boolean, detail: String): Unit =
    count(name, Steal.remove(seconds * 1000, unitTicks), ok, stat = false, detail)

  /** A latency sample timed outside `op`, inside the current unit. */
  def sample(ms: Double): Unit =
    if (measuring) opMs += Steal.remove(ms, unitTicks)

  def currentSpan: Int = tracer.spans.lastIndexWhere(_.endMs.isNaN)

  /** Median seconds of `reps` timed set-ups into fresh directories. */
  def setup(w: Workload, reps: Int): Double = {
    setupTimes ++= (0 until reps).map { r =>
      val dir = s"${a.work}/input$r"
      val t0 = System.nanoTime()
      w.setup(this, dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r > 0) Files.delete(s"${a.work}/input${r - 1}")
      s
    }
    Stats.median(setupTimes.toSeq)
  }

  /** Repeat units until the window has run out; at least one. */
  def measure(w: Workload): Unit = {
    // start the window from a collected heap, not from set-up's garbage
    System.gc()
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    recorder.foreach(_.attach())
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) {
      measuring = true
      unitTicks = Steal.ticks()
      val t0 = System.nanoTime()
      tracer.span(s"unit$i")(w.unit(this, i))
      val s = (System.nanoTime() - t0) / 1e9
      measuring = false
      unitTimes += s
      unitRunTimes += Steal.remove(s, unitTicks)
      units += tracer.lastNamed(s"unit$i").get
      w.after(this, i)
      i += 1
    }
    recorder.foreach(_.detach())
  }

  def endToEnd(setupS: Double): Seq[(String, Double, String)] = Seq(
    ("setup_s", setupS, "s"),
    ("unit_s", Stats.median(unitRunTimes.toSeq), "s"),
    ("op_p50_ms", Stats.median(opMs.toSeq), "ms"))

  /** Per-layer metrics: the median over units of each value. */
  def perLayer(w: Workload): Map[String, Double] = {
    recorder.foreach(r => tracer.attribute(r.records))
    val perUnit = units.toSeq.map(u => w.layers(this, u))
    val keys = perUnit.flatMap(_.keys).distinct
    Map("trace.unit_s" -> Stats.median(unitRunTimes.toSeq)) ++
      keys.map(k => k -> Stats.median(perUnit.flatMap(_.get(k)))).toMap
  }
}

/** CPU time the hypervisor gave to other guests while this one had work
  * (the `steal` column of /proc/stat). On a shared virtual machine it came
  * and went over minutes, 0–38% of busy CPU time, and stretched every wall
  * time by more than that share; the end-to-end times take it out, scaling
  * a wall time by one minus [[amplification]] times the share of
  * busy-or-stolen CPU ticks that were stolen over the same interval. Zero
  * where /proc/stat is missing. */
object Steal {
  /** (busy + stolen ticks, stolen ticks), summed over all CPUs. */
  def ticks(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        // cpu user nice system idle iowait irq softirq steal ...
        val v = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        val stolen = if (v.length > 7) v(7) else 0L
        (v(0) + v(1) + v(2) + v(5) + v(6) + stolen, stolen)
      } finally src.close()
    } catch { case _: Exception => (0L, 0L) }

  /** Share of the busy-or-stolen ticks since `from` that were stolen. */
  def share(from: (Long, Long)): Double = {
    val now = ticks()
    val all = now._1 - from._1
    if (all <= 0) 0.0 else (now._2 - from._2).toDouble / all
  }

  /** Wall time lost per unit of stolen share: Spark's tasks wait for each
    * other at stage ends, so time stolen from one vCPU stalls the rest.
    * Over seven sets of ten runs (stolen shares up to 0.22), 1.5 in place
    * of 1 narrowed the spread of unit times in six, by up to 0.05 of their
    * median, and widened it in one by 0.002. */
  val amplification = 1.5

  /** The part of a wall time over an interval with `share` stolen that is
    * left once the steal is taken out. */
  def kept(share: Double): Double = 1 - amplification * share

  /** A wall time measured since `from`, without the stolen share. */
  def remove(wall: Double, from: (Long, Long)): Double = wall * kept(share(from))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val m = s.size / 2
      if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
    }
}

object Files {
  def delete(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
        Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new java.io.File(path))
  }

  def write(path: String, text: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, text.getBytes("UTF-8"))
  }
}
