package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed operation: a query, a micro-batch or a serve request. */
final case class OpRec(name: String, seconds: Double, rows: Long, failed: Boolean)

/** One timed run of a workload. */
final case class UnitRec(index: Int, traced: Boolean, wall: Double, ops: Seq[OpRec],
                         diskBytes: Long)

/** A workload: set-up that can be repeated, timed runs, and the
  * outputs the correctness check reads. */
trait Workload {
  /** One set-up cycle, from scratch: fixtures, persisted stores, and
    * one untimed warm-up pass of the workload's calls. */
  def setupCycle(t: Tracer): Unit
  /** One timed run; returns its ops and the bytes it leaves on disk. */
  def runUnit(t: Tracer, u: Int): (Seq[OpRec], Long)
  /** Writes what the correctness check needs; returns its manifest. */
  def writeChecks(dir: String, corrupt: Boolean): Seq[Map[String, Any]]
  /** Per-layer metrics of this workload's own modules, for traced unit `u`. */
  def layerMetrics(t: Tracer, u: Int): Map[String, Double]
  /** Set-up facts reported once per process. */
  def setupFacts: Map[String, Any] = Map.empty
  /** Timed runs a process makes however short `seconds` is. */
  def minUnits: Int = 1
}

/** Benchmark JVM entry point. Arguments are `key=value` pairs:
  * workload, seed, seconds, trace (0|1), work (run dir), data (table
  * dir), cores, setup_reps, budget_s (seconds from session start by
  * which the timed runs should end), the workload's fixture sizes, and the
  * pinned session settings as `spark.*=value`. Writes
  * `result.json` and `trace.jsonl` into the work dir. */
object Main {
  def main(args: Array[String]): Unit = {
    // exit explicitly either way: a lingering non-daemon thread must
    // neither hang the benchmark nor turn a failure into a clean exit
    val code = try { run(args); 0 } catch {
      case e: Throwable => e.printStackTrace(); 1
    }
    System.exit(code)
  }

  private def run(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    def arg(k: String): String = conf.getOrElse(k, sys.error(s"missing argument $k"))
    val workDir = new File(arg("work")).getAbsolutePath
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traceOn = arg("trace") == "1"
    val cores = arg("cores")
    val reps = arg("setup_reps").toInt
    val budget = arg("budget_s").toDouble

    val t0 = System.nanoTime()
    // the pinned session settings (env.json) arrive as spark.* arguments;
    // the rest keep the session's files inside the run dir
    val spark = conf.filter(_._1.startsWith("spark.")).foldLeft(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val tracer = new Tracer(spark.sparkContext, traceOn)
    val w: Workload = arg("workload") match {
      case "graph_iter" =>
        new QueryWorkload(spark, arg("data"), arg("queries").split(',').toSeq, seed)
      case "taxi_flow" =>
        new FlowWorkload(spark, workDir, arg("fixture"), arg("batches").toInt,
          arg("uploads").toInt, arg("upload_rows").toInt, arg("rmse_bound").toDouble)
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up, repeated: set-up time is session start plus the
    // median cycle; the first, cold cycle is reported on its own ----
    val cycles = (1 to reps).map { _ =>
      val c0 = System.nanoTime()
      tracer("setup.cycle", "bench")(_ => w.setupCycle(tracer))
      (System.nanoTime() - c0) / 1e9
    }
    val setupS = sessionS + median(cycles)

    // ---- timed runs: a closed loop with one client. A traced process
    // interleaves untraced (U) and traced (T) runs in pairs, in ABBA
    // order (U T, T U, U T, ...), so warm-up and drift fall on both
    // sides; it runs whole pairs, at least two, and the tracing overhead
    // is the median of the per-pair differences. The second pair is
    // skipped only when it would not end within the process's budget. ----
    val units = mutable.ArrayBuffer.empty[UnitRec]
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    def pairFits = (System.nanoTime() - t0) / 1e9 + 2 * units.map(_.wall).max < budget
    def need = units.size < w.minUnits || elapsed < seconds ||
      (traceOn && (units.size % 2 == 1 || (units.size < 4 && pairFits)))
    while (need) {
      val u = units.size + 1
      val secondOfPair = (u - 1) % 2 == 1
      val traced = traceOn && secondOfPair == ((u - 1) / 2 % 2 == 0)
      tracer.unit = u
      val tr = if (traced) tracer else new Tracer(spark.sparkContext, false)
      tr.unit = u
      val u0 = System.nanoTime()
      val (ops, disk) = tr("bench.unit", "bench")(_ => w.runUnit(tr, u))
      val wall = (System.nanoTime() - u0) / 1e9
      units += UnitRec(u, traced, wall, ops, disk)
    }
    tracer.unit = 0
    tracer.drain()
    // what the timed runs retain only grows from one run to the next, so
    // the live heap after the last is the peak at run boundaries
    val heapPeak = LiveHeap.settled()

    // ---- untimed: the outputs the correctness check reads ----
    val corrupt = conf.get("corrupt").contains("1")
    val checks = w.writeChecks(s"$workDir/check", corrupt)

    val layers: Map[String, Any] =
      if (!traceOn) Map.empty
      else {
        val traced = units.filter(_.traced)
        val per = traced.map(u => SparkLayers(tracer, u) ++ w.layerMetrics(tracer, u.index))
        val keys = per.flatMap(_.keys).distinct
        val mean = keys.map(k => k -> per.map(_.getOrElse(k, 0.0)).sum / per.size).toMap
        val diffs = units.grouped(2).map(p => p.filter(_.traced).head.wall - p.filterNot(_.traced).head.wall)
        mean + ("trace.overhead_s" -> median(diffs.toSeq)) + ("trace.pairs" -> units.size / 2.0) +
          ("setup.cold_cycle_s" -> cycles.head)
      }

    val result = Map[String, Any](
      "workload" -> arg("workload"),
      "seed" -> seed,
      "trace" -> traceOn,
      "setup" -> Map("session_s" -> sessionS, "cycles_s" -> cycles, "setup_s" -> setupS),
      "setup_facts" -> w.setupFacts,
      "heap_peak_bytes" -> heapPeak,
      "units" -> units.map { u =>
        Map("index" -> u.index, "traced" -> u.traced, "wall_s" -> u.wall, "disk_bytes" -> u.diskBytes,
          "ops" -> u.ops.map(o => Map("name" -> o.name, "s" -> o.seconds, "rows" -> o.rows,
            "failed" -> o.failed)))
      },
      "layers" -> layers,
      "checks" -> checks)
    Files.writeString(Paths.get(s"$workDir/result.json"), Json(result) + "\n")
    writeSpans(tracer, s"$workDir/trace.jsonl")
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def writeSpans(t: Tracer, path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try t.spans.foreach { s =>
      val c = Option(t.listener.bySpan.get(s.id))
      w.println(Json(Map[String, Any](
        "id" -> s.id, "parent" -> s.parent, "unit" -> s.unit, "name" -> s.name,
        "layer" -> s.layer, "start_ms" -> s.startMs, "seconds" -> s.seconds,
        "spark" -> c.map(c => Map("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
          "task_s" -> c.taskNs / 1e9, "gc_s" -> c.gcMs / 1e3,
          "shuffle_read_bytes" -> c.shuffleRead, "shuffle_write_bytes" -> c.shuffleWrite,
          "spill_bytes" -> c.spill, "failed_tasks" -> c.failedTasks)).getOrElse(Map.empty))))
    } finally w.close()
  }
}

/** Spark-level per-layer metrics of one traced unit: totals over every
  * span of the unit, and the driver gap (unit wall minus the union of
  * its stages' wall intervals). */
object SparkLayers {
  def apply(t: Tracer, u: UnitRec): Map[String, Double] = {
    val cs = t.spans.filter(_.unit == u.index).flatMap(s => Option(t.listener.bySpan.get(s.id)))
    def sum(f: SparkCounts => Long) = cs.map(f).sum.toDouble
    val intervals = cs.flatMap(_.stageIntervals).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    intervals.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) covered += curE - curS
    val mb = 1e6
    Map(
      "spark.jobs" -> sum(_.jobs),
      "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks),
      "spark.task_s" -> sum(_.taskNs) / 1e9,
      "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.shuffle_read_mb" -> sum(_.shuffleRead) / mb,
      "spark.shuffle_write_mb" -> sum(_.shuffleWrite) / mb,
      "spark.spill_mb" -> sum(_.spill) / mb,
      "spark.failed_tasks" -> sum(_.failedTasks),
      "spark.driver_gap_s" -> math.max(0.0, u.wall - covered / 1e3))
  }

  /** Sum of a span-layer's seconds and Spark jobs within unit `u`. */
  def layer(t: Tracer, u: Int, layer: String): (Double, Double, Int) = {
    val ss = t.spans.filter(s => s.unit == u && s.layer == layer)
    val jobs = ss.flatMap(s => Option(t.listener.bySpan.get(s.id))).map(_.jobs).sum
    (ss.map(_.seconds).sum, jobs.toDouble, ss.size)
  }
}

/** Minimal JSON rendering for the result files. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Small file helpers. */
object Disk {
  def size(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(size).sum).getOrElse(0L)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
}
