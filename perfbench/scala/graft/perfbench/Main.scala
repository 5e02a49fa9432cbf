package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.commons.math3.special.Beta
import org.apache.spark.sql.SparkSession

import graft.core.GraftSession
import graft.operators.GuardMetrics

/** One timed operation of a workload's closed loop. */
final case class Op(key: String, name: String, family: String,
    seconds: Double, items: Long, ok: Boolean, spanId: Int, startNs: Long,
    endNs: Long)

/** Everything one measurement window records. */
final class Window(val traced: Boolean, val spans: Spans,
    val exec: Option[ExecListener]) {
  val ops = mutable.ArrayBuffer.empty[Op]
  /** Closed-loop time spent outside ops (e.g. compaction, restarts). */
  var maintenanceS = 0.0
  val heapMb = mutable.ArrayBuffer.empty[Double]
  /** Rows the skew guards dropped during the window (`GuardMetrics`). */
  var guardDropped = 0L
  var writes: Seq[WriteEvent] = Seq.empty
  /** Indices into `ops` of the ops that issued a noop write, in order;
    * `writes` follows the same order. */
  val noopIssued = mutable.ArrayBuffer.empty[Int]
  /** Workload-specific per-layer readings. */
  val layers = mutable.LinkedHashMap.empty[String, Double]

  def items: Long = ops.map(_.items).sum

  /** Run `body` (given the op's span id) as one op; failures count,
    * never abort the window. */
  def op(spark: SparkSession, key: String, name: String, family: String)(
      body: Int => Long): Op = {
    val id = spans.newId()
    if (traced) spark.sparkContext.setJobGroup(key, name, false)
    val t0 = Clock.nowNs()
    val (items, ok) =
      try (body(id), true)
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] op $name failed: $e"); (0L, false)
      }
    val t1 = Clock.nowNs()
    if (traced) {
      spark.sparkContext.clearJobGroup()
      spans.put(Span(id, 0, s"op:$name", t0, t1, Map("items" -> items.toDouble)))
    }
    val o = Op(key, name, family, (t1 - t0) / 1e9, items, ok, id, t0, t1)
    ops += o
    o
  }

  def heapCheckpoint(): Unit = heapMb += Heap.postGcOldGenMb()
}

trait Workload {
  def name: String
  /** The workload's part of one set-up cycle, on a fresh session. */
  def prepare(spark: SparkSession): Unit
  /** Untimed output check and warm-up, before any window; returns the
    * names of the ops whose outputs are wrong (those ops count failed). */
  def check(spark: SparkSession): Set[String]
  /** Run the closed loop until `deadlineNs`. */
  def run(spark: SparkSession, w: Window, deadlineNs: Long): Unit
  /** Untimed checks of what the window wrote; returns wrong op keys. */
  def verify(spark: SparkSession, w: Window): Set[String] = Set.empty
}

/** Benchmark entry: `Main <workload> <seed> <seconds> <trace> <workDir>`.
  * Reads the generated inputs from `workDir` and writes
  * `<workDir>/result.json`; the Python wrapper adds its oracle checks and
  * prints the final line. */
object Main {
  val SetupCycles = 3

  /** Writes the result file and the span log, reads the corpus tags. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Each op's weight in the latency statistics: one over the number of
    * ops of the same name, so that every distinct op (a query) counts
    * equally however many times the window ran it. */
  def weights(ops: Seq[Op]): Seq[Double] = {
    val count = ops.groupBy(_.name).map { case (k, v) => k -> v.size }
    ops.map(o => 1.0 / count(o.name))
  }

  /** The weighted Harrell-Davis estimate of the `q`-quantile
    * (0 < q < 1): a Beta-weighted mean of all the order statistics, with
    * the effective sample size of the weights. It varies less between
    * runs than the one or two middle samples do: over the op times of ten
    * `queries` runs, the median's quartile spread was 0.124 with it and
    * 0.147 as the middle sample. */
  def quantile(xs: Seq[Double], ws: Seq[Double], q: Double): Double = {
    val s = xs.zip(ws).sortBy(_._1)
    val total = ws.sum
    val n = total * total / ws.map(w => w * w).sum
    val (a, b) = (q * (n + 1), (1 - q) * (n + 1))
    val cdf = s.scanLeft(0.0)(_ + _._2).map(c =>
      Beta.regularizedBeta(math.min(1.0, c / total), a, b))
    s.indices.map(i => (cdf(i + 1) - cdf(i)) * s(i)._1).sum
  }

  /** The percentile `op_tail_s` reports. */
  val TailPercentile = 90

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    Manifest.checkCoverage()
    val wl: Workload = workload match {
      case "queries" => new QueryWorkload(Manifest.timedQueries, workDir, seed)
      case "jigsaw_export" => new ExportWorkload(workDir, seed)
      case "ingest" => new IngestWorkload(workDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: the session plus the workload's binding of its inputs, done
    // SetupCycles times on fresh sessions; the median is reported
    val setups = (1 to SetupCycles).map { i =>
      val t0 = System.nanoTime()
      val spark = GraftSession.get("perfbench")
      wl.prepare(spark)
      val dt = (System.nanoTime() - t0) / 1e9
      if (i < SetupCycles) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dt
    }
    val spark = SparkSession.active
    val writes = new WriteListener
    Probe.classic(spark).listenerManager.register(writes)

    val tWarmup = System.nanoTime()
    val wrong = wl.check(spark)
    val warmupS = (System.nanoTime() - tWarmup) / 1e9
    Probe.drainBus(spark)
    writes.drain()

    def window(trace: Boolean, secs: Double): Window = {
      val exec = if (trace) Some(new ExecListener) else None
      exec.foreach(spark.sparkContext.addSparkListener)
      val w = new Window(trace, new Spans, exec)
      val guard = GuardMetrics.of(spark.sparkContext).droppedRows
      val g0 = guard.value.longValue
      wl.run(spark, w, System.nanoTime() + (secs * 1e9).toLong)
      w.guardDropped = guard.value.longValue - g0
      Probe.drainBus(spark)
      exec.foreach(spark.sparkContext.removeSparkListener)
      w.writes = writes.drain()
      w
    }

    // untraced: one window. Traced: the traced window between two
    // untraced halves, so the JVM's warm-up drift cancels out of
    // trace.overhead_frac
    val (plains, tracedW) =
      if (!traced) (Seq(window(trace = false, seconds)), None)
      else {
        val a = window(trace = false, seconds / 2)
        val t = window(trace = true, seconds)
        (Seq(a, window(trace = false, seconds / 2)), Some(t))
      }
    val windows = plains ++ tracedW.toSeq
    val parity = wl match {
      case q: QueryWorkload => q.parityFailures(windows)
      case _ => Seq.empty
    }

    // every op of every window counts; a wrong output fails its op
    val failedOps = windows.flatMap { w =>
      val bad = wl.verify(spark, w)
      w.ops.filter(o => !o.ok || wrong(o.name) || bad(o.key))
    }
    val attempted = windows.map(_.ops.size).sum
    val plainOps = plains.flatMap(_.ops)
    val items = plains.map(_.items).sum
    val opS = plainOps.map(_.seconds)
    val opW = weights(plainOps)
    val e2e = Seq[(String, (Double, String))](
      "setup_s" -> ((median(setups), "s")),
      "cold_start_s" -> ((setups.head + warmupS, "s")),
      "items_per_s" -> ((plainOps.zip(opW).map { case (o, w) => o.items * w }.sum /
        (opS.zip(opW).map { case (s, w) => s * w }.sum + plains.map(_.maintenanceS).sum),
        "1/s")),
      "op_p50_s" -> ((quantile(opS, opW, 0.5), "s")),
      "op_tail_s" -> ((quantile(opS, opW, TailPercentile / 100.0), "s")),
      "peak_heap_mb" -> ((plains.flatMap(_.heapMb).maxOption.getOrElse(0.0), "MB")))
    val layers = tracedW.map(t => Layers.of(wl, plains, t, seed)).getOrElse(Seq.empty)
    tracedW.foreach(_.spans.write(s"$workDir/spans.jsonl"))
    val selfMs = tracedW.map(_.spans.selfMsByLayer).getOrElse(Map.empty)

    val result = Map(
      "workload" -> workload, "seed" -> seed, "attempted" -> attempted,
      "failed_by_name" -> failedOps.groupBy(_.name).map { case (k, v) => k -> v.size },
      "wrong_outputs" -> wrong.toSeq.sorted,
      "parity_failures" -> parity,
      "setup_cycles_s" -> setups, "warmup_s" -> warmupS, "self_ms_by_layer" -> selfMs,
      "window_s" -> windows.map(w => (w.ops.lastOption.map(_.endNs).getOrElse(0L) -
        w.ops.headOption.map(_.startNs).getOrElse(0L)) / 1e9),
      "tail_percentile" -> TailPercentile,
      "items" -> items,
      "op_seconds" -> plainOps.map(o => Seq(o.name, o.seconds)),
      "ops_by_name" -> windows.flatMap(_.ops).groupBy(_.name).map { case (k, v) => k -> v.size },
      "e2e" -> mutable.LinkedHashMap(e2e.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*),
      "per_layer" -> mutable.LinkedHashMap(layers.map { case (k, (v, u)) =>
        k -> Map("value" -> v, "unit" -> u) }: _*))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$workDir/result.json"),
      json.writeValueAsString(result))
    spark.stop()
  }
}
