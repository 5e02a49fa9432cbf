package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced window. Every metric is reported on
  * every workload; one that the workload does not exercise reads 0. */
object Layers {
  /** Name → unit, in report order. */
  val units: Seq[(String, String)] = Seq(
    "plans.analysis_ms" -> "ms/op", "plans.optimization_ms" -> "ms/op",
    "plans.physical_ms" -> "ms/op", "plans.graft_rules_ms" -> "ms/op",
    "exec.jobs" -> "count/op", "exec.stages" -> "count/op",
    "exec.tasks" -> "count/op", "exec.driver_ms" -> "ms/op",
    "exec.task_wait_ms" -> "ms/op", "exec.run_ms" -> "ms/op",
    "exec.cpu_ms" -> "ms/op", "exec.gc_ms" -> "ms/op",
    "exec.input_bytes" -> "B/op", "exec.shuffle_read_bytes" -> "B/op",
    "exec.shuffle_write_bytes" -> "B/op", "exec.spill_bytes" -> "B/op",
    "exec.failed_tasks" -> "count/op",
    "operators.banding.cpu_ms" -> "ms/pass", "operators.ann.cpu_ms" -> "ms/pass",
    "operators.text.cpu_ms" -> "ms/pass", "operators.banding.verify_yield" -> "ratio",
    "operators.guard_dropped_rows" -> "rows/op",
    "kernel.shingle_ns" -> "ns/row", "kernel.minhash_ns" -> "ns/row",
    "kernel.simhash_ns" -> "ns/row", "kernel.dot_ns" -> "ns/row",
    "kernel.png_decode_ns" -> "ns/row", "kernel.class_id_ns" -> "ns/row",
    "kernel.png_encode_ns" -> "ns/row", "kernel.tfrecord_ns" -> "ns/row",
    "export.bind_ms" -> "ms/op", "export.write_ms" -> "ms/op",
    "export.jobs" -> "count/op", "export.bytes_written" -> "B/op",
    "export.files" -> "count/op",
    "streaming.add_batch_ms" -> "ms/batch", "streaming.query_planning_ms" -> "ms/batch",
    "streaming.wal_commit_ms" -> "ms/batch", "streaming.jobs_per_batch" -> "count/batch",
    "streaming.store_versions_read" -> "count/batch",
    "streaming.store_bytes_written" -> "B/batch",
    "streaming.compact_bytes_rewritten" -> "B/compaction",
    "streaming.compact_ms" -> "ms/compaction", "streaming.kept_frac" -> "ratio",
    "trace.overhead_frac" -> "ratio")

  /** Child spans under each op: planning phases, and jobs → stages. */
  private def addSpans(t: Window, ex: ExecListener): Unit = {
    val ms = 1000000L
    val opByKey = t.ops.map(o => o.key -> o).toMap
    t.noopIssued.map(t.ops).zip(t.writes).foreach { case (op, ev) =>
      ev.phases.foreach { case (p, (s, e)) =>
        t.spans.add(op.spanId, s"plan:$p", s * ms, e * ms)
      }
    }
    ex.jobStages.toSeq.sortBy(_._1).foreach { case (job, (key, stages)) =>
      for (op <- opByKey.get(key); (s, e) <- ex.jobTimes.get(job)) {
        val jid = t.spans.add(op.spanId, s"job:$job", s * ms, e * ms)
        stages.flatMap(st => ex.stageTimes.get(st).map(st -> _)).foreach {
          case (st, (a, b)) => t.spans.add(jid, s"stage:$st", a * ms, b * ms)
        }
      }
    }
  }

  /** `untraced` are the untraced windows before and after `t`. */
  def of(wl: Workload, untraced: Seq[Window], t: Window,
      seed: Long): Seq[(String, (Double, String))] = {
    val ex = t.exec.get
    addSpans(t, ex)
    val n = math.max(1, t.ops.size).toDouble
    val stats = t.ops.flatMap(o => ex.byKey.get(o.key).map(o -> _))
    def perOp(f: ExecStats => Double): Double = stats.map(x => f(x._2)).sum / n
    val v = mutable.LinkedHashMap.empty[String, Double]
    v ++= units.map(_._1 -> 0.0)
    v ++= Seq(
      "exec.jobs" -> perOp(_.jobs.toDouble), "exec.stages" -> perOp(_.stages.toDouble),
      "exec.tasks" -> perOp(_.tasks.toDouble),
      "exec.driver_ms" -> stats.map { case (o, s) =>
        math.max(0.0, (o.endNs - o.startNs) / 1e6 - s.jobUnionMs) }.sum / n,
      "exec.task_wait_ms" -> perOp(_.taskWaitMs.toDouble),
      "exec.run_ms" -> perOp(_.runMs.toDouble), "exec.cpu_ms" -> perOp(_.cpuNs / 1e6),
      "exec.gc_ms" -> perOp(_.gcMs.toDouble),
      "exec.input_bytes" -> perOp(_.inputBytes.toDouble),
      "exec.shuffle_read_bytes" -> perOp(_.shuffleReadBytes.toDouble),
      "exec.shuffle_write_bytes" -> perOp(_.shuffleWriteBytes.toDouble),
      "exec.spill_bytes" -> perOp(_.spillBytes.toDouble),
      "exec.failed_tasks" -> perOp(_.failedTasks.toDouble),
      "operators.guard_dropped_rows" -> t.guardDropped / n)
    if (t.writes.nonEmpty) {
      val w = t.writes
      val issued = t.noopIssued.map(t.ops)
      v ++= Seq(
        "plans.analysis_ms" -> (t.layers.getOrElse("plans.df_analysis_ms", 0.0) +
          w.map(_.phaseMs("analysis")).sum) / n,
        "plans.optimization_ms" -> w.map(_.phaseMs("optimization")).sum / n,
        "plans.physical_ms" -> w.map(_.phaseMs("planning")).sum / n,
        "plans.graft_rules_ms" -> w.map(_.graftRulesMs).sum / n)
      // per pass: each query's mean over its ops, summed over the family,
      // since the window's last pass is cut short
      for (f <- Seq("banding", "ann", "text"))
        v(s"operators.$f.cpu_ms") = stats.filter(_._1.family == f).groupBy(_._1.name)
          .values.map(xs => xs.map(_._2.cpuNs / 1e6).sum / xs.size).sum
      val band = issued.zip(w).collect { case (o, e) if o.family == "banding" => e }
      val cand = band.map(_.candidatePairs).sum
      if (cand > 0) v("operators.banding.verify_yield") =
        band.map(_.verifiedPairs).sum.toDouble / cand
    }
    if (wl.name == "jigsaw_export") v ++= Seq(
      "export.bind_ms" -> t.layers.getOrElse("export.bind_ms", 0.0) / n,
      "export.write_ms" -> t.layers.getOrElse("export.write_ms", 0.0) / n,
      "export.jobs" -> v("exec.jobs"),
      "export.bytes_written" -> t.layers.getOrElse("export.bytes_written", 0.0) / n,
      "export.files" -> t.layers.getOrElse("export.files", 0.0) / n)
    if (wl.name == "ingest") {
      v ++= t.layers.filter(_._1.startsWith("streaming."))
      v("streaming.jobs_per_batch") = v("exec.jobs")
    }
    v ++= KernelBench.run(seed)
    // op time only: the closed loop's maintenance (compaction) is not
    // traced differently, and falls unevenly between the windows
    def opRate(w: Window) = w.items / w.ops.map(_.seconds).sum
    v("trace.overhead_frac") = untraced.map(opRate).sum / untraced.size / opRate(t) - 1
    units.map { case (k, u) => k -> (v(k), u) }
  }
}
