package graft

import graft.core.GraftSession

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line for the driver (BENCH_r{N}.json).
  *
  * Methodology: one untimed JVM/parquet-footer warm-up query, then
  * `SPARK_GRAFT_BENCH_RUNS` (default 3) timed passes over the whole suite.
  * `queries` reports the per-query MINIMUM — single-pass local[32] timings
  * swing ±30% from JIT, GC and broadcast-build jitter, and min-of-N is the
  * standard way to report the repeatable cost — and `spread` reports
  * max−min over the successful runs of each query, so a reader can tell a
  * real regression from scheduler noise (a delta smaller than the spread is
  * noise). The pass count and aggregation are recorded in the JSON so
  * rounds stay comparable.
  *
  * Two outputs: the printed line is compacted (short `qNN` keys, spread
  * summarized to median/p90) to fit the driver's ~2000-char log-capture
  * window; `BENCH_FULL.json` on disk carries full query names and the
  * per-query spread map.
  */
object Bench {

  /** Calibration anchor: a pinned workload timed in this JVM before the
    * timed passes, so a cross-round reader can separate container drift
    * from code deltas. The workload deliberately touches NO graft code —
    * raw `spark.read.parquet` plus built-in aggregates only — so its cost
    * moves only with the container (CPU/IO/scheduler) and the data
    * directory, never with the engine under test. Min-of-`runs` after one
    * discarded warm-up, same methodology as the query timings. The merge
    * hint on the join pins a sort-merge plan (exchange + sort on both
    * sides) so AQE cannot quietly swap in a broadcast join and collapse
    * the thing being measured.
    *
    * TWO SHAPES, because ambient drift is not one number (a throughput
    * anchor has moved 23% while the suite stayed flat — throughput drift
    * over-predicts what latency-bound queries feel):
    *   - `scan` + `join` (reported summed as `total`): THROUGHPUT —
    *     data-proportional CPU/IO, the right anchor for scan/agg/join
    *     queries whose cost is dominated by rows processed;
    *   - `sched`: LATENCY — 50 pinned single-task jobs
    *     (`spark.range(0,1,1,1).count()` each), measuring per-job fixed
    *     cost (planning, scheduling, task launch, result fetch), the
    *     right anchor for multi-job iterative queries (q51/q71-class)
    *     and sub-200 ms queries dominated by fixed costs.
    *
    * Reading rule (also in BASELINE.md): before judging per-query deltas
    * between rounds, compute the ratio of the calibration component
    * MATCHING THE QUERY'S SHAPE (throughput-bound → `total`,
    * latency/scheduler-bound → `sched`); per-query deltas within that
    * ratio ± the query's `spread` are ambient drift, not code.
    */
  private def calibrate(spark: org.apache.spark.sql.SparkSession,
                        sfDir: String, runs: Int): (Double, Double, Double) = {
    import org.apache.spark.sql.functions._
    def scanAgg(): Unit =
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), sum("l_extendedprice"),
          avg("l_discount"), count(lit(1)))
        .count()
    def shuffleJoin(): Unit = {
      val l = spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
        .select("o_orderkey", "o_custkey")
      l.join(o.hint("merge"), l("l_orderkey") === o("o_orderkey"))
        .groupBy("o_custkey").agg(sum("l_quantity")).count()
    }
    // 50 sequential single-task jobs: each pays full per-job fixed cost
    // (catalyst plan, DAG submit, one task launch, result fetch) and
    // almost zero data cost — the latency mirror of the two
    // throughput parts. Sequential on purpose: overlap would hide
    // exactly the scheduler serialization being measured.
    def schedLatency(): Unit = {
      var i = 0
      while (i < 50) { spark.range(0L, 1L, 1L, 1).count(); i += 1 }
    }
    // each timed pass executes the workload 3× so the anchor lands near
    // ~2 s total at sf0.1 — large against the ±0.1 s scheduler jitter of
    // a single sub-second pass, which would otherwise be 15%+ of the
    // reading. Only the cross-round RATIO of calibration components is
    // ever consumed, so the 3× inflation cancels.
    def minOf(f: () => Unit): Double = {
      f() // discarded warm-up: JIT + parquet footer cache, like the suite
      (1 to runs).map { _ =>
        val t0 = System.nanoTime()
        f(); f(); f()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    (minOf(() => scanAgg()), minOf(() => shuffleJoin()),
      minOf(() => schedLatency()))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val spark = GraftSession.get("graft-bench")
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
    // One discarded warm-up pass over the WHOLE suite (not just one
    // query): JIT compilation, codegen class loading, and parquet footer
    // caches all warm per query shape, and a measured spread widening
    // (p90 0.26 s → 0.50 s) tracked exactly the queries that JIT mid-run.
    // The timed runs then measure steady state.
    names.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // calibration anchor BEFORE the timed passes (so a mid-suite GC storm
    // can't contaminate it) but AFTER the warm-up (so it measures the same
    // steady-state JVM the queries run in); best-effort — a missing table
    // must not fail the bench, it just reports -1
    val (calScan, calJoin, calSched) =
      try calibrate(spark, sfDir, runs)
      catch { case scala.util.control.NonFatal(_) => (-1.0, -1.0, -1.0) }
    // all successful run times per query; a query that never succeeds
    // reports -1 rather than masquerading as a fast time-to-failure
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    (1 to runs).foreach { _ =>
      names.foreach { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).count(); true }
          catch { case _: Throwable => false }
        val sec = (System.nanoTime() - t0) / 1e9
        if (ok) times(name) = sec :: times.getOrElse(name, Nil)
      }
    }
    // 3 decimals: 1 ms resolution against a measured ~100 ms noise floor;
    // keeps the one-line JSON as short as the query count allows (the
    // driver's log capture tails the output, so every byte costs data)
    def fmt(v: Double): String = BigDecimal(v)
      .setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val results = names.map { case (n, _) => n -> times.getOrElse(n, Nil) }
    // the driver's log capture keeps only the last ~2000 characters of the
    // run output, so the printed line must fit entirely inside that window
    // or the driver parses nothing (rounds 1–6 all recorded parsed=null).
    // Budget: short "qNN" keys (the full names live in BENCH_FULL.json and
    // BASELINE.md), per-query spread summarized to two scalars inline with
    // the full map on disk. ~1 kB total — half the window.
    def shortKey(n: String): String = n.takeWhile(_ != '_')
    // two queries sharing a qNN prefix would silently emit duplicate JSON
    // keys (last-wins on parse) and corrupt cross-round comparisons —
    // fail fast instead
    locally {
      val dups = names.map(n => shortKey(n._1))
        .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
      require(dups.isEmpty,
        s"short bench keys must be unique, duplicated: ${dups.mkString(",")}")
    }
    def mapJson(entries: Seq[(String, String)]): String =
      entries.map { case (k, v) => "\"" + k + "\":" + v }
        .mkString("{", ",", "}")
    val qsShort = mapJson(results.map { case (k, ts) =>
      shortKey(k) -> (if (ts.isEmpty) "-1" else fmt(ts.min))
    })
    val qsFull = mapJson(results.map { case (k, ts) =>
      k -> (if (ts.isEmpty) "-1" else fmt(ts.min))
    })
    // per-query max−min over successful runs: the query's observed noise
    // band this round. -1 when fewer than 2 runs succeeded — a partially
    // failing query must not masquerade as a perfectly stable one
    val spreadFull = mapJson(results.map { case (k, ts) =>
      k -> (if (ts.length < 2) "-1" else fmt(ts.max - ts.min))
    })
    // inline noise floor: median and p90 of the per-query spreads, so the
    // one-line record still says how big a delta counts as real
    val spreads = results.collect {
      case (_, ts) if ts.length >= 2 => ts.max - ts.min
    }.sorted
    def pct(p: Double): String =
      if (spreads.isEmpty) "-1"
      else fmt(spreads(math.min(spreads.length - 1,
        (p * spreads.length).toInt)))
    // total sums SUCCESSFUL queries only — folding the -1 sentinel in would
    // deflate the total by 1s per failure and make rounds with different
    // failure counts incomparable; failures are reported as their own count
    val failed = results.count(_._2.isEmpty)
    val total = results.flatMap(_._2.minOption).sum
    // `total` stays scan+join (the THROUGHPUT anchor, ratio-comparable
    // with every prior round); `sched` is its own component, never
    // folded in — the reading rule picks per query shape
    val calTotal = if (calScan < 0 || calJoin < 0) -1.0 else calScan + calJoin
    val calibration =
      s"""{"scan":${fmt(calScan)},"join":${fmt(calJoin)},"sched":${fmt(calSched)},"total":${fmt(calTotal)}}"""
    val head = s""""metric":"total","value":${fmt(total)},"unit":"sec","runs":$runs,"agg":"min","failed":$failed,"sf":"$sfDir","calibration":$calibration,"spread_med":${pct(0.5)},"spread_p90":${pct(0.9)}"""
    // the full record (long names + per-query spread) lives on disk where
    // truncation can't reach it; best-effort — a read-only cwd must not
    // fail the bench
    try java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
      (s"""{$head,"spread":$spreadFull,"queries":$qsFull}""" + "\n")
        .getBytes("UTF-8"))
    catch { case scala.util.control.NonFatal(_) => () }
    // The one-line JSON is printed AFTER spark.stop() so it is the forked
    // JVM's final output — nothing from Spark's shutdown (stderr WARNs)
    // can land between it and the end of the driver's log capture. sbt's
    // own logger used to prefix it "[info] ", which broke the line's
    // parse; build.sbt now
    // forks run with `outputStrategy := StdoutOutput` so this line
    // reaches stdout BARE. Same JSON, same methodology — output-path fix
    // only. A failing stop must not lose the line:
    // it is reported on stderr and the line still prints.
    try spark.stop()
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] spark.stop() failed: $e")
        e.printStackTrace()
    }
    println(s"""{$head,"queries":$qsShort}""")
    System.out.flush()
  }
}
