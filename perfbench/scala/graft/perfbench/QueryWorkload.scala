package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Tables
import graft.queries.Query

/** `queries`: each op is one registered query, timed as the full
  * DataFrame into a `noop` sink — the plan `graft.Verify` writes, final
  * ORDER BY and every projection included. Each pass runs the timed set
  * once in a seed-fixed order; the window runs passes until its deadline. */
final class QueryWorkload(queries: Seq[Query], dataDir: String, seed: Long)
    extends Workload {
  val name = "queries"

  /** Without a warm-up pass, the first timed pass ran 15-25% slower than
    * the later ones (4-core host). Op time keeps falling, more slowly,
    * over about five more passes, which a run cannot afford to wait out. */
  private val WarmupPasses = 1
  private val tablesDir = s"$dataDir/tables"
  private val checkDir = s"$dataDir/check"
  /** The Verify plan's signature per query, from the check pass. */
  private val verifySigs = scala.collection.concurrent.TrieMap.empty[String, PlanSig]

  def prepare(spark: SparkSession): Unit =
    Tables.names.foreach(t => Tables.load(spark, tablesDir, t).schema)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Writes each query's output exactly as `graft.Verify` does, for the
    * oracle comparison, and records the Verify plan's signature. Queries
    * run concurrently, one per core: on the cold JVM that took less time
    * than running them in turn. Then `WarmupPasses` passes of the timed
    * plans, one at a time as the window runs them, warm up their code
    * generation and JIT. All of it is untimed. */
  def check(spark: SparkSession): Set[String] = {
    new java.io.File(checkDir).mkdirs()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val failed = try {
      val runs = queries.map { q => scala.concurrent.Future {
        try {
          val df = q.run(spark, tablesDir).coalesce(1)
          verifySigs(q.name) = PlanSig.of(Probe.qe(df).optimizedPlan)
          df.write.mode("overwrite").parquet(s"$checkDir/${q.name}")
          None
        } catch { case scala.util.control.NonFatal(e) =>
          System.err.println(s"[perfbench] check ${q.name} failed: $e")
          Some(q.name)
        }
      } }
      scala.concurrent.Await.result(scala.concurrent.Future.sequence(runs),
        scala.concurrent.duration.Duration.Inf).flatten
    } finally pool.shutdown()
    for (_ <- 1 to WarmupPasses) queries.foreach(q => noop(q.run(spark, tablesDir)))
    val oracles = queries.flatMap(q => q.oracle.map(q.name -> _)).toMap
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$checkDir/oracle_sql.json"), Main.json.writeValueAsString(oracles))
    failed.toSet
  }

  /** Passes over the timed set, each in a seed-fixed order, until the
    * deadline; the last pass is usually cut short, so the latency
    * statistics weigh each query equally (`Main.weights`). */
  def run(spark: SparkSession, w: Window, deadlineNs: Long): Unit = {
    var pass = 0
    while (System.nanoTime() < deadlineNs) {
      val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
      order.iterator.takeWhile(_ => System.nanoTime() < deadlineNs).foreach { q =>
        w.op(spark, s"p$pass-${q.name}", q.name, Manifest.family(q)) { _ =>
          val df = q.run(spark, tablesDir)
          if (w.traced) w.layers("plans.df_analysis_ms") =
            w.layers.getOrElse("plans.df_analysis_ms", 0.0) +
              Probe.qe(df).tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L)
          w.noopIssued += w.ops.size
          noop(df)
          1L
        }
      }
      pass += 1
    }
    // once per window: a checkpoint takes several full collections, and
    // every pass runs the same plans
    w.heapCheckpoint()
  }

  /** Queries whose timed plan differs from their Verify plan in the root
    * Sort or the set of UDF expressions. Timed writes arrive in op order. */
  def parityFailures(windows: Seq[Window]): Seq[String] =
    windows.flatMap { w =>
      require(w.writes.size == w.noopIssued.size,
        s"saw ${w.writes.size} noop writes for ${w.noopIssued.size} issued")
      w.noopIssued.map(w.ops).zip(w.writes).collect {
        case (op, ev) if verifySigs.get(op.name).exists(_ != ev.sig) =>
          s"${op.name}: timed ${ev.sig} vs verify ${verifySigs(op.name)}"
      }
    }.distinct
}
