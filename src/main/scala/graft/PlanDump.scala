package graft

import graft.core.GraftSession

/** Dev tool: dump formatted physical plans for selected queries so plan
  * shape (pushed filters, broadcast joins, codegen spans) can be reviewed.
  * With `-exec` the query is EXECUTED first and the final adaptive plan
  * is printed too — AQE rewrites (join-strategy swaps, AQEShuffleRead
  * coalescing) only exist in the post-run plan.
  * Usage: runMain graft.PlanDump [sfDir] [-exec] [queryName ...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val exec = args.contains("-exec")
    val requested = args.drop(1).filterNot(_ == "-exec").toSeq
    val names =
      if (requested.contains("all")) SparkEntry.queries.keys.toSeq.sorted
      else if (requested.nonEmpty) requested
      else Seq("q01_pricing_summary", "q03_top_orders", "q05_nation_revenue")
    val spark = GraftSession.get("graft-plans")
    names.foreach { n =>
      SparkEntry.queries.get(n) match {
        case Some(q) =>
          println(s"\n========== $n ==========")
          val df = q(spark, sfDir)
          df.explain("formatted")
          if (exec) {
            // drive THIS DataFrame's own QueryExecution: df.count() would
            // plan a NEW aggregate query, leaving df's adaptive plan
            // unexecuted (isFinalPlan=false, no stage reuse visible —
            // earlier dumps had that flaw). toRdd executes the actual
            // AdaptiveSparkPlanExec, so the print below is the real
            // final plan with ShuffleQueryStage / reuse nodes.
            df.queryExecution.toRdd.count()
            println(s"---------- $n final adaptive plan ----------")
            println(df.queryExecution.executedPlan.toString)
          }
        case None =>
          println(s"\n========== $n: unknown query (known: " +
            s"${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}) ==========")
      }
    }
    spark.stop()
  }
}
