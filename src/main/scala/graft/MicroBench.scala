package graft

import graft.core.GraftSession

/** Dev tool: time a SUBSET of the registered queries, many passes, and
  * print per-query min/median/max — for A/B-ing one operator's designs
  * without paying (or being confused by) a full-suite run. The full
  * cross-round record stays `graft.Bench`; this exists because the
  * container's ambient throughput drifts between runs, so design
  * comparisons need many interleaved passes over FEW queries.
  *
  * Usage: runMain graft.MicroBench [sfDir] [runs] [queryName ...]
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val runs = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val names =
      if (args.length > 2) args.drop(2).toSeq
      else Seq("q41_ivf_topk", "q71_ivf_kmeans", "q94_cluster_neardup")
    // validate names BEFORE creating the session (a typo would otherwise
    // throw a bare NoSuchElementException after spin-up)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")} " +
      s"(known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")})")
    val spark = GraftSession.get("graft-microbench")
    val fns = names.map(n => n -> SparkEntry.queries(n))
    // one discarded warm-up per query (JIT + parquet footers), like Bench
    fns.foreach { case (_, fn) => fn(spark, sfDir).count() }
    val times = scala.collection.mutable.Map
      .empty[String, List[Double]].withDefaultValue(Nil)
    (1 to runs).foreach { _ =>
      fns.foreach { case (n, fn) =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        times(n) = ((System.nanoTime() - t0) / 1e9) :: times(n)
      }
    }
    names.foreach { n =>
      val ts = times(n).sorted
      // true median: average the two middle samples for even run counts
      // (the upper-middle element alone would bias even-count reads)
      val med =
        if (ts.length % 2 == 1) ts(ts.length / 2)
        else (ts(ts.length / 2 - 1) + ts(ts.length / 2)) / 2.0
      println(f"[micro] $n%-28s min=${ts.head}%.3f " +
        f"med=$med%.3f max=${ts.last}%.3f " +
        s"all=${ts.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
