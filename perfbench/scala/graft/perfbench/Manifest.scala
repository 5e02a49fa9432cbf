package graft.perfbench

import graft.SparkEntry
import graft.queries.Query

/** The registered queries by operator family, and the fixed set the
  * `queries` workload times. The two families must partition
  * `SparkEntry.registry`, and every listed number must name exactly one
  * registered query; anything else stops the benchmark before it
  * measures. */
object Manifest {
  /** The LLM-pipeline operator family: UDF kernels, banded self-joins,
    * IVF/k-means. Every other registered query is relational: TPC-H-ish
    * SQL, jigsaw tag algebra / splits / labels, range, interval and as-of
    * joins, samplers. */
  val curationNumbers: Seq[Int] =
    (25 to 33) ++ (40 to 44) ++ Seq(49, 51, 54, 60, 61) ++ (63 to 66) ++
      Seq(71) ++ (80 to 92) ++ (94 to 96)

  val relationalNumbers: Seq[Int] =
    Seq(1) ++ (3 to 24) ++ (34 to 39) ++ (45 to 48) ++ Seq(50, 52, 53) ++
      (55 to 59) ++ Seq(62) ++ (67 to 70) ++ (72 to 79) ++ Seq(93)

  /** The timed queries: the cheaper queries of each family, so that a
    * window of a few seconds holds several passes and every latency is a
    * statistic over repeated ops. Relational: TPC-H Q6, tag AND filter,
    * seeded sample, label transforms, as-of join, range join. Curation:
    * three text UDFs (text quality, language id, fingerprint), two ANN
    * queries and one banding query. The set is fixed, so every seed times
    * the same mix: a sample drawn per seed, one per cost band, moved the
    * median op time by a quarter between seeds. */
  val timed: Seq[Int] = Seq(6, 15, 19, 23, 55, 67, 26, 27, 28, 32, 86, 29)

  /** Operator family of a curation query, for per-family CPU time. */
  val banding: Set[Int] = Set(29, 30, 33, 40, 51, 90, 94)
  val ann: Set[Int] = Set(32, 41, 49, 71, 86)

  def number(q: Query): Int = q.name.drop(1).takeWhile(_.isDigit).toInt

  def family(q: Query): String = {
    val n = number(q)
    if (banding(n)) "banding" else if (ann(n)) "ann"
    else if (curationNumbers.contains(n)) "text" else "relational"
  }

  private def select(numbers: Seq[Int]): Seq[Query] = {
    val byNumber = SparkEntry.registry.groupBy(number)
    numbers.map { n =>
      byNumber.getOrElse(n, Nil) match {
        case Seq(q) => q
        case qs => throw new IllegalStateException(
          s"workload manifest lists q$n, which names ${qs.size} registered queries")
      }
    }
  }

  def timedQueries: Seq[Query] = select(timed)

  /** Fails unless the two families partition the registry exactly and
    * the timed set names distinct registered queries. */
  def checkCoverage(): Unit = {
    val families = curationNumbers ++ relationalNumbers
    for (numbers <- Seq(families, timed)) {
      val twice = numbers.groupBy(identity).collect { case (n, xs) if xs.size > 1 => n }
      require(twice.isEmpty, s"queries listed more than once: ${twice.toSeq.sorted.mkString(", ")}")
    }
    val missing = SparkEntry.registry.map(_.name).toSet -- select(families).map(_.name)
    require(missing.isEmpty,
      s"registered queries in no family: ${missing.toSeq.sorted.mkString(", ")}")
    select(timed)
  }
}
