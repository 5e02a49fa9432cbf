package graft

import java.nio.file.{Files, Paths}

/** Output pins for registered queries that have no DuckDB oracle. Each
  * query's Verify output is reduced to a [[RowDigest]] and compared with a
  * golden under `golden/queries/<sf>.txt`. The digest must also not depend
  * on the shuffle-partition count. An SF whose testdata is absent is
  * skipped.
  *
  * Regenerate the goldens (only when an output change is intended) with
  * `sbt "Test/runMain graft.QueryGoldens <testdata root>
  * src/test/resources/golden/queries"` (TESTDATA.md describes the root).
  */
class QueryGoldenSpec extends SparkTestBase {
  import QueryGoldens._

  private def golden(sf: String): Map[String, String] = {
    val in = getClass.getResourceAsStream(s"/golden/queries/$sf.txt")
    assert(in != null, s"no golden for $sf")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(l => l.span(_ != ' ')).map { case (q, d) => q -> d.trim }.toMap
    finally in.close()
  }

  private def withPartitions[T](n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, saved)
  }

  for (sf <- sfs; q <- pinned) {
    test(s"$q at $sf matches its golden digest") {
      val dir = s"$testdata/$sf"
      assume(present(dir), s"$sf testdata not present")
      assert(digest(spark, dir, q) == golden(sf)(q))
    }
    test(s"$q at $sf: the digest does not depend on the shuffle-partition " +
        "count") {
      val dir = s"$testdata/$sf"
      assume(present(dir), s"$sf testdata not present")
      val alt = if (spark.conf.get("spark.sql.shuffle.partitions") == "7") 3
        else 7
      assert(withPartitions(alt)(digest(spark, dir, q)) == golden(sf)(q))
    }
  }
}

/** The pinned queries and the golden writer. */
object QueryGoldens {
  /** The rows-only queries: those whose candidate search runs through the
    * banded self-join core, then the samplers, hashers, packers and
    * scorers with no oracle. */
  val pinned = Seq("q30_minhash_neardup", "q33_lsh_neighbors",
    "q40_simhash_pairs", "q90_image_neardup", "q94_cluster_neardup",
    "q19_seeded_sample", "q31_simhash", "q59_weighted_sample",
    "q91_bpe_pack", "q95_quality_score")
  val sfs = Seq("sf0.001", "sf0.01")
  val testdata = "/root/testdata"

  def present(dir: String): Boolean =
    new java.io.File(s"$dir/documents.parquet").exists()

  def digest(spark: org.apache.spark.sql.SparkSession, dir: String,
      q: String): String =
    RowDigest.of(SparkEntry.queries(q)(spark, dir))

  /** `main(testdataRoot, outDir)`: writes `<outDir>/<sf>.txt` for every
    * SF present. */
  def main(args: Array[String]): Unit = {
    val Array(root, out) = args
    val spark = core.GraftSession.get("graft-goldens")
    Files.createDirectories(Paths.get(out))
    for (sf <- sfs if present(s"$root/$sf")) {
      val lines = pinned.map(q => s"$q ${digest(spark, s"$root/$sf", q)}")
      Files.writeString(Paths.get(s"$out/$sf.txt"), lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}
