package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

class ExtensionsSpec extends SparkTestBase {
  import spark.implicits._

  GraftExtensions.registerAll(spark)

  test("graft_dot / graft_cosine / graft_hamming work from spark.sql") {
    val r = spark.sql(
      """SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS same,
        |  graft_cosine(array(1.0D, 0.0D), array(0.0D, 1.0D)) AS orth,
        |  graft_hamming(11L, 8L) AS h
        |""".stripMargin).collect().head
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(2)) < 1e-12)
    assert(r.getInt(3) == 2) // 11 ^ 8 = 3 → two bits
  }

  test("SQL functions agree with the Column API on real embeddings") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.5f, -1.0f, 2.5f), Array(1.5f, 0.0f, -0.5f)))
      .toDF("a", "b")
    df.createOrReplaceTempView("vecs")
    val viaSql = spark.sql(
      "SELECT graft_cosine(a, b) AS c FROM vecs ORDER BY c")
      .as[Double].collect()
    val viaCol = df.select(
        VectorFunctions.cosine($"a", $"b").as("c"))
      .orderBy("c").as[Double].collect()
    viaSql.zip(viaCol).foreach { case (s, c) =>
      assert(math.abs(s - c) < 1e-12, s"$s vs $c")
    }
  }

  test("GraftSession.get accepts a session started with the extensions " +
      "and refuses one started without, naming the remedy") {
    import graft.core.GraftSession
    assert(GraftSession.get("graft-test") eq spark)
    assert(GraftSession.surfaceError(
      Some("other.Ext, graft.GraftExtensions")).isEmpty)
    for (conf <- Seq(None, Some(""), Some("other.Ext"))) {
      val err = GraftSession.surfaceError(conf)
      assert(err.exists(m => m.contains("spark.stop()") &&
        m.contains("spark.sql.extensions=graft.GraftExtensions")), err)
    }
  }

  test("GraftExtensions wires every function into a SparkSessionExtensions") {
    // construction-time path (spark.sql.extensions=graft.GraftExtensions):
    // apply() must inject without throwing for all registered functions
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    assert(GraftExtensions.functions.map(_._1).toSet ==
      Set("graft_dot", "graft_cosine", "graft_hamming"))
  }
}
