package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.{ParquetSchema, Tables}
import graft.queries.Relational
import graft.streaming.DedupIngest

/** `Tables.load` binds a table from its footer's schema: the schema must be
  * the one inference gives, and binding must run no Spark job. */
class TablesSpec extends SparkTestBase {
  import spark.implicits._

  /** The testdata tables (TESTDATA.md). */
  private val sfDirs = Seq("sf0.001", "sf0.01", "sf0.1")
    .map(sf => sf -> s"/root/testdata/$sf")

  private def present(dir: String) =
    new java.io.File(s"$dir/documents.parquet").exists()

  private def anyPresent: String = sfDirs.map(_._2).find(present)
    .getOrElse(cancel("no testdata present"))

  /** Field by field, so a failure names the field; StructField equality
    * covers name, type, nullability and metadata. */
  private def assertSameSchema(got: StructType, inferred: StructType,
      what: String): Unit = {
    assert(got.fieldNames.toSeq == inferred.fieldNames.toSeq, what)
    got.fields.zip(inferred.fields).foreach { case (g, i) =>
      assert(g == i, s"$what: ${g.name}")
    }
  }

  for ((sf, dir) <- sfDirs; name <- Tables.names)
    test(s"the footer schema of $sf $name equals the inferred schema") {
      assume(present(dir), s"$sf testdata not present")
      val path = s"$dir/$name.parquet"
      val inferred = spark.read.parquet(path).schema
      assertSameSchema(ParquetSchema(spark, path), inferred, path)
      assertSameSchema(Tables.load(spark, dir, name).schema, inferred, path)
    }

  test("Tables.load binds all 10 tables without a Spark job") {
    val dir = anyPresent
    val jobs = jobsOf(Tables.names.foreach(n => Tables.load(spark, dir, n)))
    assert(jobs == 0, s"jobs: $jobs")
  }

  test("a Spark-written multi-file directory gives the inferred schema") {
    val dir = Files.createTempDirectory("graft-tables-multi").toString
    spark.range(0, 40, 1, 4)
      .select(col("id"), col("id").cast("string").as("s"),
        (col("id") / 3).as("d"), col("id").cast("decimal(12,2)").as("dec"),
        timestamp_micros(col("id")).as("ts"),
        array(col("id").cast("string")).as("arr"),
        struct(col("id").as("a"), lit(null).cast("int").as("b")).as("st"),
        map(col("id").cast("string"), col("id")).as("m"))
      .write.mode("overwrite").parquet(dir)
    val parts = new java.io.File(dir).list().count(_.endsWith(".parquet"))
    assert(parts == 4, s"part files: $parts")
    // the footer keeps the writer's non-null `id`, as inference's own
    // footer read does; the file relation makes every column nullable
    // whichever way its schema came, so the bound frames are compared
    assertSameSchema(spark.read.schema(ParquetSchema(spark, dir))
      .parquet(dir).schema, spark.read.parquet(dir).schema, dir)
  }

  test("an ingest store's _keyrange sidecars give the inferred schema") {
    val storeRoot = Files.createTempDirectory("graft-tables-kr").toString
    val keptDir = Files.createTempDirectory("graft-tables-krk").toString
    Seq(Seq(1L -> "the quick brown fox", 2L -> "jumps over the dog"),
        Seq(3L -> "a lazy afternoon", 4L -> "the quick brown fox"))
      .zipWithIndex.foreach { case (rows, id) =>
        DedupIngest.processBatch(rows.toDF("doc_id", "text"), id.toLong,
          storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
      }
    val ranges = Seq(0, 1).map(v => s"$storeRoot/sig/v=$v/_keyrange")
    val inferred = spark.read.parquet(ranges: _*).schema
    assert(inferred.fieldNames.toSeq == Seq("minKey", "maxKey"))
    ranges.foreach(r => assertSameSchema(ParquetSchema(spark, r), inferred, r))
  }

  test("a missing path and a directory without a data file fail with the " +
      "path") {
    val missing = s"${Files.createTempDirectory("graft-tables-m")}/absent"
    val e1 = intercept[java.io.FileNotFoundException](
      ParquetSchema(spark, missing))
    assert(e1.getMessage.contains(missing), e1.getMessage)
    val empty = Files.createTempDirectory("graft-tables-e")
    Files.createFile(empty.resolve("_SUCCESS"))
    Files.createFile(empty.resolve(".part-0.parquet.crc"))
    Files.createDirectory(empty.resolve("k=1"))
    val e2 = intercept[IllegalArgumentException](
      ParquetSchema(spark, empty.toString))
    assert(e2.getMessage.contains(empty.toString), e2.getMessage)
  }

  test("a noop write of q06 runs a pinned number of jobs") {
    val dir = anyPresent
    val q06 = Relational.all.find(_.name == "q06_forecast_revenue").get
    def run() = q06.run(spark, dir).write.format("noop").mode("overwrite")
      .save()
    run() // warm-up
    val jobs = jobsOf(run())
    // the partial aggregate's shuffle stage and the final one; binding the
    // table with an inferred schema ran a third
    assert(jobs == 2, s"jobs: $jobs")
  }
}
