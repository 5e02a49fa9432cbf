package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType

/** Loaders for the harness testdata tables (TESTDATA.md).
  *
  * At 100 TB these would be partitioned/bucketed catalog tables; here they are
  * single parquet files per table. All access funnels through `load` so a
  * future catalog swap (or bucketing spec) is one change. `load` binds a
  * table without a Spark job: the schema comes from the file's footer on
  * the driver ([[ParquetSchema]]), not from an inference job.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(ParquetSchema(spark, path)).parquet(path)
    // a TIMESTAMP(NANOS) events.ts arrives as raw nanos under nanosAsLong
    // (GraftSession) — restore a timestamp (micro precision, like Spark's).
    if (name == "events" && df.schema("ts").dataType == LongType)
      df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else df
  }
}
