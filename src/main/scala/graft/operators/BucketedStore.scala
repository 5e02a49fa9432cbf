package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftshim.DatasetShim

import graft.core.ParquetSchema

/** The shared bucketed-store persistence protocol behind
  * [[Dedup.saveBucketedDigestStore]] and
  * [[Similarity.saveBucketedLshStore]] — one implementation of the
  * crash-sensitive pieces (catalog CLUSTERED BY declaration, the
  * `_graft_buckets` sidecar that stops a re-attach from declaring a
  * partitioning the files don't have, the fresh-session CREATE TABLE
  * re-attach) so a protocol fix can never land on one store family and
  * silently miss the other. The save writes
  * `repartition(numBuckets, cols)` first — the writer's task hash
  * equals the bucket hash, yielding one file per bucket so the
  * sorted-bucket metadata stays usable.
  */
private[operators] object BucketedStore {

  def save(store: DataFrame, table: String, path: String,
      numBuckets: Int, bucketCols: Seq[String]): Unit = {
    val spark = store.sparkSession
    spark.sql(s"DROP TABLE IF EXISTS $table")
    store.repartition(numBuckets, bucketCols.map(col): _*)
      .write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .option("path", path).saveAsTable(table)
    // record the bucket count next to the files: re-attaching with a
    // DIFFERENT count would declare a partitioning the files don't
    // have, and the hit join would silently miss true duplicates
    val p = new Path(path, "_graft_buckets")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(numBuckets.toString.getBytes("UTF-8"))
    finally out.close()
  }

  /** Re-attach in a fresh session (no-op when the catalog already has
    * the table); `savedBy` names the save method in the error when the
    * sidecar is missing. */
  def attach(spark: SparkSession, table: String, path: String,
      bucketCols: Seq[String], savedBy: String): DataFrame = {
    if (!spark.catalog.tableExists(table)) {
      val p = new Path(path, "_graft_buckets")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p))
        throw new IllegalArgumentException(
          s"no _graft_buckets sidecar under $path — was this store " +
            s"written by $savedBy?")
      val in = fs.open(p)
      val numBuckets =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          .trim.toInt
        finally in.close()
      // the first file's footer, every field nullable as a file relation
      // reads it: the inferred schema, with no inference job
      val ddl = DatasetShim.asNullable(ParquetSchema(spark, path)).toDDL
      val colList = bucketCols.mkString(", ")
      spark.sql(s"CREATE TABLE $table ($ddl) USING parquet " +
        s"CLUSTERED BY ($colList) SORTED BY ($colList) " +
        s"INTO $numBuckets BUCKETS LOCATION '$path'")
    }
    spark.table(table)
  }
}
