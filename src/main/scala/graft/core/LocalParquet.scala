package graft.core

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFooterReader, ParquetOptions, ParquetReadSupport, ParquetUtils}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Driver-sized parquet (one-row sidecars, a batch's digest delta) read and
  * written on the driver through Spark's own parquet read and write
  * supports, so no Spark job runs and the files are the ones a Spark job
  * would write or read: the same footer schema and key-value metadata, the
  * session's codec, timestamp type and datetime rebase rules.
  *
  * [[write]] leaves the layout of a `coalesce(1)` overwrite: the directory
  * replaced, one `part-00000-<uuid>-c000` file, then a `_SUCCESS` marker,
  * so a reader that waits for the marker never sees a partial write.
  */
object LocalParquet {

  private def state(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState

  /** The rows of every data file under `dir` (name order; hidden `_`/`.`
    * names skipped) as external rows of `schema`, the way a read bound
    * to that schema (`spark.read.schema(schema)`) reads them. */
  def read(spark: SparkSession, dir: String,
      schema: StructType): Seq[Row] = {
    val st = state(spark)
    val conf = st.newHadoopConf()
    conf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    // the schema converter inside the read support reads these from the
    // Hadoop conf, as the file scan's reader sets them
    for (e <- Seq(SQLConf.PARQUET_BINARY_AS_STRING,
        SQLConf.PARQUET_INT96_AS_TIMESTAMP, SQLConf.CASE_SENSITIVE,
        SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED,
        SQLConf.LEGACY_PARQUET_NANOS_AS_LONG))
      conf.set(e.key, st.conf.getConf(e).toString)
    val p = new Path(dir)
    val fs = p.getFileSystem(conf)
    val files = fs.listStatus(p).filter(ParquetSchema.isDataFile)
      .sortBy(_.getPath.getName).toSeq
    val toScala = CatalystTypeConverters.createToScalaConverter(schema)
    files.flatMap { f =>
      val meta = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), SKIP_ROW_GROUPS)
        .getFileMetaData.getKeyValueMetaData
      val support = new ParquetReadSupport(None, false,
        DataSourceUtils.datetimeRebaseSpec(meta.get,
          st.conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString),
        DataSourceUtils.int96RebaseSpec(meta.get,
          st.conf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ)
            .toString))
      val reader = ParquetReader.builder(support, f.getPath)
        .withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .map(r => toScala(r).asInstanceOf[Row]).toList
      finally reader.close()
    }
  }

  /** Replace `dir` with `rows` (external, of `schema`) as one parquet
    * file and a `_SUCCESS` marker. */
  def write(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val st = state(spark)
    val job = Job.getInstance(st.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(st.conf, job, schema,
      new ParquetOptions(Map.empty[String, String], st.conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID())
    val p = new Path(dir)
    val fs = p.getFileSystem(job.getConfiguration)
    fs.delete(p, true)
    val file = new Path(p,
      s"part-00000-${UUID.randomUUID}-c000${factory.getFileExtension(ctx)}")
    val writer = factory.newInstance(file.toString, schema, ctx)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
    try rows.foreach(r =>
      writer.write(toCatalyst(r).asInstanceOf[InternalRow]))
    finally writer.close()
    fs.create(new Path(p, "_SUCCESS"), true).close()
  }
}
