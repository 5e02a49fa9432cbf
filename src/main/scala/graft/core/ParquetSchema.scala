package graft.core

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** A parquet path's Spark schema, read on the driver from one file's
  * footer, for `spark.read.schema(...)`. Without a supplied schema every
  * `spark.read.parquet` runs a one-task inference job that does exactly
  * this inside an executor; here it is one footer read on the driver, so
  * callers read it again each time instead of caching it.
  *
  * The steps are the inference's own: `ParquetFooterReader` without row
  * groups, then `ParquetFileFormat.readSchemaFromFooter`, which prefers the
  * Spark schema a Spark writer embeds and otherwise converts the parquet
  * schema under the session's SQL conf (`nanosAsLong`, `inferTimestampNTZ`,
  * binary-as-string and the rest apply as they do to inference). Like the
  * inferred schema, it keeps the writer's nullability; the file relation
  * makes every column nullable either way.
  *
  * A directory is read through its first data file in name order (hidden
  * `_`/`.` names skipped), which assumes every file in it shares one
  * schema — the same assumption inference makes without `mergeSchema`.
  * Partitioned (`k=v/`) layouts are not handled: their columns come from
  * partition discovery, not from a footer.
  */
object ParquetSchema {

  def apply(spark: SparkSession, path: String): StructType = {
    val state = spark.asInstanceOf[classic.SparkSession].sessionState
    val conf = state.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val status = fs.getFileStatus(p)
    val file =
      if (!status.isDirectory) status
      else fs.listStatus(p).filter(isDataFile).sortBy(_.getPath.getName)
        .headOption.getOrElse(throw new IllegalArgumentException(
          s"no parquet data file in $path"))
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, conf), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(state.conf))
  }

  private[core] def isDataFile(s: FileStatus): Boolean = {
    val name = s.getPath.getName
    s.isFile && !name.startsWith("_") && !name.startsWith(".")
  }
}
