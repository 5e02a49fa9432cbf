package org.apache.spark.sql.graftshim

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.StructType

/** Bridge for Spark internals that are `private[sql]` in 4.x: moving between
  * a Dataset and its InternalRow RDD without the external-Row codec. Used by
  * [[graft.operators.Splits.withGlobalIndex]] to append a global index
  * without decoding every row to `Row` and re-encoding it back through
  * `CatalystTypeConverters` (a per-field round trip that dominates runtime
  * on wide tables). Lives inside the `org.apache.spark.sql` namespace solely
  * for access; the engine's own code stays under `graft`.
  */
object DatasetShim {

  private def requireClassic[T](what: String, value: Any)(
      implicit ct: scala.reflect.ClassTag[T]): T = value match {
    case t: T => t
    case other => throw new UnsupportedOperationException(
      s"graft requires classic (non-Connect) Spark 4.x: expected " +
        s"${ct.runtimeClass.getName} for $what but got " +
        s"${other.getClass.getName}. Run with a classic SparkSession " +
        "(spark.api.mode=classic), not a Spark Connect client.")
  }

  /** The physical InternalRow RDD of a DataFrame (post-optimization plan).
    * Rows may be reused buffers — callers must `.copy()` before buffering.
    */
  def toInternalRdd(df: DataFrame): RDD[InternalRow] =
    requireClassic[org.apache.spark.sql.classic.Dataset[Row]](
      "Dataset", df).queryExecution.toRdd

  /** `schema` with every field, nested ones included, nullable — the
    * schema a file relation reads (`StructType.asNullable`). */
  def asNullable(schema: StructType): StructType = schema.asNullable

  /** Wrap an InternalRow RDD as a DataFrame without converter overhead. */
  def internalCreateDataFrame(spark: SparkSession, rdd: RDD[InternalRow],
      schema: StructType): DataFrame =
    requireClassic[org.apache.spark.sql.classic.SparkSession](
      "SparkSession", spark).internalCreateDataFrame(rdd, schema)
}
