package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.DatasetShim
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.{LabelTransform, Splits}
import graft.sources.{DatasetManifest, FilterLineage, LabelMapSink, TFRecordSink}
import graft.sources.TFRecordSink.ShardedOutput

/** Dataset write orchestration (SURVEY.md §3.3, `jigsaw/write_dataset.py:
  * 208-237`): produce the documented output tree
  *
  *   dataset/<name>/
  *     test/                       ← shuffled test split TFRecords
  *     splits/complete/train.record-* and test.record-*
  *     label_map.pbtxt
  *     metadata.json               ← lineage manifest
  *
  * mirroring the reference's default (test/ + splits/complete/ only; the
  * fold tree exists in [[graft.operators.Splits.kfold]] for callers that
  * want it — the reference's fold writes are dead code,
  * write_dataset.py:231-237).
  *
  * Jobs: each of the two seeded splits samples, shuffles and counts once;
  * one job then writes every shard of the three outputs; two small collects
  * read the label map and the manifest ids.
  */
object DatasetWriter {

  final case class WriteResult(name: String, numTest: Long, numTrainTest: Long,
      numTrain: Long)

  /** @param examples (image_id, example BINARY) — from DataModel.examples
    * @param labelDict (label, label_int) — from LabelDictionary
    */
  def write(spark: SparkSession, outRoot: String, name: String,
      examples: DataFrame, labelDict: DataFrame,
      user: String, comments: String, trainingType: String,
      filters: Seq[FilterLineage] = Seq.empty,
      transforms: Seq[LabelTransform] = Seq.empty,
      testPercent: Double = 0.2, seed: Long = 42,
      now: java.time.Instant = java.time.Instant.now()): WriteResult = {
    val base = s"$outRoot/$name"
    // Evaluate the examples once: the split's sort would otherwise compute
    // them in its range sampler and again in its shuffle. The copy keeps
    // their partitions and row order, on which the seeded rand() order
    // depends. The count pass leaves the sorted rows cached, so the copy
    // goes right after it.
    val rows = DatasetShim.toInternalRdd(examples).map(_.copy())
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (outer, n, numTest) =
      try Splits.testDevRanked(
        DatasetShim.internalCreateDataFrame(spark, rows, examples.schema),
        testPercent, seed, "image_id")
      finally rows.unpersist(blocking = false)
    // splits/complete: dev re-split 80/20 into train/test records (P4).
    // A dev set of <= 1 row cannot be re-split (the reference contract only
    // errors on the OUTER split) — it all becomes train.
    val numDev = n - numTest
    val dev = outer.filter(col("_idx") >= numTest).drop("_idx")
    val (inner, numTrainTest) =
      if (numDev > 1) {
        val (ranked, _, t) = Splits.testDevRanked(dev, testPercent, seed + 1,
          "image_id", knownCount = Some(numDev))
        (ranked, t)
      } else (dev.withColumn("_idx", lit(0L)), 0L)
    val numTrain = numDev - numTrainTest
    // W14 destructive replace = overwrite semantics of each output below.
    // (output, row within it, bytes): top-level test/ (write_dataset.py:229:
    // related data for the test set), then the inner test and train sets
    val inTrain = col("_idx") >= numTrainTest
    val records = outer.filter(col("_idx") < numTest)
      .select(lit(0), col("_idx"), col("example"))
      .union(inner.select(when(inTrain, 2).otherwise(1),
        when(inTrain, col("_idx") - numTrainTest).otherwise(col("_idx")),
        col("example")))
    TFRecordSink.writeShards(
      records.rdd.map(r =>
        ((r.getInt(0), r.getLong(1)), r.getAs[Array[Byte]](2))),
      IndexedSeq(
        ShardedOutput(s"$base/test", "test.record", numTest),
        ShardedOutput(s"$base/splits/complete", "test.record", numTrainTest),
        ShardedOutput(s"$base/splits/complete", "train.record", numTrain)))
    // label map + lineage manifest (tiny dimension → driver collect is fine)
    val dict = labelDict.collect()
      .map(r => r.getAs[String]("label") -> r.getAs[Int]("label_int")).toSeq
    LabelMapSink.write(s"$base/label_map.pbtxt", dict)
    // ids in Spark's string order (UTF-8 bytes), sorted on the driver
    val ids = outer.select("image_id").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
      .sortWith(_.compareTo(_) < 0).map(_.toString).toSeq
    DatasetManifest(name, now, user, comments, trainingType, ids,
      filters, transforms).write(s"$base/metadata.json")
    WriteResult(name, numTest, numTrainTest, numTrain)
  }
}
