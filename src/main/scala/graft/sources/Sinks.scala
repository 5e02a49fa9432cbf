package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.{Partitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftshim.DatasetShim
import org.apache.spark.storage.StorageLevel
import org.apache.spark.util.SerializableConfiguration

/** Sharded TFRecord dataset sink (SURVEY.md W1): each row's byte payload is
  * framed into TFRecord entries, row i going to shard i mod numShards of
  * `n/shardSize + 1` shard files (the reference's formula,
  * `jigsaw/write_dataset.py:185,196`), plus a `.numexamples` count sidecar.
  *
  * Scale: one shuffle keyed by shard file, then every task streams its shard
  * straight to the (distributed) filesystem — no driver collection, no
  * per-row small files. One job writes every shard of several outputs.
  */
object Sinks {
  /** Spark's Hadoop configuration when a session is active (carries
    * spark.hadoop.* object-store credentials/endpoints), else a default.
    */
  private[sources] def hadoopConf(): Configuration =
    SparkSession.getActiveSession
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new Configuration())

  /** Run `f` against a PRIVATE FileSystem handle with CRC sidecar files
    * disabled (the Hadoop local FS otherwise litters every write with
    * .name.crc files), closed afterwards. `FileSystem.newInstance`, not
    * `get`: `get` returns the JVM-cached shared instance per
    * scheme/authority, so `setWriteChecksum(false)` on it would leak to
    * every other writer in the process for the rest of the JVM's life —
    * the checksum opt-out must stay scoped to graft's own sinks.
    */
  private[sources] def withFs[A](uri: String,
      conf: Configuration = hadoopConf())(f: FileSystem => A): A = {
    val fs = FileSystem.newInstance(new java.net.URI(uri), conf)
    try {
      fs.setWriteChecksum(false)
      f(fs)
    } finally fs.close()
  }

  /** Write a small text file (driver-side sidecars: manifests, label maps,
    * counts, key orders).
    */
  def writeTextFile(path: String, content: String): Unit =
    TFRecordSink.writeText(path, content)
}

object TFRecordSink {

  /** One sharded output of [[writeShards]]: `count` records under `dir` as
    * `<prefix>-SSSSS.tfrecord` in the reference's `count / shardSize + 1`
    * shards, plus a `<prefix>.numexamples` count sidecar.
    */
  final case class ShardedOutput(dir: String, prefix: String, count: Long,
      shardSize: Long = 1000) {
    val numShards: Int = (count / shardSize + 1).toInt
  }

  /** Write `bytesCol` (BINARY column of serialized tf.train.Examples) under
    * `dir` as `<prefix>-SSSSS.tfrecord` shards. Returns the record count.
    * Row i, in the frame's partition order, goes to shard i mod numShards.
    */
  def writeSharded(df: DataFrame, bytesCol: String, dir: String,
      prefix: String = "shard", shardSize: Long = 1000): Long = {
    // persist: the payload is consumed twice (count, then the write) and
    // recomputing an upstream bind/export pipeline would double all I/O
    val payload = DatasetShim.toInternalRdd(df.select(bytesCol))
      .map(_.getBinary(0))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = payload.mapPartitions(it => Iterator(it.size.toLong))
        .collect()
      val bases = counts.scanLeft(0L)(_ + _)
      val indexed = payload.mapPartitionsWithIndex { (pid, it) =>
        var i = bases(pid)
        it.map { bytes => i += 1; ((0, i - 1), bytes) }
      }
      writeShards(indexed,
        IndexedSeq(ShardedOutput(dir, prefix, bases.last, shardSize)))
      bases.last
    } finally payload.unpersist()
  }

  /** Write every shard of every output in one shuffle and one job.
    * `records` are keyed by (output index, row index i within that output);
    * row i of an output goes to its shard i mod numShards (the reference's
    * assignment, `jigsaw/write_dataset.py:185,196`), and each shard holds
    * its rows in row order. `count` sets an output's shard count, so it
    * must be the number of its rows: the job checks it before any sidecar
    * is written.
    */
  private[graft] def writeShards(records: RDD[((Int, Long), Array[Byte])],
      outputs: IndexedSeq[ShardedOutput]): Unit = {
    require(outputs.map(o => (o.dir, o.prefix)).distinct.size == outputs.size,
      "two outputs share a directory and prefix")
    // the job's files, output by output: file f is shard f - first(o) of
    // the output o with first(o) <= f < first(o + 1)
    val numShards = outputs.map(_.numShards)
    val first = numShards.scanLeft(0)(_ + _)
    outputs.foreach(o => clearShards(o.dir, o.prefix))
    // executor-side FS needs the session's Hadoop conf (s3a creds etc.)
    val serConf = new SerializableConfiguration(Sinks.hadoopConf())
    val written = records
      .map { case ((o, i), bytes) =>
        ((first(o) + (i % numShards(o)).toInt, i), bytes) }
      .repartitionAndSortWithinPartitions(new FilePartitioner(first.last))
      .mapPartitionsWithIndex { (file, rows) =>
        val o = first.lastIndexWhere(_ <= file)
        val out = outputs(o)
        Iterator(o -> commitShard(out.dir, out.prefix, file - first(o),
          serConf)(rows.map(_._2)))
      }
      .collect()
      .groupMapReduce(_._1)(_._2)(_ + _)
    outputs.zipWithIndex.foreach { case (o, k) =>
      val n = written.getOrElse(k, 0L)
      if (n != o.count) throw new IllegalStateException(
        s"${o.dir}/${o.prefix}: wrote $n records, expected ${o.count}")
    }
    outputs.foreach(o =>
      writeText(s"${o.dir}/${o.prefix}.numexamples", o.count.toString))
  }

  /** Partition = the file id that leads the (file, row) key. */
  private final class FilePartitioner(files: Int) extends Partitioner {
    def numPartitions: Int = files
    def getPartition(key: Any): Int = key.asInstanceOf[(Int, Long)]._1
  }

  /** Job-level overwrite: clear previous-run shards and orphaned temp files
    * ONCE on the driver, so tasks never have to delete a committed file (a
    * delete-then-rename in a task would let a killed speculative attempt
    * destroy a finished shard without replacing it).
    */
  private def clearShards(dir: String, prefix: String): Unit =
    Sinks.withFs(dir) { driverFs =>
      val dirPath = new Path(dir)
      if (driverFs.exists(dirPath)) {
        driverFs.listStatus(dirPath).map(_.getPath).foreach { p =>
          val name = p.getName
          if ((name.startsWith(s"$prefix-") && name.endsWith(".tfrecord"))
              || (name.startsWith(s".$prefix-") && name.endsWith(".tmp")))
            driverFs.delete(p, false)
        }
      }
    }

  /** Stream one shard's records to a temp file, then rename it into place.
    * FIRST attempt wins: rename refuses an existing destination, so a
    * committed shard is never deleted; the losing attempt just discards its
    * temp file. Returns the number of records written.
    */
  private def commitShard(dir: String, prefix: String, shard: Int,
      conf: SerializableConfiguration)(records: Iterator[Array[Byte]]): Long =
    Sinks.withFs(dir, conf.value) { fs =>
      val finalPath = new Path(dir, f"$prefix-$shard%05d.tfrecord")
      val tmpPath = new Path(dir, f".$prefix-$shard%05d.tfrecord." +
        f"${TaskContext.get().taskAttemptId()}%d.tmp")
      var n = 0L
      val out = fs.create(tmpPath, true)
      try records.foreach { r => TFRecord.writeRecord(out, r); n += 1 }
      finally out.close()
      if (!fs.rename(tmpPath, finalPath)) {
        fs.delete(tmpPath, false)
      }
      n
    }

  private[sources] def writeText(path: String, content: String): Unit =
    Sinks.withFs(path) { fs =>
      val out = fs.create(new Path(path), true)
      try out.write(content.getBytes(StandardCharsets.UTF_8))
      finally out.close()
    }
}

/** NumPy `.npy` writer (format spec v1.0, public NumPy docs) for the
  * mean/stdev tensor sidecars (SURVEY.md W13,
  * `jigsaw/models/feature_points/model.py:103-113`).
  */
object NpyWriter {

  /** Serialize a float32 tensor (C-order) with the given shape. */
  def float32(values: Array[Float], shape: Seq[Int]): Array[Byte] = {
    require(values.length == shape.product, "shape does not match data size")
    val shapeStr = shape.mkString("(", ", ", if (shape.length == 1) ",)" else ")")
    var header = s"{'descr': '<f4', 'fortran_order': False, 'shape': $shapeStr, }"
    // pad with spaces so magic+2+2+len(header)+1 is a multiple of 64
    val unpadded = 10 + header.length + 1
    header = header + " " * ((64 - unpadded % 64) % 64) + "\n"
    val out = new ByteArrayOutputStream()
    out.write(0x93)
    out.write("NUMPY".getBytes(StandardCharsets.US_ASCII))
    out.write(1); out.write(0) // version 1.0
    val hlen = header.length
    out.write(hlen & 0xff); out.write((hlen >> 8) & 0xff)
    out.write(header.getBytes(StandardCharsets.US_ASCII))
    val data = ByteBuffer.allocate(4 * values.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    values.foreach(data.putFloat)
    out.write(data.array())
    out.toByteArray
  }

  def write(path: String, values: Array[Float], shape: Seq[Int]): Unit =
    Sinks.withFs(path) { fs =>
      val out = fs.create(new Path(path), true)
      try out.write(float32(values, shape))
      finally out.close()
    }
}

/** TF Object Detection label-map text proto (SURVEY.md W6,
  * `jigsaw/model_utils/base/mask.py:129-146`): items are 1-indexed ints in
  * dictionary order.
  */
object LabelMapSink {

  def render(labelToInt: Seq[(String, Int)]): String =
    labelToInt.sortBy(_._2).map { case (label, id) =>
      s"item {\n  id: $id\n  name: '$label'\n}\n"
    }.mkString("\n")

  def write(path: String, labelToInt: Seq[(String, Int)]): Unit =
    TFRecordSink.writeText(path, render(labelToInt))
}
