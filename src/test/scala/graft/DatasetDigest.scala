package graft

import java.io.File
import java.nio.file.Files
import java.security.MessageDigest

import graft.sources.TFRecord

/** An order-free digest of a written dataset tree, for golden comparisons.
  *
  * One line per TFRecord sink (a directory plus a shard-file prefix): its
  * shard-file count, record count and the multiset of its record bytes
  * (SHA-256 over the sorted per-record SHA-256s). For a one-shard sink that
  * is the multiset of the one file. One line per other file: the SHA-256 of
  * its bytes (`.numexamples` sidecars, `label_map.pbtxt`, `metadata.json`
  * with its id list). Record order inside a shard, and which shard of a
  * multi-shard sink holds a record, are left out.
  */
object DatasetDigest {

  private def sha(bytes: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(bytes)
      .map(b => f"${b & 0xff}%02x").mkString

  private def files(f: File): Seq[File] =
    if (f.isDirectory) f.listFiles().toSeq.flatMap(files) else Seq(f)

  def lines(base: File): Seq[String] = {
    val all = files(base).filterNot(_.getName.startsWith("."))
    def rel(f: File) = base.toPath.relativize(f.toPath).toString
    val (shards, other) = all.partition(_.getName.endsWith(".tfrecord"))
    val sinks = shards.groupBy(f => rel(f).replaceAll("-\\d{5}\\.tfrecord$", ""))
      .toSeq.map { case (sink, fs) =>
        val recs = fs.flatMap(f => TFRecord.readAll(Files.readAllBytes(f.toPath)))
        val multiset = sha(recs.map(r => sha(r)).sorted.mkString("\n").getBytes)
        s"sink $sink files=${fs.size} records=${recs.size} multiset=$multiset"
      }
    val plain = other.map(f => s"file ${rel(f)} sha256=${sha(Files.readAllBytes(f.toPath))}")
    (sinks ++ plain).sorted
  }
}
