package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Merge, Rename}
import graft.sources._

class SinksSpec extends SparkTestBase {
  import spark.implicits._

  test("TFRecordSink writes n/1000+1 shards plus .numexamples sidecar") {
    val dir = Files.createTempDirectory("graft-tfr").toString
    val df = (1 to 1500).map(i => (i.toLong, s"doc $i"))
      .toDF("id", "text")
      .select(col("id"), col("text").cast("binary").as("payload"))
    val n = TFRecordSink.writeSharded(df, "payload", dir, shardSize = 1000)
    assert(n == 1500)
    val files = new java.io.File(dir).listFiles().map(_.getName).sorted
    assert(files.count(_.endsWith(".tfrecord")) == 2) // 1500/1000 + 1
    assert(files.contains("shard.numexamples"))
    assert(Files.readString(
      java.nio.file.Paths.get(s"$dir/shard.numexamples")) == "1500")
    // every record readable with valid CRCs; total count preserved
    val total = files.filter(_.endsWith(".tfrecord")).map { f =>
      TFRecord.readAll(Files.readAllBytes(
        java.nio.file.Paths.get(s"$dir/$f"))).size
    }.sum
    assert(total == 1500)
  }

  test("writeSharded puts row i on shard i mod numShards, in row order") {
    val dir = Files.createTempDirectory("graft-tfr-mod").toString
    def shard(k: Int) = TFRecord.readAll(Files.readAllBytes(
      java.nio.file.Paths.get(f"$dir/shard-$k%05d.tfrecord")))
      .map(new String(_, "UTF-8"))
    // three input partitions; row order = id order
    def rows(n: Int) = spark.range(0, n, 1, 3)
      .select(col("id").cast("string").cast("binary").as("payload"))
    assert(TFRecordSink.writeSharded(rows(2500), "payload", dir) == 2500)
    for (k <- 0 to 2)
      assert(shard(k) == (k until 2500 by 3).map(_.toString), s"shard $k")
    // a smaller rerun replaces the tree: stale shards 1 and 2 are cleared
    assert(TFRecordSink.writeSharded(rows(5), "payload", dir) == 5)
    assert(new java.io.File(dir).listFiles().map(_.getName).sorted.toList ==
      List("shard-00000.tfrecord", "shard.numexamples"))
    assert(shard(0) == (0 until 5).map(_.toString))
  }

  test("TFRecordDataSource reads written shards back, distributed, CRC-checked") {
    val dir = Files.createTempDirectory("graft-tfr-read").toString
    val df = (1 to 250).map(i => (i.toLong, s"payload $i"))
      .toDF("id", "text")
      .select(col("text").cast("binary").as("payload"))
    TFRecordSink.writeSharded(df, "payload", dir, shardSize = 100)
    val back = spark.read.format("graft.sources.TFRecordDataSource")
      .load(dir)
    assert(back.schema.fieldNames.toList == List("path", "record"))
    assert(back.count() == 250)
    // 3 shard files → 3 input partitions
    assert(back.select("path").distinct().count() == 3)
    val texts = back.select(col("record").cast("string")).as[String]
      .collect().toSet
    assert(texts.contains("payload 1") && texts.contains("payload 250"))
    assert(texts.size == 250)
  }

  test("NpyWriter emits a spec-compliant v1.0 header") {
    val bytes = NpyWriter.float32(Array(1.0f, 2.0f, 3.0f), Seq(3))
    assert(bytes(0) == 0x93.toByte)
    assert(new String(bytes.slice(1, 6)) == "NUMPY")
    assert(bytes(6) == 1 && bytes(7) == 0)
    val hlen = (bytes(8) & 0xff) | ((bytes(9) & 0xff) << 8)
    assert((10 + hlen) % 64 == 0) // aligned
    val header = new String(bytes.slice(10, 10 + hlen))
    assert(header.contains("'<f4'") && header.contains("(3,)"))
    assert(bytes.length == 10 + hlen + 12)
    // emit a sample for external numpy cross-validation (tools/)
    NpyWriter.write("/tmp/graft_npy_check.npy",
      Array(1.5f, -2.25f, 0.0f, 42.0f, 3.14f, 2.72f), Seq(2, 3))
  }

  test("LabelMapSink renders 1-indexed pbtxt items in id order") {
    val txt = LabelMapSink.render(Seq("car" -> 2, "tree" -> 1))
    assert(txt.indexOf("name: 'tree'") < txt.indexOf("name: 'car'"))
    assert(txt.contains("id: 1") && txt.contains("id: 2"))
  }

  test("DatasetManifest renders valid JSON with lineage") {
    val m = DatasetManifest(
      name = "ds1",
      dateCreated = java.time.Instant.parse("2026-01-02T03:04:05Z"),
      user = "alice \"quoted\"",
      comments = "line1\nline2",
      trainingType = "Bounding Box",
      imageIds = Seq("a", "b"),
      filters = Seq(FilterLineage("set1",
        Seq(("and", Seq("t1", "tA")), ("or", Seq("t2"))), 2)),
      transforms = Seq(Rename("a", "b"), Merge(Seq("b", "c"), "m")))
    val json = m.toJson
    // must survive a strict JSON parse (Spark's own parser)
    val parsed = spark.read.json(Seq(json).toDS)
    assert(parsed.select("name").as[String].collect().head == "ds1")
    assert(parsed.select("date_created").as[String].collect().head
      == "2026-01-02T03:04:05Z")
    assert(json.contains("\\\"quoted\\\"") && json.contains("\\n"))
  }

  test("VocXml round-trips annotations") {
    val a = VocAnnotation("img1.jpg", 960, 720, 3, Seq(
      VocBox("Car", 10, 20, 100, 200), VocBox("Tree", 5, 5, 50, 50)))
    val back = VocXml.parse(VocXml.render(a))
    assert(back == a)
  }

  test("ImageHeaders parses PNG dims and survives garbage") {
    val png = ImageHeaders.fakePng(640, 480)
    val meta = ImageHeaders.parse(png)
    assert(meta.contains(ImageHeaders.ImageMeta("png", 640, 480, 3)))
    assert(ImageHeaders.parse("not an image at all, just text".getBytes).isEmpty)
    assert(ImageHeaders.parse(Array[Byte]()) == None)
  }
}
