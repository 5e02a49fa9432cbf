package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Rename
import graft.plans.{DataModels, DatasetWriter, SemanticMaskModel}
import graft.sources.{FilterLineage, ImageHeaders, TFRecord, VocAnnotation, VocBox, VocXml}

class DatasetWriterSpec extends SparkTestBase {
  import spark.implicits._

  private def fixtureCorpus(n: Int): String = {
    val dir = Files.createTempDirectory("graft-ds").toFile
    dir.deleteOnExit()
    def writeS(name: String, content: String): Unit =
      Files.write(new java.io.File(dir, name).toPath, content.getBytes)
    for (i <- 1 to n) {
      val id = f"img$i%03d"
      Files.write(new java.io.File(dir, s"image_$id.png").toPath,
        ImageHeaders.fakePng(32, 24))
      Files.write(new java.io.File(dir, s"mask_$id.png").toPath,
        ImageHeaders.fakePng(32, 24))
      writeS(s"labels_$id.csv", "label,R,G,B\nCar,64,0,128\n")
      writeS(s"meta_$id.json", s"""{"tags": ["t${i % 2}"]}""")
    }
    dir.getAbsolutePath
  }

  test("end-to-end: bind → export → split → tree with manifest and label map") {
    val corpus = fixtureCorpus(10)
    val out = Files.createTempDirectory("graft-out").toString
    val bound = SemanticMaskModel.bind(spark, corpus, None)
    val examples = SemanticMaskModel.examples(bound)
    val labels = graft.sources.CorpusBinder.labels(spark, corpus)
    val dict = graft.operators.LabelDictionary.fromLabels(labels)
    val res = DatasetWriter.write(spark, out, "ds_test", examples, dict,
      user = "tester", comments = "fixture run",
      trainingType = SemanticMaskModel.trainingType,
      filters = Seq(FilterLineage("all", Seq(("or", Seq("t0", "t1"))), 10)),
      transforms = Seq(Rename("Car", "Auto")),
      now = java.time.Instant.parse("2026-08-12T00:00:00Z"))
    assert(res.numTest == 2) // floor(10 * 0.2)
    assert(res.numTrainTest + res.numTrain == 8)
    val base = new java.io.File(s"$out/ds_test")
    def ls(p: String) = new java.io.File(base, p).listFiles().map(_.getName)
    assert(ls("test").exists(_.startsWith("test.record-")))
    assert(ls("splits/complete").exists(_.startsWith("train.record-")))
    assert(Files.readString(base.toPath.resolve("label_map.pbtxt"))
      .contains("name: 'Car'"))
    val manifest = Files.readString(base.toPath.resolve("metadata.json"))
    assert(manifest.contains("\"created_by\": \"tester\"")
      && manifest.contains("rename Car -> Auto"))
    // records decode as framed TFRecords with valid CRCs
    val shard = new java.io.File(base, "test").listFiles()
      .filter(_.getName.endsWith(".tfrecord")).head
    val records = TFRecord.readAll(Files.readAllBytes(shard.toPath))
    assert(records.nonEmpty && records.forall(_.nonEmpty))
  }

  // Goldens: DatasetDigest lines of the trees the previous writer (one job
  // per sink, round-robin shards) produced from these fixtures. Its split
  // membership depends on how the examples are partitioned, so the
  // fixtures pin their partitioning; the goldens were identical at 1, 2
  // and 4 cores.
  private val goldenNow = java.time.Instant.parse("2026-08-12T00:00:00Z")

  private def golden(name: String): Seq[String] = {
    val in = getClass.getResourceAsStream(s"/golden/dataset_writer/$name.txt")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toSeq
    finally in.close()
  }

  private def writeCorpus(n: Int): java.io.File = {
    val corpus = fixtureCorpus(n)
    val out = Files.createTempDirectory("graft-out").toString
    val bound = SemanticMaskModel.bind(spark, corpus, None)
    val examples = SemanticMaskModel.examples(bound)
      .repartitionByRange(2, col("image_id")).sortWithinPartitions("image_id")
    val dict = graft.operators.LabelDictionary.fromLabels(
      graft.sources.CorpusBinder.labels(spark, corpus))
    DatasetWriter.write(spark, out, "ds", examples, dict,
      user = "tester", comments = "golden",
      trainingType = SemanticMaskModel.trainingType,
      filters = Seq(FilterLineage("all", Seq(("or", Seq("t0", "t1"))), n)),
      transforms = Seq(Rename("Car", "Auto")), seed = 7, now = goldenNow)
    new java.io.File(out, "ds")
  }

  private def oneLabel: DataFrame =
    spark.range(1).select(lit("thing").as("label"), lit(1).as("label_int"))

  private def synthetic(n: Int, encode: Column => Column): DataFrame =
    spark.range(0, n, 1, 2)
      .select(format_string("ex%05d", col("id")).as("image_id"))
      .withColumn("example", encode(col("image_id")))

  private def writeSynthetic(examples: DataFrame): java.io.File = {
    val out = Files.createTempDirectory("graft-out").toString
    DatasetWriter.write(spark, out, "ds", examples, oneLabel, user = "tester",
      comments = "golden", trainingType = "synthetic", seed = 7,
      now = goldenNow)
    new java.io.File(out, "ds")
  }

  test("outputs match the previous writer's: records, label map, sidecars, manifest") {
    assert(DatasetDigest.lines(writeCorpus(10)) == golden("corpus10"))
  }

  test("n = 2: the one-row dev set becomes all train, as before") {
    val base = writeCorpus(2)
    assert(DatasetDigest.lines(base) == golden("corpus2"))
    // the inner test output exists and is empty
    assert(new java.io.File(base, "splits/complete/test.record-00000.tfrecord")
      .length() == 0)
  }

  test("a split larger than shardSize spreads row i to shard i mod numShards") {
    // 1600 → test 320; dev 1280 → inner test 256, train 1024 = 2 shards
    val base = writeSynthetic(
      synthetic(1600, id => concat(lit("example "), id).cast("binary")))
    assert(DatasetDigest.lines(base) == golden("wide1600"))
    val train = (0 to 1).map(k => TFRecord.readAll(Files.readAllBytes(
      base.toPath.resolve(f"splits/complete/train.record-$k%05d.tfrecord"))))
    assert(train.map(_.size) == Seq(512, 512))
  }

  test("write evaluates each example once, in a pinned number of jobs") {
    val evaluated = spark.sparkContext.longAccumulator("examples_evaluated")
    val encode = udf { (id: String) => evaluated.add(1); s"example $id".getBytes }
    val examples = synthetic(40, id => encode(id))
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      writeSynthetic(examples)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(evaluated.value == 40) // the previous writer: 80
    // the two split sorts each sample their input for range bounds unless
    // they sort into one partition; the previous writer ran 27 jobs (24)
    val samplers =
      if (spark.conf.get("spark.sql.shuffle.partitions").toInt > 1) 2 else 0
    assert(jobs.get == 7 + samplers)
  }

  test("instance model rewrites panel labels and appends per-instance masks") {
    val corpus = fixtureCorpus(2)
    Files.write(java.nio.file.Paths.get(corpus, "bboxLabels_img001.xml"),
      VocXml.render(VocAnnotation("img001.png", 32, 24, 3, Seq(
        VocBox("panel_left", 1, 1, 5, 5), VocBox("Car", 8, 8, 16, 16))))
        .getBytes)
    val model = DataModels.registry("instance_mask")
    val bound = model.bind(spark, corpus, Some(Seq("img001").toDF("image_id")))
    val labels = bound.selectExpr("explode(boxes.label)")
      .as[String].collect().sorted
    assert(labels.toList == List("Car", "solar_panel")) // F9 rewrite
    val bytes = model.examples(bound).collect().head
      .getAs[Array[Byte]]("example")
    assert(bytes.nonEmpty)

    // W4 verbose_write side-output: one PNG per instance under
    // <outDir>/<image_id>/<i>.png — 2 boxes → 2 files, rerun overwrites
    // (index names, not uuids) so the count is stable
    val dump = Files.createTempDirectory("graft-vdump").toString
    graft.plans.InstanceMaskModel.verboseDumpMasks(bound, dump)
    graft.plans.InstanceMaskModel.verboseDumpMasks(bound, dump)
    val dumped = new java.io.File(dump, "img001").listFiles()
      .map(_.getName).sorted
    assert(dumped.toList == List("0.png", "1.png"), dumped.mkString(","))
  }

  test("consolidate snapshots the bound corpus to parquet and round-trips") {
    val corpus = fixtureCorpus(5)
    val out = Files.createTempDirectory("graft-consol").toString + "/corpus"
    graft.sources.CorpusBinder.consolidate(spark, corpus, out)
    val back = graft.sources.CorpusBinder.loadConsolidated(spark, out)
    assert(back.count() == 5)
    assert(back.columns.contains("image") && back.columns.contains("tags"))
    // binary payloads survive the parquet round trip
    val img = back.filter($"image_id" === "img001")
      .select("image").collect().head.getAs[Array[Byte]](0)
    assert(graft.sources.ImageHeaders.parse(img)
      .exists(m => m.width == 32 && m.height == 24))
  }

  test("bbox model exports normalized box features") {
    val corpus = fixtureCorpus(3)
    Files.write(java.nio.file.Paths.get(corpus, "bboxLabels_img001.xml"),
      VocXml.render(VocAnnotation("img001.png", 32, 24, 3,
        Seq(VocBox("Car", 8, 6, 16, 12)))).getBytes)
    val model = DataModels.registry("bbox")
    val bound = model.bind(spark, corpus, Some(Seq("img001").toDF("image_id")))
    val ex = model.examples(bound).collect()
    assert(ex.length == 1)
    val bytes = ex.head.getAs[Array[Byte]]("example")
    assert(bytes.nonEmpty)
    // normalized xmin = 8/32 = 0.25f appears in the packed float payload
    val q = java.nio.ByteBuffer.allocate(4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putFloat(0.25f).array()
    assert(bytes.toSeq.containsSlice(q.toSeq))
  }
}
