package graft.perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.operators.{LabelDictionary, LabelTransform, LabelTransforms, Merge, Rename, TagOps}
import graft.plans.{DatasetWriter, DeeplabModel}
import graft.sources.{CorpusBinder, FilterLineage}

/** `jigsaw_export`: the whole CLI flow on a generated CamVid-shaped
  * corpus. Each op writes one dataset version: a tag filter (AND, OR or
  * join-sets), rename + merge label transforms, the deeplab class mask,
  * and `DatasetWriter.write` (sharded TFRecords, label map, manifest).
  * An item is one written example. */
final class ExportWorkload(dataDir: String, seed: Long)
    extends Workload {
  val name = "jigsaw_export"
  private val corpus = s"$dataDir/corpus"
  private val out = s"$dataDir/datasets"

  /** One dataset version's recipe. */
  final case class Version(kind: String, sets: Seq[(String, Seq[String])],
      transforms: Seq[LabelTransform])

  /** image id → tags, as the generator wrote them. */
  private lazy val tags: Map[String, Set[String]] =
    Main.json.readTree(new File(s"$dataDir/corpus_tags.json")).properties()
      .asScala.map(e => e.getKey -> e.getValue.asScala.map(_.asText).toSet).toMap
  private val baseLabels: Seq[String] = {
    val csv = new File(corpus).listFiles().filter(_.getName.startsWith("labels_")).head
    scala.io.Source.fromFile(csv).getLines().drop(1).map(_.split(",")(0)).toSeq
  }

  private val versions: IndexedSeq[Version] = {
    val rnd = new scala.util.Random(seed)
    val t = rnd.shuffle(Seq("tag_1", "tag_2", "tag_3", "tag_A", "tag_B"))
    val merges = Seq(
      Seq(Rename("Car", "Auto"), Merge(Seq("Road", "Sidewalk", "LaneMkgsDriv"), "Ground")),
      Seq(Merge(Seq("Pedestrian", "Child", "Bicyclist"), "Person")),
      Seq(Rename("Sky", "Background"), Merge(Seq("Tree", "Fence"), "Vegetation")))
    IndexedSeq(
      Version("and", Seq("and" -> Seq("semantically-labeled", t(0))), merges(0)),
      Version("or", Seq("or" -> Seq(t(1), t(2))), merges(1)),
      Version("join", Seq("and" -> Seq(t(3)), "or" -> Seq(t(4), t(0))), merges(2)))
  }

  private def selectIds(tagged: DataFrame, v: Version): DataFrame = {
    val sets = v.sets.map {
      case ("and", ts) => TagOps.andFilter(tagged, ts)
      case (_, ts) => TagOps.orFilter(tagged, ts)
    }
    (if (sets.size == 1) sets.head else TagOps.joinSets(sets)).select("image_id")
  }

  /** Expected ids, computed from the generator's tags without Spark. */
  private def expectedIds(v: Version): Set[String] = v.sets.map {
    case ("and", ts) => tags.collect { case (id, tg) if ts.forall(tg) => id }.toSet
    case (_, ts) => tags.collect { case (id, tg) if ts.exists(tg) => id }.toSet
  }.reduce(_ ++ _)

  /** Expected label map: every image carries every label, so ids follow
    * the transformed label names in order. */
  private def expectedLabelMap(v: Version): Seq[(Int, String)] = {
    val renamed = baseLabels.map { l =>
      v.transforms.foldLeft(l) {
        case (x, Rename(from, to)) if x == from => to
        case (x, Merge(froms, to)) if froms.contains(x) => to
        case (x, _) => x
      }
    }.distinct.sorted
    renamed.zipWithIndex.map { case (l, i) => (i + 1, l) }
  }

  def prepare(spark: SparkSession): Unit =
    TagOps.loadMetadata(spark, corpus).count()

  def check(spark: SparkSession): Set[String] = {
    // warm-up: one export, output discarded
    exportVersion(spark, versions(0), "warm", None, 0)
    Set.empty
  }

  private val results = mutable.Map.empty[String, (Version, DatasetWriter.WriteResult)]

  private def exportVersion(spark: SparkSession, v: Version, dsName: String,
      w: Option[Window], parent: Int): Long = {
    val t0 = Clock.nowNs()
    val tagged = TagOps.loadMetadata(spark, corpus)
    val selected = selectIds(tagged, v)
    val nSelected = selected.count()
    val bound = DeeplabModel.bind(spark, corpus, Some(selected))
    val labels = LabelTransforms.applyTo(CorpusBinder.labels(spark, corpus), "label",
      v.transforms)
    val dict = LabelDictionary.fromLabels(labels)
    val colorToClass = labels.join(dict, "label").select("B", "G", "R", "label_int")
      .distinct().collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)) -> r.getInt(3)).toMap
    val examples = DeeplabModel.examples(DeeplabModel.withClassMask(bound, colorToClass))
    val t1 = Clock.nowNs()
    val res = DatasetWriter.write(spark, out, dsName, examples, dict,
      user = "perfbench", comments = s"${v.kind} version",
      trainingType = DeeplabModel.trainingType,
      filters = Seq(FilterLineage(v.kind, v.sets, nSelected)),
      transforms = v.transforms)
    val t2 = Clock.nowNs()
    w.foreach { win =>
      results(dsName) = (v, res)
      if (win.traced) {
        win.spans.add(parent, "export.bind", t0, t1)
        win.spans.add(parent, "export.write", t1, t2)
        win.layers("export.bind_ms") = win.layers.getOrElse("export.bind_ms", 0.0) + (t1 - t0) / 1e6
        win.layers("export.write_ms") = win.layers.getOrElse("export.write_ms", 0.0) + (t2 - t1) / 1e6
      }
    }
    res.numTest + res.numTrainTest + res.numTrain
  }

  /** Whole cycles of the recipes, so every window exports the same mix;
    * the window ends at the cycle boundary nearer the deadline. */
  def run(spark: SparkSession, w: Window, deadlineNs: Long): Unit = {
    var i = 0
    var cycleNs = 0L
    val tag = if (w.traced) "t" else "p"
    do {
      val t0 = System.nanoTime()
      versions.foreach { v =>
        val ds = s"$tag$i"
        w.op(spark, ds, ds, "export") { id => exportVersion(spark, v, ds, Some(w), id) }
        if (w.traced) {
          val files = listFiles(new File(s"$out/$ds"))
          w.layers("export.bytes_written") =
            w.layers.getOrElse("export.bytes_written", 0.0) + files.map(_.length).sum
          w.layers("export.files") = w.layers.getOrElse("export.files", 0.0) + files.size
        }
        i += 1
      }
      w.heapCheckpoint()
      cycleNs = System.nanoTime() - t0
    } while (System.nanoTime() + cycleNs / 2 < deadlineNs)
  }

  private def listFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(listFiles)
    else if (f.exists()) Seq(f) else Seq.empty

  private def records(spark: SparkSession, dir: String): Map[String, Long] =
    spark.read.format("graft.sources.TFRecordDataSource").load(dir)
      .select(col("path")).collect()
      .groupBy(r => new File(r.getString(0)).getName.takeWhile(_ != '-'))
      .map { case (k, rs) => k -> rs.length.toLong }

  /** Record counts read back through the tfrecord source (CRC-checked)
    * against the WriteResult, the written example count against the
    * tag algebra computed without Spark, and the label map contents. */
  override def verify(spark: SparkSession, w: Window): Set[String] =
    w.ops.filter(_.ok).map(_.key).filterNot { ds =>
      try {
        val (v, res) = results(ds)
        val base = s"$out/$ds"
        val test = records(spark, s"$base/test")
        val complete = records(spark, s"$base/splits/complete")
        val labelMap = "id: (\\d+)\\s+name: '([^']*)'".r
          .findAllMatchIn(new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(s"$base/label_map.pbtxt")), "UTF-8"))
          .map(m => (m.group(1).toInt, m.group(2))).toSeq
        val ok = test.values.sum == res.numTest &&
          complete.getOrElse("test.record", 0L) == res.numTrainTest &&
          complete.getOrElse("train.record", 0L) == res.numTrain &&
          res.numTest + res.numTrainTest + res.numTrain == expectedIds(v).size &&
          labelMap == expectedLabelMap(v)
        if (!ok) System.err.println(s"[perfbench] export $ds wrong: test=$test " +
          s"complete=$complete result=$res expected=${expectedIds(v).size} " +
          s"labels=$labelMap")
        ok
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] export $ds check failed: $e"); false
      }
    }.toSet
}

object ExportWorkload {
  /** The generated corpus's image size (`run.py`): CamVid at the 480×360
    * resolution SegNet trains on, half its 960×720 frame on each side. */
  val FrameW = 480
  val FrameH = 360
}
