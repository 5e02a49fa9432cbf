package graft.streaming

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.functions.{max, min}

import graft.core.ParquetSchema
import graft.streaming.VersionedStore.Family

/** The declared store-family table of each ingest against what the
  * ingest actually writes, the compaction order [[VersionedStore]]
  * derives from that table against the hand-written reference order of
  * [[TombstoneModelSpec]], and the footer-bound reads of the store
  * layer (each pinned by its job count and by schema equality with
  * inference).
  */
class StoreFamiliesSpec extends graft.SparkTestBase {
  import spark.implicits._

  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  /** The schema a read bound to `dir`'s footer takes. */
  private def bound(dir: String) =
    spark.read.schema(ParquetSchema(spark, dir)).parquet(dir).schema

  /** The family directories under `storeRoot` (marker files excluded). */
  private def familyDirs(storeRoot: String): Set[String] =
    new java.io.File(storeRoot).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet

  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private val dedupBatches = Seq(
    docs(1L -> "alpha beta gamma delta epsilon zeta eta theta\nfooter line",
      2L -> "one two three four five six seven eight\nfooter line"),
    docs(11L -> "alpha beta gamma delta epsilon zeta eta theta\nfooter line",
      12L -> "nine ten eleven twelve thirteen fourteen\nfooter line"),
    docs(21L -> "red orange yellow green blue indigo violet\nfooter line"))

  private def dedupBatch(storeRoot: String, keptDir: String, id: Int,
      allStages: Boolean): Unit =
    DedupIngest.processBatch(dedupBatches(id), id.toLong, storeRoot,
      keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
      exactPrefilter = true,
      spanMask = if (allStages) Some(DedupIngest.SpanMask(n = 3,
        minCount = 2)) else None,
      lineDedup = if (allStages) Some(DedupIngest.LineDedup()) else None)

  private val dim = 4
  private def emb(k: Long): Seq[Double] = {
    val r = new scala.util.Random(k)
    Seq.fill(dim)(r.nextGaussian())
  }
  private val cents = Seq(
    (0, Seq(1.0, 0.0, 0.0, 0.0)), (1, Seq(0.0, 1.0, 0.0, 0.0)))
    .toDF("_cid", "_cv")
  private def simBatch(storeRoot: String, keptDir: String, id: Long,
      keys: Seq[Long]): Unit =
    SimilarityIngest.processBatch(keys.map(k => (k, emb(k)))
      .toDF("key", "emb"), id, storeRoot, keptDir, "emb", "key", dim,
      numBits = 4, threshold = 0.95, seed = 42L, centroids = Some(cents))

  private def png(k: Long): Array[Byte] = {
    val r = new java.util.Random(k)
    val px = new Array[Byte](16 * 16 * 3)
    r.nextBytes(px)
    graft.sources.ImageCodec.encodePng(16, 16, px)
  }

  test("every family an ingest writes, with every optional stage on, is " +
      "declared in its family table") {
    val dRoot = tmp("graft-fam-dedup")
    val dKept = tmp("graft-fam-dedupk")
    for (id <- dedupBatches.indices) dedupBatch(dRoot, dKept, id, true)
    DedupIngest.deleteKeys(spark, dRoot, Seq(2L).toDF("doc_id"))
    assert(familyDirs(dRoot) ==
      DedupIngest.families.map(_.name).toSet + "tombstones")

    val sRoot = tmp("graft-fam-sim")
    val sKept = tmp("graft-fam-simk")
    simBatch(sRoot, sKept, 0L, Seq(1L, 2L, 3L))
    simBatch(sRoot, sKept, 1L, Seq(4L, 5L))
    SimilarityIngest.deleteKeys(spark, sRoot, Seq(2L).toDF("key"))
    assert(familyDirs(sRoot) == SimilarityIngest.families.map(_.name)
      .toSet + "tombstones" + "centroids")

    val iRoot = tmp("graft-fam-img")
    ImageDedupIngest.processBatch(Seq(1L, 2L).map(k => (k, png(k)))
      .toDF("key", "img"), 0L, iRoot, tmp("graft-fam-imgk"), "img", "key",
      maxDistance = 3, maxBucketSize = 5000, method = "dhash")
    ImageDedupIngest.deleteKeys(spark, iRoot, Seq(1L).toDF("key"))
    assert(familyDirs(iRoot) ==
      ImageDedupIngest.families.map(_.name).toSet + "tombstones")
  }

  test("the derived compaction order leaves a keyed store exactly as the " +
      "hand-written reference order does") {
    val root = tmp("graft-fam-order")
    // the TombstoneModelSpec store: a raw keyed family written as the
    // ingests write it, with an anchored and a pre-emptive delete
    for ((keys, id) <- Seq(Seq(1L, 2L), Seq(3L), Seq(4L, 5L), Seq(6L))
        .zipWithIndex) {
      val df = keys.map(k => (k, s"p$k")).toDF("key", "payload")
      VersionedStore.enforceKeyOrderGuard(df, id, s"$root/sig", "key")
      df.coalesce(1).write.mode("overwrite").parquet(s"$root/sig/v=$id")
      VersionedStore.writeKeyRange(df, "key", s"$root/sig/v=$id")
      if (id == 1)
        VersionedStore.writeTombstones(spark, root, Seq(2L).toDF("key"),
          Seq("sig"))
    }
    VersionedStore.writeTombstones(spark, root, Seq(9L).toDF("key"),
      Seq("sig"))
    val ref = tmp("graft-fam-ref")
    val derived = tmp("graft-fam-derived")
    val fs = new Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (d <- Seq(ref, derived))
      org.apache.hadoop.fs.FileUtil.copy(fs, new Path(root), fs,
        new Path(d, "store"), false, spark.sparkContext.hadoopConfiguration)
    val refRoot = s"$ref/store"
    val derivedRoot = s"$derived/store"

    // TombstoneModelSpec's hand-written order
    val (tomb, floor) = VersionedStore.tombstonesAndFloor(spark, refRoot)
    val refFolds = VersionedStore.compactFamily(spark, refRoot, "sig",
      Double.PositiveInfinity,
      df => VersionedStore.applyTombstones(df.dropDuplicates(), tomb, None),
      tombFloor = Some(floor))
    val refRetired =
      VersionedStore.retireTombstones(spark, refRoot, Seq("sig"))
    val refTombFolds = VersionedStore.compactFamily(spark, refRoot,
      "tombstones", Double.PositiveInfinity, _.dropDuplicates())
    assert(refRetired.nonEmpty, "the fixture must retire a delta")

    val derivedFolds = VersionedStore.compactStores(spark, derivedRoot,
      Seq(Family("sig", _.dropDuplicates(), keyed = true)),
      Double.PositiveInfinity)
    def strip(fs: Seq[VersionedStore.Fold]) =
      fs.map(f => (f.family, f.versions, f.into))
    assert(strip(derivedFolds) == strip(refFolds ++ refTombFolds))

    // the same files (data parts aside: their names are random) and the
    // same sidecar values and rows in every version
    def tree(r: String): Map[String, String] = {
      val base = new java.io.File(r).toPath
      Files.walk(base).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(p => Files.isRegularFile(p) &&
          !p.getFileName.toString.startsWith("part-") &&
          !p.getFileName.toString.startsWith("."))
        .map { p =>
          val rel = base.relativize(p).toString
          rel -> (if (rel.endsWith("_SUCCESS")) ""
            else new String(Files.readAllBytes(p), "UTF-8"))
        }.toMap
    }
    def rows(r: String): Map[String, Set[String]] =
      new java.io.File(r).listFiles().filter(_.isDirectory)
        .flatMap(f => f.listFiles().filter(_.getName.startsWith("v="))
          .map(v => s"${f.getName}/${v.getName}" -> (
            if (!VersionedStore.hasData(fs, new Path(v.toString)))
              Set.empty[String]
            else spark.read.parquet(v.toString).collect()
              .map(_.toString).toSet)))
        .toMap
    assert(tree(derivedRoot) == tree(refRoot))
    assert(rows(derivedRoot) == rows(refRoot))
  }

  test("a similarity batch with committed centroids binds them from the " +
      "footer: one job fewer than an inferring read, same schema") {
    val root = tmp("graft-fam-cents")
    val kept = tmp("graft-fam-centsk")
    simBatch(root, kept, 0L, Seq(1L, 2L))
    val cdir = s"$root/centroids"
    assert(bound(cdir) == spark.read.parquet(cdir).schema)
    val jobs = jobsOf(simBatch(root, kept, 1L, Seq(3L, 4L)))
    // 22 while the tripwire inferred the committed centroids' schema; 21
    // while the key-order guard and the _keyrange write aggregated the
    // batch and the committed sidecars with Spark
    assert(jobs == 17, s"jobs: $jobs")
    assert(SimilarityIngest.loadIvfIndex(spark, root).centroids.schema ==
      spark.read.parquet(cdir).schema)
  }

  test("a text-ingest compaction binds each fold group's merge from the " +
      "footer: one job fewer per group than an inferring read, same " +
      "schema") {
    val root = tmp("graft-fam-compact")
    val kept = tmp("graft-fam-compactk")
    for (id <- dedupBatches.indices) dedupBatch(root, kept, id, false)
    for (f <- Seq("sig", "exact", "labels"); d = s"$root/$f/v=0")
      assert(bound(d) == spark.read.parquet(d).schema, d)
    var folds = Seq.empty[VersionedStore.Fold]
    val jobs = jobsOf {
      folds = DedupIngest.compactStores(spark, root, Double.PositiveInfinity)
    }
    assert(folds.map(_.family).sorted == Seq("exact", "labels", "sig"),
      s"folds: $folds")
    // 11 (one more per fold group) while the merge inferred its schema;
    // 8 while the sig fold's _keyrange carry aggregated with Spark
    assert(jobs == 6, s"jobs: $jobs")
    for (f <- folds; d = s"$root/${f.family}/v=${f.into}")
      assert(bound(d) == spark.read.parquet(d).schema, d)
  }

  test("the key-order guard reads the committed sidecars on the driver " +
      "with no job, and rejects exactly what Spark's comparison rejects, " +
      "in UTF-8 byte order for strings") {
    val famDir = s"${tmp("graft-fam-range")}/sig"
    val committed = Seq("a", "\uFF61").toDF("key") // "｡", UTF-8 EF BD A1
    committed.coalesce(1).write.mode("overwrite").parquet(s"$famDir/v=0")
    VersionedStore.writeKeyRange(committed, "key", s"$famDir/v=0")
    var store = Option.empty[VersionedStore.KeyRange]
    val readJobs = jobsOf {
      store = VersionedStore.committedKeyRange(spark,
        VersionedStore.dirs(famDir, Seq(0L)))
    }
    assert(readJobs == 0, s"jobs: $readJobs")
    assert(store.map(r => (r.min, r.max)) == Some(("a", "\uFF61")))
    // the guard's comparison as Spark evaluates it over the files
    def sparkRejects(batchMin: String): Boolean =
      spark.read.parquet(s"$famDir/v=0/_keyrange")
        .agg(max($"maxKey").as("_storeMax"))
        .crossJoin(Seq(batchMin).toDF("_batchMin"))
        .filter($"_batchMin" <= $"_storeMax").collect().nonEmpty
    // "😀" (U+1F600, UTF-8 F0 9F 98 80) follows "｡" in UTF-8 byte order
    // but precedes it in Java's UTF-16 order
    val emoji = "\uD83D\uDE00"
    assert(emoji.compareTo("\uFF61") < 0 && !sparkRejects(emoji))
    for (batchMin <- Seq(emoji, "\uFF61", "b")) {
      val range = VersionedStore.KeyRange.of(
        Seq(batchMin, batchMin + "z").toDF("key"), "key")
      val verdict = scala.util.Try(jobsOf(
        VersionedStore.checkKeyOrder(spark, range, 1L, famDir)))
      assert(verdict.isFailure == sparkRejects(batchMin), batchMin)
      verdict.failed.foreach(e => assert(e.getMessage.contains("key-order")))
      verdict.foreach(jobs => assert(jobs == 0, s"jobs: $jobs"))
    }
    // an empty batch has a null min: the comparison is null and skips
    VersionedStore.enforceKeyOrderGuard(Seq.empty[String].toDF("key"), 1L,
      famDir, "key")
  }

  test("a Spark-written and a driver-written _keyrange sidecar mix in one " +
      "store: equal footer schemas, one spanned range, the same guard") {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.execution.datasources.parquet
      .ParquetFooterReader
    val famDir = s"${tmp("graft-fam-mix")}/sig"
    val b0 = Seq(1L, 5L).toDF("key")
    val b1 = Seq(7L, 9L).toDF("key")
    for ((b, v) <- Seq(b0, b1).zipWithIndex)
      b.coalesce(1).write.mode("overwrite").parquet(s"$famDir/v=$v")
    // v=0: the sidecar as the Spark write left it; v=1: the driver's
    b0.agg(min($"key").as("minKey"), max($"key").as("maxKey"))
      .coalesce(1).write.mode("overwrite").parquet(s"$famDir/v=0/_keyrange")
    VersionedStore.writeKeyRange(b1, "key", s"$famDir/v=1")
    val conf = spark.sparkContext.hadoopConfiguration
    def footer(v: Int) = {
      val dir = new Path(s"$famDir/v=$v/_keyrange")
      val file = dir.getFileSystem(conf).listStatus(dir)
        .filter(_.getPath.getName.startsWith("part-")).head
      ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.NO_FILTER).getFileMetaData
    }
    assert(footer(0).getSchema == footer(1).getSchema)
    assert(footer(0).getKeyValueMetaData == footer(1).getKeyValueMetaData)
    assert(ParquetSchema(spark, s"$famDir/v=0/_keyrange") ==
      ParquetSchema(spark, s"$famDir/v=1/_keyrange"))
    assert(VersionedStore.committedKeyRange(spark,
      VersionedStore.dirs(famDir, Seq(0L, 1L))).map(r => (r.min, r.max)) ==
      Some((1L, 9L)))
    intercept[IllegalStateException] {
      VersionedStore.enforceKeyOrderGuard(Seq(9L).toDF("key"), 2L, famDir,
        "key")
    }
    VersionedStore.enforceKeyOrderGuard(Seq(10L).toDF("key"), 2L, famDir,
      "key")
  }
}
