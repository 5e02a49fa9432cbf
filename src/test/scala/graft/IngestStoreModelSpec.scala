package graft.streaming

import java.nio.file.Files

/** The tombstone/compaction model law ([[StoreModelHarness]]) driven
  * through the REAL `SimilarityIngest.processBatch` — the `lsh/` +
  * `_cid`-partitioned `assigned/` + `drift/` store shape with its own
  * reader and compaction wiring (round-19 verdict item 1: the model law
  * previously covered only the simplest keyed family, and the r18 bugs
  * were found precisely where hand-picked scenarios under-covered).
  *
  * Embeddings are per-key deterministic gaussian vectors in dim 16 —
  * a ≥0.95-cosine pair between independent 16-dim gaussian directions
  * is a ~1e-7 event, so near-dup drops essentially never fire — but the
  * law does NOT ride that assumption: the primary visible set reads the
  * LSH store, which EVERY batch row signs kept or dropped, and the
  * serving-side check compares the assigned lists against the kept
  * RECORD (the `keptDir` outputs), not against "everything".
  */
class SimilarityStoreModelSpec extends StoreModelHarness {
  import spark.implicits._

  private val dim = 16
  private val numBits = 8

  private def emb(k: Long): Seq[Double] = {
    val r = new scala.util.Random(k * 2654435761L + 17)
    Seq.fill(dim)(r.nextGaussian())
  }

  // seeds window-scaled (TestDepth): full depth via SPARK_GRAFT_FULL_TESTS
  runLaw("similarity lsh/assigned/drift", seeds = graft.TestDepth.scaled(50, 8),
      opsRange = (5, 4)) { root =>
    new FamilyOps {
      val keyedFamilies = Seq("lsh", "assigned")
      private val keptDir =
        Files.createTempDirectory("graft-sm-simk").toString
      // literal centroids — bit-stable under re-evaluation, so the
      // committed-centroid tripwire sees identical doubles every batch
      // (the same contract start() meets by pinning collected rows)
      private val cents = Seq(
        (0, Seq.tabulate(dim)(i => if (i == 0) 1.0 else 0.0)),
        (1, Seq.tabulate(dim)(i => if (i == 1) 1.0 else 0.0)))
        .toDF("_cid", "_cv")

      def ingestBatch(keys: Seq[Long], id: Long): Unit =
        SimilarityIngest.processBatch(
          keys.map(k => (k, emb(k))).toDF("key", "emb"), id, root,
          keptDir, "emb", "key", dim, numBits, threshold = 0.95,
          seed = 42L, centroids = Some(cents))

      def compact(ratio: Double): Unit =
        SimilarityIngest.compactStores(spark, root, ratio)

      def visible(): Set[Long] = {
        val batchLike = Seq((0L, emb(0L))).toDF("key", "emb")
        SimilarityIngest.loadLshStore(spark, root, batchLike, "emb",
          "key", dim, numBits, 42L)
          .select("key").as[Long].collect().toSet
      }

      // the SERVING side must agree after every step: visible assigned
      // lists == the kept record minus every delete, through folds
      // (partitioned merge), retirement, and redelivery overwrites
      override def extraCheck(deleted: Set[Long],
          ctx: => String): Unit = {
        val assignedKeys =
          try SimilarityIngest.loadAssignedStore(spark, root)
            .select("key").as[Long].collect().toSet
          catch {
            // no data-bearing deltas: nothing kept yet, or everything
            // kept was deleted and compacted away — both mean empty
            case _: IllegalStateException => Set.empty[Long]
          }
        val keptRoot = new java.io.File(keptDir)
        val keptEver =
          if (!keptRoot.exists() || keptRoot.listFiles().isEmpty)
            Set.empty[Long]
          else spark.read.parquet(keptDir)
            .select("key").as[Long].collect().toSet
        assert(assignedKeys == keptEver -- deleted,
          s"$ctx: assigned ${assignedKeys.toSeq.sorted} != " +
            s"kept-minus-deleted ${(keptEver -- deleted).toSeq.sorted}")
      }
    }
  }
}

/** The same model law through the REAL `ImageDedupIngest.processBatch`
  * — the `phash/` store shape with the method marker and the
  * null-excluding fingerprint write. Images are per-key deterministic
  * 16×16 RGB noise PNGs (real ImageIO round-trip): dHash bits of
  * independent noise are ~independent fair coins, so a hamming-≤3
  * collision between two keys is a ~1e-15 event — and as with the
  * similarity descriptor, every decodable batch row signs the store
  * kept or dropped, so the law would hold even through a freak pair. */
class ImageStoreModelSpec extends StoreModelHarness {
  import spark.implicits._

  private def png(k: Long): Array[Byte] = {
    val r = new java.util.Random(k * 1103515245L + 12345)
    val img = new java.awt.image.BufferedImage(16, 16,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) img.setRGB(x, y, r.nextInt())
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  // seeds window-scaled (TestDepth): full depth via SPARK_GRAFT_FULL_TESTS
  runLaw("image phash", seeds = graft.TestDepth.scaled(50, 8),
      opsRange = (5, 4)) { root =>
    new FamilyOps {
      val keyedFamilies = Seq("phash")
      private val keptDir =
        Files.createTempDirectory("graft-sm-imgk").toString

      def ingestBatch(keys: Seq[Long], id: Long): Unit =
        ImageDedupIngest.processBatch(
          keys.map(k => (k, png(k))).toDF("key", "img"), id, root,
          keptDir, "img", "key", maxDistance = 3, maxBucketSize = 5000,
          method = "dhash")

      def compact(ratio: Double): Unit =
        ImageDedupIngest.compactStores(spark, root, ratio)

      def visible(): Set[Long] = {
        val batchLike = Seq((0L, png(0L))).toDF("key", "img")
        ImageDedupIngest.loadHashStore(spark, root, batchLike, "img",
          "key")
          .select("key").as[Long].collect().toSet
      }
    }
  }
}
