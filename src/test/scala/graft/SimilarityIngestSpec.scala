package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.Similarity
import graft.streaming.SimilarityIngest

/** End-to-end checks for the streaming embedding ingest: micro-batch
  * near-dup dedup against the persisted LSH store, keep-first parity
  * with the batch operator over the union, restart continuity,
  * redelivery idempotence, the servable IVF store + drift log, and
  * compaction invisibility for the `_cid`-partitioned family.
  */
class SimilarityIngestSpec extends SparkTestBase {
  import spark.implicits._

  private val dim = 8

  // axis-dominated vectors: cosine(base(i), base(j)) is small for i ≠ j,
  // while near(v) perturbs one coordinate by 0.05 → cosine ≈ 1
  private def base(axis: Int): Seq[Double] =
    Seq.tabulate(dim)(j =>
      (if (j == axis) 10.0 else 0.0) + 0.3 * ((j + axis) % 3))
  private def near(v: Seq[Double]): Seq[Double] =
    v.updated((v.indexOf(v.max) + 1) % dim, v((v.indexOf(v.max) + 1) % dim) + 0.05)

  // planted duplicate structure across three monotone-key batches:
  // 101~1, 103~4 (cross-batch), 201~102 (cross-batch), 202 = exact 3
  private val batches: Seq[Seq[(Long, Seq[Double])]] = Seq(
    Seq((1L, base(0)), (2L, base(1)), (3L, base(2)), (4L, base(3))),
    Seq((101L, near(base(0))), (102L, base(4)), (103L, near(base(3))),
      (104L, base(5))),
    Seq((201L, near(base(4))), (202L, base(2)), (203L, base(6))))
  private val expectedKept =
    Map(0L -> Set(1L, 2L, 3L, 4L), 1L -> Set(102L, 104L), 2L -> Set(203L))

  private def fullCorpus = batches.flatten.toDF("vec_id", "embedding")

  test("streaming embedding ingest dedups each micro-batch against the " +
      "persisted LSH store, survives a restart, redelivers idempotently, " +
      "matches the batch drop list, and serves the ingested IVF index") {
    implicit val sqlCtx = spark.sqlContext
    val storeRoot = Files.createTempDirectory("graft-sim-store").toString
    val keptDir = Files.createTempDirectory("graft-sim-kept").toString
    val ckpt = Files.createTempDirectory("graft-sim-ckpt").toString
    val cents = Similarity.buildIvfIndex(batches.head.toDF("vec_id",
        "embedding"), "embedding", "vec_id", nlist = 2).centroids
    val mem = MemoryStream[(Long, Seq[Double])]
    val docs = mem.toDF().toDF("vec_id", "embedding")
    def startQuery() = SimilarityIngest.start(docs, "embedding", "vec_id",
      dim, storeRoot, keptDir, ckpt, numBits = 4, threshold = 0.95,
      centroids = Some(cents))
    def keptByBatch(): Map[Long, Set[Long]] =
      spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"vec_id")
        .as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet }

    val q1 = startQuery()
    try {
      for (b <- batches.take(2)) { mem.addData(b: _*); q1.processAllAvailable() }
    } finally q1.stop()

    // restart from the same checkpoint: batch 2 must dedup against the
    // store batches 0-1 persisted in the PREVIOUS query run
    val q2 = startQuery()
    try { mem.addData(batches(2): _*); q2.processAllAvailable() }
    finally q2.stop()
    assert(keptByBatch() == expectedKept)

    // keep-first parity with the batch operator over the union: the
    // per-batch drop lists compose to embeddingDedupDropList (same
    // hyperplanes, same threshold)
    val batchDrops = Similarity.embeddingDedupDropList(fullCorpus,
        "embedding", "vec_id", dim, numBits = 4, threshold = 0.95)
      .as[Long].collect().toSet
    val ingestKept = keptByBatch().values.flatten.toSet
    assert(ingestKept == batches.flatten.map(_._1).toSet -- batchDrops)

    // redelivery idempotence: re-run the last batch directly with the
    // same batchId — stores and kept output must be unchanged
    def storeCounts() = (
      SimilarityIngest.loadLshStore(spark, storeRoot, fullCorpus,
        "embedding", "vec_id", dim, 4, 42L).count(),
      SimilarityIngest.loadAssignedStore(spark, storeRoot).count(),
      SimilarityIngest.driftLog(spark, storeRoot).as[(Long, Long,
        Option[Double], Option[Double])].collect().toSeq)
    val beforeRetry = storeCounts()
    SimilarityIngest.processBatch(batches(2).toDF("vec_id", "embedding"),
      2L, storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
      Some(cents))
    assert(storeCounts() == beforeRetry)
    assert(keptByBatch() == expectedKept)

    // the ingested IVF index serves: identical results to a batch-built
    // index over the kept corpus at the same centroids
    val served = SimilarityIngest.loadIvfIndex(spark, storeRoot)
    assert(served.assigned.count() == ingestKept.size)
    val queries = Seq((9001L, base(5)), (9002L, base(0)))
      .toDF("vec_id", "embedding")
    val keptCorpus = fullCorpus.filter($"vec_id".isInCollection(ingestKept))
    val reference = Similarity.IvfIndex(cents,
      Similarity.assignTo(cents, keptCorpus, "embedding", "vec_id"))
    def topk(ix: Similarity.IvfIndex) =
      Similarity.ivfTopK(ix, queries, "embedding", "vec_id", k = 3,
          nprobe = 2)
        .select($"query_id".cast("long"), $"neighbor_id".cast("long"),
          $"rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(topk(served) == topk(reference))

    // the scale point of the _cid-partitioned assigned deltas: the
    // probe's cid filter must land in every version scan's
    // PartitionFilters, so serving reads ONLY the probed lists'
    // directories across the whole version history
    val servedPlan = Similarity.ivfTopK(served, queries, "embedding",
        "vec_id", k = 3, nprobe = 1)
      .queryExecution.executedPlan.toString()
    val assignedScans = servedPlan.linesIterator
      .filter(l => l.contains("FileScan parquet") && l.contains("assigned"))
      .toList
    assert(assignedScans.nonEmpty,
      s"no parquet scan of the assigned store:\n$servedPlan")
    val pruned = "PartitionFilters: \\[[^\\]]*_cid".r
    assert(assignedScans.forall(l => pruned.findFirstIn(l).isDefined),
      s"probed-cid filter missed a version scan:\n${assignedScans.mkString("\n")}")

    // the drift log has one row per batch, counting ALL batch rows
    assert(beforeRetry._3.map(r => (r._1, r._2)) ==
      Seq((0L, 4L), (1L, 4L), (2L, 3L)))

    // compaction: observably invisible (lsh + assigned + drift), and
    // the partitioned assigned family still serves identical results
    val folds = SimilarityIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(folds.nonEmpty)
    assert(storeCounts() == beforeRetry)
    assert(topk(SimilarityIngest.loadIvfIndex(spark, storeRoot)) ==
      topk(reference))
    // a redelivery retry AFTER compaction still reads only the
    // committed prefix and reproduces the same outputs
    SimilarityIngest.processBatch(batches(2).toDF("vec_id", "embedding"),
      2L, storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
      Some(cents))
    assert(keptByBatch() == expectedKept)
    assert(topk(SimilarityIngest.loadIvfIndex(spark, storeRoot)) ==
      topk(reference))

    // the serving-snapshot refresh: quantize the ingested
    // (full-precision, canonical) store offline and serve the committed
    // snapshot. The top-k SET must survive int8 rounding; exact RANKS
    // may swap between near-tied low-cosine neighbors (the measured
    // rounding cost — SimilaritySpec's recall floor on the real
    // embeddings), so the pin is rank-free.
    val servingDir = Files.createTempDirectory("graft-sim-snap").toString
    val v0 = SimilarityIngest.snapshotServing(spark, storeRoot, servingDir)
    assert(v0 == 0L)
    def neighbors(ix: Similarity.IvfIndex) =
      topk(ix).map { case (q, n, _) => (q, n) }
    assert(neighbors(
        SimilarityIngest.loadServingSnapshot(spark, servingDir))
      == neighbors(reference))
  }

  test("snapshotServing: a refresh killed mid-write leaves the prior " +
      "snapshot serving; the next refresh sweeps and commits; retention " +
      "prunes old snapshots") {
    val storeRoot = Files.createTempDirectory("graft-snap-store").toString
    val keptDir = Files.createTempDirectory("graft-snap-kept").toString
    val servingDir = Files.createTempDirectory("graft-snap-srv").toString
    val cents = Similarity.buildIvfIndex(batches.head.toDF("vec_id",
        "embedding"), "embedding", "vec_id", nlist = 2).centroids
    SimilarityIngest.processBatch(batches.head.toDF("vec_id", "embedding"),
      0L, storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
      Some(cents))
    val queries = Seq((9001L, base(5)), (9002L, base(0)))
      .toDF("vec_id", "embedding")
    def neighbors(ix: Similarity.IvfIndex) =
      Similarity.ivfTopK(ix, queries, "embedding", "vec_id", k = 3,
          nprobe = 2)
        .select($"query_id".cast("long"), $"neighbor_id".cast("long"))
        .as[(Long, Long)].collect().toSet
    assert(SimilarityIngest.snapshotServing(spark, storeRoot,
      servingDir) == 0L)
    val served0 = neighbors(
      SimilarityIngest.loadServingSnapshot(spark, servingDir))

    // grow the store, then simulate a refresh crash: the quantized
    // write lands but the refresh dies BEFORE creating the version's
    // root _SUCCESS — exactly the mid-write window
    SimilarityIngest.processBatch(batches(1).toDF("vec_id", "embedding"),
      1L, storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
      Some(cents))
    Similarity.saveQuantizedIvfIndex(
      SimilarityIngest.loadIvfIndex(spark, storeRoot), s"$servingDir/v=1")
    // the prior snapshot keeps serving, bit-identically
    assert(neighbors(SimilarityIngest.loadServingSnapshot(spark,
      servingDir)) == served0)

    // the next refresh sweeps the partial, commits v=1, and (retain=1)
    // keeps v=0 around for lagging readers
    assert(SimilarityIngest.snapshotServing(spark, storeRoot,
      servingDir) == 1L)
    val after = neighbors(
      SimilarityIngest.loadServingSnapshot(spark, servingDir))
    val full = SimilarityIngest.loadIvfIndex(spark, storeRoot)
    assert(after == neighbors(full))
    def versionsOn(dir: String): Set[String] =
      new java.io.File(dir).listFiles().map(_.getName)
        .filter(_.startsWith("v=")).toSet
    assert(versionsOn(servingDir) == Set("v=0", "v=1"))

    // a third refresh prunes v=0 (only `retain` priors survive)
    assert(SimilarityIngest.snapshotServing(spark, storeRoot,
      servingDir) == 2L)
    assert(versionsOn(servingDir) == Set("v=1", "v=2"))
    assert(neighbors(SimilarityIngest.loadServingSnapshot(spark,
      servingDir)) == after)

    // an empty serving dir refuses loudly with the remedy
    val err = intercept[IllegalStateException] {
      SimilarityIngest.loadServingSnapshot(spark,
        Files.createTempDirectory("graft-snap-empty").toString)
    }
    assert(err.getMessage.contains("snapshotServing"), err.getMessage)
  }

  test("the drift log flags a batch that drifts off the trained " +
      "centroids") {
    val storeRoot = Files.createTempDirectory("graft-sim-drift").toString
    val keptDir = Files.createTempDirectory("graft-sim-driftk").toString
    // centroids trained on axes 0-3; an aligned batch sits near them,
    // a drifted batch points down axes the training never saw
    val train = (0 until 4).map(a => (a.toLong, base(a)))
      .toDF("vec_id", "embedding")
    val cents = Similarity.buildIvfIndex(train, "embedding", "vec_id",
      nlist = 4, kmeansIters = 3).centroids
    val aligned = Seq((10L, near(base(0))), (11L, near(base(2))))
      .toDF("vec_id", "embedding")
    val drifted = Seq((20L, base(5)), (21L, base(6)))
      .toDF("vec_id", "embedding")
    SimilarityIngest.processBatch(aligned, 0L, storeRoot, keptDir,
      "embedding", "vec_id", dim, 4, 0.95, 42L, Some(cents))
    SimilarityIngest.processBatch(drifted, 1L, storeRoot, keptDir,
      "embedding", "vec_id", dim, 4, 0.95, 42L, Some(cents))
    val log = SimilarityIngest.driftLog(spark, storeRoot)
      .as[(Long, Long, Double, Double)].collect().toSeq
    assert(log.map(_._1) == Seq(0L, 1L))
    val Seq(alignedRow, driftedRow) = log
    info(f"aligned mean_dist ${alignedRow._3}%.4f, " +
      f"drifted ${driftedRow._3}%.4f")
    assert(alignedRow._3 < 0.05,
      s"aligned batch should sit near its centroids, got ${alignedRow._3}")
    assert(driftedRow._3 > 2 * alignedRow._3,
      "the drifted batch must stand out in the log")
  }

  test("a dedup-only ingest (no centroids) writes no IVF families and " +
      "loadIvfIndex fails with the remedy") {
    val storeRoot = Files.createTempDirectory("graft-sim-nocent").toString
    val keptDir = Files.createTempDirectory("graft-sim-nocentk").toString
    SimilarityIngest.processBatch(batches.head.toDF("vec_id", "embedding"),
      0L, storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
      None)
    val err = intercept[IllegalStateException](
      SimilarityIngest.loadIvfIndex(spark, storeRoot))
    assert(err.getMessage.contains("centroids"), err.getMessage)
    assert(spark.read.parquet(s"$keptDir/ingest_batch=0").count() == 4)
  }

  test("an all-dropped micro-batch writes no assigned delta and the " +
      "index still loads and serves") {
    val storeRoot = Files.createTempDirectory("graft-sim-alldrop").toString
    val keptDir = Files.createTempDirectory("graft-sim-alldropk").toString
    val cents = Similarity.buildIvfIndex(batches.head.toDF("vec_id",
        "embedding"), "embedding", "vec_id", nlist = 2).centroids
    val b0 = batches.head.toDF("vec_id", "embedding")
    // batch 1 is four near-copies of batch 0's rows — everything drops
    val b1 = batches.head.map { case (k, v) => (k + 100L, near(v)) }
      .toDF("vec_id", "embedding")
    SimilarityIngest.processBatch(b0, 0L, storeRoot, keptDir,
      "embedding", "vec_id", dim, 4, 0.95, 42L, Some(cents))
    SimilarityIngest.processBatch(b1, 1L, storeRoot, keptDir,
      "embedding", "vec_id", dim, 4, 0.95, 42L, Some(cents))
    assert(spark.read.parquet(s"$keptDir/ingest_batch=1").isEmpty)
    val ix = SimilarityIngest.loadIvfIndex(spark, storeRoot)
    assert(ix.assigned.count() == 4) // batch 0 only; no v=1 delta
    // the drift log still recorded the dropped batch's traffic
    assert(SimilarityIngest.driftLog(spark, storeRoot).count() == 2)
  }

  test("retrainIvfIndex retrains centroids on the accumulated corpus, " +
      "rewrites every version's lists in place, and commits servable " +
      "state") {
    val storeRoot = Files.createTempDirectory("graft-sim-retrain").toString
    val keptDir = Files.createTempDirectory("graft-sim-retraink").toString
    // bootstrap centroids see only axes 0-1; ingested traffic covers
    // axes 0-7, so the drift log climbs and retrain is the remedy
    val boot = Seq((1L, base(0)), (2L, base(1))).toDF("vec_id", "embedding")
    val cents0 = Similarity.buildIvfIndex(boot, "embedding", "vec_id",
      nlist = 2).centroids
    val b0 = (0 until 4).map(a => (10L + a, base(a)))
      .toDF("vec_id", "embedding")
    val b1 = (4 until 8).map(a => (20L + a, base(a)))
      .toDF("vec_id", "embedding")
    SimilarityIngest.processBatch(b0, 0L, storeRoot, keptDir,
      "embedding", "vec_id", dim, 4, 0.95, 42L, Some(cents0))
    SimilarityIngest.processBatch(b1, 1L, storeRoot, keptDir,
      "embedding", "vec_id", dim, 4, 0.95, 42L, Some(cents0))
    val corpus = b0.unionByName(b1)
    val driftBefore = Similarity.assignmentDrift(cents0, corpus,
      "embedding", "vec_id").select("mean_dist").as[Double].head()

    val retrained = SimilarityIngest.retrainIvfIndex(spark, storeRoot,
      nlist = 8, kmeansIters = 4)
    // every kept row survives the rewrite, in its original version
    assert(retrained.assigned.count() == 8)
    assert(spark.read.parquet(s"$storeRoot/assigned/v=0").count() == 4)
    assert(spark.read.parquet(s"$storeRoot/assigned/v=1").count() == 4)
    // the retrained centroids fit the WHOLE accumulated corpus — with
    // one list per distinct axis the assignment distance collapses
    val driftAfter = Similarity.assignmentDrift(retrained.centroids,
      corpus, "embedding", "vec_id").select("mean_dist").as[Double].head()
    info(f"mean_dist: bootstrap $driftBefore%.4f -> retrained $driftAfter%.4f")
    assert(driftAfter < 0.01 && driftAfter < driftBefore / 10,
      s"retrain did not collapse the drift: $driftBefore -> $driftAfter")
    // full probe over the retrained index is exact, and what
    // loadIvfIndex serves IS the committed retrained state
    val queries = Seq((9001L, base(4)), (9002L, base(1)))
      .toDF("vec_id", "embedding")
    def asSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id".cast("long"), $"neighbor_id".cast("long"),
        $"rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = asSet(Similarity.cosineTopK(corpus, queries, "embedding",
      "vec_id", k = 3))
    assert(asSet(Similarity.ivfTopK(retrained, queries, "embedding",
      "vec_id", k = 3, nprobe = 8)) == brute)
    assert(asSet(Similarity.ivfTopK(
      SimilarityIngest.loadIvfIndex(spark, storeRoot), queries,
      "embedding", "vec_id", k = 3, nprobe = 8)) == brute)
  }

  test("a fold source resurrected by the crash-before-source-deletes " +
      "window is excluded by readers (no duplicate neighbors served) " +
      "and swept by the next compaction") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val storeRoot = Files.createTempDirectory("graft-sim-crash").toString
    val keptDir = Files.createTempDirectory("graft-sim-crashk").toString
    val cents = Similarity.buildIvfIndex(batches.head.toDF("vec_id",
        "embedding"), "embedding", "vec_id", nlist = 2).centroids
    for ((b, i) <- batches.zipWithIndex)
      SimilarityIngest.processBatch(b.toDF("vec_id", "embedding"),
        i.toLong, storeRoot, keptDir, "embedding", "vec_id", dim, 4,
        0.95, 42L, Some(cents))
    val fs = new Path(storeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    val v0 = new Path(s"$storeRoot/assigned/v=0")
    val snapshot = new Path(s"$storeRoot/.v0-snapshot")
    FileUtil.copy(fs, v0, fs, snapshot, false, conf)
    val before = SimilarityIngest.loadAssignedStore(spark, storeRoot)
      .select($"vec_id").as[Long].collect().sorted
    assert(SimilarityIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity).nonEmpty)
    // simulate the crash: the fold committed, the source delete never
    // ran — put v=0 back exactly as it was
    assert(!fs.exists(v0))
    FileUtil.copy(fs, snapshot, fs, v0, false, conf)
    assert(fs.exists(new Path(v0, "_SUCCESS")))
    val after = SimilarityIngest.loadAssignedStore(spark, storeRoot)
      .select($"vec_id").as[Long].collect().sorted
    assert(after.toSeq == before.toSeq,
      "resurrected fold source must be excluded, not double-counted")
    // and the next compaction deletes the leftover for good
    SimilarityIngest.compactStores(spark, storeRoot)
    assert(!fs.exists(v0), "sweep must remove the folded-away leftover")

    // retrain is the other maintenance rewrite: it destroys fold
    // targets' _folded sidecars, so it must sweep leftovers first —
    // resurrect the source again and retrain through it
    FileUtil.copy(fs, snapshot, fs, v0, false, conf)
    val retrained = SimilarityIngest.retrainIvfIndex(spark, storeRoot,
      nlist = 4, kmeansIters = 2)
    assert(!fs.exists(v0),
      "retrain must sweep folded leftovers before rewriting targets")
    assert(retrained.assigned.select($"vec_id").as[Long].collect().sorted
      .toSeq == before.toSeq,
      "retrained store must not resurrect folded-away rows")
  }

  test("a restart with missing committed centroids but committed " +
      "assignments fails loudly (the crashed-retrain window) instead " +
      "of blessing stale centroids") {
    val storeRoot = Files.createTempDirectory("graft-sim-crashc").toString
    val keptDir = Files.createTempDirectory("graft-sim-crashck").toString
    val cents = Similarity.buildIvfIndex(batches.head.toDF("vec_id",
        "embedding"), "embedding", "vec_id", nlist = 2).centroids
    SimilarityIngest.processBatch(batches.head.toDF("vec_id", "embedding"),
      0L, storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
      Some(cents))
    // simulate retrainIvfIndex crashing between its list rewrites and
    // the centroid commit
    val fs = new org.apache.hadoop.fs.Path(storeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$storeRoot/centroids"), true)
    val err = intercept[IllegalStateException](
      SimilarityIngest.processBatch(
        batches(1).toDF("vec_id", "embedding"), 1L, storeRoot, keptDir,
        "embedding", "vec_id", dim, 4, 0.95, 42L, Some(cents)))
    assert(err.getMessage.contains("retrainIvfIndex"), err.getMessage)
  }

  test("processBatch trips on centroids that disagree with the " +
      "committed relation (the stale-restart-after-retrain window)") {
    val storeRoot = Files.createTempDirectory("graft-sim-stale").toString
    val keptDir = Files.createTempDirectory("graft-sim-stalek").toString
    val b0 = batches.head.toDF("vec_id", "embedding")
    val cents0 = Similarity.buildIvfIndex(b0, "embedding", "vec_id",
      nlist = 2).centroids
    SimilarityIngest.processBatch(b0, 0L, storeRoot, keptDir,
      "embedding", "vec_id", dim, 4, 0.95, 42L, Some(cents0))
    // the same relation (parquet round-trip) passes
    SimilarityIngest.processBatch(b0, 0L, storeRoot, keptDir,
      "embedding", "vec_id", dim, 4, 0.95, 42L,
      Some(SimilarityIngest.loadIvfIndex(spark, storeRoot).centroids))
    // a different relation fails loudly instead of desynchronizing
    val other = Similarity.buildIvfIndex(b0, "embedding", "vec_id",
      nlist = 3).centroids
    val err = intercept[IllegalStateException](
      SimilarityIngest.processBatch(
        Seq((50L, base(7))).toDF("vec_id", "embedding"), 1L, storeRoot,
        keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L, Some(other)))
    assert(err.getMessage.contains("centroids"), err.getMessage)
  }

  test("fuzz: random compaction schedules and ratios are invisible — " +
      "keep-sets, signatures, assignments, and the drift log match an " +
      "uncompacted twin") {
    val cents = Similarity.buildIvfIndex(batches.head.toDF("vec_id",
        "embedding"), "embedding", "vec_id", nlist = 2).centroids
    // seeds window-scaled (TestDepth): SPARK_GRAFT_FULL_TESTS restores 2
    for (seed <- 1 to TestDepth.scaled(2, 1)) {
      val rnd = new scala.util.Random(seed)
      // vector pool with planted near-duplicate structure; keys
      // monotone across batches per the contract
      val pool = (0 until 8).map(a => base(a)) ++
        (0 until 8).map(a => near(base(a)))
      var nextKey = 1L
      val fuzzBatches = (0 until 5).map { _ =>
        (0 until 2 + rnd.nextInt(3)).map { _ =>
          val k = nextKey; nextKey += 1
          (k, pool(rnd.nextInt(pool.size)))
        }
      }
      val rootA = Files.createTempDirectory(s"graft-sfz-a$seed").toString
      val keptA = Files.createTempDirectory(s"graft-sfz-ak$seed").toString
      val rootB = Files.createTempDirectory(s"graft-sfz-b$seed").toString
      val keptB = Files.createTempDirectory(s"graft-sfz-bk$seed").toString
      def run(root: String, kept: String, b: Seq[(Long, Seq[Double])],
          id: Long) =
        SimilarityIngest.processBatch(b.toDF("vec_id", "embedding"), id,
          root, kept, "embedding", "vec_id", dim, 4, 0.95, 42L,
          Some(cents))
      for ((b, i) <- fuzzBatches.zipWithIndex) {
        run(rootA, keptA, b, i.toLong)
        run(rootB, keptB, b, i.toLong)
        // twin A compacts at random points with random aggressiveness;
        // twin B never compacts
        if (rnd.nextBoolean())
          SimilarityIngest.compactStores(spark, rootA,
            sizeRatio = Seq(1.5, 4.0, Double.PositiveInfinity)(
              rnd.nextInt(3)))
      }
      def state(root: String, kept: String) = {
        val like = fuzzBatches.head.toDF("vec_id", "embedding")
        (spark.read.parquet(kept).select($"ingest_batch".cast("long"),
            $"vec_id").as[(Long, Long)].collect().toSet,
          SimilarityIngest.loadLshStore(spark, root, like, "embedding",
            "vec_id", dim, 4, 42L).select("vec_id").as[Long]
            .collect().toSet,
          SimilarityIngest.loadAssignedStore(spark, root)
            .select($"vec_id", $"_cid").as[(Long, Int)].collect().toSet,
          SimilarityIngest.driftLog(spark, root)
            .as[(Long, Long, Option[Double], Option[Double])]
            .collect().toSeq)
      }
      assert(state(rootA, keptA) == state(rootB, keptB),
        s"seed $seed: compaction schedule changed observable state")
      // the last batch retries identically on both twins
      run(rootA, keptA, fuzzBatches.last, fuzzBatches.size - 1L)
      run(rootB, keptB, fuzzBatches.last, fuzzBatches.size - 1L)
      assert(state(rootA, keptA) == state(rootB, keptB),
        s"seed $seed: post-retry state diverged")
    }
  }

  test("the key-order guard fails fast on a batch that reuses or " +
      "precedes stored keys") {
    val storeRoot = Files.createTempDirectory("graft-sim-guard").toString
    val keptDir = Files.createTempDirectory("graft-sim-guardk").toString
    SimilarityIngest.processBatch(batches.head.toDF("vec_id", "embedding"),
      0L, storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
      None)
    val stale = intercept[IllegalStateException](
      SimilarityIngest.processBatch(
        Seq((2L, base(7))).toDF("vec_id", "embedding"), 1L, storeRoot,
        keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L, None))
    assert(stale.getMessage.contains("key-order"), stale.getMessage)
  }

  test("tombstones: deleted vectors vanish from the LSH and assigned " +
      "stores, served top-k excludes them, deleted content re-ingests " +
      "fresh, redelivery stays idempotent, and compaction applies the " +
      "tombstones physically") {
    val storeRoot = Files.createTempDirectory("graft-sim-tomb").toString
    val keptDir = Files.createTempDirectory("graft-sim-tomb-k").toString
    val cents = Similarity.buildIvfIndex(batches.head.toDF("vec_id",
        "embedding"), "embedding", "vec_id", nlist = 2).centroids
    def run(b: Seq[(Long, Seq[Double])], id: Long) =
      SimilarityIngest.processBatch(b.toDF("vec_id", "embedding"), id,
        storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
        Some(cents))
    def keptByBatch(): Map[Long, Set[Long]] =
      spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"vec_id")
        .as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet }
    batches.zipWithIndex.foreach { case (b, i) => run(b, i.toLong) }
    assert(keptByBatch() == expectedKept)

    // delete the axis-2 cluster: kept vector 3 and its dropped exact
    // twin 202 (same rationale as the dedup-side test)
    SimilarityIngest.deleteKeys(spark, storeRoot,
      Seq(3L, 202L).toDF("vec_id"))
    def lshKeys(): Set[Long] = SimilarityIngest.loadLshStore(spark,
        storeRoot, fullCorpus, "embedding", "vec_id", dim, 4, 42L)
      .select("vec_id").as[Long].collect().toSet
    def assignedKeys(): Set[Long] = SimilarityIngest
      .loadAssignedStore(spark, storeRoot)
      .select("vec_id").as[Long].collect().toSet
    assert(!lshKeys().contains(3L) && !lshKeys().contains(202L))
    assert(!assignedKeys().contains(3L), assignedKeys())

    // serving reflects the deletion: a query at base(2) no longer
    // returns the deleted vector
    val q = Seq((9001L, base(2))).toDF("vec_id", "embedding")
    def neighbors(): Set[Long] = Similarity.ivfTopK(
        SimilarityIngest.loadIvfIndex(spark, storeRoot), q, "embedding",
        "vec_id", k = 3, nprobe = 2)
      .select($"neighbor_id".cast("long")).as[Long].collect().toSet
    assert(!neighbors().contains(3L) && !neighbors().contains(202L))

    // the store no longer recognizes the deleted content: an exact
    // base(2) vector under a fresh key is KEPT and serves
    run(Seq((301L, base(2))), 3L)
    assert(keptByBatch()(3L) == Set(301L), keptByBatch())
    assert(neighbors().contains(301L))

    // delete-then-redeliver parity
    val before = (keptByBatch(), lshKeys(), assignedKeys())
    run(Seq((301L, base(2))), 3L)
    assert((keptByBatch(), lshKeys(), assignedKeys()) == before)

    // compaction applies tombstones physically and serving still
    // excludes the deleted keys
    SimilarityIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert((keptByBatch(), lshKeys(), assignedKeys()) == before,
      "compaction must be invisible to readers")
    val rawAssigned = new java.io.File(s"$storeRoot/assigned")
      .listFiles().filter(_.getName.startsWith("v=")).map(_.toString)
      .flatMap(d => spark.read.parquet(d).select("vec_id")
        .as[Long].collect())
      .toSet
    assert(!rawAssigned.contains(3L) && !rawAssigned.contains(202L),
      rawAssigned)
    assert(!neighbors().contains(3L) && neighbors().contains(301L))
  }

  test("a compaction whose whole folded group was tombstoned commits " +
      "an EMPTY assigned fold target (only markers and sidecars, no " +
      "schema to infer) — the assigned readers skip it instead of " +
      "dying on schema inference (r20; verified failing against the " +
      "pre-fix reader, which read the first committed version " +
      "unconditionally)") {
    val storeRoot = Files.createTempDirectory("graft-sim-ef").toString
    val keptDir = Files.createTempDirectory("graft-sim-ef-k").toString
    val cents = Similarity.buildIvfIndex(batches.head.toDF("vec_id",
        "embedding"), "embedding", "vec_id", nlist = 2).centroids
    def run(b: Seq[(Long, Seq[Double])], id: Long) =
      SimilarityIngest.processBatch(b.toDF("vec_id", "embedding"), id,
        storeRoot, keptDir, "embedding", "vec_id", dim, 4, 0.95, 42L,
        Some(cents))
    batches.zipWithIndex.foreach { case (b, i) => run(b, i.toLong) }
    // tombstone EVERY key the first two batches KEPT: the fold of
    // their assigned deltas (strictly below the surviving max v=2)
    // then resolves to zero rows and commits as an empty target
    SimilarityIngest.deleteKeys(spark, storeRoot,
      Seq(1L, 2L, 3L, 4L, 102L, 104L).toDF("vec_id"))
    SimilarityIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    val foldTarget = new java.io.File(s"$storeRoot/assigned/v=1")
    assert(foldTarget.exists() && !foldTarget.listFiles()
      .exists(f => f.getName.endsWith(".parquet") ||
        f.getName.startsWith("_cid=")),
      "precondition: the fold target must be an empty committed version")
    // both readers must serve exactly the surviving max version's rows
    val assigned = SimilarityIngest.loadAssignedStore(spark, storeRoot)
      .select("vec_id").as[Long].collect().toSet
    assert(assigned == Set(203L), s"assigned: $assigned")
    val idx = SimilarityIngest.loadIvfIndex(spark, storeRoot)
    assert(idx.assigned.select("vec_id").as[Long].collect().toSet ==
      Set(203L))
  }
}
