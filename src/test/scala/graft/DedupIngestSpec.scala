package graft

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.DedupIngest

/** End-to-end checks for the streaming incremental dedup ingest: the
  * QUICKSTART fixture corpus delivered as micro-batches, store
  * continuity across a query restart, redelivery idempotence, and
  * version compaction.
  */
class DedupIngestSpec extends SparkTestBase {
  import spark.implicits._

  // the QuickstartSpec planted corpus (see its comments): exact dup A,
  // near dups B/C, per-batch singletons, and the F bridge chain
  private def words(tag: String) = (1 to 30).map(i => s"$tag$i").toVector
  private val A = words("alpha").mkString(" ")
  private val B = words("beta").mkString(" ")
  private val bNear = B.replace("beta15", "x15")
  private val C = words("gamma").mkString(" ")
  private val cNear = C.replace("gamma7", "y7")
  private val f = words("delta")
  private val F1 = f.mkString(" ")
  private val F2 = f.updated(9, "bridge10").mkString(" ")
  private val F3 = f.updated(9, "bridge10").updated(19, "far20").mkString(" ")
  private val batches = Seq(
    Seq((1L, A), (2L, B), (3L, "first standalone text about maritime " +
      "navigation charts and tidal tables"), (4L, F1)),
    Seq((101L, A), (102L, bNear), (103L, C), (104L, F3)),
    Seq((201L, cNear), (202L, "another entirely different piece on " +
      "volcanic geology and basalt formations"), (203L, F2)))

  test("streaming ingest dedups each micro-batch against the persisted " +
      "stores, survives a query restart, redelivers idempotently, and " +
      "compacts") {
    implicit val sqlCtx = spark.sqlContext
    val storeRoot = Files.createTempDirectory("graft-ingest-store").toString
    val keptDir = Files.createTempDirectory("graft-ingest-kept").toString
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    def startQuery() = DedupIngest.start(docs, "text", "doc_id",
      storeRoot, keptDir, ckpt, threshold = 0.7)
    def keptByBatch(): Map[Long, Set[Long]] =
      spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"doc_id")
        .as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet }

    val q1 = startQuery()
    try {
      for (b <- batches.take(2)) { mem.addData(b: _*); q1.processAllAvailable() }
    } finally q1.stop()

    // restart from the same checkpoint: batch 2 must dedup against the
    // stores batches 0-1 persisted in the PREVIOUS query run
    val q2 = startQuery()
    try { mem.addData(batches(2): _*); q2.processAllAvailable() }
    finally q2.stop()

    assert(keptByBatch() == Map(
      0L -> Set(1L, 2L, 3L, 4L),
      1L -> Set(103L, 104L),
      2L -> Set(202L)), s"keep-sets: ${keptByBatch()}")

    // the label store reconstructs the bridged F-cluster under min 4
    def labels() = DedupIngest.loadLabelStore(spark, storeRoot,
        batches.head.toDF("doc_id", "text"), "doc_id")
      .as[(Long, Long)].collect().toMap
    val l0 = labels()
    assert(l0(203L) == 4L && l0(104L) == 4L && l0(102L) == 2L,
      s"labels: $l0")

    // redelivery idempotence: re-run the last batch with its own
    // batchId (the crash-retry path) — outputs must not change
    DedupIngest.processBatch(batches(2).toDF("doc_id", "text"), 2L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    assert(keptByBatch()(2L) == Set(202L), "retry changed the keep-set")
    assert(labels() == l0, "retry changed the label store")

    // compaction folds history below the newest version and keeps
    // reconstruction identical
    DedupIngest.compactStores(spark, storeRoot)
    assert(labels() == l0, "compaction changed the label store")
    val sigCount = DedupIngest.loadSignatureStore(spark, storeRoot,
      batches.head.toDF("doc_id", "text"), "text", "doc_id").count()
    assert(sigCount == batches.map(_.size).sum,
      s"signature store must cover every ingested doc: $sigCount")
    def versionDirs(family: String) =
      new java.io.File(s"$storeRoot/$family").listFiles()
        .filter(_.getName.startsWith("v=")).map(_.getName).toSet
    assert(versionDirs("sig") == Set("v=1", "v=2"),
      s"sig versions after compaction: ${versionDirs("sig")}")
    assert(versionDirs("labels") == Set("v=1", "v=2"),
      s"label versions after compaction: ${versionDirs("labels")}")

    // the retry guarantee compaction preserves: re-running the NEWEST
    // batch against the compacted history still sees the full store
    DedupIngest.processBatch(batches(2).toDF("doc_id", "text"), 2L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    assert(keptByBatch()(2L) == Set(202L), "post-compaction retry broke")
    assert(labels() == l0, "post-compaction retry changed labels")
  }

  test("an empty micro-batch writes empty deltas that later batches " +
      "read through the schema-pinned store readers") {
    val storeRoot = Files.createTempDirectory("graft-ingest-e").toString
    val keptDir = Files.createTempDirectory("graft-ingest-ek").toString
    val empty = batches.head.toDF("doc_id", "text").limit(0)
    DedupIngest.processBatch(empty, 0L, storeRoot, keptDir, "text",
      "doc_id", 64, 16, 3, 0.7, 42, 10000)
    // the empty version committed (parquet writes only _SUCCESS for a
    // zero-partition frame — exactly the case the pinned schemas cover)
    assert(new java.io.File(s"$storeRoot/sig/v=0/_SUCCESS").exists())
    DedupIngest.processBatch(batches.head.toDF("doc_id", "text"), 1L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    val kept = spark.read.parquet(s"$keptDir/ingest_batch=1")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 3L, 4L), s"kept after empty batch: $kept")
    val sigs = DedupIngest.loadSignatureStore(spark, storeRoot,
      empty, "text", "doc_id").count()
    assert(sigs == 4L, s"signature store rows: $sigs")
  }

  test("foreign or unparseable version directories are ignored, not " +
      "fatal") {
    val storeRoot = Files.createTempDirectory("graft-ingest-f").toString
    val keptDir = Files.createTempDirectory("graft-ingest-fk").toString
    val b0 = batches.head.toDF("doc_id", "text")
    DedupIngest.processBatch(b0, 0L, storeRoot, keptDir, "text",
      "doc_id", 64, 16, 3, 0.7, 42, 10000)
    // a leftover backup and a non-numeric name, both with _SUCCESS
    // markers to make them maximally tempting
    for (bad <- Seq("v=0.bak", "v=abc")) {
      val d = new java.io.File(s"$storeRoot/sig/$bad")
      assert(d.mkdirs())
      assert(new java.io.File(d, "_SUCCESS").createNewFile())
    }
    val sigs = DedupIngest.loadSignatureStore(spark, storeRoot, b0,
      "text", "doc_id").count()
    assert(sigs == 4L, s"signature rows with foreign dirs present: $sigs")
  }

  test("a compaction crash between unlink and rename is healed by the " +
      "next reader") {
    val storeRoot = Files.createTempDirectory("graft-ingest-h").toString
    val keptDir = Files.createTempDirectory("graft-ingest-hk").toString
    for ((b, i) <- batches.zipWithIndex)
      DedupIngest.processBatch(b.toDF("doc_id", "text"), i.toLong,
        storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    def labels() = DedupIngest.loadLabelStore(spark, storeRoot,
        batches.head.toDF("doc_id", "text"), "doc_id")
      .as[(Long, Long)].collect().toMap
    val before = labels()
    // simulate the crash window: the staged merge is complete (the
    // moved directory carries the original write's _SUCCESS) but the
    // fold target was unlinked before the rename landed
    val v1 = new java.io.File(s"$storeRoot/labels/v=1")
    assert(v1.renameTo(new java.io.File(s"$storeRoot/labels/.compact-v=1")))
    assert(labels() == before, "reader did not heal the staged compaction")
    assert(new java.io.File(s"$storeRoot/labels/v=1/_SUCCESS").exists(),
      "healed version directory missing")
    assert(!new java.io.File(s"$storeRoot/labels/.compact-v=1").exists(),
      "staging directory left behind after heal")
  }

  test("size-tiered compaction folds accumulated small deltas without " +
      "rewriting the settled large version") {
    val storeRoot = Files.createTempDirectory("graft-ingest-t").toString
    val keptDir = Files.createTempDirectory("graft-ingest-tk").toString
    // all-distinct texts: no dup pairs, so version sizes are the only
    // moving part
    def docs(from: Long, n: Int) = (0 until n)
      .map(i => (from + i, (1 to 30).map(w => s"t${from + i}w$w")
        .mkString(" ")))
      .toDF("doc_id", "text")
    def run(b: org.apache.spark.sql.DataFrame, id: Long) =
      DedupIngest.processBatch(b, id,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    run(docs(0L, 500), 0L)
    var folds = Seq.empty[DedupIngest.Fold]
    for (i <- 1 to 6) {
      run(docs(1000L * i, 2), i.toLong)
      folds ++= DedupIngest.compactStores(spark, storeRoot)
    }
    // the 500-doc signature version dwarfs every accumulated small
    // tier, so no sig fold may ever touch it — that is the whole point
    // of tiering (the labels family's v=0 is empty and folds freely)
    assert(folds.nonEmpty, "expected at least one small-tier fold")
    assert(folds.filter(_.family == "sig")
        .forall(f => !f.versions.contains(0L)),
      s"a fold rewrote the large settled version: $folds")
    assert(new java.io.File(s"$storeRoot/sig/v=0/_SUCCESS").exists())
    val total = DedupIngest.loadSignatureStore(spark, storeRoot,
      docs(0L, 1), "text", "doc_id").count()
    assert(total == 500L + 2 * 6, s"signature rows after tiering: $total")
    // the fold-everything escape hatch still collapses history below
    // the max version into a single directory
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    val sigDirs = new java.io.File(s"$storeRoot/sig").listFiles()
      .filter(_.getName.startsWith("v=")).map(_.getName).toSet
    assert(sigDirs == Set("v=5", "v=6"),
      s"sig versions after full fold: $sigDirs")
    val after = DedupIngest.loadSignatureStore(spark, storeRoot,
      docs(0L, 1), "text", "doc_id").count()
    assert(after == total, s"full fold changed the store: $after")
  }

  test("exact prefilter: verbatim re-crawls drop before shingling, " +
      "the exact store accumulates fresh digests across batches, " +
      "redelivery is idempotent, and compaction folds the family") {
    val storeRoot = Files.createTempDirectory("graft-ingest-x").toString
    val keptDir = Files.createTempDirectory("graft-ingest-xk").toString
    def run(b: Seq[(Long, String)], id: Long) =
      DedupIngest.processBatch(b.toDF("doc_id", "text"), id, storeRoot,
        keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
        exactPrefilter = true)
    for ((b, i) <- batches.zipWithIndex) run(b, i.toLong)
    def keptByBatch(): Map[Long, Set[Long]] =
      spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"doc_id")
        .as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet }
    // identical keep-sets to the minhash-only loop: the exact stage
    // catches the verbatim A re-crawl (101) a shingle pass would have
    // caught anyway, just without paying for the shingles
    val expected = Map(
      0L -> Set(1L, 2L, 3L, 4L),
      1L -> Set(103L, 104L),
      2L -> Set(202L))
    assert(keptByBatch() == expected, s"keep-sets: ${keptByBatch()}")
    def exactRows() = DedupIngest.loadExactStore(spark, storeRoot,
      batches.head.toDF("doc_id", "text"), "text", "doc_id").count()
    // 4 + 3 + 3 fresh digests (the duplicate A digest committed once)
    assert(exactRows() == 10L, s"exact store rows: ${exactRows()}")
    run(batches(2), 2L) // redelivery
    assert(keptByBatch() == expected && exactRows() == 10L,
      "retry changed the prefilter outputs")
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    def versionDirs(family: String) =
      new java.io.File(s"$storeRoot/$family").listFiles()
        .filter(_.getName.startsWith("v=")).map(_.getName).toSet
    assert(versionDirs("exact") == Set("v=1", "v=2"),
      s"exact versions after compaction: ${versionDirs("exact")}")
    assert(exactRows() == 10L && keptByBatch() == expected,
      "compaction changed the prefilter store")
    run(batches(2), 2L) // post-compaction retry still sees the history
    assert(keptByBatch() == expected && exactRows() == 10L)
  }

  test("a batch with prior versions and the exact prefilter runs a " +
      "pinned number of jobs") {
    val storeRoot = Files.createTempDirectory("graft-ingest-j").toString
    val keptDir = Files.createTempDirectory("graft-ingest-jk").toString
    def run(b: Seq[(Long, String)], id: Long) =
      DedupIngest.processBatch(b.toDF("doc_id", "text"), id, storeRoot,
        keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
        exactPrefilter = true)
    run(batches(0), 0L)
    run(batches(1), 1L)
    val jobs = jobsOf(run(batches(2), 2L))
    // batch 2 bridges into the F cluster and joins the C cluster, so the
    // solve relabels stored keys as well as labelling new ones
    val kept = spark.read.parquet(s"$keptDir/ingest_batch=2")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(202L), s"kept: $kept")
    // 50 jobs with iterative label propagation; 27 while the key-order
    // guard still inferred its sidecars' schema; 26 while the guard and
    // the _keyrange write aggregated with Spark (6 jobs, now the one range
    // aggregate's 2) and the exact prefilter pinned its kept rows and
    // re-ran the store hit join for its delta (7 jobs, now 4)
    assert(jobs == 19, s"jobs: $jobs")
  }

  test("the key-order guard fails fast on a batch that reuses or " +
      "precedes committed keys") {
    val storeRoot = Files.createTempDirectory("graft-ingest-k").toString
    val keptDir = Files.createTempDirectory("graft-ingest-kk").toString
    def run(rows: Seq[(Long, String)], id: Long) =
      DedupIngest.processBatch(rows.toDF("doc_id", "text"), id,
        storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    run(batches.head, 0L)
    // key 2 was committed by batch 0 — a re-used key must fail before
    // any store/dedup work happens
    val reuse = intercept[IllegalStateException] {
      run(Seq((2L, "smuggled duplicate key")), 1L)
    }
    assert(reuse.getMessage.contains("key-order"), reuse.getMessage)
    // a stale-but-unseen key below the committed max also fails (the
    // contract is monotone, not merely unique)
    val stale = intercept[IllegalStateException] {
      run(Seq((3L, "never seen but below the high-water mark")), 1L)
    }
    assert(stale.getMessage.contains("key-order"), stale.getMessage)
    // a valid successor batch passes, and a retry of it (reading only
    // versions below its own id) still passes
    run(batches(1), 2L)
    run(batches(1), 2L)
  }

  test("fuzz: random compaction schedules and ratios are invisible — " +
      "keep-sets, labels, and signatures match an uncompacted twin") {
    // seeds window-scaled (TestDepth): SPARK_GRAFT_FULL_TESTS restores 3
    for (seed <- 1 to TestDepth.scaled(3, 1)) {
      val rnd = new scala.util.Random(seed)
      // content pool with planted exact and near duplicates; keys
      // monotone across batches per the contract
      val pool = Vector(A, B, bNear, C, cNear, F1, F2, F3) ++
        (1 to 6).map(i => words(s"solo$i").mkString(" "))
      var nextKey = 1L
      val fuzzBatches = (0 until 6).map { _ =>
        (0 until 2 + rnd.nextInt(4)).map { _ =>
          val k = nextKey; nextKey += 1
          (k, pool(rnd.nextInt(pool.size)))
        }
      }
      val rootA = Files.createTempDirectory(s"graft-fz-a$seed").toString
      val keptA = Files.createTempDirectory(s"graft-fz-ak$seed").toString
      val rootB = Files.createTempDirectory(s"graft-fz-b$seed").toString
      val keptB = Files.createTempDirectory(s"graft-fz-bk$seed").toString
      def run(root: String, kept: String, b: Seq[(Long, String)],
          id: Long) =
        DedupIngest.processBatch(b.toDF("doc_id", "text"), id, root,
          kept, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
          exactPrefilter = true)
      for ((b, i) <- fuzzBatches.zipWithIndex) {
        run(rootA, keptA, b, i.toLong)
        run(rootB, keptB, b, i.toLong)
        // twin A compacts at random points with random aggressiveness;
        // twin B never compacts
        if (rnd.nextBoolean())
          DedupIngest.compactStores(spark, rootA,
            sizeRatio = Seq(1.5, 4.0, Double.PositiveInfinity)(
              rnd.nextInt(3)))
      }
      def state(root: String, kept: String) = {
        val like = fuzzBatches.head.toDF("doc_id", "text")
        (spark.read.parquet(kept).select($"ingest_batch".cast("long"),
            $"doc_id").as[(Long, Long)].collect().toSet,
          DedupIngest.loadLabelStore(spark, root, like, "doc_id")
            .as[(Long, Long)].collect().toSet,
          DedupIngest.loadSignatureStore(spark, root, like, "text",
            "doc_id").select("doc_id").as[Long].collect().toSet,
          DedupIngest.loadExactStore(spark, root, like, "text",
            "doc_id").select("_d2").as[Long].collect().toSet)
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

  test("span-mask ingest: boilerplate strips once corpus counts cross " +
      "minCount, masking precedes dedup (boilerplate-only diffs become " +
      "dups), redelivery and compaction are invisible") {
    implicit val sqlCtx = spark.sqlContext
    val storeRoot = Files.createTempDirectory("graft-spanmask-store").toString
    val keptDir = Files.createTempDirectory("graft-spanmask-kept").toString
    val ckpt = Files.createTempDirectory("graft-spanmask-ckpt").toString
    // 8-token header → four pure-header 5-grams per carrying doc; two
    // carriers per batch, minCount 4: batch 0 ships UNMASKED (counts 2),
    // batch 1 crosses the floor and masks, batch 2 masks against the
    // accumulated counts — and doc 22, which differs from 21 ONLY by
    // the header, becomes its exact dup after masking and drops
    val header = "standard promo header attached to syndicated crawl mirrors"
    def body(tag: String) = (1 to 25).map(i => s"$tag$i").mkString(" ")
    val sb = Seq(
      Seq((1L, s"$header ${body("aa")}"), (2L, s"$header ${body("ab")}"),
        (3L, body("ac"))),
      Seq((11L, s"$header ${body("ba")}"), (12L, s"$header ${body("bb")}")),
      Seq((21L, s"$header ${body("ca")}"), (22L, body("ca"))))
    val mask = Some(DedupIngest.SpanMask(n = 5, minCount = 4))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = DedupIngest.start(docs, "text", "doc_id", storeRoot, keptDir,
      ckpt, threshold = 0.7, spanMask = mask)
    try {
      for (b <- sb) { mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def keptState(): (Map[Long, Set[Long]], Map[Long, String]) = {
      val rows = spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"doc_id", $"text")
        .as[(Long, Long, String)].collect().toSeq
      (rows.groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet },
        rows.map(r => r._2 -> r._3).toMap)
    }
    val (kept, texts) = keptState()
    assert(kept == Map(0L -> Set(1L, 2L, 3L), 1L -> Set(11L, 12L),
      2L -> Set(21L)), s"keep-sets: $kept")
    // batch 0 shipped before the floor: header intact
    assert(texts(1L).startsWith(header), texts(1L))
    // batches 1-2 shipped stripped
    assert(texts(11L) == body("ba") && texts(12L) == body("bb")
      && texts(21L) == body("ca"), s"masking failed: $texts")

    // redelivery idempotence with the mask stage active
    DedupIngest.processBatch(sb(2).toDF("doc_id", "text"), 2L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
      spanMask = mask)
    assert(keptState() == ((kept, texts)))

    // compaction folds the count family with live counts invariant,
    // and a post-compaction retry still reproduces the outputs
    def liveCounts() = DedupIngest
      .loadSpanCountStore(spark, storeRoot)
      .groupBy("_h").sum("_c").as[(Long, Long)].collect().toMap
    val before = liveCounts()
    val folds = DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(folds.exists(_.family == "spancounts"),
      s"expected a spancounts fold in $folds")
    assert(liveCounts() == before, "compaction changed live counts")
    DedupIngest.processBatch(sb(2).toDF("doc_id", "text"), 2L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
      spanMask = mask)
    assert(keptState() == ((kept, texts)))
  }

  test("line-dedup ingest: each batch exact-line-dedups keep-first " +
      "against the crawl's line history, kept text matches one batch " +
      "dedupLines run over the concatenation, redelivery and " +
      "compaction are invisible") {
    implicit val sqlCtx = spark.sqlContext
    val storeRoot = Files.createTempDirectory("graft-linededup-store").toString
    val keptDir = Files.createTempDirectory("graft-linededup-kept").toString
    val ckpt = Files.createTempDirectory("graft-linededup-ckpt").toString
    val footer = "standard syndicated footer notice"
    val sb = Seq(
      // batch 0: doc 1 owns the footer; doc 2's copy is a within-batch
      // repeat and strips immediately
      Seq((1L, s"alpha unique body line one\n$footer"),
        (2L, s"beta unique body line two\n$footer")),
      // batch 1: the footer arrives FIRST in the doc — history (not
      // batch position) removes it
      Seq((11L, s"$footer\ngamma unique body line eleven")),
      Seq((21L, s"delta unique body line twentyone\n$footer"),
        (22L, "epsilon untouched body line22")))
    val cfg = Some(DedupIngest.LineDedup())
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = DedupIngest.start(docs, "text", "doc_id", storeRoot, keptDir,
      ckpt, lineDedup = cfg)
    try {
      for (b <- sb) { mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def keptState(): (Map[Long, Set[Long]], Map[Long, String]) = {
      val rows = spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"doc_id", $"text")
        .as[(Long, Long, String)].collect().toSeq
      (rows.groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet },
        rows.map(r => r._2 -> r._3).toMap)
    }
    val (kept, texts) = keptState()
    assert(kept == Map(0L -> Set(1L, 2L), 1L -> Set(11L),
      2L -> Set(21L, 22L)), s"keep-sets: $kept")
    // the ingest's kept text IS what batch dedupLines keeps over the
    // concatenated corpus — the increment-vs-batch parity, end to end
    // through the stream
    val batchRun = graft.operators.Dedup.dedupLines(
      sb.flatten.toDF("doc_id", "text"), "text", "doc_id")
      .select($"doc_id", $"text_deduped").as[(Long, String)]
      .collect().toMap
    assert(texts == batchRun, s"stream $texts\nvs batch $batchRun")
    assert(texts(1L) == s"alpha unique body line one\n$footer")
    assert(texts(11L) == "gamma unique body line eleven")

    // redelivery idempotence with the line stage active
    DedupIngest.processBatch(sb(2).toDF("doc_id", "text"), 2L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.9, 42, 10000,
      lineDedup = cfg)
    assert(keptState() == ((kept, texts)))

    // compaction folds the linecounts family with live counts
    // invariant, and a post-compaction retry still reproduces
    def liveCounts() = DedupIngest
      .loadLineCountStore(spark, storeRoot)
      .groupBy("_h").sum("_c").as[(Long, Long)].collect().toMap
    val before = liveCounts()
    assert(before.values.sum == 9,
      s"9 countable line occurrences crossed the stream: $before")
    val folds = DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(folds.exists(_.family == "linecounts"),
      s"expected a linecounts fold in $folds")
    assert(liveCounts() == before, "compaction changed live counts")
    DedupIngest.processBatch(sb(2).toDF("doc_id", "text"), 2L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.9, 42, 10000,
      lineDedup = cfg)
    assert(keptState() == ((kept, texts)))
  }

  test("surgical decontamination composes upstream of the streaming " +
      "ingest — a pure projection, streaming-safe, benchmark collected " +
      "once at plan time") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.TextOps
    val storeRoot = Files.createTempDirectory("graft-decon-store").toString
    val keptDir = Files.createTempDirectory("graft-decon-kept").toString
    val ckpt = Files.createTempDirectory("graft-decon-ckpt").toString
    val bench = Seq((900L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    // the QUICKSTART order, streaming form: mask benchmark-overlapping
    // spans BEFORE the dedup loop ever sees the text
    val docs = TextOps.maskContaminated(
        mem.toDF().toDF("doc_id", "text"), bench, "text", n = 3,
        marker = "<X>")
      .drop("text").withColumnRenamed("masked_text", "text")
    val q = DedupIngest.start(docs, "text", "doc_id", storeRoot,
      keptDir, ckpt, threshold = 0.9)
    try {
      mem.addData(
        (1L, "quoting alpha beta gamma delta here " +
          (1 to 20).map(i => s"q$i").mkString(" ")),
        (2L, (1 to 20).map(i => s"r$i").mkString(" ")))
      q.processAllAvailable()
    } finally q.stop()
    val texts = spark.read.parquet(keptDir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toMap
    assert(texts.keySet == Set(1L, 2L))
    assert(texts(1L).startsWith("quoting <X> here q1"),
      s"benchmark spans must be gone before ingest: ${texts(1L)}")
    assert(!texts(1L).contains("alpha"))
  }

  test("start validates its inputs loudly") {
    val notStreaming = intercept[IllegalArgumentException] {
      DedupIngest.start(batches.head.toDF("doc_id", "text"), "text",
        "doc_id", "/tmp/x", "/tmp/y", "/tmp/z")
    }
    assert(notStreaming.getMessage.contains("streaming"),
      notStreaming.getMessage)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val missingCol = intercept[IllegalArgumentException] {
      DedupIngest.start(mem.toDF().toDF("doc_id", "body"), "text",
        "doc_id", "/tmp/x", "/tmp/y", "/tmp/z")
    }
    assert(missingCol.getMessage.contains("'text'"), missingCol.getMessage)
  }

  test("tombstones: deleteKeys removes documents from every keyed " +
      "reader immediately, deleted content re-ingests fresh, redelivery " +
      "stays idempotent, compaction applies tombstones physically and " +
      "retires fully-applied markers (but never sooner), and the " +
      "key-order guard still holds the all-time max key") {
    val storeRoot = Files.createTempDirectory("graft-tomb-store").toString
    val keptDir = Files.createTempDirectory("graft-tomb-kept").toString
    def run(rows: Seq[(Long, String)], id: Long) =
      DedupIngest.processBatch(rows.toDF("doc_id", "text"), id, storeRoot,
        keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    def keptByBatch(): Map[Long, Set[Long]] =
      spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"doc_id")
        .as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet }
    def sigKeys(): Set[Long] = DedupIngest.loadSignatureStore(spark,
        storeRoot, Seq((0L, "x")).toDF("doc_id", "text"), "text",
        "doc_id")
      .select("doc_id").as[Long].collect().toSet
    def labels(): Map[Long, Long] = DedupIngest.loadLabelStore(spark,
        storeRoot, Seq((0L, "x")).toDF("doc_id", "text"), "doc_id")
      .as[(Long, Long)].collect().toMap

    run(Seq((1L, A), (2L, B),
      (3L, "standalone report on glacier monitoring equipment")), 0L)
    run(Seq((11L, A), (12L, bNear),
      (13L, "second standalone piece about harbor dredging works")), 1L)
    assert(keptByBatch() == Map(0L -> Set(1L, 2L, 3L), 1L -> Set(13L)))

    // tombstone the whole B cluster: the kept representative 2 AND its
    // dropped near-twin 12 (deleting only the representative would
    // leave 12's signature recognizing the content)
    DedupIngest.deleteKeys(spark, storeRoot,
      Seq(2L, 12L).toDF("doc_id"))
    // immediate reader effect, no rewrite: signatures and labels drop
    // the deleted keys, everything else intact
    assert(sigKeys() == Set(1L, 3L, 11L, 13L), sigKeys())
    val l1 = labels()
    assert(!l1.contains(2L) && !l1.contains(12L) && l1(11L) == 1L, l1)

    // the live tombstone marker bytes on disk, raw
    def tombstoneDataFiles(): Int = {
      val fam = new java.io.File(s"$storeRoot/tombstones")
      if (!fam.exists()) 0
      else fam.listFiles().filter(_.getName.startsWith("v="))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .count(_.getName.endsWith(".parquet"))
    }
    assert(tombstoneDataFiles() > 0, "delete must write a marker")
    // NEGATIVE retirement case: compacting now folds nothing (only one
    // version sits below no other), so pre-delete store versions remain
    // unrewritten and the marker MUST survive — retiring it here would
    // resurrect the deleted keys from the raw v=0/v=1 deltas
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(tombstoneDataFiles() > 0,
      "marker must survive while unrewritten pre-delete versions exist")
    assert(sigKeys() == Set(1L, 3L, 11L, 13L), sigKeys())

    // the store no longer RECOGNIZES deleted content: a verbatim
    // re-crawl of B re-ingests fresh, while A (undeleted) still drops
    run(Seq((21L, A), (22L, B)), 2L)
    assert(keptByBatch()(2L) == Set(22L), keptByBatch())

    // deletion never frees key space: the guard still holds the
    // all-time max (a reused key must fail even though 12 is deleted)
    val guardErr = intercept[IllegalStateException] {
      run(Seq((12L, "reused key after deletion must still fail")), 3L)
    }
    assert(guardErr.getMessage.contains("key-order"), guardErr.getMessage)

    // delete-then-redeliver parity: the newest batch retried with its
    // own id against the tombstoned store reproduces its outputs
    val beforeRetry = (keptByBatch(), sigKeys(), labels())
    run(Seq((21L, A), (22L, B)), 2L)
    assert((keptByBatch(), sigKeys(), labels()) == beforeRetry)

    // compaction applies tombstones PHYSICALLY to the folds it touches
    // (readers were already exact; this reclaims the bytes) and keeps
    // the tombstone family for the unfolded tail
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert((keptByBatch(), sigKeys(), labels()) == beforeRetry,
      "compaction must be invisible to readers")
    // raw, anti-join-free read of what is on disk: the deleted keys are
    // gone from the folded history (only the untouched max version
    // could still carry a tombstoned key — none does here)
    val rawSig = new java.io.File(s"$storeRoot/sig").listFiles()
      .filter(_.getName.startsWith("v=")).map(_.toString)
      .flatMap(d => spark.read.parquet(d).select("doc_id")
        .as[Long].collect())
      .toSet
    assert(!rawSig.contains(2L) && !rawSig.contains(12L), rawSig)
    // RETIREMENT: the fold rewrote every version the delete could touch
    // (fold target carries the applied floor; the post-delete raw delta
    // is cleared by the delta's cutoff under the monotone-key
    // contract), so the marker is dead weight — it retires to an empty
    // committed husk. The version dir survives (the counter must stay
    // monotone) but no marker bytes tax readers' anti-joins anymore.
    assert(tombstoneDataFiles() == 0,
      "fully-applied tombstones must retire at compaction")
    assert(new java.io.File(s"$storeRoot/tombstones").listFiles()
      .exists(_.getName.startsWith("v=")),
      "retirement keeps the version counter (empty husk, not deletion)")
    assert((keptByBatch(), sigKeys(), labels()) == beforeRetry,
      "retirement must be invisible to readers")
    // and a post-compaction retry still works against the folded store
    run(Seq((21L, A), (22L, B)), 2L)
    assert(keptByBatch()(2L) == Set(22L))
    // a later delete reuses nothing: the husk holds the counter, so the
    // next marker gets a fresh version id no stale floor can vouch for
    DedupIngest.deleteKeys(spark, storeRoot, Seq(13L).toDF("doc_id"))
    assert(sigKeys() == Set(1L, 3L, 11L, 21L, 22L), sigKeys())
    assert(new java.io.File(s"$storeRoot/tombstones/v=1").exists(),
      "post-retirement delete must take version 1, not reuse 0")
  }

  test("pre-emptive tombstones (key not yet ingested at delete time) " +
      "never retire on version-id evidence: when the key later arrives " +
      "in the still-unfolded max raw delta, compaction must not drop " +
      "the marker and resurrect it — anchored deletes retire as usual") {
    val storeRoot = Files.createTempDirectory("graft-preempt-store").toString
    val keptDir = Files.createTempDirectory("graft-preempt-kept").toString
    def doc(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    def runAt(root: String, kept: String)(
        rows: Seq[(Long, String)], id: Long) =
      DedupIngest.processBatch(rows.toDF("doc_id", "text"), id, root,
        kept, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    def run(rows: Seq[(Long, String)], id: Long) =
      runAt(storeRoot, keptDir)(rows, id)
    def sigKeysAt(root: String): Set[Long] =
      DedupIngest.loadSignatureStore(spark, root,
          Seq((0L, "x")).toDF("doc_id", "text"), "text", "doc_id")
        .select("doc_id").as[Long].collect().toSet
    def sigKeys(): Set[Long] = sigKeysAt(storeRoot)
    def tombstoneDataFilesAt(root: String): Int = {
      val fam = new java.io.File(s"$root/tombstones")
      if (!fam.exists()) 0
      else fam.listFiles().filter(_.getName.startsWith("v="))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .count(_.getName.endsWith(".parquet"))
    }
    def tombstoneDataFiles(): Int = tombstoneDataFilesAt(storeRoot)

    // FRESH-STORE case: a delete before ANY ingest leaves zero
    // committed keyed versions, making every per-family retirement
    // check vacuously true — the unanchored marker must still survive
    // compaction, or key 5's later arrival would go unsuppressed
    val freshRoot = Files.createTempDirectory("graft-fresh-store").toString
    val freshKept = Files.createTempDirectory("graft-fresh-kept").toString
    DedupIngest.deleteKeys(spark, freshRoot, Seq(5L).toDF("doc_id"))
    DedupIngest.compactStores(spark, freshRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(tombstoneDataFilesAt(freshRoot) > 0,
      "a pre-ingest marker must survive the vacuous-evidence compact")
    runAt(freshRoot, freshKept)(Seq((4L, doc("fa")), (5L, doc("fb"))), 0L)
    assert(sigKeysAt(freshRoot) == Set(4L),
      s"key 5 must stay suppressed: ${sigKeysAt(freshRoot)}")

    run(Seq((1L, doc("pa")), (2L, doc("pb"))), 0L)
    run(Seq((3L, doc("pc")), (4L, doc("pd"))), 1L)
    // delete key 5 BEFORE it exists — out of the documented takedown
    // contract (blocklists are an upstream concern), but it must stay
    // SAFE: the delta is unanchored (5 > the all-time max 4)
    DedupIngest.deleteKeys(spark, storeRoot, Seq(5L).toDF("doc_id"))
    // ...and 5 then arrives legitimately under the monotone contract
    run(Seq((5L, doc("pe")), (6L, doc("pf"))), 2L)
    assert(sigKeys() == Set(1L, 2L, 3L, 4L, 6L), sigKeys())

    // the resurrection window the anchor closes: the fold of {v0,v1}
    // records a floor above the marker, and the post-delete raw delta
    // v2 — THE VERSION CARRYING KEY 5 — stays unfolded as the family
    // max. Id evidence alone (v2 > cutoff) must not vouch: an
    // unanchored delta's keys are not provably below a post-delete
    // batch's keys.
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(tombstoneDataFiles() > 0,
      "pre-emptive marker must survive while the arriving version is " +
        "unfolded — retiring it would resurrect key 5")
    assert(sigKeys() == Set(1L, 2L, 3L, 4L, 6L),
      s"key 5 resurrected: ${sigKeys()}")

    // an ANCHORED delete on the same store retires on the usual
    // evidence; the unanchored marker keeps blocking only itself
    DedupIngest.deleteKeys(spark, storeRoot, Seq(1L).toDF("doc_id"))
    assert(tombstoneDataFiles() == 2)
    run(Seq((8L, doc("pg")), (9L, doc("ph"))), 3L)
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(sigKeys() == Set(2L, 3L, 4L, 6L, 8L, 9L), sigKeys())
    assert(tombstoneDataFiles() == 1,
      "the anchored marker must retire; the pre-emptive one must not")
  }

  test("all optional stages composed (line dedup + span mask + exact " +
      "prefilter + near-dup): verbatim re-crawls drop instead of " +
      "shipping as line-emptied husks, each stage fires on its plant, " +
      "redelivery and compaction stay invisible") {
    implicit val sqlCtx = spark.sqlContext
    val storeRoot = Files.createTempDirectory("graft-composed-store").toString
    val keptDir = Files.createTempDirectory("graft-composed-kept").toString
    val ckpt = Files.createTempDirectory("graft-composed-ckpt").toString
    val footer = "standard syndicated footer notice"
    val span = "promo header tokens one two" // one 5-gram at n=5
    def body(tag: String) = (1 to 25).map(i => s"$tag$i").mkString(" ")
    val shorts = "hey\nyo\nsup" // every line under minChars: line-exempt
    val sb = Seq(
      Seq(1L -> s"${body("aa")}\n$footer", // keeps footer (first)
        2L -> s"${body("ab")}\n$footer",   // loses footer in-batch
        3L -> s"$span ${body("ac")}",      // span count 2 < 4: intact
        4L -> s"$span ${body("ad")}",
        5L -> shorts),
      Seq(11L -> s"$footer\n${body("ba")}", // footer stripped via history
        13L -> s"$span ${body("bc")}",      // accumulated 4: masked
        14L -> s"$span ${body("bd")}",
        // verbatim re-crawl of doc 2: BOTH its lines hit the line
        // store, the remainder is empty — dropEmptied drops it here
        // (downstream could never catch a shingle-less husk)
        15L -> s"${body("ab")}\n$footer",
        // near-dup of doc 3's stored signature (its body without the
        // span): 3-gram jaccard ≈ 0.82 over the 0.7 threshold
        16L -> body("ac"),
        // verbatim re-crawl of the line-exempt shorts doc: the line
        // stage passes it through, the EXACT prefilter digests the
        // normalized text and drops it against doc 5's stored digest
        17L -> shorts),
      Seq(21L -> s"${body("ca")}\n$footer", // footer stripped
        22L -> s"$span ${body("cb")}"))     // masked, kept
    val lineCfg = Some(DedupIngest.LineDedup())
    val maskCfg = Some(DedupIngest.SpanMask(n = 5, minCount = 4))
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDF().toDF("doc_id", "text")
    val q = DedupIngest.start(docs, "text", "doc_id", storeRoot, keptDir,
      ckpt, threshold = 0.7, exactPrefilter = true, spanMask = maskCfg,
      lineDedup = lineCfg)
    try {
      for (b <- sb) { mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    def keptState(): (Map[Long, Set[Long]], Map[Long, String]) = {
      val rows = spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"doc_id", $"text")
        .as[(Long, Long, String)].collect().toSeq
      (rows.groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet },
        rows.map(r => r._2 -> r._3).toMap)
    }
    val (kept, texts) = keptState()
    assert(kept == Map(0L -> Set(1L, 2L, 3L, 4L, 5L),
      1L -> Set(11L, 13L, 14L), 2L -> Set(21L, 22L)), s"keep-sets: $kept")
    // stage evidence in the shipped text (the span kernel's uniform
    // single-space normalization applies everywhere)
    assert(texts(1L) == s"${body("aa")} $footer", texts(1L))
    assert(texts(2L) == body("ab"), texts(2L))   // footer line stripped
    assert(texts(11L) == body("ba"), texts(11L))
    assert(texts(13L) == body("bc") && texts(22L) == body("cb"),
      "span must mask once the accumulated count crosses minCount")
    assert(texts(5L) == "hey yo sup", texts(5L))

    // redelivery idempotence with every stage active
    DedupIngest.processBatch(sb(1).toDF("doc_id", "text"), 1L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
      exactPrefilter = true, spanMask = maskCfg, lineDedup = lineCfg)
    assert(keptState() == ((kept, texts)))

    // compaction folds every accruing family at once, invisibly
    val folds = DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    for (f <- Seq("sig", "exact", "labels", "linecounts", "spancounts"))
      assert(folds.exists(_.family == f), s"expected a $f fold: $folds")
    assert(keptState() == ((kept, texts)),
      "compaction must be invisible to readers")
    DedupIngest.processBatch(sb(2).toDF("doc_id", "text"), 2L,
      storeRoot, keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
      exactPrefilter = true, spanMask = maskCfg, lineDedup = lineCfg)
    assert(keptState() == ((kept, texts)))
  }

  test("curation stage: the kept output is quality-filtered AFTER " +
      "every dedup stage (batch-chain order), stores still accrue over " +
      "the full deduped batch, drops flow through redelivery " +
      "idempotently, and keepScores ships the appended columns") {
    val storeRoot = Files.createTempDirectory("graft-cur-store").toString
    val keptDir = Files.createTempDirectory("graft-cur-kept").toString
    import org.apache.spark.sql.functions.{col, length, lit}
    // junk = short text; doc 12 is junk AND a verbatim re-crawl of
    // junk doc 2; doc 13 is junk arriving before its clean near-twin
    val junk = "tiny doc"
    val junk2 = "wee doc"
    val curate = DedupIngest.Curate(col("_q") >= 40,
      score = _.withColumn("_q", length(col("text"))))
    def run(rows: Seq[(Long, String)], id: Long,
        c: Option[DedupIngest.Curate] = Some(curate)) =
      DedupIngest.processBatch(rows.toDF("doc_id", "text"), id, storeRoot,
        keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000,
        curate = c)
    def keptState(): Map[Long, Set[Long]] =
      spark.read.parquet(keptDir)
        .select($"ingest_batch".cast("long"), $"doc_id")
        .as[(Long, Long)].collect().toSeq
        .groupBy(_._1).map { case (b, r) => b -> r.map(_._2).toSet }

    run(Seq((1L, A), (2L, junk), (3L, B)), 0L)
    // junk doc 2 curated away from the OUTPUT...
    assert(keptState() == Map(0L -> Set(1L, 3L)), keptState())
    // ...but its signature still entered the store (no new state, and
    // duplicate recognition must survive curation): the verbatim
    // re-crawl 12 drops as a DUPLICATE (and would also be curated);
    // near-dup 11 of A drops as usual; 13 passes both stages
    run(Seq((11L, A), (12L, junk), (13L, C)), 1L)
    assert(keptState() == Map(0L -> Set(1L, 3L), 1L -> Set(13L)),
      keptState())
    val sigKeys = DedupIngest.loadSignatureStore(spark, storeRoot,
        Seq((0L, "x")).toDF("doc_id", "text"), "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(sigKeys.contains(2L),
      s"curation must not filter store state: $sigKeys")
    // redelivery idempotence with the stage active: same id, same kept
    run(Seq((11L, A), (12L, junk), (13L, C)), 1L)
    assert(keptState() == Map(0L -> Set(1L, 3L), 1L -> Set(13L)))
    // keepScores ships the appended column; default restores batch cols
    assert(!spark.read.parquet(s"$keptDir/ingest_batch=1")
      .columns.contains("_q"))
    run(Seq((21L, cNear), (22L, junk2)), 2L,
      c = Some(curate.copy(keepScores = true)))
    val b2 = spark.read.parquet(s"$keptDir/ingest_batch=2")
    assert(b2.columns.contains("_q"))
    assert(b2.select("doc_id").as[Long].collect().isEmpty,
      "21 is a near-dup (dropped before curation), 22 is junk")
    // a score transform that DROPS a batch column fails loud
    val err = intercept[IllegalArgumentException] {
      run(Seq((31L, "fresh standalone essay about alpine railway " +
        "infrastructure maintenance")), 3L,
        c = Some(DedupIngest.Curate(col("_q") >= 0,
          score = _.drop("text").withColumn("_q", lit(1)))))
    }
    assert(err.getMessage.contains("Curate.score dropped"),
      err.getMessage)
    // ...and one that re-emits a batch column as a duplicate name
    // (would make every later reference ambiguous) also fails loud
    val dup = intercept[IllegalArgumentException] {
      run(Seq((32L, "another fresh standalone essay on coastal wind " +
        "farm corrosion monitoring")), 3L,
        c = Some(DedupIngest.Curate(lit(true),
          score = df => df.select((df.columns.map(col) :+
            lit("x").as("text")): _*))))
    }
    assert(dup.getMessage.contains("duplicate column"), dup.getMessage)
    // a case-variant re-emit (withColumn("TEXT", ...) under the default
    // case-insensitive analysis REPLACES and renames "text") gets the
    // specific error, not a misleading "dropped" report (r19 advice)
    val caseErr = intercept[IllegalArgumentException] {
      run(Seq((33L, "a third fresh standalone essay about glacier " +
        "meltwater turbine scheduling")), 3L,
        c = Some(DedupIngest.Curate(lit(true),
          score = df => df.withColumn("TEXT", col("text")))))
    }
    assert(caseErr.getMessage.contains("re-emitted") &&
      caseErr.getMessage.contains("text"), caseErr.getMessage)
    // an appended name differing from a batch column only by case would
    // make every later reference ambiguous under the resolver — the
    // duplicate check must catch it even though the literal names differ
    val caseDup = intercept[IllegalArgumentException] {
      run(Seq((34L, "a fourth fresh standalone essay about tidal " +
        "barrage sediment surveys")), 3L,
        c = Some(DedupIngest.Curate(lit(true),
          score = df => df.select((df.columns.map(col) :+
            lit(1).as("DOC_ID")): _*))))
    }
    assert(caseDup.getMessage.contains("duplicate column") &&
      caseDup.getMessage.contains("DOC_ID"), caseDup.getMessage)
  }

  test("a legacy (sidecar-less) tombstone delta folded together with " +
      "anchored deltas keeps the merged delta unretirable: a partial " +
      "_cutoff carry must not vouch for keys whose anchoring was never " +
      "established (r18 advice, medium)") {
    val storeRoot = Files.createTempDirectory("graft-legacy-tomb").toString
    val keptDir = Files.createTempDirectory("graft-legacy-kept").toString
    def doc(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    def run(rows: Seq[(Long, String)], id: Long) =
      DedupIngest.processBatch(rows.toDF("doc_id", "text"), id, storeRoot,
        keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    def sigKeys(): Set[Long] = DedupIngest.loadSignatureStore(spark,
        storeRoot, Seq((0L, "x")).toDF("doc_id", "text"), "text",
        "doc_id")
      .select("doc_id").as[Long].collect().toSet
    def tombstoneDataFiles(): Int = {
      val fam = new java.io.File(s"$storeRoot/tombstones")
      if (!fam.exists()) 0
      else fam.listFiles().filter(_.getName.startsWith("v="))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .count(_.getName.endsWith(".parquet"))
    }

    run(Seq((1L, doc("la")), (2L, doc("lb"))), 0L)
    run(Seq((3L, doc("lc")), (4L, doc("ld"))), 1L)
    // LEGACY delta at v=0: written by a pre-sidecar writeTombstones —
    // data + _SUCCESS, NO _cutoff — naming a key the store has never
    // ingested (the legacy writer had no anchoring concept, so
    // pre-upgrade deltas can be pre-emptive). Its arrival window never
    // closes, so it must never retire, alone or merged.
    Seq(100L).toDF("doc_id").coalesce(1)
      .write.parquet(s"$storeRoot/tombstones/v=0")
    assert(!new java.io.File(s"$storeRoot/tombstones/v=0/_cutoff")
      .exists(), "fixture must be sidecar-less")
    // two ANCHORED deletes take v=1 and v=2 with finite _cutoffs
    DedupIngest.deleteKeys(spark, storeRoot, Seq(2L).toDF("doc_id"))
    DedupIngest.deleteKeys(spark, storeRoot, Seq(3L).toDF("doc_id"))
    assert(new java.io.File(s"$storeRoot/tombstones/v=1/_cutoff")
      .exists(), "anchored delete must record its cutoff")
    // fold {v0 legacy, v1 anchored} into v=1 (v=2 is the family max and
    // survives): nothing keyed folds yet (sig has only v0 below its
    // max), so neither anchored delta can retire before the fold and
    // v1 still carries its _cutoff INTO the fold — exactly the partial
    // carry the fix suppresses
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(!new java.io.File(s"$storeRoot/tombstones/v=1/_cutoff")
      .exists(),
      "a fold with ANY sidecar-less data-bearing source must omit the " +
        "merged _cutoff — a partial carry would falsely vouch for the " +
        "legacy delta's keys")
    assert(sigKeys() == Set(1L, 4L), sigKeys())

    // now give retirement everything it could ever want: new ingest,
    // then a compaction that folds the old keyed versions (floor above
    // every marker) and leaves only post-delete raw deltas
    run(Seq((5L, doc("le")), (6L, doc("lf"))), 2L)
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    // the purely-anchored marker (v=2) retires on the usual evidence —
    // the fix must not be over-conservative — but the merged delta
    // (legacy + anchored keys) must survive every compaction forever
    assert(tombstoneDataFiles() == 1,
      s"expected only the merged legacy delta to survive: " +
        s"${tombstoneDataFiles()} data-bearing markers")
    assert(new java.io.File(s"$storeRoot/tombstones/v=1").listFiles()
      .exists(_.getName.endsWith(".parquet")),
      "the survivor must be the merged v=1 delta")
    // the window the marker holds shut: key 100 arrives legitimately
    // under the monotone contract — it must stay suppressed (with the
    // partial carry, v=1 would have retired above and 100 would be live)
    run(Seq((100L, doc("lg")), (101L, doc("lh"))), 3L)
    assert(sigKeys() == Set(1L, 4L, 5L, 6L, 101L),
      s"legacy takedown of key 100 must stay in force: ${sigKeys()}")
  }

  test("a store carrying the _unguarded marker of an older build never " +
      "retires tombstones, and its deletes still apply") {
    val storeRoot = Files.createTempDirectory("graft-unguard-tomb").toString
    val keptDir = Files.createTempDirectory("graft-unguard-kept").toString
    def doc(tag: String) = (1 to 30).map(i => s"$tag$i").mkString(" ")
    def run(rows: Seq[(Long, String)], id: Long) =
      DedupIngest.processBatch(rows.toDF("doc_id", "text"), id, storeRoot,
        keptDir, "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    def sigKeys(): Set[Long] = DedupIngest.loadSignatureStore(spark,
        storeRoot, Seq((0L, "x")).toDF("doc_id", "text"), "text",
        "doc_id")
      .select("doc_id").as[Long].collect().toSet
    def tombstoneDataFiles(): Int = {
      val fam = new java.io.File(s"$storeRoot/tombstones")
      if (!fam.exists()) 0
      else fam.listFiles().filter(_.getName.startsWith("v="))
        .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
        .count(_.getName.endsWith(".parquet"))
    }

    run(Seq((1L, doc("ua")), (2L, doc("ub"))), 0L)
    DedupIngest.deleteKeys(spark, storeRoot, Seq(1L).toDF("doc_id"))
    // the marker an older build left after running batches without the
    // key-order guard: the store's history is no evidence of key order
    assert(new java.io.File(s"$storeRoot/_unguarded").createNewFile())
    run(Seq((3L, doc("uc")), (4L, doc("ud"))), 1L)
    run(Seq((5L, doc("ue")), (6L, doc("uf"))), 2L)
    // this compaction folds every pre-delete version (floor above the
    // marker) and leaves only a post-cutoff raw delta — WITHOUT the
    // marker the tombstone would retire here on exactly that evidence;
    // an unguarded post-cutoff batch could have re-carried key 1, so
    // the evidence is void and the tombstone must survive
    DedupIngest.compactStores(spark, storeRoot,
      sizeRatio = Double.PositiveInfinity)
    assert(tombstoneDataFiles() > 0,
      "retirement must be disabled on an unguarded store")
    // ...while the delete itself stays fully in force and compaction
    // still applied it physically to the folds
    assert(sigKeys() == Set(2L, 3L, 4L, 5L, 6L), sigKeys())
  }
}
