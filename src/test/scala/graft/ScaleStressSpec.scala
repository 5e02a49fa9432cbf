package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Eager._
import graft.core.Tables
import graft.operators.{Dedup, GuardMetrics, Similarity, TextOps}

/** Measured scaling evidence for the LLM-pipeline scale paths — the
  * "survives 100 TB" claims as a measured exponent instead of plan-shape
  * argument. The sf0.1 corpora are amplified ×10 IN-TEST with structure
  * held fixed, so the expected growth of every observable is known:
  *
  *  - documents: each of the 10 copies rewrites every token with a
  *    copy-specific suffix — a bijection on shingle space, so WITHIN a
  *    copy the exact-jaccard structure is identical to the base corpus
  *    while copies share no shingles (cross-copy jaccard 0). A seeded
  *    subset of docs is PLANTED verbatim (unsalted) in all 10 copies —
  *    cross-copy exact-duplicate 10-cliques that the pair generation
  *    must find and connectedComponents must collapse to one label.
  *  - embeddings: each copy applies a seeded coordinate permutation —
  *    orthogonal, so within-copy cosines are exactly the base corpus's
  *    while cross-copy cosines decorrelate; the planted subset again
  *    rides unpermuted as exact cross-copy duplicates (cosine 1).
  *
  * The LSH promise under test: candidate/verified pair counts grow
  * ~linearly with corpus size (per-copy structure constant ⇒ ×10 rows ⇒
  * ×10 pairs plus the known planted-clique pairs), and total shuffle
  * write grows ~linearly too — nothing all-pairs hides in the plan. Skew
  * guards must fire ZERO on these clean corpora (the caps exist for
  * degenerate boilerplate, and must not tax honest data). Wall-times and
  * the shuffle tallies for the 1×/10× runs are recorded in BASELINE.md
  * (round 13 section) from this spec's `info` output.
  */
class ScaleStressSpec extends SparkTestBase {
  import spark.implicits._

  private val sfDir = "/root/testdata/sf0.1"
  private val Copies = 10
  private val CopyStride = 1000000L

  private def haveData = new java.io.File(s"$sfDir/documents.parquet").exists()

  /** Total shuffle-write bytes across all stages of `body`, plus wall
    * seconds. Listener-bus delivery is async — poll the tally until it
    * goes quiet instead of racing it.
    */
  private def measured[A](what: String)(body: => A): (A, Double, Long) = {
    val bytes = new AtomicLong
    val tally = new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    spark.sparkContext.addSparkListener(tally)
    try {
      val t0 = System.nanoTime()
      val r = body
      val sec = (System.nanoTime() - t0) / 1e9
      var last = -1L
      var spins = 0
      while (bytes.get() != last && spins < 40) { // quiesce, max 10 s
        last = bytes.get(); spins += 1; Thread.sleep(250)
      }
      info(f"$what: $sec%.2f s, shuffle write ${bytes.get() / 1e6}%.1f MB")
      (r, sec, bytes.get())
    } finally spark.sparkContext.removeSparkListener(tally)
  }

  test("quantized IVF serving layout: the same probe reads well under " +
      "half the bytes of the plain layout") {
    import graft.operators.Similarity
    // the raw sf0.1 table is too small for byte-level IO measurement
    // (sub-0.1 MB probes drown in rowgroup granularity) — amplify it
    // 20× with distinct ids so the probed lists span real megabytes
    val base = Tables.load(spark, "/root/testdata/sf0.1", "embeddings")
      .select("vec_id", "embedding")
    val corpus = (0 until 20).map(c => base.select(
        (col("vec_id") + lit(c * 1000000L)).as("vec_id"),
        col("embedding")))
      .reduce(_ unionByName _)
    val queries = base.filter(col("vec_id") % 400 === 0)
      .pinnedCheckpoint()
    val index = Similarity.buildIvfIndex(corpus, "embedding", "vec_id",
      nlist = 16)
    val plainDir = java.nio.file.Files
      .createTempDirectory("graft-io-plain").toString
    val qDir = java.nio.file.Files
      .createTempDirectory("graft-io-q").toString
    Similarity.saveIvfIndex(index, plainDir)
    Similarity.saveQuantizedIvfIndex(index, qDir)
    // the observable: the probe scan's post-partition-pruning file
    // bytes (the FileSourceScan's own "size of files read" metric) —
    // deterministic, and exactly what the probed lists cost to read.
    // AQE off so the executed plan's scan nodes are directly visible.
    def probe(ix: Similarity.IvfIndex,
        dirToken: String): (Long, Long) = {
      val df = Similarity.ivfTopK(ix, queries, "embedding", "vec_id",
        k = 10, nprobe = 4)
      // execute THIS df's plan instance (df.count() would build and run
      // a separate aggregate plan, leaving these scan metrics at zero)
      val n = df.queryExecution.executedPlan.execute().count()
      val bytes = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths
              .exists(_.toString.contains(dirToken)) =>
          s.metrics.collectFirst {
            case (k, m) if k.equalsIgnoreCase("filesSize") ||
                m.name.exists(_.contains("size of files")) => m.value
          }.getOrElse(0L)
      }.sum
      (n, bytes)
    }
    val saved = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val (nPlain, plainBytes) = probe(
        Similarity.loadIvfIndex(spark, plainDir), plainDir)
      val (nQuant, quantBytes) = probe(
        Similarity.loadQuantizedIvfIndex(spark, qDir), qDir)
      // both layouts rank the same probed lists; the quantized scan is
      // the IO claim — int8 lists against array<double> embeddings
      assert(nPlain > 0 && nQuant == nPlain,
        s"result cardinality diverged: $nPlain vs $nQuant")
      assert(plainBytes > 0 && quantBytes > 0,
        s"scan metric missing: $plainBytes / $quantBytes")
      info(f"probe scan bytes: plain ${plainBytes / 1e6}%.1f MB, int8 " +
        f"${quantBytes / 1e6}%.1f MB " +
        f"(${plainBytes.toDouble / quantBytes}%.1f× less)")
      assert(quantBytes * 2 < plainBytes,
        s"quantized probe must read well under half the plain bytes: " +
          s"$quantBytes vs $plainBytes")
    } finally spark.conf.set("spark.sql.adaptive.enabled", saved)
  }

  /** Rows from the seeded planted-candidate selection that are
    * near-dup-free in the base corpus — excluding base-pair members keeps
    * every planted clique EXACTLY the 10 verbatim copies, so its expected
    * pair count (45) and component size (10) are closed-form.
    */
  private def plantedIds(base: DataFrame, basePairs: DataFrame,
      key: String, sel: org.apache.spark.sql.Column): Set[Long] = {
    val paired = basePairs.select(col("key_a").as("k"))
      .union(basePairs.select(col("key_b").as("k")))
      .distinct().as[Long].collect().toSet
    base.filter(sel).select(key).as[Long].collect().toSet -- paired
  }

  test("minhash → connectedComponents → drop-list scales ~linearly from " +
      "1× to 10× (pairs, shuffle, zero guard drops on clean data)") {
    assume(haveData, "sf0.1 testdata not present")
    val guard = GuardMetrics.of(spark.sparkContext, "minhash")
    guard.reset()
    // the q30 corpus shape: documents plus every 10th doc re-inserted
    // under a shifted id — guarantees ~500 jaccard-1.0 base pairs, so
    // the within-copy linearity check has real signal, not an empty set
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val base = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))
    val nBase = base.count()

    def pairsOf(df: DataFrame) = Dedup.minhashNearDuplicates(
      df, "text", "doc_id", threshold = 0.9)

    val (basePairs, baseSec, baseShuffle) = measured("minhash 1×") {
      pairsOf(base).pinnedCheckpoint()
    }
    val nBasePairs = basePairs.count()

    // selection avoids ids ≡ 0 (mod 10): those are the re-inserted exact
    // dups, which are base-pair members and would all be excluded
    val planted = plantedIds(base, basePairs, "doc_id",
      col("doc_id") % 250 === 1)
    assert(planted.size >= 10, s"planted set too small: ${planted.size}")
    // pairs touching a planted doc exist only inside base (unsalted
    // space); per-copy expected pairs = base pairs NOT touching planted
    val cleanBasePairs = basePairs
      .filter(!col("key_a").isInCollection(planted) &&
        !col("key_b").isInCollection(planted))
      .count()

    val amplified = (0 until Copies).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * CopyStride))
        .withColumn("text",
          when((col("doc_id") % CopyStride).isInCollection(planted),
            col("text"))
            .otherwise(regexp_replace(col("text"), "(\\S+)", s"$$1x$i")))
    }.reduce(_ unionByName _)
    assert(amplified.count() == nBase * Copies)

    val (bigPairs, bigSec, bigShuffle) = measured("minhash 10×") {
      pairsOf(amplified).pinnedCheckpoint()
    }
    // split the 10× pairs into the two closed-form populations
    val crossPlanted = bigPairs
      .filter((col("key_a") % CopyStride).isInCollection(planted))
    val nCross = crossPlanted.count()
    val nWithin = bigPairs.count() - nCross

    // every planted clique is 10 verbatim copies: identical signatures
    // co-bucket with probability 1, so exactly C(10,2)=45 pairs each,
    // all at jaccard 1.0, and both endpoints share the base id
    assert(nCross == planted.size * 45L,
      s"planted cliques: expected ${planted.size * 45}, got $nCross")
    assert(crossPlanted
      .filter(col("key_a") % CopyStride =!= col("key_b") % CopyStride)
      .count() == 0, "a planted pair crossed base ids")
    // the LSH promise: per-copy structure constant ⇒ ~10× the clean base
    // pairs. Banding recall is probabilistic per salted copy (shingle
    // hashes differ), hence a band, not equality.
    assert(nWithin >= 8L * cleanBasePairs && nWithin <= 12L * cleanBasePairs,
      s"within-copy pairs not ~linear: base=$cleanBasePairs ×10 " +
        s"expected, got $nWithin")
    // shuffle grows ~linearly: well under quadratic (×100), slack for
    // fixed per-stage overheads and the planted-clique extra pairs
    assert(bigShuffle <= 15L * math.max(baseShuffle, 1L),
      s"shuffle super-linear: 1×=$baseShuffle B, 10×=$bigShuffle B")
    assert(guard.droppedRows.value == 0,
      s"skew guard fired on clean data: ${guard.droppedRows.value} rows")

    val (components, compSec, compShuffle) = measured("components 10×") {
      Dedup.connectedComponents(bigPairs).pinnedCheckpoint()
    }
    // each planted clique collapses to ONE component of exactly its 10
    // copies, labeled by its minimum key (the copy-0 id)
    val plantedComps = components
      .filter((col("key") % CopyStride).isInCollection(planted))
      .withColumn("base", col("key") % CopyStride)
      .groupBy("base")
      .agg(countDistinct("component").as("nc"), count(lit(1)).as("n"),
        min("component").as("minc"), min("key").as("mink"))
      .collect()
    assert(plantedComps.length == planted.size)
    plantedComps.foreach { r =>
      assert(r.getAs[Long]("nc") == 1L && r.getAs[Long]("n") == 10L &&
        r.getAs[Long]("minc") == r.getAs[Long]("mink"),
        s"planted clique mislabeled: $r")
    }

    // e2e drop-list (the dropNearDuplicateClusters composition): every
    // cluster keeps exactly its min key; planted cliques drop 9 of 10
    val (survivors, dropSec, _) = measured("drop-list 10×") {
      val drops = components
        .filter(col("key") =!= col("component")).select(col("key"))
      amplified.join(drops.withColumnRenamed("key", "doc_id"),
        Seq("doc_id"), "left_anti").count()
    }
    val clusters = components.select("component").distinct().count()
    val allKeys = components.count()
    assert(survivors == nBase * Copies - (allKeys - clusters),
      s"drop-list arithmetic: $survivors survivors, $allKeys keys in " +
        s"$clusters clusters")
    info(f"scaling: base=$nBase docs/$nBasePairs pairs " +
      f"(clean $cleanBasePairs) in $baseSec%.2f s; " +
      f"10×=${nBase * Copies} docs/${nWithin + nCross} pairs in " +
      f"$bigSec%.2f s; components $compSec%.2f s " +
      f"(${compShuffle / 1e6}%.1f MB), drop-list $dropSec%.2f s; " +
      f"pair ratio ${nWithin.toDouble / math.max(cleanBasePairs, 1)}%.1f×, " +
      f"shuffle ratio ${bigShuffle.toDouble / math.max(baseShuffle, 1)}%.1f×")
  }

  test("repeatedSpans at 10×: exact-copy amplification with a scaled " +
      "minCount keeps the repeated set fixed — spans exactly ×10, " +
      "shuffle far under quadratic") {
    assume(haveData, "sf0.1 testdata not present")
    // planted boilerplate (the q81 fixture shape): a license header on
    // every 5th doc is the only n-gram family crossing minCount
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0,
          concat(lit("standard license header all rights reserved " +
            "worldwide "), col("text"))).otherwise(col("text")).as("text"))
    val (baseSpans, baseSec, baseShuffle) = measured("repeatedSpans 1×") {
      Dedup.repeatedSpans(base, "text", "doc_id", n = 5, minCount = 50)
        .pinnedCheckpoint()
    }
    val nBase = baseSpans.count()
    assert(nBase > 0, "planted header produced no spans")

    // 10 EXACT copies under shifted ids: every n-gram's occurrence count
    // scales exactly ×10 while the DISTINCT gram set stays fixed, so
    // minCount 50→500 selects the bit-identical repeated set and each
    // copy must flag the same spans — a closed-form ×10 on the output.
    val amplified = (0 until Copies).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * CopyStride))
    }.reduce(_ unionByName _)
    val (bigSpans, bigSec, bigShuffle) = measured("repeatedSpans 10×") {
      Dedup.repeatedSpans(amplified, "text", "doc_id",
          n = 5, minCount = 500).pinnedCheckpoint()
    }
    val nBig = bigSpans.count()
    assert(nBig == Copies * nBase,
      s"exact-copy spans must be exactly ×$Copies: 1×=$nBase, 10×=$nBig")
    // every copy's spans reduce to the base span set
    assert(bigSpans.select((col("doc_id") % CopyStride).as("doc_id"),
        col("span_start"), col("span_end")).distinct().count() == nBase,
      "copy spans disagree with the base span set")
    // the count aggregate partial-combines map-side (the exchange
    // carries per-partition-DISTINCT grams) and the hit join + per-doc
    // merge move only linear relations: ×10 input must stay well under
    // quadratic (×100) shuffle — same slack convention as the minhash
    // row above
    assert(bigShuffle <= 15L * math.max(baseShuffle, 1L),
      s"repeatedSpans shuffle super-linear: 1×=$baseShuffle B, " +
        s"10×=$bigShuffle B")
    info(f"repeatedSpans scaling: 1× $nBase spans $baseSec%.2f s " +
      f"(${baseShuffle / 1e6}%.1f MB) → 10× $nBig spans $bigSec%.2f s " +
      f"(${bigShuffle / 1e6}%.1f MB); shuffle ratio " +
      f"${bigShuffle.toDouble / math.max(baseShuffle, 1)}%.1f×")
  }

  test("packChunks at 10×: sequences scale with the token stream, " +
      "shuffle stays ~linear — the distributed prefix sum never " +
      "bottlenecks on one task") {
    assume(haveData, "sf0.1 testdata not present")
    val base = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val (baseSeqs, baseSec, baseShuffle) = measured("packChunks 1×") {
      TextOps.packChunks(base, "text", "doc_id", seqLen = 128)
        .pinnedCheckpoint()
    }
    val nBase = baseSeqs.count()
    assert(nBase > 0)
    assert(baseSeqs.filter(col("n_tokens") === 128).count() >= nBase - 1,
      "all but the final sequence must be exactly seqLen")
    val amplified = (0 until Copies).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * CopyStride))
    }.reduce(_ unionByName _)
    val (bigSeqs, bigSec, bigShuffle) = measured("packChunks 10×") {
      TextOps.packChunks(amplified, "text", "doc_id", seqLen = 128)
        .pinnedCheckpoint()
    }
    val nBig = bigSeqs.count()
    // stream length is exactly ×10, so the sequence count is
    // ceil(10·T/L) ∈ [10·ceil(T/L) − 9, 10·ceil(T/L)]
    assert(nBig <= Copies * nBase && nBig >= Copies * nBase - (Copies - 1),
      s"sequence count off the closed form: 1×=$nBase, 10×=$nBig")
    assert(bigShuffle <= 15L * math.max(baseShuffle, 1L),
      s"packChunks shuffle super-linear: 1×=$baseShuffle B, " +
        s"10×=$bigShuffle B")
    info(f"packChunks scaling: 1× $nBase seqs $baseSec%.2f s " +
      f"(${baseShuffle / 1e6}%.1f MB) → 10× $nBig seqs $bigSec%.2f s " +
      f"(${bigShuffle / 1e6}%.1f MB); shuffle ratio " +
      f"${bigShuffle.toDouble / math.max(baseShuffle, 1)}%.1f×")
  }

  test("simhash banding: the band-bucket exchange scales ~linearly at " +
      "10× with zero guard drops on a fingerprint-concentrated corpus") {
    assume(haveData, "sf0.1 testdata not present")
    // The synthetic documents draw from a ~20-word vocabulary, so
    // 32-bit simhash fingerprints concentrate hard (the base corpus
    // holds a 248-doc identical-token-set cluster and ~266k hamming-0
    // pairs, most by VOTE COINCIDENCE between distinct token sets).
    // Two scaling facts are salt-invariant and under test here: the
    // band-row exchange grows ~linearly with rows, and even this
    // concentration stays under the default hot-bucket cap — the guard
    // must not tax it. PAIR-level linearity is deliberately NOT
    // asserted: coincidence-h0 pairs re-randomize with each copy's
    // token draw (measured ~96k/copy vs 230k in base), which is the
    // measured reason exact-verify minhash is the primary near-dup
    // path and simhash the compact-fingerprint secondary.
    // Pinned at bits = 32, where this measurement was calibrated: at 64
    // the coincidence floor vanishes (the Zipf tests below measure
    // that), but this fixture's MARGINAL hamming-2/3 population between
    // near-identical ~15-token sets still re-randomizes per copy salt,
    // so pair-derived shuffle has no stable 1× yardstick here at 64 —
    // the width-bearing pair claims live in the Zipf pair tests.
    val guard = GuardMetrics.of(spark.sparkContext, "simhash")
    guard.reset()
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val base = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))

    def pairsOf(df: DataFrame) = Dedup.simhashNearDuplicates(
      df, "text", "doc_id", maxDistance = 3, bits = 32)

    val (basePairs, baseSec, baseShuffle) = measured("simhash 1×") {
      pairsOf(base).pinnedCheckpoint()
    }
    val baseDrops = guard.droppedRows.value
    val nBasePairs = basePairs.count()

    val amplified = (0 until Copies).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * CopyStride))
        .withColumn("text",
          regexp_replace(col("text"), "(\\S+)", s"$$1x$i"))
    }.reduce(_ unionByName _)

    val (bigPairs, bigSec, bigShuffle) = measured("simhash 10×") {
      pairsOf(amplified).pinnedCheckpoint()
    }
    val bigDrops = guard.droppedRows.value - baseDrops
    val nBigPairs = bigPairs.count()

    // even this concentration sits under the default cap: the guard
    // exists for degenerate boilerplate and must not tax honest data
    assert(baseDrops == 0 && bigDrops == 0,
      s"guard taxed the corpus: 1× drops=$baseDrops, 10× drops=$bigDrops")
    // the exchange is the 100 TB-relevant exponent: band rows are
    // linear in input, so shuffle write must stay far under quadratic
    assert(bigShuffle <= 15L * math.max(baseShuffle, 1L),
      s"band-row shuffle super-linear: 1×=$baseShuffle, 10×=$bigShuffle")
    assert(nBigPairs > nBasePairs,
      s"10× run lost pairs: 1×=$nBasePairs, 10×=$nBigPairs")
    info(f"simhash: 1×=$nBasePairs pairs/$baseSec%.2f s " +
      f"(${baseShuffle / 1e6}%.1f MB); 10×=$nBigPairs pairs/" +
      f"$bigSec%.2f s (${bigShuffle / 1e6}%.1f MB); shuffle ratio " +
      f"${bigShuffle.toDouble / math.max(baseShuffle, 1)}%.1f×, wall " +
      f"ratio ${bigSec / baseSec}%.1f×")
  }

  test("incremental minhash at 10×: one new copy against a 9-copy " +
      "persisted store equals the 10× batch run restricted to pairs " +
      "touching the new copy, at a fraction of its cost") {
    assume(haveData, "sf0.1 testdata not present")
    // the minhash scaling corpus shape: salted copies + unsalted planted
    // docs, so the increment has BOTH within-copy structure and
    // cross-store planted matches to find (9 per planted id, one per
    // stored copy)
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    val base = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))
    val basePairs = Dedup.minhashNearDuplicates(
      base, "text", "doc_id", threshold = 0.9).pinnedCheckpoint()
    val planted = plantedIds(base, basePairs, "doc_id",
      col("doc_id") % 250 === 1)
    def copy(i: Int): DataFrame =
      base.withColumn("doc_id", col("doc_id") + lit(i * CopyStride))
        .withColumn("text",
          when((col("doc_id") % CopyStride).isInCollection(planted),
            col("text"))
            .otherwise(regexp_replace(col("text"), "(\\S+)", s"$$1x$i")))
    // the persisted store for copies 0–8 (signatures carry the banding
    // parameters' defaults, matching the batch call below); pinned so
    // the increment's measured cost excludes building history
    val store9 = (0 until 9).map(i =>
        Dedup.minhashSignatures(copy(i), "text", "doc_id"))
      .reduce(_ unionByName _).pinnedCheckpoint()
    val (incPairs, incSec, incShuffle) = measured("incremental copy 9") {
      val (pairs, _) = Dedup.minhashNearDuplicatesIncremental(
        copy(9), store9, "text", "doc_id", threshold = 0.9)
      pairs.pinnedCheckpoint()
    }
    val amplified = (0 until Copies).map(copy).reduce(_ unionByName _)
    val (batchPairs, batchSec, batchShuffle) = measured("batch 10×") {
      Dedup.minhashNearDuplicates(amplified, "text", "doc_id",
        threshold = 0.9).pinnedCheckpoint()
    }
    def pairSet(df: DataFrame) = df
      .select("key_a", "key_b", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    val copy9Lo = 9L * CopyStride
    val expected = pairSet(batchPairs)
      .filter(p => p._1 >= copy9Lo || p._2 >= copy9Lo)
    val got = pairSet(incPairs)
    assert(got == expected,
      s"increment diverged from the batch run restricted to copy 9: " +
        s"inc=${got.size} pairs, batch-restricted=${expected.size}; " +
        s"sample diff ${(got diff expected).take(5)} / " +
        s"${(expected diff got).take(5)}")
    // the increment must find the cross-STORE planted matches (copy 9's
    // unsalted planted doc against each of the 9 stored copies)
    val crossStore = got.count(p => p._1 < copy9Lo && p._2 >= copy9Lo)
    assert(crossStore >= planted.size * 9,
      s"cross-store matches missing: expected >= ${planted.size * 9}, " +
        s"got $crossStore")
    // cost: the increment re-bands the store (narrow rows through the
    // guard's one exchange) but shingles only the new copy and verifies
    // only new-touching candidates — its verify work is ~1/10th of the
    // batch rerun's. Assert only the robust direction (strictly cheaper
    // than rerunning the batch), record the measured ratio.
    assert(incShuffle < batchShuffle,
      s"increment shuffled more than the full batch rerun: " +
        s"$incShuffle vs $batchShuffle")
    info(f"incremental: ${got.size} pairs in $incSec%.2f s " +
      f"(${incShuffle / 1e6}%.1f MB shuffle) vs batch 10× " +
      f"${pairSet(batchPairs).size} pairs in $batchSec%.2f s " +
      f"(${batchShuffle / 1e6}%.1f MB); shuffle ratio " +
      f"${incShuffle.toDouble / batchShuffle}%.2f, wall ratio " +
      f"${incSec / batchSec}%.2f")
  }

  test("incremental store flatness: a FIXED increment against a 10× " +
      "larger persisted store shuffles the same bytes — increment cost " +
      "tracks the increment, not the corpus") {
    // the claim the incremental family's scaladocs make, measured: the
    // store is only ever touched map-side (broadcast hit-scan /
    // broadcast relabel), so growing the corpus 10× must not grow the
    // increment's shuffle at all. Wall time may grow mildly (the
    // map-side store scan is linear); shuffle bytes are the honest
    // no-corpus-shuffle observable.
    val smallN = 100000L
    def labelStore(n: Long) = spark.range(n)
      .select(col("id").as("key"), col("id").as("component"))
      .pinnedCheckpoint()
    val ccPairs = spark.range(5000)
      .select((col("id") + 20000000L).as("key_a"),
        (col("id") * 7 % smallN).as("key_b"))
      .pinnedCheckpoint()
    def runCc(store: DataFrame): Long =
      Dedup.connectedComponentsIncremental(store, ccPairs).count()
    val (cc1, _, ccBytes1) = measured("cc store 1×")(runCc(labelStore(smallN)))
    val (cc10, _, ccBytes10) =
      measured("cc store 10×")(runCc(labelStore(10 * smallN)))
    assert(cc1 == smallN + 5000 && cc10 == 10 * smallN + 5000)
    assert(ccBytes10 < 2 * ccBytes1,
      s"label-store 10× must not grow the increment's shuffle: " +
        s"$ccBytes1 -> $ccBytes10")

    def docs(n: Long, off: Long) = spark.range(n)
      .select((col("id") + off).as("doc_id"),
        concat(lit("document body number "), col("id") + off).as("text"))
    def digestStore(n: Long) =
      Dedup.exactSignatures(docs(n, 0), Seq("text"), "doc_id")
        .pinnedCheckpoint()
    // fixed 5k batch: half duplicates of stored docs, half fresh
    val batch = docs(2500, smallN + 50000000L)
      .unionByName(docs(2500, 0)
        .withColumn("doc_id", col("doc_id") + 90000000L))
      .pinnedCheckpoint()
    def runExact(store: DataFrame): Long = {
      val (kept, _) = Dedup.dropExactDuplicatesIncremental(
        batch, store, Seq("text"), "doc_id")
      kept.count()
    }
    // build the stores OUTSIDE the measured blocks: exactSignatures'
    // own groupBy legitimately shuffles store-proportional digest rows
    // once at store-construction time; the claim under test is the
    // per-INCREMENT cost
    val store1 = digestStore(smallN)
    val store10 = digestStore(10 * smallN)
    val (k1, _, exBytes1) =
      measured("digest store 1×")(runExact(store1))
    val (k10, _, exBytes10) =
      measured("digest store 10×")(runExact(store10))
    // the 2500 re-sent bodies dedup against the store at BOTH scales
    assert(k1 == 2500 && k10 == 2500, s"kept $k1 / $k10")
    assert(exBytes10 < 2 * exBytes1,
      s"digest-store 10× must not grow the increment's shuffle: " +
        s"$exBytes1 -> $exBytes10")

    // the embedding-side sibling (lshNeighborPairsIncremental, the
    // per-batch op SimilarityIngest rides): same claim, same shape —
    // the batch side broadcasts, the LSH signature store is scanned
    // map-side (embeddings included), so a 10× store must not grow
    // the increment's shuffle
    val dim = 16
    def vecs(count: Long, off: Long) = spark.range(count)
      .select((col("id") + off).as("vec_id"),
        array((0 until dim).map(j =>
          (pmod(hash(col("id") + off, lit(j)), lit(1000)) / 500.0
            - 1.0)): _*).as("emb"))
    def lshStore(n: Long) = Similarity.lshSignatures(vecs(n, 0), "emb",
      "vec_id", dim).pinnedCheckpoint()
    // fixed 500-vector batch: half exact copies of stored rows (ids
    // 0-249 exist in BOTH stores), half fresh
    val embBatch = vecs(250, 70000000L)
      .unionByName(vecs(250, 0)
        .withColumn("vec_id", col("vec_id") + 80000000L))
      .pinnedCheckpoint()
    // guard OFF: the flatness claim is the zero-store-shuffle shape,
    // exactly as BASELINE documents the minhash incremental (guard ON
    // buys the union-wide cap with a narrow store-sized count
    // exchange — the same trade as minhash's guard-ON banding window)
    def runLsh(store: DataFrame): Long =
      Similarity.lshNeighborPairsIncremental(embBatch, store, "emb",
        "vec_id", dim, threshold = 0.95, maxBucketSize = -1)._1.count()
    val lshStore1 = lshStore(smallN)
    val lshStore10 = lshStore(10 * smallN)
    val (p1, _, lshBytes1) =
      measured("lsh store 1×")(runLsh(lshStore1))
    val (p10, _, lshBytes10) =
      measured("lsh store 10×")(runLsh(lshStore10))
    // the 250 copied vectors match their stored originals at cosine 1
    // at BOTH scales (plus any hash-coincident extras)
    assert(p1 >= 250 && p10 >= 250, s"pairs $p1 / $p10")
    assert(lshBytes10 < 2 * lshBytes1,
      s"LSH-store 10× must not grow the increment's shuffle: " +
        s"$lshBytes1 -> $lshBytes10")

    // the span family's member (repeatedSpansIncremental): the n-gram
    // count store is semi-joined map-side against the broadcast
    // batch-gram set — only batch-gram hits aggregate, so a 10× store
    // must not grow the increment's shuffle
    def spanDocs(count: Long, off: Long) = spark.range(count)
      .select((col("id") + off).as("doc_id"),
        concat_ws(" ",
          lit("shared boilerplate header line"),
          concat(lit("w"), col("id") + off),
          concat(lit("v"), col("id") + off)).as("text"))
    def countStore(n: Long) =
      Dedup.ngramCountStore(spanDocs(n, 0), "text", n = 3)
        .pinnedCheckpoint()
    val spanBatch = spanDocs(500, 60000000L).pinnedCheckpoint()
    def runSpans(store: DataFrame): Long =
      Dedup.repeatedSpansIncremental(spanBatch, store, "text",
        "doc_id", n = 3, minCount = 50)._1.count()
    val spanStore1 = countStore(smallN)
    val spanStore10 = countStore(10 * smallN)
    val (sp1, _, spBytes1) =
      measured("span-count store 1×")(runSpans(spanStore1))
    val (sp10, _, spBytes10) =
      measured("span-count store 10×")(runSpans(spanStore10))
    // every batch doc carries the corpus-shared boilerplate header,
    // whose count is far over minCount at both scales
    assert(sp1 == 500 && sp10 == 500, s"spans $sp1 / $sp10")
    assert(spBytes10 < 2 * spBytes1,
      s"span-count-store 10× must not grow the increment's shuffle: " +
        s"$spBytes1 -> $spBytes10")

    // the fingerprint-family member (simhashNearDuplicatesIncremental-
    // FromSigs, the per-batch op ImageDedupIngest rides over
    // perceptual hashes): guard OFF broadcasts the new batch's banding
    // — the 64-bit fingerprint store is scanned map-side, never
    // shuffled, so a 10× store must not grow the increment's shuffle
    def hashStore(n: Long) = spark.range(n)
      .select(col("id").as("img_id"), xxhash64(col("id")).as("_h"))
      .pinnedCheckpoint()
    // fixed 500-fingerprint batch: half exact copies of stored
    // fingerprints (hamming 0), half fresh
    val hashBatch = spark.range(250)
      .select((col("id") + 70000000L).as("img_id"),
        xxhash64(col("id")).as("_h"))
      .unionByName(spark.range(250)
        .select((col("id") + 80000000L).as("img_id"),
          xxhash64(col("id") + 40000000L).as("_h")))
      .pinnedCheckpoint()
    def runHash(store: DataFrame): Long =
      Dedup.simhashNearDuplicatesIncrementalFromSigs(hashBatch, store,
        "img_id", maxDistance = 3, maxBucketSize = -1)._1.count()
    val hashStore1 = hashStore(smallN)
    val hashStore10 = hashStore(10 * smallN)
    val (h1, _, hBytes1) =
      measured("fingerprint store 1×")(runHash(hashStore1))
    val (h10, _, hBytes10) =
      measured("fingerprint store 10×")(runHash(hashStore10))
    // the 250 copied fingerprints match their stored originals at
    // hamming 0 at BOTH scales (plus any band-coincident extras)
    assert(h1 >= 250 && h10 >= 250, s"pairs $h1 / $h10")
    assert(hBytes10 < 2 * hBytes1,
      s"fingerprint-store 10× must not grow the increment's shuffle: " +
        s"$hBytes1 -> $hBytes10")

    // the line-dedup member (dedupLinesIncremental, the per-batch op
    // DedupIngest's LineDedup stage rides): the line-hash count store
    // is semi-joined map-side against the broadcast batch-hash set —
    // only batch-line HITS reach the membership distinct, so a 10×
    // store must not grow the increment's shuffle
    def lineDocs(count: Long, off: Long) = spark.range(count)
      .select((col("id") + off).as("doc_id"),
        concat(lit("standard syndicated footer notice\n"),
          lit("unique body line number "), col("id") + off).as("text"))
    def lineStore(n: Long) =
      Dedup.lineCountStore(lineDocs(n, 0), "text").pinnedCheckpoint()
    val lineBatch = lineDocs(500, 60000000L).pinnedCheckpoint()
    def runLines(store: DataFrame): Long =
      Dedup.dedupLinesIncremental(lineBatch, store, "text", "doc_id")
        ._1.agg(sum(col("removed_lines"))).first().getLong(0)
    val lineStore1 = lineStore(smallN)
    val lineStore10 = lineStore(10 * smallN)
    val (l1, _, lBytes1) =
      measured("line-count store 1×")(runLines(lineStore1))
    val (l10, _, lBytes10) =
      measured("line-count store 10×")(runLines(lineStore10))
    // every batch doc loses exactly its footer line against the store
    // at both scales; the fresh body lines all survive
    assert(l1 == 500 && l10 == 500, s"removed $l1 / $l10")
    assert(lBytes10 < 2 * lBytes1,
      s"line-count-store 10× must not grow the increment's shuffle: " +
        s"$lBytes1 -> $lBytes10")
  }

  test("exact samplers at 10×: the digest-threshold pre-filter keeps " +
      "the window shuffle quota-sized — sample cost tracks the quota, " +
      "not the corpus") {
    import graft.operators.Splits
    // the claim the round-18 pre-filter makes, measured: the per-domain
    // window sorts only the ~quota+slack threshold survivors, so a 10×
    // corpus must not grow the sampler's shuffle. (The pre-filter scans
    // are map-only; the count aggregation's partials are
    // partitions×domains-sized — both flat.) Before the pre-filter the
    // window exchange was corpus-sized and this ratio was ~10×.
    val domains = 20
    def corpus(n: Long) = spark.range(n)
      .select(col("id").as("image_id"),
        concat(lit("d"), pmod(col("id"), lit(domains))).as("dom"))
      .pinnedCheckpoint()
    val c1 = corpus(100000L)
    val c10 = corpus(1000000L)
    def runStrat(c: DataFrame): Long =
      Splits.stratifiedSample(c, "dom", 50, "image_id").count()
    val (n1, _, b1) = measured("stratified 1×")(runStrat(c1))
    val (n10, _, b10) = measured("stratified 10×")(runStrat(c10))
    assert(n1 == domains * 50L && n10 == domains * 50L, s"$n1 / $n10")
    assert(b10 < 2 * b1,
      s"10× corpus must not grow the sampler's shuffle: $b1 -> $b10")
    // temperatureSample rides the same exactTopQuota kernel
    // (PlanShapeSpec pins its sliver-fed window); one scale point
    // confirms the measured flatness transfers
    def runTemp(c: DataFrame): Long =
      Splits.temperatureSample(c, "dom", 1000, 0.7, "image_id").count()
    val (t1, _, tb1) = measured("temperature 1×")(runTemp(c1))
    val (t10, _, tb10) = measured("temperature 10×")(runTemp(c10))
    assert(t1 == 1000L && t10 == 1000L, s"$t1 / $t10")
    assert(tb10 < 2 * tb1,
      s"10× corpus must not grow temperatureSample's shuffle: " +
        s"$tb1 -> $tb10")
  }

  test("ingest per-batch cost vs version-history width: wide label " +
      "history taxes every batch; compaction returns it to the floor") {
    import graft.streaming.{DedupIngest, VersionedStore}
    // Same LIVE store content throughout — n signature rows, n live
    // labels; only the version-history SHAPE varies. Histories are
    // synthesized directly (the reader cost under test is a function
    // of the directories on disk, not of how they accrued), each `sig/`
    // version with the `_keyrange` sidecar a batch leaves, so the
    // key-order guard reads the history too: the first
    // label version carries the live mapping, each later version the
    // churn rows a relabel-heavy batch leaves behind, which the
    // latest-per-key reconstruction must shuffle on EVERY subsequent
    // batch until compaction folds them away.
    val n = 50000L
    val churnPerVersion = 10000L
    def docsDf(count: Long, off: Long) = spark.range(count)
      .select((col("id") + off).as("doc_id"),
        concat_ws(" ", (1 to 12).map(j =>
          concat(lit(s"w${j}x"), col("id") + off)): _*).as("text"))
    val sigs = Dedup.minhashSignatures(docsDf(n, 0), "text", "doc_id")
      .pinnedCheckpoint()
    def buildStore(root: String, width: Int): Unit =
      for (v <- 1 to width) {
        val slice = sigs.filter(col("doc_id") % width === (v - 1))
        slice.write.mode("overwrite").parquet(s"$root/sig/v=$v")
        VersionedStore.writeKeyRange(slice, "doc_id", s"$root/sig/v=$v")
        val delta =
          if (v == 1) spark.range(n).select(col("id").as("key"),
            col("id").as("component"), lit(1L).as("_v"))
          else spark.range(churnPerVersion).select(
            ((col("id") * 31 + v) % n).as("key"),
            ((col("id") * 31 + v) % n).as("component"),
            lit(v.toLong).as("_v"))
        delta.write.mode("overwrite").parquet(s"$root/labels/v=$v")
      }
    // 50 of the batch's 500 documents re-crawl stored ones, so the batch
    // has near-dup pairs and reads the label store, as a batch that
    // touches stored clusters does; a batch without pairs reads none
    val batch = docsDf(450, 10000000L).union(docsDf(50, 0L)
        .select((col("doc_id") + 20000000L).as("doc_id"), col("text")))
      .pinnedCheckpoint()
    def run(root: String, what: String) = measured(what) {
      DedupIngest.processBatch(batch, 1000L, root, s"$root/kept",
        "text", "doc_id", 64, 16, 3, 0.7, 42, 10000)
    }
    def labelHistoryRows(root: String): Long = spark.read.parquet(
      new java.io.File(s"$root/labels").listFiles()
        .filter(f => f.getName.startsWith("v=") && f.getName != "v=1000")
        .map(_.toString): _*).count()
    def mkRoot(tag: String) =
      java.nio.file.Files.createTempDirectory(tag).toString
    val floorRoot = mkRoot("graft-ing-floor")
    val midRoot = mkRoot("graft-ing-mid")
    val wideRoot = mkRoot("graft-ing-wide")
    buildStore(floorRoot, 2)
    buildStore(midRoot, 10)
    buildStore(wideRoot, 100)
    info(s"label history rows: floor(2v)=${labelHistoryRows(floorRoot)} " +
      s"mid(10v)=${labelHistoryRows(midRoot)} " +
      s"wide(100v)=${labelHistoryRows(wideRoot)}")
    val (_, floorSec, floorBytes) = run(floorRoot, "batch vs 2 versions")
    val (_, midSec, midBytes) = run(midRoot, "batch vs 10 versions")
    val (_, wideSec, wideBytes) = run(wideRoot, "batch vs 100 versions")
    // the width tax is real and visible: the wide history's extra ~1M
    // churn rows ride the per-batch reconstruction shuffle
    assert(wideBytes > floorBytes * 13 / 10,
      s"expected the 100-version history to tax the batch's shuffle: " +
        s"$floorBytes -> $wideBytes")
    val (folds, compactSec, compactBytes) =
      measured("compactStores over 100 versions") {
        DedupIngest.compactStores(spark, wideRoot,
          sizeRatio = Double.PositiveInfinity)
      }
    assert(folds.nonEmpty)
    info(s"post-compaction label history rows: " +
      s"${labelHistoryRows(wideRoot)}")
    val (_, postSec, postBytes) =
      run(wideRoot, "batch vs compacted store")
    // the floor is restored: per-batch cost is the 2-version shape
    // again, not the 100-version one
    assert(postBytes < floorBytes * 13 / 10,
      s"compaction must return the per-batch shuffle to the floor: " +
        s"floor=$floorBytes wide=$wideBytes post=$postBytes")
    info(f"ingest width tax: floor $floorSec%.2f s/${floorBytes / 1e6}%.1f MB, " +
      f"mid $midSec%.2f s/${midBytes / 1e6}%.1f MB, " +
      f"wide $wideSec%.2f s/${wideBytes / 1e6}%.1f MB, " +
      f"compact $compactSec%.2f s/${compactBytes / 1e6}%.1f MB, " +
      f"post $postSec%.2f s/${postBytes / 1e6}%.1f MB")
  }

  /** Deterministic synthetic corpus over a Zipf-distributed ~10k-token
    * vocabulary — the de-degenerated counterpart of the concentrated
    * real-fixture corpus above: with this much vocabulary, distinct
    * token sets hash to near-uniform 32-bit fingerprints, so
    * hamming-coincidence pairs drop from the fixture's ~4 orders above
    * the uniform birthday estimate to WITHIN it, and pair-level
    * assertions become closed-form.
    */
  private def zipfDocs(nDocs: Int, vocab: Int, seed: Long): DataFrame = {
    val rnd = new scala.util.Random(seed)
    // Zipf-Mandelbrot (1/(k+q)^s with q=50): the damped head keeps the
    // long-tail shape of natural text WITHOUT a handful of near-universal
    // tokens — a bare Zipf head (top token in ~10% of draws) leaves most
    // doc pairs sharing identical heavy-token votes, which measurably
    // correlates fingerprints (~7× the uniform coincidence rate); with
    // the damped head the residual sits inside the uniform envelope
    val cum = Array.tabulate(vocab)(k => 1.0 / math.pow(k + 50, 1.07))
      .scanLeft(0.0)(_ + _).tail
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble() * cum.last)
      if (i >= 0) i else -i - 1
    }
    (0 until nDocs).map { d =>
      val len = 40 + rnd.nextInt(41)
      (d.toLong, (0 until len).map(_ => s"tok${draw()}").mkString(" "))
    }.toDF("doc_id", "text")
  }

  /** The Zipf-corpus simhash scaling claim at a given fingerprint width.
    *
    * The concentrated-corpus test above can only assert the exchange
    * exponent — its ~20-word vocabulary makes identical-token-set pairs
    * dominate. Here the corpus is drawn from a 10k-token Zipf
    * vocabulary, which removes the degeneracy and lets the pair-level
    * claim be as tight as minhash's (tighter: simhash banding is
    * pigeonhole-COMPLETE for hamming ≤ 3, so the structural populations
    * are exact counts, not recall bands):
    *  - W: verbatim within-copy dup pairs (δ = 100000) — identical
    *    strings keep identical fingerprints under the per-copy token
    *    salt, so exactly 500 per copy, 10× the base's 500.
    *  - C: the unsalted planted ids form verbatim cross-copy 10-cliques
    *    — exactly C(10,2) = 45 pairs each.
    *  - R: everything else is hash coincidence. A token-salt is a
    *    bijection on tokens but NOT on token hashes, so R re-randomizes
    *    per copy — bounded by the uniform birthday term
    *    n(n−1)/2 · ΣC(bits,i≤3) / 2^bits. R is the reason 64 is the
    *    default width: at 32 the term is real and QUADRATIC (measured
    *    50 → 2,367 pairs at 1×→10× in round 14 — false positives that
    *    pass hamming verification); at 64 it is ~n²·43745/2⁶⁵ ≈ 0 at
    *    any realistic corpus size, so the 64-bit run asserts R at its
    *    floor: effectively zero.
    */
  private def zipfSimhashScaling(bits: Int, sumC: Double,
      rSlackFloor: Double): Unit = {
    val guard = GuardMetrics.of(spark.sparkContext, "simhash")
    guard.reset()
    val docs = zipfDocs(5000, 10000, seed = 271828)
    val base = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L))
      .pinnedCheckpoint()
    val nBase = base.count()

    def pairsOf(df: DataFrame) = Dedup.simhashNearDuplicates(
      df, "text", "doc_id", maxDistance = 3, bits = bits)

    val (basePairs, baseSec, baseShuffle) = measured(s"zipf simhash$bits 1×") {
      pairsOf(base).pinnedCheckpoint()
    }
    def birthday(n: Long): Double =
      n.toDouble * (n - 1) / 2 * sumC / math.pow(2, bits)
    val baseW = basePairs.filter(col("key_b") - col("key_a") === 100000L).count()
    val baseR = basePairs.count() - baseW
    assert(baseW == 500L,
      s"every verbatim dup pair is hamming-0 and banding is complete: " +
        s"expected 500, got $baseW")
    assert(baseR <= math.max(4 * birthday(nBase), rSlackFloor),
      f"base coincidences exceed the uniform birthday envelope " +
        f"(${birthday(nBase)}%.0f expected): $baseR — the vocabulary " +
        "concentrated after all")

    val planted = plantedIds(base, basePairs, "doc_id",
      col("doc_id") % 250 === 3)
    assert(planted.size >= 10, s"planted set too small: ${planted.size}")

    val amplified = (0 until Copies).map { i =>
      base.withColumn("doc_id", col("doc_id") + lit(i * CopyStride))
        .withColumn("text",
          when((col("doc_id") % CopyStride).isInCollection(planted),
            col("text"))
            .otherwise(regexp_replace(col("text"), "(\\S+)", s"$$1x$i")))
    }.reduce(_ unionByName _)

    val (bigPairs, bigSec, bigShuffle) = measured(s"zipf simhash$bits 10×") {
      pairsOf(amplified).pinnedCheckpoint()
    }
    val nBig = nBase * Copies
    val bigW = bigPairs.filter(col("key_b") - col("key_a") === 100000L).count()
    val bigC = bigPairs.filter(
      (col("key_a") % CopyStride).isInCollection(planted) &&
        col("key_a") % CopyStride === col("key_b") % CopyStride).count()
    val bigR = bigPairs.count() - bigW - bigC

    // the tightened-to-minhash-standard claims: structural pairs are
    // EXACTLY linear (not a [8×,12×] recall band — banding is complete)
    assert(bigW == 10L * baseW,
      s"within-copy dup pairs must be exactly 10×: base=$baseW, got $bigW")
    assert(bigC == planted.size * 45L,
      s"planted cliques: expected ${planted.size * 45}, got $bigC")
    assert(bigR <= math.max(4 * birthday(nBig), rSlackFloor),
      f"10× coincidences exceed the uniform birthday envelope " +
        f"(${birthday(nBig)}%.0f expected): $bigR")
    assert(bigShuffle <= 15L * math.max(baseShuffle, 1L),
      s"band-row shuffle super-linear: 1×=$baseShuffle, 10×=$bigShuffle")
    assert(guard.droppedRows.value == 0,
      s"skew guard fired on clean data: ${guard.droppedRows.value} rows")
    info(f"zipf simhash$bits: 1× $nBase docs → W=$baseW R=$baseR " +
      f"(birthday est ${birthday(nBase)}%.1f) $baseSec%.2f s; " +
      f"10× $nBig docs → W=$bigW C=$bigC R=$bigR " +
      f"(birthday est ${birthday(nBig)}%.1f) $bigSec%.2f s; " +
      f"shuffle ${baseShuffle / 1e6}%.1f → ${bigShuffle / 1e6}%.1f MB " +
      f"(${bigShuffle.toDouble / math.max(baseShuffle, 1)}%.1f×)")
  }

  test("simhash32 pairs on a Zipf-10k-vocabulary corpus: structural " +
      "pairs scale EXACTLY linearly at 10×; coincidences stay inside " +
      "the (quadratic) 32-bit uniform birthday envelope") {
    // 5489 = Σ C(32,i), i ≤ 3; the slack floor absorbs small-count noise
    zipfSimhashScaling(bits = 32, sumC = 5489.0, rSlackFloor = 60.0)
  }

  test("simhash64 (the default) on the same Zipf corpus: identical " +
      "structural linearity, and the coincidence population drops to " +
      "the 64-bit floor — effectively zero") {
    // 43745 = Σ C(64,i), i ≤ 3; birthday estimate at 55k docs ≈ 4e-6,
    // so the envelope is the bare floor: R must be ~0, not just linear
    zipfSimhashScaling(bits = 64, sumC = 43745.0, rSlackFloor = 2.0)
  }


  test("lshNeighborPairs scales ~linearly from 1× to 10× (candidates, " +
      "verified pairs, shuffle)") {
    assume(haveData, "sf0.1 testdata not present")
    val dim = 64
    // The raw sf0.1 embeddings are near-isotropic (max pairwise cosine
    // 0.60) — single-table sign-LSH at any useful bit width cannot and
    // should not recall such pairs, so near-DUPLICATE structure is
    // planted: every 20th vector re-inserted under a shifted id with a
    // tiny seeded multiplicative jitter (~0.005 rad ⇒ cosine ≈ 0.9999).
    // That is the workload this operator is FOR (embedding near-dup
    // detection), with a known planted pair count to scale against.
    val jitter = udf((id: Long, v: Seq[Float]) => {
      val r = new scala.util.Random(id)
      v.map(x => (x * (1.0 + 0.005 * r.nextGaussian())).toFloat)
    })
    val raw = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val base = raw.unionByName(raw.filter(col("vec_id") % 20 === 0)
      .withColumn("embedding", jitter(col("vec_id"), col("embedding")))
      .withColumn("vec_id", col("vec_id") + 100000L))
    val nBase = base.count()
    // bucket space sized for the 10× corpus (the scale knob the operator
    // exposes): 2^20 buckets keep expected random collisions ~n²/2^21 ≈
    // O(100) at 21k rows — the candidate count stays duplicate-driven
    val bits = 20
    val threshold = 0.9

    def pairsOf(df: DataFrame, thr: Double) = Similarity.lshNeighborPairs(
      df, "embedding", "vec_id", dim = dim, numBits = bits, threshold = thr)

    val (baseCand, baseSec, baseShuffle) = measured("lsh 1×") {
      pairsOf(base, -1.0).pinnedCheckpoint() // thr -1: ALL candidates
    }
    val nBaseCand = baseCand.count()
    val basePairs = baseCand.filter(col("cosine") >= threshold)
    val nBasePairs = basePairs.count()
    assert(nBasePairs > 50,
      s"planted near-dup recall collapsed: $nBasePairs of ~100 expected")

    // disjoint from the jittered ids (≡ 0 mod 20) by construction
    val planted = plantedIds(base, basePairs, "vec_id",
      col("vec_id") % 100 === 7)
    assert(planted.size >= 5, s"planted set too small: ${planted.size}")
    val cleanBase = basePairs
      .filter(!col("key_a").isInCollection(planted) &&
        !col("key_b").isInCollection(planted))
      .count()

    val perms = (0 until Copies).map(i =>
      new scala.util.Random(9000 + i).shuffle((0 until dim).toVector))
    val amplified = (0 until Copies).map { i =>
      val perm = perms(i)
      val permute = udf((v: Seq[Float]) =>
        if (v == null) null else perm.map(v.apply))
      base.withColumn("vec_id", col("vec_id") + lit(i * CopyStride))
        .withColumn("embedding",
          when((col("vec_id") % CopyStride).isInCollection(planted),
            col("embedding"))
            .otherwise(permute(col("embedding"))))
    }.reduce(_ unionByName _)
    val nBig = nBase * Copies
    assert(amplified.count() == nBig)

    val (bigCand, bigSec, bigShuffle) = measured("lsh 10×") {
      pairsOf(amplified, -1.0).pinnedCheckpoint()
    }
    val nBigCand = bigCand.count()
    val bigPairs = bigCand.filter(col("cosine") >= threshold)
    val crossPlanted = bigPairs
      .filter((col("key_a") % CopyStride).isInCollection(planted))
    val nCross = crossPlanted.count()
    val nWithin = bigPairs.count() - nCross

    // planted vectors are bit-identical across copies → same bucket,
    // cosine 1 → all 45 pairs per clique surface
    assert(nCross == planted.size * 45L,
      s"planted cliques: expected ${planted.size * 45}, got $nCross")
    // verified pairs: per-copy cosine structure is exactly the base's
    // (permutations are orthogonal); candidate recall varies per copy
    // (hyperplanes see permuted coordinates), hence the band
    assert(nWithin >= 7L * cleanBase && nWithin <= 13L * cleanBase,
      s"within-copy pairs not ~linear: base=$cleanBase, got $nWithin")
    // candidates decompose as (true pairs: linear in rows) + (random
    // collisions: the birthday term n²/2^(bits+1), the component the
    // numBits sizing knob controls — ~210 uniform-bucket expectation
    // here, a few × that on non-uniform real data). Assert that bound:
    // it passes with margin, while a bucket-saturated or all-pairs plan
    // (≥ ×100 growth, ≥ 10⁵ candidates at this size) fails it by 30×+.
    val birthday = nBig.toDouble * nBig / (1L << (bits + 1))
    assert(nBigCand <= 13L * math.max(nBaseCand, 1L) +
      (10 * birthday).toLong,
      s"candidates super-linear: 1×=$nBaseCand, 10×=$nBigCand " +
        f"(birthday term $birthday%.0f)")
    // shuffle linearity is only meaningful when the 1× run shuffles at
    // all — at 2k rows Spark may broadcast the bucket join entirely
    if (baseShuffle >= 1000000L)
      assert(bigShuffle <= 15L * baseShuffle,
        s"shuffle super-linear: 1×=$baseShuffle B, 10×=$bigShuffle B")
    info(f"scaling: base=$nBase vecs/$nBaseCand cand/$nBasePairs pairs " +
      f"(clean $cleanBase) in $baseSec%.2f s; 10×=${nBase * Copies} " +
      f"vecs/$nBigCand cand/${nWithin + nCross} pairs in $bigSec%.2f s; " +
      f"cand ratio ${nBigCand.toDouble / math.max(nBaseCand, 1)}%.1f×, " +
      f"shuffle ratio ${bigShuffle.toDouble / math.max(baseShuffle, 1)}%.1f×")
  }

  test("ivfTopK scales ~linearly from 1× to 10× and keeps exact-dup " +
      "recall 1.0 (identical vectors co-assign deterministically)") {
    assume(haveData, "sf0.1 testdata not present")
    val dim = 64
    val k = 15
    val planted = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 100 === 7)
      .select("vec_id").as[Long].collect().toSet
    assert(planted.size >= 10, s"planted set too small: ${planted.size}")
    val base = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val queries = base.filter(col("vec_id").isInCollection(planted))
      .pinnedCheckpoint()

    def topkOf(corpus: DataFrame) = Similarity.ivfTopK(
      corpus, queries, "embedding", "vec_id", k = k, nlist = 64, nprobe = 8)

    val (baseRes, baseSec, baseShuffle) = measured("ivf 1×") {
      topkOf(base).pinnedCheckpoint()
    }
    // 8 of 64 probed lists over 2k rows → ~250 candidates/query ≫ k:
    // every query must fill its top-k
    val baseCounts = baseRes.groupBy("query_id").count()
    assert(baseCounts.count() == planted.size &&
      baseCounts.filter(col("count") =!= k).isEmpty,
      "1× run did not fill top-k for every query")

    // same amplification as the LSH test: seeded coordinate permutations
    // (orthogonal ⇒ within-copy cosines exact), planted rows unpermuted
    // ⇒ each planted query has 9 cross-copy identical twins (cosine 1)
    val perms = (0 until Copies).map(i =>
      new scala.util.Random(9000 + i).shuffle((0 until dim).toVector))
    val amplified = (0 until Copies).map { i =>
      val perm = perms(i)
      val permute = udf((v: Seq[Float]) =>
        if (v == null) null else perm.map(v.apply))
      base.withColumn("vec_id", col("vec_id") + lit(i * CopyStride))
        .withColumn("embedding",
          when((col("vec_id") % CopyStride).isInCollection(planted),
            col("embedding"))
            .otherwise(permute(col("embedding"))))
    }.reduce(_ unionByName _)

    val (bigRes, bigSec, bigShuffle) = measured("ivf 10×") {
      topkOf(amplified).pinnedCheckpoint()
    }
    val bigCounts = bigRes.groupBy("query_id").count()
    assert(bigCounts.count() == planted.size &&
      bigCounts.filter(col("count") =!= k).isEmpty,
      "10× run did not fill top-k for every query")
    // the IVF determinism claim, measured: an identical vector computes
    // identical centroid dots, so all 10 copies assign to ONE list and
    // the query's rank-1 probe is that list — recall of the 9 twins is
    // 1.0 by construction, not luck. Raw vectors have max pairwise
    // cosine ~0.60, so cosine ≥ 0.9999 isolates exactly the twins.
    val twins = bigRes.filter(col("cosine") >= 0.9999)
      .groupBy("query_id").count()
    assert(twins.count() == planted.size &&
      twins.filter(col("count") =!= Copies - 1).isEmpty,
      "exact-dup recall < 1.0: some cross-copy twin missed the top-k")
    // assignment shuffles one row per corpus key (map-side argmin) and
    // the probe join one row per probed corpus row — both linear
    if (baseShuffle >= 1000000L)
      assert(bigShuffle <= 15L * baseShuffle,
        s"shuffle super-linear: 1×=$baseShuffle B, 10×=$bigShuffle B")
    info(f"ivf: ${planted.size} queries; 1×=2k corpus/$baseSec%.2f s " +
      f"(${baseShuffle / 1e6}%.1f MB); 10×=20k corpus/$bigSec%.2f s " +
      f"(${bigShuffle / 1e6}%.1f MB); shuffle ratio " +
      f"${bigShuffle.toDouble / math.max(baseShuffle, 1)}%.1f×; " +
      f"twin recall 9/9 for all queries")
  }
}
