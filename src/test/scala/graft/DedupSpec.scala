package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.operators.Dedup

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different words nothing shared here at all"),
    (5L, "another unrelated document with its own vocabulary entirely"))
    .toDF("doc_id", "text")

  test("exact dedup keeps min key and counts duplicates") {
    val out = Dedup.exact(docs, Seq("text"), "doc_id")
    assert(out.count() == 4)
    val dupRow = out.filter($"dup_count" === 2).collect().head
    assert(dupRow.getAs[Long]("doc_id") == 1L)
  }

  test("exactByDigest matches exact() and dropExactDuplicates removes dups") {
    val byContent = Dedup.exact(docs, Seq("text"), "doc_id")
      .select("doc_id", "dup_count")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val byDigest = Dedup.exactByDigest(docs, Seq("text"), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(byDigest == byContent)
    // multi-column boundaries are unambiguous (JSON rendering): ("ab","c")
    // must NOT collide with ("a","bc")
    val tricky = Seq((1L, "ab", "c"), (2L, "a", "bc")).toDF("id", "x", "y")
    assert(Dedup.exactByDigest(tricky, Seq("x", "y"), "id").count() == 2)
    val kept = Dedup.dropExactDuplicates(docs, Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L)) // doc 2 is the exact dup of 1
  }

  test("exactByDigest hashes nulls distinctly, matching exact()") {
    // every row here is a DISTINCT content group under exact()'s groupBy:
    // null vs "" vs value, and (null, x) vs (x, null) — a separator-joined
    // digest would collide several of them (nulls skipped by concat_ws)
    val nullish = Seq[(java.lang.Long, String, String)](
      (1L, null, "x"), (2L, "x", null), (3L, "", "x"), (4L, "x", ""),
      (5L, null, null), (6L, "", ""), (7L, "x", "x"))
      .toDF("id", "a", "b")
    val byDigest = Dedup.exactByDigest(nullish, Seq("a", "b"), "id")
    assert(byDigest.count() == 7)
    assert(byDigest.agg(max($"dup_count")).as[Long].head() == 1L)
    // and true duplicates WITH nulls still collapse
    val withDup = nullish.unionByName(
      Seq[(java.lang.Long, String, String)]((8L, null, "x")).toDF("id", "a", "b"))
    val groups = Dedup.exactByDigest(withDup, Seq("a", "b"), "id")
    assert(groups.count() == 7)
    assert(groups.filter($"dup_count" === 2).select("id").as[Long].head() == 1L)
  }

  test("jaccard: identical sets → 1.0, disjoint → 0.0") {
    val df = docs.select(
      Dedup.jaccard(Dedup.shingles(lit("a b c d")),
        Dedup.shingles(lit("a b c d"))).as("same"),
      Dedup.jaccard(Dedup.shingles(lit("a b c d")),
        Dedup.shingles(lit("x y z w"))).as("diff")).limit(1)
    val r = df.collect().head
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 0.0)
    // arrays that are not sets count distinct elements: {x,y} ∩ {y,z} is
    // one element of the three in the union
    val nonSet = docs.select(
      Dedup.jaccard(array(lit("x"), lit("x"), lit("y")),
        array(lit("y"), lit("z"))).as("j"),
      Dedup.jaccard(array(lit("x"), lit("x")), array(lit("x"))).as("same"))
      .limit(1).collect().head
    assert(nonSet.getDouble(0) == 1.0 / 3 && nonSet.getDouble(1) == 1.0)
  }

  test("minhashNearDuplicates surfaces exact and near dups, not unrelated") {
    val pairs = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        numHashes = 64, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), s"exact dup pair missing from $pairs")
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
    // deterministic across runs
    val again = Dedup.minhashNearDuplicates(docs, "text", "doc_id",
        numHashes = 64, bands = 32, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == again)
  }

  test("simhash: identical texts equal; near texts closer than far ones") {
    val h = docs.select($"doc_id", Dedup.simhash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(1L), h(3L)) < ham(h(1L), h(4L)))
  }

  test("simhash kernels (32 and 64 bit) match the Catalyst reference " +
      "formulations") {
    // the original (slow, interpreted) Column formulations, kept here as
    // the executable specs of the kernels' semantics
    def tk(text: org.apache.spark.sql.Column) =
      // filter empty tokens: Spark trim is space-only, so tab/newline
      // padding leaves a leading "" after split — the kernels'
      // split+nonEmpty tokenization never sees such tokens
      array_distinct(
        filter(graft.operators.TextOps.tokens(text), t => length(t) > 0))
    def votes(h: org.apache.spark.sql.Column, bits: Int) =
      (0 until bits).map { i =>
        val vote = aggregate(h, lit(0L),
          (acc, x) => acc + when(shiftright(x, i).bitwiseAND(1) === 1, 1L)
            .otherwise(-1L))
        when(vote > 0, lit(1L << i)).otherwise(0L)
      }.reduce(_ bitwiseOR _)
    def simhash32Hof(text: org.apache.spark.sql.Column) =
      votes(transform(tk(text),
        t => hash(t).cast("bigint").bitwiseAND(lit(0xffffffffL))), 32)
    def simhash64Hof(text: org.apache.spark.sql.Column) =
      votes(transform(tk(text), t => xxhash64(t)), 64)
    // include whitespace-padded variants: tab/newline padding must hash
    // the same as the clean text (tokenization is \s+ split + nonEmpty
    // filter on both paths, with no trim-dependent behavior)
    val padded = docs.union(docs.select($"doc_id" + 100,
      concat(lit("\t\n "), $"text", lit(" \t\n"))))
    val rows = padded.select(
        Dedup.simhash($"text", 32).as("fast32"),
        simhash32Hof($"text").as("ref32"),
        Dedup.simhash($"text").as("fast64"), // 64 is the default width
        simhash64Hof($"text").as("ref64"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"32-bit mismatch: $r")
      assert(r.getLong(2) == r.getLong(3), s"64-bit mismatch: $r")
      assert((r.getLong(0) & ~0xffffffffL) == 0L,
        s"32-bit fingerprint overflows 32 bits: $r")
    }
    val clean = padded.select(pmod($"doc_id", lit(100L)).as("id"),
        Dedup.simhash($"text").as("h"))
      .groupBy("id").agg(countDistinct($"h").as("n"))
      .filter($"n" =!= 1).count()
    assert(clean == 0, "padded text must simhash identically to clean text")
  }

  test("simhash of null text is null and null rows pair with nothing") {
    val withNull = docs.union(
      Seq((9L, null.asInstanceOf[String]), (10L, null.asInstanceOf[String]),
        (11L, "")).toDF("doc_id", "text"))
    val h = withNull.select($"doc_id", Dedup.simhash($"text").as("h"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None
        else Some(r.getLong(1)))).toMap
    assert(h(9L).isEmpty && h(10L).isEmpty, "null text must simhash to null")
    assert(h(11L).isDefined) // empty text is a real (all-zero-vote) value
    val pairs = Dedup.simhashNearDuplicates(withNull, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!pairs.exists(p => p._1 >= 9L && p._1 <= 10L || p._2 >= 9L && p._2 <= 10L),
      s"null-text rows must not cluster as near-duplicates: $pairs")
  }

  test("dropNearDuplicates removes the larger key of each dup pair") {
    val out = Dedup.dropNearDuplicates(docs, "text", "doc_id",
        bands = 32, threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    assert(!out.contains(2L)) // dup of 1 → dropped
    assert(out.contains(1L) && out.contains(4L) && out.contains(5L))
  }

  test("simhashNearDuplicates pairs exact/near dups via chunk banding") {
    val pairs = Dedup.simhashNearDuplicates(docs, "text", "doc_id",
        maxDistance = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val keys = pairs.map(p => (p._1, p._2)).toSet
    assert(keys.contains((1L, 2L))) // exact dup: distance 0
    assert(pairs.find(p => p._1 == 1L && p._2 == 2L).get._3 == 0)
    assert(!keys.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated excluded
  }

  test("null and whitespace-only text never pairs in jaccard/minhash paths") {
    val degenerate = Seq((8L, null.asInstanceOf[String]),
      (9L, null.asInstanceOf[String]), (11L, " \t\n ")).toDF("doc_id", "text")
    val withNull = docs.union(degenerate)
    val j = Dedup.ngramJaccardPairs(withNull, "text", "doc_id",
        n = 1, threshold = 0.0)
      .filter($"key_a" >= 8L && $"key_a" <= 11L ||
        $"key_b" >= 8L && $"key_b" <= 11L)
      .count()
    assert(j == 0, "degenerate-text rows must not appear in jaccard pairs")
    val m = Dedup.minhashNearDuplicates(withNull, "text", "doc_id",
        numHashes = 64, bands = 32, threshold = 0.0)
      .filter($"key_a" >= 8L && $"key_a" <= 11L ||
        $"key_b" >= 8L && $"key_b" <= 11L)
      .count()
    assert(m == 0, "degenerate-text rows must not appear in minhash pairs")
  }

  test("connectedComponents fails loudly when iterations are exhausted") {
    // a 6-chain needs ~4 propagation rounds; cap at 1 → must raise
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("key_a", "key_b")
    intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIterations = 1).collect()
    }
    // opt-out returns (possibly truncated) labels instead
    val truncated = Dedup.connectedComponents(chain, maxIterations = 1,
      failOnNonConvergence = false)
    assert(truncated.count() == 6)
  }

  test("connectedComponents resolves chains and cliques to min labels") {
    // chain 1-2-3-4-5 (diameter 4, multiple propagation rounds), clique
    // {10,11,12}, isolated pair {20,21}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (10L, 12L), (11L, 12L), (20L, 21L))
      .toDF("key_a", "key_b")
    val got = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 5L).forall(got(_) == 1L), s"chain: $got")
    assert((10L to 12L).forall(got(_) == 10L), s"clique: $got")
    assert(got(20L) == 20L && got(21L) == 20L, s"pair: $got")
    assert(got.size == 10)
  }

  test("connectedComponents over jaccard pairs clusters the dup graph") {
    // duplicate chain via overlapping texts: a~b, b~c but NOT a~c at the
    // threshold — components must still merge all three
    val chain = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "beta gamma delta epsilon"), // high overlap with 1 and 3
      (3L, "gamma delta epsilon zeta"),
      (4L, "totally different content here")).toDF("doc_id", "text")
    val pairs = Dedup.ngramJaccardPairs(chain, "text", "doc_id",
      n = 1, threshold = 0.5)
    val pairSet = pairs.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet == Set((1L, 2L), (2L, 3L)), s"pairs: $pairSet")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"comps: $comps")
  }

  test("minhash skew cap bounds degenerate buckets, default leaves dups") {
    // 6 identical docs all land in the same bucket in EVERY band: with the
    // default cap they pair fully (15 pairs); with a tiny cap the bucket
    // is dropped in every band and no candidates are emitted — the
    // documented recall trade for bounding the B² blow-up
    val boiler = (1L to 6L).map(i => (i, "same boilerplate text here"))
      .toDF("doc_id", "text")
    val full = Dedup.minhashNearDuplicates(boiler, "text", "doc_id",
      numHashes = 8, bands = 4, shingleSize = 2)
    assert(full.count() == 15)
    val capped = Dedup.minhashNearDuplicates(boiler, "text", "doc_id",
      numHashes = 8, bands = 4, shingleSize = 2, maxBucketSize = 3)
    assert(capped.count() == 0)
  }

  test("bucket-guard drops are observable in the GuardMetrics " +
      "accumulators, and clean corpora leave them at zero") {
    import graft.operators.GuardMetrics
    val ctr = GuardMetrics.of(spark.sparkContext)
    val boiler = (1L to 6L).map(i => (i, "same boilerplate text here"))
      .toDF("doc_id", "text")
    ctr.reset()
    Dedup.minhashNearDuplicates(boiler, "text", "doc_id",
      numHashes = 8, bands = 4, shingleSize = 2, maxBucketSize = 3).count()
    // 6 identical docs co-bucket in every one of the 4 bands
    assert(ctr.droppedRows.value == 24L,
      s"expected 6 rows x 4 bands, got ${ctr.droppedRows.value}")
    assert(ctr.droppedCohorts.value == 4L,
      s"expected one cohort per band, got ${ctr.droppedCohorts.value}")
    ctr.reset()
    Dedup.minhashNearDuplicates(boiler, "text", "doc_id",
      numHashes = 8, bands = 4, shingleSize = 2).count() // default cap
    assert(ctr.droppedRows.value == 0L && ctr.droppedCohorts.value == 0L,
      "an under-cap corpus must not touch the drop counters")
  }

  test("minhash and simhash guards in ONE query count independently " +
      "under their own tags") {
    import graft.operators.GuardMetrics
    val sc = spark.sparkContext
    val boiler = (1L to 6L).map(i => (i, "same boilerplate text here"))
      .toDF("doc_id", "text")
    GuardMetrics.resetAll(sc)
    val mh = Dedup.minhashNearDuplicates(boiler, "text", "doc_id",
      numHashes = 8, bands = 4, shingleSize = 2, maxBucketSize = 3)
    val sh = Dedup.simhashNearDuplicates(boiler, "text", "doc_id",
      maxBucketSize = 3)
    // ONE query over both guarded operators: 6 identical docs co-bucket
    // in every one of the 4 bands/chunks on each side
    mh.select("key_a").union(sh.select("key_a")).count()
    val mhc = GuardMetrics.of(sc, "minhash")
    val shc = GuardMetrics.of(sc, "simhash")
    val total = GuardMetrics.of(sc)
    assert(mhc.droppedRows.value == 24L && mhc.droppedCohorts.value == 4L,
      s"minhash tag: ${mhc.droppedRows.value}/${mhc.droppedCohorts.value}")
    assert(shc.droppedRows.value == 24L && shc.droppedCohorts.value == 4L,
      s"simhash tag: ${shc.droppedRows.value}/${shc.droppedCohorts.value}")
    assert(total.droppedRows.value == 48L &&
      total.droppedCohorts.value == 8L,
      s"untagged total: ${total.droppedRows.value}/" +
        s"${total.droppedCohorts.value}")
  }

  test("maxBucketSize <= 0 sentinel skips the skew-guard window entirely") {
    // guard off: the boilerplate bucket pairs fully (guard would too at the
    // default cap — same result, cheaper plan), and the physical plan has
    // no Window node at all; contract holds for minhash AND simhash
    val boiler = (1L to 6L).map(i => (i, "same boilerplate text here"))
      .toDF("doc_id", "text")
    val off = Dedup.minhashNearDuplicates(boiler, "text", "doc_id",
      numHashes = 8, bands = 4, shingleSize = 2, maxBucketSize = 0)
    assert(off.count() == 15)
    assert(!off.queryExecution.executedPlan.toString.contains("Window"),
      "sentinel must remove the guard window from the plan")
    val simOff = Dedup.simhashNearDuplicates(boiler, "text", "doc_id",
      maxBucketSize = -1)
    assert(simOff.count() == 15)
    assert(!simOff.queryExecution.executedPlan.toString.contains("Window"))
    // guard ON at the same corpus: identical pairs (clean-corpus no-op)
    val on = Dedup.simhashNearDuplicates(boiler, "text", "doc_id")
    assert(on.count() == 15)
  }

  test("simhash pigeonhole completeness: under-cap corpora yield EVERY " +
      "hamming<=3 pair (property)") {
    // The operator's whole correctness story is the pigeonhole argument: a
    // pair within hamming distance 3 of each other must agree on at least
    // one of the four 8-bit chunks, so chunk-bucket banding can only MISS a
    // pair when a skew cap drops its every shared bucket. On corpora whose
    // buckets stay under the cap (any corpus smaller than the cap is), the
    // result must therefore EQUAL the exhaustive O(n²) answer — soundness
    // and completeness, cross-checked per random corpus. A tiny shared
    // vocabulary makes near-dup pairs the common case, so the completeness
    // direction is exercised hard, not vacuously.
    val vocab = Seq("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta", "theta")
    val corpusGen: Gen[Seq[(Long, String)]] = for {
      n <- Gen.choose(3, 12)
      texts <- Gen.listOfN(n,
        Gen.choose(3, 10).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
    } yield texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def samples[T](g: Gen[T], n: Int): Seq[T] =
      (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))
    // both widths share the banding machinery; run the property at each
    for (bits <- Seq(32, 64); corpus <- samples(corpusGen, 3)) {
      val df = corpus.toDF("doc_id", "text")
      val hashes = df.select(col("doc_id"), Dedup.simhash(col("text"), bits))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val expected = (for {
        a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
        h = java.lang.Long.bitCount(hashes(a) ^ hashes(b)) if h <= 3
      } yield (a, b, h)).toSet
      val got = Dedup.simhashNearDuplicates(df, "text", "doc_id", bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == expected, s"bits=$bits corpus=$corpus\n" +
        s"missing=${expected -- got}\nextra=${got -- expected}")
    }
  }

  test("dropNearDuplicateClusters keeps one row per cluster; greedy can't") {
    // near-dup chain where the cluster minimum (3) sits mid-chain: doc 9
    // is a near-dup of BOTH 5 and 3, but 5 and 3 share no pair. Greedy
    // pair-dropping keeps {3, 5} (+8); cluster labeling keeps only {3}.
    // unigram jaccard: 5~9 and 3~9 share 9/11 tokens (0.82 ≥ 0.7) but
    // 5~3 share only 8/12 (0.67 < 0.7) — a true chain, not a clique
    val chain = Seq(
      (5L, "b1 b2 b3 b4 b5 b6 b7 b8 x1 x2"),
      (9L, "b1 b2 b3 b4 b5 b6 b7 b8 x1 yy"), // ~dup of 5 AND of 3
      (3L, "b1 b2 b3 b4 b5 b6 b7 b8 yy zz"),
      (8L, "totally different content with none of those words at all"))
      .toDF("doc_id", "text")
    val params = (8, 8, 1, 0.7) // (numHashes, bands, shingle, threshold)
    val clusterKept = Dedup.dropNearDuplicateClusters(chain, "text",
        "doc_id", params._1, params._2, params._3, params._4)
      .select("doc_id").as[Long].collect().toSet
    val greedyKept = Dedup.dropNearDuplicates(chain, "text", "doc_id",
        params._1, params._2, params._3, params._4)
      .select("doc_id").as[Long].collect().toSet
    assert(clusterKept == Set(3L, 8L))
    assert(greedyKept == Set(3L, 5L, 8L)) // the documented over-keep
  }

  test("minhash recall vs the exact jaccard baseline (pinned floor)") {
    // ground truth from the exact O(n²) ngramJaccardPairs on a bounded
    // slice of the real documents fixture; the banded-LSH path at q30's
    // parameters (64 hashes, 16 bands, shingle 3, threshold 0.9) must
    // recover >=0.95 of it. At jaccard s>=0.9 the per-band match
    // probability is s^4 ~ 0.66, so P(missing all 16 bands) < 1e-7 per
    // pair — a sub-0.95 recall here means the banding is broken, not
    // unlucky. Floors documented in COVERAGE.md.
    val docs = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").filter($"doc_id" < 300).select("doc_id", "text")
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("key_a", "key_b").as[(Long, Long)].collect().toSet
    val truth = pairSet(Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      n = 3, threshold = 0.9))
    assert(truth.nonEmpty, "fixture has no jaccard>=0.9 pairs to test on")
    val lsh = pairSet(Dedup.minhashNearDuplicates(docs, "text", "doc_id",
      numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.9))
    val recall = lsh.intersect(truth).size.toDouble / truth.size
    info(f"jaccard>=0.9 pairs: ${truth.size}, minhash recall $recall%.3f")
    assert(recall >= 0.95,
      f"minhash recall $recall%.3f under the 0.95 floor (${truth.size} pairs)")
    // precision is exact by construction: every candidate is verified with
    // the true jaccard before the threshold — no false pairs at all
    assert(lsh.subsetOf(pairSet(Dedup.ngramJaccardPairs(docs, "text",
      "doc_id", n = 3, threshold = 0.9 - 1e-9))))
  }

  test("ngramJaccardPairs ranks the near-dup above unrelated pairs") {
    val out = Dedup.ngramJaccardPairs(docs, "text", "doc_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .toMap
    assert(out((1L, 2L)) == 1.0)
    assert(out((1L, 3L)) > out((1L, 4L)))
  }

  test("incremental minhash: each increment equals the batch run over " +
      "the union-so-far restricted to pairs touching it, and the store " +
      "round-trips through parquet between increments") {
    // real fixture split into 3 id-range batches, plus planted docs that
    // GUARANTEE cross-batch exact and near pairs wherever the fixture's
    // own duplicates happen to fall
    val real = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").filter($"doc_id" < 600).select("doc_id", "text")
    val longA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val longB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val longBNear = longB.replace("beta15", "gamma15") // 25/31 sh ≈ 0.81
    val planted = Seq(
      (9000001L, longA), (9000003L, longB),            // batch 0
      (9000011L, longA), (9000013L, longBNear),        // batch 1
      (9000021L, longA))                               // batch 2
      .toDF("doc_id", "text")
    val corpus = real.unionByName(planted)
    def batchOf(id: Long): Int =
      if (id >= 9000000L) ((id - 9000000L) / 10L).toInt
      else (id / 200L).toInt
    val batchCol = when($"doc_id" >= 9000000L,
      floor(($"doc_id" - 9000000L) / 10)).otherwise(floor($"doc_id" / 200))
    val batches = (0 to 2).map(i => corpus.filter(batchCol === i))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("key_a", "key_b", "jaccard")
        .as[(Long, Long, Double)].collect().toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-sigstore")
    var store = Dedup.minhashSignatures(corpus.limit(0), "text", "doc_id")
    val increments = (0 to 2).map { i =>
      val (pairs, updated) = Dedup.minhashNearDuplicatesIncremental(
        batches(i), store, "text", "doc_id")
      val got = pairSet(pairs)
      // persist + reload EVERY increment: the parity below then proves
      // the parquet round-trip loses nothing the next increment needs
      val dir = s"$tmp/store_$i"
      updated.write.mode("overwrite").parquet(dir)
      store = spark.read.parquet(dir)
      got
    }
    for (i <- 0 to 2) {
      val prefix = batches.take(i + 1).reduce(_.unionByName(_))
      val expected = pairSet(
        Dedup.minhashNearDuplicates(prefix, "text", "doc_id"))
        .filter(p => math.max(batchOf(p._1), batchOf(p._2)) == i)
      assert(increments(i) == expected,
        s"increment $i diverged from the prefix batch run:\n" +
          s" inc   ${increments(i).toSeq.sorted.take(20)}\n" +
          s" batch ${expected.toSeq.sorted.take(20)}")
    }
    // the planted cross-batch pairs surfaced at the right increments
    assert(increments(1).exists(p => p._1 == 9000001L && p._2 == 9000011L
      && p._3 == 1.0), s"cross-batch exact dup missing: ${increments(1)}")
    assert(increments(1).exists(p => p._1 == 9000003L && p._2 == 9000013L
      && p._3 >= 0.7), s"cross-batch near dup missing: ${increments(1)}")
    assert(increments(2).count(p => p._2 == 9000021L && p._3 == 1.0) == 2,
      s"the 3-clique's final increment must pair against BOTH earlier " +
        s"copies: ${increments(2)}")
    // the final store holds one signature row per non-empty-text doc
    val nonEmpty = corpus.filter(
      size(Dedup.shingles($"text")) > 0).count()
    assert(store.count() == nonEmpty)
  }

  test("incremental minhash guard: a bucket crossing the cap stops " +
      "candidate generation at that increment; earlier increments' pairs " +
      "stay emitted (drops are never retroactive)") {
    import graft.operators.GuardMetrics
    val ctr = GuardMetrics.of(spark.sparkContext, "minhash")
    val boiler = "identical boilerplate text repeated across the corpus " +
      "with enough words to shingle"
    val b1 = Seq((1L, boiler), (2L, boiler), (3L, boiler))
      .toDF("doc_id", "text")
    val b2 = Seq((11L, boiler), (12L, boiler), (13L, boiler))
      .toDF("doc_id", "text")
    val cap = 4L
    val store0 = Dedup.minhashSignatures(b1.limit(0), "text", "doc_id")
    val (p1, s1) = Dedup.minhashNearDuplicatesIncremental(b1, store0,
      "text", "doc_id", maxBucketSize = cap)
    val got1 = p1.select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(got1 == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"under-cap increment must pair the full clique: $got1")
    ctr.reset()
    val (p2, _) = Dedup.minhashNearDuplicatesIncremental(b2, s1,
      "text", "doc_id", maxBucketSize = cap)
    assert(p2.count() == 0,
      "the 6-doc bucket crossed the cap: increment 2 must yield nothing")
    assert(ctr.droppedCohorts.value > 0,
      "the crossing must be counted in the minhash guard accumulators")
    // prefix parity holds per increment; the full batch run under the
    // same cap emits NOTHING — the incremental union keeps increment 1's
    // pairs, the documented non-retroactive superset
    val full = Dedup.minhashNearDuplicates(b1.unionByName(b2), "text",
      "doc_id", maxBucketSize = cap)
    assert(full.count() == 0)
  }

  test("minhashSignatures validates the store schema loudly") {
    val good = Dedup.minhashSignatures(docs, "text", "doc_id")
    assert(good.columns.toSeq == Seq("doc_id", "_buckets", "_sh"))
    val missing = intercept[IllegalArgumentException] {
      Dedup.minhashNearDuplicatesIncremental(docs,
        docs.select($"doc_id", $"text".as("_sh")), "text", "doc_id")
    }
    assert(missing.getMessage.contains("_buckets"), missing.getMessage)
    val badType = intercept[IllegalArgumentException] {
      Dedup.minhashNearDuplicatesIncremental(docs,
        docs.select($"doc_id", array($"text").as("_buckets"),
          array($"text").as("_sh")), "text", "doc_id")
    }
    assert(badType.getMessage.contains("array<bigint>"), badType.getMessage)
  }

  test("incremental simhash: each increment equals the batch run over " +
      "the union-so-far restricted to pairs touching it, and the store " +
      "round-trips through parquet between increments") {
    // same 3-batch split as the minhash parity test; the plants are
    // IDENTICAL texts (hamming 0 — deterministic regardless of how the
    // vote sums land) so cross-batch pairs are guaranteed even if the
    // real fixture's simhash pairs all fall within one batch
    val real = graft.core.Tables.load(spark, "/root/testdata/sf0.001",
      "documents").filter($"doc_id" < 600).select("doc_id", "text")
    val longA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val longB = (1 to 30).map(i => s"beta$i").mkString(" ")
    val planted = Seq(
      (9000001L, longA), (9000003L, longB),            // batch 0
      (9000011L, longA),                               // batch 1
      (9000021L, longA), (9000023L, longB))            // batch 2
      .toDF("doc_id", "text")
    val corpus = real.unionByName(planted)
    def batchOf(id: Long): Int =
      if (id >= 9000000L) ((id - 9000000L) / 10L).toInt
      else (id / 200L).toInt
    val batchCol = when($"doc_id" >= 9000000L,
      floor(($"doc_id" - 9000000L) / 10)).otherwise(floor($"doc_id" / 200))
    val batches = (0 to 2).map(i => corpus.filter(batchCol === i))
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("key_a", "key_b", "hamming")
        .as[(Long, Long, Int)].collect().toSet
    val tmp = java.nio.file.Files.createTempDirectory("graft-shstore")
    var store = Dedup.simhashSignatures(corpus.limit(0), "text", "doc_id")
    val increments = (0 to 2).map { i =>
      val (pairs, updated) = Dedup.simhashNearDuplicatesIncremental(
        batches(i), store, "text", "doc_id")
      val got = pairSet(pairs)
      // persist + reload EVERY increment: the parity below then proves
      // the parquet round-trip loses nothing the next increment needs
      val dir = s"$tmp/store_$i"
      updated.write.mode("overwrite").parquet(dir)
      store = spark.read.parquet(dir)
      got
    }
    for (i <- 0 to 2) {
      val prefix = batches.take(i + 1).reduce(_.unionByName(_))
      val expected = pairSet(
        Dedup.simhashNearDuplicates(prefix, "text", "doc_id"))
        .filter(p => math.max(batchOf(p._1), batchOf(p._2)) == i)
      assert(increments(i) == expected,
        s"increment $i diverged from the prefix batch run:\n" +
          s" inc   ${increments(i).toSeq.sorted.take(20)}\n" +
          s" batch ${expected.toSeq.sorted.take(20)}")
    }
    // the planted cross-batch identical pairs surfaced at the right
    // increments, with hamming 0
    assert(increments(1).contains((9000001L, 9000011L, 0)),
      s"cross-batch exact dup missing: ${increments(1)}")
    assert(increments(2).count(p => p._2 == 9000021L && p._3 == 0) == 2,
      s"the A-clique's final increment must pair against BOTH earlier " +
        s"copies: ${increments(2)}")
    assert(increments(2).contains((9000003L, 9000023L, 0)),
      s"the B pair's second copy arrives at increment 2: ${increments(2)}")
    // the final store holds one fingerprint row per doc — simhash keeps
    // empty-text docs (fingerprint 0), unlike the minhash store
    assert(store.count() == corpus.count())
  }

  test("incremental simhash guard: a bucket crossing the cap stops " +
      "candidate generation at that increment; earlier increments' pairs " +
      "stay emitted (drops are never retroactive)") {
    import graft.operators.GuardMetrics
    val ctr = GuardMetrics.of(spark.sparkContext, "simhash")
    val boiler = "identical boilerplate text repeated across the corpus"
    val b1 = Seq((1L, boiler), (2L, boiler), (3L, boiler))
      .toDF("doc_id", "text")
    val b2 = Seq((11L, boiler), (12L, boiler), (13L, boiler))
      .toDF("doc_id", "text")
    val cap = 4L
    val store0 = Dedup.simhashSignatures(b1.limit(0), "text", "doc_id")
    val (p1, s1) = Dedup.simhashNearDuplicatesIncremental(b1, store0,
      "text", "doc_id", maxBucketSize = cap)
    val got1 = p1.select("key_a", "key_b").as[(Long, Long)].collect().toSet
    assert(got1 == Set((1L, 2L), (1L, 3L), (2L, 3L)),
      s"under-cap increment must pair the full clique: $got1")
    ctr.reset()
    val (p2, _) = Dedup.simhashNearDuplicatesIncremental(b2, s1,
      "text", "doc_id", maxBucketSize = cap)
    assert(p2.count() == 0,
      "the 6-doc bucket crossed the cap: increment 2 must yield nothing")
    assert(ctr.droppedCohorts.value > 0,
      "the crossing must be counted in the simhash guard accumulators")
    val full = Dedup.simhashNearDuplicates(b1.unionByName(b2), "text",
      "doc_id", maxBucketSize = cap)
    assert(full.count() == 0)
  }

  test("incremental exact dedup: K-batch keep-set union equals the " +
      "one-shot run, through parquet store round-trips") {
    val b0 = Seq[(Long, String)]((1L, "x"), (2L, "y"), (3L, "x"),
      (4L, null)).toDF("doc_id", "text")
    val b1 = Seq[(Long, String)]((11L, "x"), (12L, "z"), (13L, "z"),
      (14L, null), (15L, "")).toDF("doc_id", "text")
    val b2 = Seq[(Long, String)]((21L, "y"), (22L, "w"))
      .toDF("doc_id", "text")
    val batches = Seq(b0, b1, b2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-digstore")
    var store = Dedup.exactSignatures(b0.limit(0), Seq("text"), "doc_id")
    val kept = batches.zipWithIndex.map { case (b, i) =>
      val (k, updated) = Dedup.dropExactDuplicatesIncremental(
        b, store, Seq("text"), "doc_id")
      val dir = s"$tmp/store_$i"
      updated.write.mode("overwrite").parquet(dir)
      store = spark.read.parquet(dir)
      k.select("doc_id").as[Long].collect().toSet
    }
    // within-batch dup 3 drops; null is a real (kept) group distinct
    // from "" — 14 drops against 4, 15 ships
    assert(kept(0) == Set(1L, 2L, 4L), s"batch 0: ${kept(0)}")
    assert(kept(1) == Set(12L, 15L), s"batch 1: ${kept(1)}")
    assert(kept(2) == Set(22L), s"batch 2: ${kept(2)}")
    // exact equality is transitive: the union EQUALS the one-shot run,
    // no superset caveat
    val oneShot = Dedup.dropExactDuplicates(
      batches.reduce(_ unionByName _), Seq("text"), "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept.reduce(_ | _) == oneShot, s"${kept.reduce(_ | _)} vs $oneShot")
    assert(store.count() == 6) // x y null z "" w
  }

  test("bloomed incremental exact dedup: keep-sets identical to the " +
      "plain incremental; a definitely-fresh batch never reads the " +
      "store; the sidecar round-trips through disk") {
    val batches = Seq(
      Seq((1L, "x"), (2L, "y"), (3L, "x")),
      Seq((11L, "x"), (12L, "z")),
      Seq((21L, "z"), (22L, "w"), (23L, "y")))
    def df(b: Seq[(Long, String)]) = b.toDF("doc_id", "text")
    val empty = df(batches.head).limit(0)
    var store = Dedup.exactSignatures(empty, Seq("text"), "doc_id")
    var storeB = store
    var bloom = Dedup.digestBloom(storeB, expectedItems = 100)
    for (b <- batches) {
      val (kept, updated) = Dedup.dropExactDuplicatesIncremental(
        df(b), store, Seq("text"), "doc_id")
      val (keptB, updatedB, bloomB) =
        Dedup.dropExactDuplicatesIncrementalBloomed(
          df(b), storeB, bloom, Seq("text"), "doc_id")
      def ids(d: org.apache.spark.sql.DataFrame) =
        d.select("doc_id").as[Long].collect().toSet
      assert(ids(keptB) == ids(kept),
        s"bloomed keep-set diverged on batch $b")
      store = updated.localCheckpoint(false)
      storeB = updatedB.localCheckpoint(false)
      bloom = bloomB
    }
    // the sidecar survives persistence with its membership intact
    val dir = java.nio.file.Files.createTempDirectory("graft-bloom")
    Dedup.saveDigestBloom(spark, bloom, s"$dir/bloom.bin")
    val loaded = Dedup.loadDigestBloom(spark, s"$dir/bloom.bin")
    val d2s = storeB.select("_d2").as[Long].collect()
    assert(d2s.nonEmpty && d2s.forall(loaded.mightContainLong),
      "loaded sidecar lost store digests (false negatives)")
    // the zero-positive shortcut, proven: a store whose evaluation
    // THROWS is schema-valid, and a batch the (empty) sidecar has
    // never seen must dedup without ever executing it
    val boom = udf { (l: Long) =>
      if (l != Long.MinValue) throw new RuntimeException("store was read")
      l
    }
    val poison = Seq((1L, "d", 7L)).toDF("doc_id", "_d1", "_d2")
      .filter(boom(col("_d2")) === col("_d2"))
    val (freshKept, _, _) = Dedup.dropExactDuplicatesIncrementalBloomed(
      df(Seq((31L, "totally new content"))), poison,
      Dedup.digestBloom(Dedup.exactSignatures(empty, Seq("text"),
        "doc_id"), expectedItems = 10),
      Seq("text"), "doc_id")
    assert(freshKept.select("doc_id").as[Long].collect().toSet ==
      Set(31L), "fresh batch must keep everything without store I/O")
  }

  test("assertDisjointKeys flags an increment that reuses store keys " +
      "and stays quiet on a disjoint one") {
    val store = Dedup.exactSignatures(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("doc_id", "text"),
      Seq("text"), "doc_id")
    val clash = Seq((2L, "x"), (9L, "y")).toDF("doc_id", "text")
    val err = intercept[IllegalStateException] {
      Dedup.assertDisjointKeys(clash, store, "doc_id")
    }
    assert(err.getMessage.contains("2"), err.getMessage)
    Dedup.assertDisjointKeys(
      Seq((9L, "y")).toDF("doc_id", "text"), store, "doc_id")
    // storeKey covers stores whose key column is named differently
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("key", "component")
    intercept[IllegalStateException] {
      Dedup.assertDisjointKeys(clash, labels, "doc_id", storeKey = "key")
    }
  }

  test("exactSignatures validates the digest store loudly") {
    val missing = intercept[IllegalArgumentException] {
      Dedup.dropExactDuplicatesIncremental(docs,
        docs.select($"doc_id", $"text".as("_d1")), Seq("text"), "doc_id")
    }
    assert(missing.getMessage.contains("_d2"), missing.getMessage)
    val badType = intercept[IllegalArgumentException] {
      Dedup.dropExactDuplicatesIncremental(docs,
        docs.select($"doc_id", $"text".as("_d1"), $"text".as("_d2")),
        Seq("text"), "doc_id")
    }
    assert(badType.getMessage.contains("bigint"), badType.getMessage)
  }

  test("incremental connected components: each increment's full label " +
      "table equals the batch run over the union edge set, through " +
      "parquet store round-trips") {
    // engineered to hit every case across increments: chain extension,
    // an old-old edge MERGING two existing clusters, a brand-new
    // cluster, an internal no-op edge, and a new key becoming the
    // global minimum of a merged cluster
    val b0 = Seq((5L, 9L), (9L, 12L), (20L, 21L), (30L, 31L))
      .toDF("key_a", "key_b")
    val b1 = Seq((12L, 40L), (21L, 30L), (50L, 51L))
      .toDF("key_a", "key_b") // extend; MERGE 20/30-clusters; new cluster
    val b2 = Seq((40L, 1L), (51L, 20L), (5L, 12L))
      .toDF("key_a", "key_b") // new global min 1; merge; internal no-op
    val batchesEdges = Seq(b0, b1, b2)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ccstore")
    var store = Dedup.connectedComponents(b0.limit(0))
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "component").as[(Long, Long)].collect().toSet
    for (i <- 0 to 2) {
      store = Dedup.connectedComponentsIncremental(store, batchesEdges(i))
      val dir = s"$tmp/labels_$i"
      store.write.mode("overwrite").parquet(dir)
      store = spark.read.parquet(dir)
      val prefix = batchesEdges.take(i + 1).reduce(_.unionByName(_))
      val expected = labelSet(Dedup.connectedComponents(prefix))
      assert(labelSet(store) == expected,
        s"increment $i labels diverged from the batch run:\n" +
          s" inc   ${labelSet(store).toSeq.sorted}\n" +
          s" batch ${expected.toSeq.sorted}")
    }
    // the final merged mega-cluster is labeled by the new global min 1
    val byKey = labelSet(store).toMap
    assert(byKey(40L) == 1L && byKey(5L) == 1L && byKey(12L) == 1L,
      s"merged cluster must relabel to the new global minimum: $byKey")
    assert(byKey(50L) == 20L && byKey(31L) == 20L,
      s"the 50-cluster merged into the 20/30 cluster: $byKey")
    // empty increment is the identity
    val same = Dedup.connectedComponentsIncremental(store, b0.limit(0))
    assert(labelSet(same) == labelSet(store))
  }

  test("connectedComponentsIncrementalDelta returns exactly the rows " +
      "whose mapping changed; override-merging it reproduces the full " +
      "incremental") {
    val b0 = Seq((5L, 9L), (9L, 12L), (20L, 21L), (30L, 31L))
      .toDF("key_a", "key_b")
    val b1 = Seq((12L, 40L), (21L, 30L), (50L, 51L))
      .toDF("key_a", "key_b")
    val b2 = Seq((40L, 1L), (51L, 20L), (5L, 12L))
      .toDF("key_a", "key_b")
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "component").as[(Long, Long)].collect().toSet
    var store = Dedup.connectedComponents(b0.limit(0))
    for (edges <- Seq(b0, b1, b2)) {
      val full = labelSet(
        Dedup.connectedComponentsIncremental(store, edges))
      val delta = labelSet(
        Dedup.connectedComponentsIncrementalDelta(store, edges))
      val prior = labelSet(store)
      // delta rows all genuinely differ from the prior store
      assert(delta.forall { case (k, c) => !prior.contains((k, c)) },
        s"delta contains an unchanged mapping: $delta vs $prior")
      // prior overridden by delta == full
      val deltaKeys = delta.map(_._1)
      val merged = prior.filterNot(kv => deltaKeys(kv._1)) | delta
      assert(merged == full, s"override merge diverged:\n $merged\n $full")
      store = spark.createDataFrame(full.toSeq).toDF("key", "component")
    }
    // the last increment relabels the 5-cluster (new global min 1) and
    // folds the 50-cluster into the 20-cluster, while the 20-cluster's
    // own members keep their labels and must NOT surface in the delta
    val lastDelta = labelSet(Dedup.connectedComponentsIncrementalDelta(
      spark.createDataFrame(
        Seq((5L, 5L), (9L, 5L), (12L, 5L), (40L, 5L), (20L, 20L),
          (21L, 20L), (30L, 20L), (31L, 20L), (50L, 50L), (51L, 50L)))
        .toDF("key", "component"), b2))
    assert(lastDelta == Set((1L, 1L), (5L, 1L), (9L, 1L), (12L, 1L),
      (40L, 1L), (50L, 20L), (51L, 20L)), s"delta: $lastDelta")
  }

  test("incremental connected components label string clusters by " +
      "Spark's UTF-8 byte order, not Java's UTF-16 order") {
    // "｡" (U+FF61) sorts first in UTF-8 bytes (EF BD A1 < F0 9F 98 80);
    // String.compareTo puts "😀" (surrogates D83D DE00) first
    val (half, smile, grin) = ("｡", "😀", "😁")
    assert(smile.compareTo(half) < 0)
    val b0 = Seq((smile, grin)).toDF("key_a", "key_b")
    val b1 = Seq((grin, half), ("zz", "ｶ")).toDF("key_a", "key_b")
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "component").as[(String, String)].collect().toSet
    val store = Dedup.connectedComponents(b0)
    val full = labelSet(Dedup.connectedComponentsIncremental(store, b1))
    assert(full == labelSet(Dedup.connectedComponents(b0.unionByName(b1))))
    assert(full == Set(smile -> half, grin -> half, half -> half,
      "zz" -> "zz", "ｶ" -> "zz"), s"labels: $full")
    val delta = labelSet(Dedup.connectedComponentsIncrementalDelta(store, b1))
    assert(delta == full, s"every row changed or is new: $delta")
  }

  test("incremental connected components keep null endpoints as the " +
      "contracted solve did: each non-null endpoint is a vertex, and " +
      "the null key labels itself") {
    val store = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("key", "component")
    val edges = Seq[(Option[Long], Option[Long])]((Some(2L), Some(10L)),
      (None, Some(11L)), (Some(12L), None), (Some(5L), Some(13L)))
      .toDF("key_a", "key_b")
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "component").as[(Option[Long], Option[Long])]
        .collect().toSet
    val newRows = Set(Some(10L) -> Some(1L), Some(11L) -> Some(11L),
      Some(12L) -> Some(12L), Some(13L) -> Some(5L), None -> None)
    assert(labelSet(Dedup.connectedComponentsIncrementalDelta(store,
      edges)) == newRows)
    assert(labelSet(Dedup.connectedComponentsIncremental(store, edges)) ==
      labelSet(store) ++ newRows)
  }

  test("an empty increment has an empty delta and leaves the store as " +
      "it was") {
    val store = Seq((1L, 1L), (2L, 1L), (5L, 5L)).toDF("key", "component")
    val none = Seq.empty[(Long, Long)].toDF("key_a", "key_b")
    def labelSet(df: org.apache.spark.sql.DataFrame) =
      df.select("key", "component").as[(Long, Long)].collect().toSet
    for (s <- Seq(store, store.limit(0))) {
      assert(labelSet(Dedup.connectedComponentsIncrementalDelta(s, none))
        .isEmpty)
      assert(labelSet(Dedup.connectedComponentsIncremental(s, none)) ==
        labelSet(s))
    }
  }

  test("connectedComponentsIncremental validates the label store loudly") {
    val pairs = Seq((1L, 2L)).toDF("key_a", "key_b")
    val bad = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsIncremental(
        pairs.select($"key_a".as("key")), pairs)
    }
    assert(bad.getMessage.contains("component"), bad.getMessage)
  }

  test("a width-32 simhash store against the 64-bit default fails " +
      "loudly instead of silently missing every cross-width duplicate") {
    val longA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val store32 = Dedup.simhashSignatures(
      Seq((1L, longA)).toDF("doc_id", "text"), "text", "doc_id",
      bits = 32)
    val err = intercept[IllegalArgumentException] {
      Dedup.simhashNearDuplicatesIncremental(
        Seq((11L, longA)).toDF("doc_id", "text"), store32, "text",
        "doc_id") // default bits = 64
    }
    assert(err.getMessage.contains("32-bit"), err.getMessage)
  }

  test("a width-32 simhash store built before the 64-bit default keeps " +
      "working by passing bits = 32 through the incremental") {
    val longA = (1 to 30).map(i => s"alpha$i").mkString(" ")
    val b1 = Seq((1L, longA), (2L, "other words entirely here"))
      .toDF("doc_id", "text")
    val b2 = Seq((11L, longA)).toDF("doc_id", "text")
    val store0 = Dedup.simhashSignatures(b1, "text", "doc_id", bits = 32)
    // the 32-bit store really is 32-bit
    assert(store0.agg(max(shiftrightunsigned($"_h", 32))).as[Long].head() == 0L)
    val (pairs, s1) = Dedup.simhashNearDuplicatesIncremental(
      b2, store0, "text", "doc_id", bits = 32)
    assert(pairs.select("key_a", "key_b", "hamming")
      .as[(Long, Long, Int)].collect().toSet == Set((1L, 11L, 0)))
    assert(s1.count() == 3)
    // the default width is 64: identical text fingerprints at full width
    val h64 = Dedup.simhashSignatures(b1, "text", "doc_id")
    assert(h64.agg(max(shiftrightunsigned($"_h", 32))).as[Long].head() > 0L,
      "64-bit fingerprints must use the upper word")
  }

  test("simhashSignatures validates the store schema loudly") {
    val good = Dedup.simhashSignatures(docs, "text", "doc_id")
    assert(good.columns.toSeq == Seq("doc_id", "_h"))
    val missing = intercept[IllegalArgumentException] {
      Dedup.simhashNearDuplicatesIncremental(docs,
        docs.select($"doc_id", $"text"), "text", "doc_id")
    }
    assert(missing.getMessage.contains("_h"), missing.getMessage)
    val badType = intercept[IllegalArgumentException] {
      Dedup.simhashNearDuplicatesIncremental(docs,
        docs.select($"doc_id", $"text".as("_h")), "text", "doc_id")
    }
    assert(badType.getMessage.contains("bigint"), badType.getMessage)
  }

  test("incremental repeated spans: every increment equals the prefix " +
      "batch run restricted to the batch; store round-trips, compacts " +
      "invisibly, validates loudly") {
    // the header's trigram crosses minCount=4 only at batch 1 — batch 0
    // ships unflagged (the documented monotonicity caveat), batches 1-2
    // flag their header docs; one batch-2 doc self-flags via internal
    // repetition alone
    val header = "xa xb xc"
    val batchDefs: Seq[Seq[(Long, String)]] = Seq(
      Seq((1L, s"$header alpha beta gamma"),
        (2L, s"$header delta epsilon zeta"),
        (3L, "eta theta iota kappa")),
      Seq((11L, s"$header lam mu nu"),
        (12L, s"$header xi omicron pi"),
        (13L, "rho sigma tau upsilon")),
      Seq((21L, s"$header phi chi psi"),
        (22L, "ya yb yc ya yb yc ya yb yc ya yb yc end")))
    val n = 3
    val minCount = 4L
    def spanSet(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Int, Int)].collect().toSet
    def maskedMap(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "masked_text").as[(Long, String)]
        .collect().toMap

    val storeDir = java.nio.file.Files
      .createTempDirectory("graft-spanstore").toString
    Dedup.ngramCountStore(batchDefs.head.toDF("doc_id", "text").limit(0),
        "text", n)
      .write.mode("overwrite").parquet(s"$storeDir/v0")
    var storePath = s"$storeDir/v0"
    var prefix = Seq.empty[(Long, String)]
    for ((batch, i) <- batchDefs.zipWithIndex) {
      val batchDF = batch.toDF("doc_id", "text")
      val store = spark.read.parquet(storePath)
      val (spans, updated) = Dedup.repeatedSpansIncremental(batchDF,
        store, "text", "doc_id", n, minCount)
      prefix ++= batch
      val keys = batch.map(_._1).toSet
      val expected = spanSet(
        Dedup.repeatedSpans(prefix.toDF("doc_id", "text"), "text",
          "doc_id", n, minCount)
          .filter($"doc_id".isInCollection(keys)))
      assert(spanSet(spans) == expected,
        s"batch $i spans diverged from the prefix run")
      // masked form agrees with the batch operator over the prefix
      val (masked, _) = Dedup.maskRepeatedSpansIncremental(batchDF,
        store, "text", "doc_id", n, minCount, marker = "<D>")
      val expMasked = maskedMap(
        Dedup.maskRepeatedSpans(prefix.toDF("doc_id", "text"), "text",
          "doc_id", n, minCount, marker = "<D>")
          .filter($"doc_id".isInCollection(keys)))
      assert(maskedMap(masked) == expMasked, s"batch $i mask diverged")
      storePath = s"$storeDir/v${i + 1}"
      updated.write.mode("overwrite").parquet(storePath)
    }
    // batch 0 shipped clean; batch 1's header docs flagged [0,3);
    // batch 2's self-repeating doc flagged by its own occurrences
    val (s2, _) = Dedup.repeatedSpansIncremental(
      batchDefs(2).toDF("doc_id", "text"),
      spark.read.parquet(s"$storeDir/v2"), "text", "doc_id", n, minCount)
    val s2set = spanSet(s2)
    assert(s2set.contains((21L, 0, 3)) &&
      s2set.exists { case (k, _, _) => k == 22L }, s2set.toString)
    // compaction is invisible to the next increment
    val raw = spark.read.parquet(storePath)
    val compacted = Dedup.compactNgramCountStore(raw)
    assert(compacted.count() < raw.count(), "history should fold")
    val next = Seq((31L, s"$header omega end")).toDF("doc_id", "text")
    assert(spanSet(Dedup.repeatedSpansIncremental(next, raw, "text",
        "doc_id", n, minCount)._1) ==
      spanSet(Dedup.repeatedSpansIncremental(next, compacted, "text",
        "doc_id", n, minCount)._1))
    // loud validation
    val bad = intercept[IllegalArgumentException] {
      Dedup.repeatedSpansIncremental(next,
        next.select($"doc_id".as("_h"), $"text"), "text", "doc_id")
    }
    assert(bad.getMessage.contains("_c"), bad.getMessage)
  }

  test("ngramSpans/mergeSpans/maskSpans kernels: positions, multiplicity, " +
      "edges") {
    import Dedup.{Kernels => K}
    // multiplicity kept: "a b a b a" has 2-grams (a b)(b a)(a b)(b a)
    val sp = K.ngramSpans("a b a b a", 2)
    assert(sp.map(s => (s._1, s._2)).toSeq ==
      Seq((0, 2), (1, 3), (2, 4), (3, 5)))
    assert(sp(0)._3 == sp(2)._3 && sp(1)._3 == sp(3)._3
      && sp(0)._3 != sp(1)._3)
    // case-insensitive hashing, original positions
    assert(K.ngramSpans("A B", 2).head._3 == K.ngramSpans("a b", 2).head._3)
    // short doc: one whole-text span
    assert(K.ngramSpans("one two", 5).toSeq ==
      Seq((0, 2, graft.operators.TextOps.ngramHash64("one two"))))
    assert(K.ngramSpans("", 3).isEmpty && K.ngramSpans(null, 3).isEmpty)
    // merge: overlap, adjacency, disjoint
    assert(K.mergeSpans(Seq((0, 5), (3, 7), (7, 9), (12, 14))).toSeq ==
      Seq((0, 9), (12, 14)))
    assert(K.mergeSpans(Nil).isEmpty)
    // mask: drop covered tokens, marker once per span, normalize ws
    assert(K.maskSpans("a  b c\td e", Seq(1, 4), Seq(3, 5), "<DUP>") ==
      "a <DUP> d <DUP>")
    assert(K.maskSpans("a  b\tc", Nil, Nil, "") == "a b c")
    assert(K.maskSpans(null, Nil, Nil, "") == null)
  }

  test("repeatedSpans finds corpus-repeated boilerplate doc-level dedup " +
      "misses; maskRepeatedSpans removes exactly those tokens") {
    // "shared header text" occurs in 3 docs (+ once more inside doc 4,
    // which also repeats it internally — occurrence counting) → the
    // 3-gram count is 5 ≥ 4; everything else is unique
    val corpus = Seq(
      (1L, "shared header text alpha beta gamma delta"),
      (2L, "epsilon shared header text zeta eta theta"),
      (3L, "iota kappa shared header text lambda mu"),
      (4L, "shared header text shared header text nu"),
      (5L, "totally original content with no duplication at all"))
      .toDF("doc_id", "text")
    val spans = Dedup.repeatedSpans(corpus, "text", "doc_id",
        n = 3, minCount = 4)
      .as[(Long, Int, Int)].collect().toSet
    // doc 4: spans [0,3) and [3,6) are adjacent → merged [0,6)
    assert(spans == Set((1L, 0, 3), (2L, 1, 4), (3L, 2, 5), (4L, 0, 6)))
    val masked = Dedup.maskRepeatedSpans(corpus, "text", "doc_id",
        n = 3, minCount = 4, marker = "<DUP>")
      .select("doc_id", "masked_text")
      .as[(Long, String)].collect().toMap
    assert(masked(1L) == "<DUP> alpha beta gamma delta")
    assert(masked(2L) == "epsilon <DUP> zeta eta theta")
    assert(masked(3L) == "iota kappa <DUP> lambda mu")
    assert(masked(4L) == "<DUP> nu")
    // span-free docs come back whitespace-normalized, text intact
    assert(masked(5L) ==
      "totally original content with no duplication at all")
    // empty marker: spans vanish without a trace
    val bare = Dedup.maskRepeatedSpans(corpus, "text", "doc_id",
        n = 3, minCount = 4)
      .select("doc_id", "masked_text").as[(Long, String)].collect().toMap
    assert(bare(4L) == "nu")
    // minCount just above the count: nothing is repeated
    assert(Dedup.repeatedSpans(corpus, "text", "doc_id",
      n = 3, minCount = 6).isEmpty)
  }

  test("dedupLines: corpus-wide keep-first exact-line dedup — trim " +
      "identity, minChars exemption, within-doc repeats, byte-exact " +
      "round-trip for untouched docs, null text, custom delimiter, " +
      "broadcast and shuffle attach parity, repartition determinism") {
    val corpus = Seq(
      // doc 1 owns the footer (first occurrence) and a unique line
      (1L, "unique first line of document one\nshared footer line here"),
      // doc 2 repeats the footer with PADDING (trim-identical) and
      // repeats its own body line within itself
      (2L, "body line of document two\n  shared footer line here  \n" +
        "body line of document two"),
      // doc 3 repeats the footer verbatim and carries short exempt
      // lines that also appear elsewhere
      (3L, "ok\nshared footer line here\nok"),
      // doc 4: untouched — must round-trip byte-exact incl. the
      // trailing empty line and internal blank line
      (4L, "nothing here repeats\n\nnot even this one\n"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.dedupLines(corpus, "text", "doc_id", minChars = 4)
      .select("doc_id", "text_deduped", "kept_lines", "removed_lines")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // doc 1: first occurrence of the footer survives
    assert(out(1L) == (("unique first line of document one\n" +
      "shared footer line here", 2L, 0L)))
    // doc 2: padded footer removed (trim identity), second body line
    // removed (within-doc repeat, first position wins)
    assert(out(2L) == (("body line of document two", 1L, 2L)))
    // doc 3: footer removed; the "ok" lines are exempt (< minChars) and
    // both survive even though repeated corpus-wide
    assert(out(3L) == (("ok\nok", 2L, 1L)))
    // doc 4: byte-exact round-trip (blank + trailing empty preserved)
    assert(out(4L) == (("nothing here repeats\n\nnot even this one\n",
      4L, 0L)))
    // null text passes through
    assert(out(5L) == ((null, 0L, 0L)))

    // shuffle-attach parity and repartition determinism
    val viaShuffle = Dedup.dedupLines(corpus.repartition(7), "text",
        "doc_id", minChars = 4, broadcastRemovals = Some(false))
      .select("doc_id", "text_deduped", "kept_lines", "removed_lines")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(viaShuffle == out)

    // custom delimiter is treated literally (regex metachar)
    val dotted = Seq(
      (1L, "alpha beta gamma.shared sentence here"),
      (2L, "shared sentence here.delta epsilon zeta")
    ).toDF("doc_id", "text")
    val dout = Dedup.dedupLines(dotted, "text", "doc_id",
        minChars = 4, delim = ".")
      .select("doc_id", "text_deduped")
      .as[(Long, String)].collect().toMap
    assert(dout(1L) == "alpha beta gamma.shared sentence here")
    assert(dout(2L) == "delta epsilon zeta")

    // validation fails loud
    intercept[IllegalArgumentException] {
      Dedup.dedupLines(corpus, "nope", "doc_id")
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupLines(corpus, "text", "doc_id", delim = "")
    }
    // reserved output/internal names fail loud, not with an obscure
    // ambiguous-column error downstream
    val carrying = intercept[IllegalArgumentException] {
      Dedup.dedupLines(
        corpus.withColumn("text_deduped", $"text"), "text", "doc_id")
    }
    assert(carrying.getMessage.contains("text_deduped"))
    intercept[IllegalArgumentException] {
      Dedup.dedupLines(corpus.withColumn("_rm", $"doc_id"), "text",
        "doc_id")
    }
    // occurrence-side internals (_h etc.) live in fresh select lineages
    // and cannot collide — a frame carrying them (e.g. one derived from
    // the (_h, _c) count-store relations) must dedup fine
    val withH = Dedup.dedupLines(
      corpus.withColumn("_h", $"doc_id"), "text", "doc_id",
      minChars = 4)
    assert(withH.columns.contains("_h") &&
      withH.count() == corpus.count())
    // ...but the KEY or TEXT column itself named as an internal rides
    // the occurrence lineage and must fail loud, not with an obscure
    // ambiguous-reference error
    val badKey = intercept[IllegalArgumentException] {
      Dedup.dedupLines(corpus.withColumnRenamed("doc_id", "_h"),
        "text", "_h")
    }
    assert(badKey.getMessage.contains("reserved internal"),
      badKey.getMessage)
  }

  test("dedupLinesIncremental: running monotone-key increments against " +
      "the accumulating line-count store keeps EXACTLY the lines one " +
      "batch dedupLines run over the concatenated corpus keeps — " +
      "including trim identity, minChars exemption, within-increment " +
      "repeats, null text, and store-membership removal of an " +
      "increment's own first occurrence") {
    val footer = "shared footer line here"
    val increments = Seq(
      Seq((1L, s"unique first line of document one\n$footer"),
        (2L, s"body line of document two\n  $footer  \n" +
          "body line of document two"),
        (3L, null.asInstanceOf[String])),
      // increment 2: footer known from history (removed even as this
      // batch's first occurrence), one fresh within-batch dup pair,
      // short exempt lines always kept
      Seq((11L, s"$footer\nfresh boilerplate of round two"),
        (12L, "ok\nfresh boilerplate of round two\nok\nown line twelve")),
      // increment 3: hits history from BOTH earlier increments and an
      // untouched doc that must round-trip byte-exact
      Seq((21L, s"fresh boilerplate of round two\n$footer\nnew in three"),
        (22L, "nothing here repeats\n\nnot even this one\n")))
    val full = increments.flatten.toDF("doc_id", "text")
    val batch = Dedup.dedupLines(full, "text", "doc_id", minChars = 4)
      .select("doc_id", "text_deduped", "kept_lines", "removed_lines")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap

    var store = Dedup.lineCountStore(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), "text")
    val incremental = scala.collection.mutable.Map[Long, (String, Long, Long)]()
    for (inc <- increments) {
      val (res, delta) = Dedup.dedupLinesIncremental(
        inc.toDF("doc_id", "text"), store, "text", "doc_id",
        minChars = 4)
      incremental ++= res
        .select("doc_id", "text_deduped", "kept_lines", "removed_lines")
        .as[(Long, String, Long, Long)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4)))
      // delta-valued store: append, never rewrite (readers take
      // membership, so the unaggregated union is fine)
      store = store.union(delta).localCheckpoint(false)
    }
    assert(incremental.toMap == batch,
      s"increment-vs-batch parity broke:\n inc=$incremental\n b=$batch")
    // the accumulated store IS the batch corpus' line-count relation
    val live = store.groupBy("_h").agg(sum($"_c").as("_c"))
      .as[(Long, Long)].collect().toMap
    val fromBatch = Dedup.lineCountStore(full, "text", minChars = 4)
      .as[(Long, Long)].collect().toMap
    assert(live == fromBatch, "store counts diverged from batch counts")

    // shuffled-increment escape hatch agrees
    val (resShuf, _) = Dedup.dedupLinesIncremental(
      increments(2).toDF("doc_id", "text"),
      store.limit(0).union(
        Dedup.lineCountStore(increments.take(2).flatten
          .toDF("doc_id", "text"), "text", minChars = 4)),
      "text", "doc_id", minChars = 4, broadcastIncrement = false,
      broadcastRemovals = Some(false))
    assert(resShuf.select("doc_id", "text_deduped", "kept_lines",
        "removed_lines")
      .as[(Long, String, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap ==
      batch.view.filterKeys(Set(21L, 22L)).toMap)

    // malformed store fails loud
    intercept[IllegalArgumentException] {
      Dedup.dedupLinesIncremental(full, full, "text", "doc_id")
    }
  }

  test("a bucketed digest store re-attaches from its footer: no " +
      "inference job, and the declared DDL equals the inferred one") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-battach")
    val path = s"$tmp/store"
    val store = Dedup.exactSignatures(Seq((1L, "a b"), (2L, "c d"),
      (3L, "a b")).toDF("doc_id", "text"), Seq("text"), "doc_id")
    Dedup.saveBucketedDigestStore(store, "graft_battach_test", path,
      numBuckets = 2)
    // a fresh session has no catalog entry: drop it so the re-attach
    // runs its CREATE TABLE
    spark.sql("DROP TABLE graft_battach_test")
    var attached: org.apache.spark.sql.DataFrame = null
    val jobs = jobsOf {
      attached = Dedup.bucketedDigestStore(spark, "graft_battach_test", path)
    }
    assert(jobs == 0, s"jobs: $jobs")
    assert(attached.schema.toDDL == spark.read.parquet(path).schema.toDDL)
    assert(attached.collect().toSet == store.collect().toSet)
    spark.sql("DROP TABLE graft_battach_test")
  }
}
