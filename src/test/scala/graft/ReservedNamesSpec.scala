package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Joins, Splits, TextOps}

/** Pins every operator family's reserved-name contract, consolidated on
  * `Reserved.requireFreeColumns` / `requireFreeParams` (round-18 advice:
  * the three hand-rolled guards had drifted and span masking / minhash
  * banding / packChunks had none — their collisions surfaced as obscure
  * analyzer errors or silent clobbers). Per family: the POSITIVE case
  * (a clash fails loud, naming the offender) and the NEGATIVE case (an
  * unrelated `_`-prefixed caller column sails through — the guards must
  * reserve only names that actually ride the caller's frame, not the
  * whole internal namespace). The QualityModel / dedupLines /
  * exactTopQuota guards that predate the helper keep their own positive
  * pins in QualityModelSpec / DedupSpec / SplitsSpec.
  */
class ReservedNamesSpec extends SparkTestBase {
  import spark.implicits._

  private def loud(body: => Any): String =
    intercept[IllegalArgumentException](body).getMessage

  private val docs: DataFrame = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon eta"),
    (3L, "one two three four five six")).toDF("doc_id", "text")

  // an innocent caller-frame underscore column that no operator reserves
  private val benign = docs.withColumn("_mine", lit(1))

  test("span family: _spans/masked_text are frame-reserved for the mask " +
      "op; key/text params must avoid the whole internal set; an " +
      "unrelated _column passes") {
    val m1 = loud(Dedup.maskRepeatedSpans(
      docs.withColumn("_spans", lit(1)), "text", "doc_id", n = 2))
    assert(m1.contains("_spans") && m1.contains("maskRepeatedSpans"), m1)
    val m2 = loud(Dedup.maskRepeatedSpans(
      docs.withColumn("masked_text", lit("x")), "text", "doc_id", n = 2))
    assert(m2.contains("masked_text"), m2)
    // a key named like an occurrence-lineage internal fails loud at the
    // call site, not as an ambiguous-reference analyzer error
    val m3 = loud(Dedup.repeatedSpans(
      docs.withColumnRenamed("doc_id", "_h"), "text", "_h", n = 2))
    assert(m3.contains("reserved internal") && m3.contains("_h"), m3)
    val m4 = loud(Dedup.repeatedSpansIncremental(
      docs.withColumnRenamed("doc_id", "_g"),
      Dedup.ngramCountStore(docs.limit(0), "text", n = 2),
      "text", "_g", n = 2))
    assert(m4.contains("reserved internal"), m4)
    // negative: unreserved underscore columns ride through untouched
    val ok = Dedup.maskRepeatedSpans(benign, "text", "doc_id", n = 2,
      minCount = 2)
    assert(ok.columns.contains("_mine") &&
      ok.columns.contains("masked_text"))
  }

  test("minhash family: key/text params must avoid the banding " +
      "internals (batch, signatures, incremental); frame columns are " +
      "free") {
    val m1 = loud(Dedup.minhashNearDuplicates(
      docs.withColumnRenamed("doc_id", "_sh"), "text", "_sh"))
    assert(m1.contains("reserved internal") && m1.contains("_sh"), m1)
    val m2 = loud(Dedup.minhashSignatures(
      docs.withColumnRenamed("text", "pos"), "pos", "doc_id"))
    assert(m2.contains("textCol='pos'"), m2)
    val m3 = loud(Dedup.minhashNearDuplicatesIncremental(
      docs.withColumnRenamed("doc_id", "key_a"),
      Dedup.minhashSignatures(docs.limit(0), "text", "doc_id"),
      "text", "key_a"))
    assert(m3.contains("key_a"), m3)
    // negative: the caller's frame may carry anything not named like
    // the two parameters — internals live in fresh select lineages
    assert(Dedup.minhashNearDuplicates(
      benign.withColumn("_band", lit(9)), "text", "doc_id")
      .columns.sameElements(Array("key_a", "key_b", "jaccard")))
  }

  test("hamming/simhash family: key param must avoid the banding " +
      "internals") {
    val m1 = loud(Dedup.hammingNearDuplicates(
      Seq((1L, 2L)).toDF("_band", "_h"), "_band"))
    assert(m1.contains("reserved internal") && m1.contains("_band"), m1)
    val m2 = loud(Dedup.simhashSignatures(
      docs.withColumnRenamed("doc_id", "_h"), "text", "_h"))
    assert(m2.contains("_h"), m2)
    val m3 = loud(Dedup.simhashNearDuplicatesIncremental(
      docs.withColumnRenamed("doc_id", "hamming"),
      Dedup.simhashSignatures(docs.limit(0), "text", "doc_id"),
      "text", "hamming"))
    assert(m3.contains("hamming"), m3)
  }

  test("LSH/cluster family: a key named like a banding internal fails " +
      "loud, naming the parameter") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)))
      .toDF("doc_id", "embedding")
    val m1 = loud(graft.operators.Similarity.lshNeighborPairs(
      emb.withColumnRenamed("doc_id", "_bucket"), "embedding", "_bucket",
      dim = 2))
    assert(m1.contains("key='_bucket'") && m1.contains("reserved internal"),
      m1)
    val m2 = loud(graft.operators.Similarity.clusterNearDuplicatePairs(
      emb.withColumnRenamed("doc_id", "_cid"), "embedding", "_cid",
      nlist = 1))
    assert(m2.contains("key='_cid'"), m2)
    // negative: the frame may carry banding-named columns that are not
    // parameters
    assert(graft.operators.Similarity.lshNeighborPairs(
      emb.withColumn("_band", lit(9)), "embedding", "doc_id", dim = 2)
      .columns.sameElements(Array("key_a", "key_b", "cosine")))
  }

  test("exact-digest family: key param must avoid _d1/_d2/dup_count " +
      "across batch, signature, and incremental forms") {
    val m1 = loud(Dedup.exact(
      docs.withColumnRenamed("doc_id", "dup_count"), Seq("text"),
      "dup_count"))
    assert(m1.contains("dup_count"), m1)
    val m2 = loud(Dedup.exactByDigest(
      docs.withColumnRenamed("doc_id", "_d1"), Seq("text"), "_d1"))
    assert(m2.contains("_d1"), m2)
    val m3 = loud(Dedup.dropExactDuplicatesIncremental(
      docs.withColumnRenamed("doc_id", "_d2"),
      Dedup.exactSignatures(docs.limit(0), Seq("text"), "doc_id"),
      Seq("text"), "_d2"))
    assert(m3.contains("_d2"), m3)
    // negative: extra caller columns never clash (digests ride a fresh
    // projection)
    assert(Dedup.exactByDigest(benign, Seq("text"), "doc_id")
      .columns.sameElements(Array("doc_id", "dup_count")))
  }

  test("packChunks: a key or chunk column named like a packing internal " +
      "fails loud instead of the withColumn chain silently replacing it") {
    val m1 = loud(TextOps.packChunks(
      docs.withColumnRenamed("doc_id", "_len"), "text", "_len",
      seqLen = 8))
    assert(m1.contains("_len") && m1.contains("packChunks"), m1)
    val m2 = loud(TextOps.packChunks(
      docs.withColumnRenamed("text", "seq"), "seq", "doc_id",
      seqLen = 8))
    assert(m2.contains("chunkCol='seq'"), m2)
    // negative: benign frames pack fine (extra columns are projected
    // away by the packing select, deliberately)
    assert(TextOps.packChunks(benign, "text", "doc_id", seqLen = 8)
      .columns.sameElements(Array("seq_id", "n_tokens", "seq")))
  }

  test("decontamination/LM/langid family: the appended tag columns are " +
      "frame-reserved (re-tagging must drop the stale columns), keys " +
      "must avoid the gram internals") {
    val bench = Seq(("b1", "alpha beta gamma delta epsilon zeta"))
      .toDF("bid", "text")
    val m1 = loud(TextOps.decontaminate(
      docs.withColumn("verdict", lit("keep")), bench, "text"))
    assert(m1.contains("verdict") && m1.contains("decontaminate"), m1)
    val m2 = loud(TextOps.decontaminateRelational(
      docs.withColumn("contamination_frac", lit(0.0)), bench, "text",
      "doc_id"))
    assert(m2.contains("contamination_frac"), m2)
    val m3 = loud(TextOps.decontaminateRelational(
      docs.withColumnRenamed("doc_id", "_h"), bench, "text", "_h"))
    assert(m3.contains("reserved internal"), m3)
    val m4 = loud(TextOps.contaminationReport(
      docs, bench.withColumn("leak_frac", lit(0.0)), "text", "doc_id",
      "bid"))
    assert(m4.contains("leak_frac"), m4)
    val m5 = loud(TextOps.maskContaminated(
      docs.withColumn("masked_text", lit("x")), bench, "text"))
    assert(m5.contains("masked_text"), m5)
    val m6 = loud(TextOps.contaminatedSpans(
      docs.withColumnRenamed("doc_id", "span_start"), bench, "text",
      "span_start"))
    assert(m6.contains("span_start"), m6)
    val lm = TextOps.ngramLm(bench, "text", n = 2)
    val m7 = loud(TextOps.lmScore(
      docs.withColumn("lm_score", lit(0.0)), lm, "text"))
    assert(m7.contains("lm_score"), m7)
    val rel = TextOps.ngramLmRelations(bench, "text", n = 2)
    val m8 = loud(TextOps.lmScoreRelational(
      docs.withColumn("n_ngrams", lit(1L)), rel, "text", "doc_id"))
    assert(m8.contains("n_ngrams"), m8)
    val clm = TextOps.charLangModel(
      Seq(("en", "the quick brown fox jumps")).toDF("lang0", "text"),
      "text", "lang0")
    val m9 = loud(TextOps.langIdTrained(
      docs.withColumn("lang", lit("en")), clm, "text"))
    assert(m9.contains("lang"), m9)
    // negative: a clean frame with unrelated _columns tags fine
    assert(TextOps.decontaminate(benign, bench, "text")
      .columns.contains("verdict"))
  }

  test("embedding/skew/asOf/train guards: appended columns " +
      "frame-reserved, internal-named keys fail loud") {
    val emb = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("doc_id", "embedding")
    val m1 = loud(graft.operators.Similarity.embeddingDecontaminate(
      emb.withColumn("verdict", lit("keep")), emb, "embedding",
      "doc_id"))
    assert(m1.contains("verdict"), m1)
    val m2 = loud(graft.operators.Similarity.cosineTopK(
      emb.withColumnRenamed("doc_id", "cosine"), emb, "embedding",
      "cosine", k = 1))
    assert(m2.contains("cosine"), m2)
    val m3 = loud(graft.operators.SkewOps.saltedSumCount(
      docs.withColumn("_salt", lit(1)).withColumn("v", lit(1.0)),
      Seq("doc_id"), "v"))
    assert(m3.contains("_salt"), m3)
    val m4 = loud(graft.operators.SkewOps.saltedSumCount(
      docs.withColumnRenamed("doc_id", "_s").withColumn("v", lit(1.0)),
      Seq("_s"), "v"))
    assert(m4.contains("_s"), m4)
    val m5 = loud(graft.operators.Joins.asOf(
      docs.withColumnRenamed("doc_id", "_ts").withColumn("t", lit(1L)),
      docs.withColumn("t", lit(1L)), Seq("_ts"), "t", "t", Seq("text"),
      "r_", "backward", None))
    assert(m5.contains("_ts"), m5)
    val m6 = loud(graft.operators.QualityModel.train(
      docs.withColumn("_feat", lit(1)).withColumn("label", lit(1)),
      "text", "label"))
    assert(m6.contains("_feat"), m6)
  }

  test("binned-join family: the _graft_ bin, key, row-id, marker and " +
      "guard names are frame-reserved on both inputs of every form; " +
      "other _columns pass") {
    val pts = Seq(("a", 5L, 1L)).toDF("k", "at", "pid")
    val ivs = Seq(("a", 0L, 10L, 10L)).toDF("k", "lo", "hi", "iid")
    val l = Seq(("a", 0L, 30L, 1L)).toDF("k", "l_lo", "l_hi", "lid")
    val r = Seq(("a", 20L, 80L, 10L)).toDF("k", "r_lo", "r_hi", "rid")
    val m1 = loud(Joins.rangeJoin(pts.withColumn("_graft_bin", lit(1L)),
      ivs, Seq("k"), "at", "lo", "hi", binWidth = 16))
    assert(m1.contains("_graft_bin") && m1.contains("rangeJoin"), m1)
    val m2 = loud(Joins.rangeJoinLeftOuter(pts,
      ivs.withColumn("_graft_rk_k", lit("a")), Seq("k"), "at", "lo", "hi",
      binWidth = 16))
    assert(m2.contains("_graft_rk_k"), m2)
    val m3 = loud(Joins.rangeJoinFullOuter(pts,
      ivs.withColumn("_graft_bn", lit(1L)), Seq("k"), "at", "lo", "hi",
      binWidth = 16))
    assert(m3.contains("_graft_bn"), m3)
    val m4 = loud(Joins.intervalOverlapJoin(l,
      r.withColumn("_graft_bin_r", lit(1L)), Seq("k"), "l_lo", "l_hi",
      "r_lo", "r_hi", binWidth = 64))
    assert(m4.contains("_graft_bin_r"), m4)
    val m5 = loud(Joins.intervalOverlapJoinLeftOuter(
      l.withColumn("_graft_lid", lit(1L)), r, Seq("k"), "l_lo", "l_hi",
      "r_lo", "r_hi", binWidth = 64))
    assert(m5.contains("_graft_lid") &&
      m5.contains("intervalOverlapJoinLeftOuter"), m5)
    val m6 = loud(Joins.intervalOverlapJoinFullOuter(l,
      r.withColumn("_graft_m", lit(1)), Seq("k"), "l_lo", "l_hi",
      "r_lo", "r_hi", binWidth = 64))
    assert(m6.contains("_graft_m"), m6)
    // negative: unreserved underscore columns ride through untouched
    val ok = Joins.rangeJoinFullOuter(pts.withColumn("_mine", lit(7)),
      ivs.withColumn("_bin", lit(8)), Seq("k"), "at", "lo", "hi",
      binWidth = 16)
    assert(ok.columns.toSeq ==
      Seq("k", "at", "pid", "_mine", "lo", "hi", "iid", "_bin"))
    assert(ok.select("_mine", "_bin").as[(Int, Int)].collect().toSeq ==
      Seq((7, 8)))
  }

  test("index/split family: the appended column must be free on the " +
      "caller's frame (withGlobalIndex/withRunningTotal/testDevSplit/" +
      "kfold/shardAssign)") {
    val m1 = loud(Splits.withGlobalIndex(
      docs.withColumn("_idx", lit(7L)), Seq(col("doc_id"))))
    assert(m1.contains("_idx") && m1.contains("withGlobalIndex"), m1)
    val m2 = loud(Splits.withRunningTotal(
      docs.withColumn("_cum", lit(7L)).withColumn("_v", lit(1L)),
      Seq(col("doc_id")), "_v"))
    assert(m2.contains("_cum"), m2)
    val m3 = loud(Splits.testDevSplit(
      docs.withColumn("split", lit("test")), key = "doc_id"))
    assert(m3.contains("split") && m3.contains("testDevSplit"), m3)
    val m4 = loud(Splits.kfold(
      docs.withColumn("fold", lit(1)), k = 2, key = "doc_id"))
    assert(m4.contains("fold"), m4)
    val m5 = loud(Splits.shardAssign(
      docs.withColumn("shard", lit(0L)), Seq(col("doc_id"))))
    assert(m5.contains("shard"), m5)
    // negative: only the op's OWN output name is reserved — a frame
    // carrying `split` k-folds fine, and vice versa
    assert(Splits.kfold(docs.withColumn("split", lit("dev")), k = 2,
      key = "doc_id").columns.contains("fold"))
    assert(Splits.testDevSplit(docs.withColumn("fold", lit(3)),
      key = "doc_id").columns.contains("split"))
  }
}
