package graft

import org.apache.spark.sql.DataFrame

import graft.core.Eager._
import graft.operators.Splits

/** Plan-shape regressions for the scale contract: filters reach the parquet
  * scan, scans read only the projected columns, dimensions broadcast, and
  * the zero-shuffle paths really are zero-shuffle. Runs against the tiny
  * sf0.001 fixture — plan SHAPE is scale-independent even if timings
  * aren't.
  */
class PlanShapeSpec extends SparkTestBase {

  private val sfDir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan.toString

  test("q01: shipdate filter is pushed to the lineitem scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters:") && p.contains("l_shipdate"),
      s"expected a pushed l_shipdate filter in:\n$p")
  }

  test("q01: scan reads only the columns the query needs") {
    val p = plan("q01_pricing_summary")
    // l_partkey/l_suppkey are not referenced; pruning must drop them
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(readSchema.nonEmpty, s"no ReadSchema in:\n$p")
    assert(!readSchema.contains("l_partkey") &&
      !readSchema.contains("l_suppkey"),
      s"unpruned columns in: $readSchema")
  }

  test("q03/q05: dimension joins broadcast, never sort-merge") {
    for (q <- Seq("q03_top_orders", "q05_nation_revenue")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q lost its broadcasts:\n$p")
      assert(!p.contains("SortMergeJoin"),
        s"$q fell back to sort-merge:\n$p")
    }
  }

  test("hashSplit is shuffle-free") {
    val p = Splits.hashSplit(Tables.docs, "doc_id")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"hashSplit must not shuffle:\n$p")
  }

  test("q80 decontaminate tags the corpus map-side — no Exchange in the " +
      "returned plan") {
    import graft.operators.TextOps
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    // benchmark prep (one distinct job + bounded collect) runs eagerly
    // inside the call; what comes back must be scan → project only —
    // any Exchange here would mean the 100 TB corpus shuffles to be
    // TAGGED, which is the shape the operator exists to avoid
    val p = TextOps.decontaminate(docs,
        docs.filter(org.apache.spark.sql.functions.col("doc_id") < 10),
        "text", n = 3, threshold = 0.1)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"decontaminate must tag map-side, no shuffle:\n$p")
    // the surgical forms are map-only too: spans (an explode is narrow)
    // and the mask projection
    val bench = docs.filter(
      org.apache.spark.sql.functions.col("doc_id") < 10)
    for (df <- Seq(
        TextOps.contaminatedSpans(docs, bench, "text", "doc_id", n = 3),
        TextOps.maskContaminated(docs, bench, "text", n = 3))) {
      val sp = df.queryExecution.executedPlan.toString
      assert(!sp.contains("Exchange"),
        s"surgical decontamination must stay map-only:\n$sp")
    }
    // the embedding-space member (q86): broadcast bench kernel, no join,
    // no shuffle — the corpus is TAGGED, never moved
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
    val ep = graft.operators.Similarity.embeddingDecontaminate(emb,
        emb.filter(org.apache.spark.sql.functions.col("vec_id") < 10),
        "embedding", "vec_id")
      .queryExecution.executedPlan.toString
    assert(!ep.contains("Exchange") && !ep.contains("Join"),
      s"embeddingDecontaminate must stay map-only:\n$ep")
  }

  test("q87 decontaminateRelational: the corpus text never rides an " +
      "Exchange — the gram join carries 16-byte hash rows, the hit " +
      "count partial-aggregates, and the sparse stats attach broadcasts") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.operators.TextOps
    val docs = Tables.docs
    // the shape under test is the BIG-benchmark one: broadcast threshold
    // off so the gram join really shuffles (a small bench would
    // auto-broadcast and prove nothing), AQE off for a static plan
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = TextOps.decontaminateRelational(docs,
        docs.filter(col("doc_id") < 10), "text", "doc_id",
        n = 3, threshold = 0.1)
      val plan = out.queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      // allowed exchanges: corpus grams by hash, bench grams by hash
      // (the distinct), hit counts by key — NEVER a corpus row
      assert(shuffles.nonEmpty && shuffles.size <= 3,
        s"expected the 3 hash-sized exchanges, got ${shuffles.size}:\n$plan")
      for (e <- shuffles)
        assert(!e.output.exists(_.name == "text"),
          s"corpus text must never shuffle:\n$plan")
      // the verdict attach rides the explicit broadcast hint even with
      // the threshold disabled — corpus rows stay put
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"stats attach must broadcast:\n$plan")
    }
  }

  test("q96 dedupLines: the corpus text never rides an Exchange when " +
      "the removal attach is forced to broadcast — occurrence rows " +
      "are (key, pos, hash)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.operators.Dedup
    val docs = Tables.docs
    // broadcast threshold off so nothing auto-broadcasts (the explicit
    // hint must carry the attach), AQE off for a static plan
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = Dedup.dedupLines(docs, "text", "doc_id", minChars = 10,
        broadcastRemovals = Some(true))
      val plan = out.queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      // allowed exchanges: canonical-occurrence agg by line hash, the
      // occurrence join's probe side by hash, removal lists by key —
      // NEVER a corpus row
      assert(shuffles.nonEmpty && shuffles.size <= 4,
        s"expected hash/key-sized exchanges only, got " +
          s"${shuffles.size}:\n$plan")
      for (e <- shuffles)
        assert(!e.output.exists(_.name == "text"),
          s"corpus text must never shuffle:\n$plan")
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"removal attach must broadcast:\n$plan")
    }
  }

  test("q96 dedupLines default: no hint on the removal attach — the " +
      "planner sizes it (broadcast when it fits, shuffle when the " +
      "crawl is boilerplate-dense), so the dense-removals driver-OOM " +
      "of a forced broadcast cannot happen by default") {
    import graft.operators.Dedup
    val docs = Tables.docs
    // with the threshold disabled and no hint, the attach must NOT
    // broadcast — proof the default carries no forced-broadcast hint
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = Dedup.dedupLines(docs, "text", "doc_id", minChars = 10)
      val plan = out.queryExecution.executedPlan
      assert(!plan.toString.contains("BroadcastHashJoin"),
        s"default must leave the attach strategy to the planner:\n$plan")
    }
    // and with a normal threshold the planner broadcasts the sparse
    // relation on its own — same stats-sized decision AQE makes live
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val out = Dedup.dedupLines(docs, "text", "doc_id", minChars = 10)
      val plan = out.queryExecution.executedPlan
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"planner should broadcast the sparse removal relation:\n$plan")
    }
  }

  test("q88 lmScoresRelational: score relation computed without the " +
      "corpus text ever riding an Exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.operators.TextOps
    val docs = Tables.docs
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val model = TextOps.ngramLmRelations(
        docs.filter(col("doc_id") < 100), "text", n = 2)
      val scores = TextOps.lmScoresRelational(docs, model, "text",
        "doc_id")
      val plan = scores.queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      for (e <- shuffles)
        assert(!e.output.exists(_.name == "text"),
          s"corpus text must never shuffle in the score relation:\n$plan")
      // position rows are (key, gram-hash, ctx-hash) tuples: two count
      // joins + the per-key aggregation + the model's own type-sized
      // counts — bounded, and all hash-sized
      assert(shuffles.nonEmpty && shuffles.size <= 6,
        s"unexpected exchange count ${shuffles.size}:\n$plan")
    }
  }

  test("q92 contaminationReport: neither side's text ever rides an " +
      "Exchange — only gram-hash rows and the sparse per-item stats") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.operators.TextOps
    val docs = Tables.docs
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val out = TextOps.contaminationReport(
        docs.filter(col("doc_id") >= 50),
        docs.filter(col("doc_id") < 50), "text", "doc_id", "doc_id",
        n = 3)
      val plan = out.queryExecution.executedPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      // allowed exchanges: corpus grams by hash, bench grams by hash,
      // and the two-phase distinct aggregation on the bench key — all
      // 16-byte-class rows; a text column on any of them means a
      // 100 TB side is being moved to be counted
      assert(shuffles.nonEmpty && shuffles.size <= 4,
        s"unexpected exchange count ${shuffles.size}:\n$plan")
      for (e <- shuffles)
        assert(!e.output.exists(_.name == "text"),
          s"document text must never shuffle:\n$plan")
      // the stats attach rides the explicit broadcast hint
      assert(plan.toString.contains("BroadcastHashJoin"),
        s"stats attach must broadcast:\n$plan")
    }
  }

  test("q93 temperatureSample: the window's input is the PINNED digest-" +
      "threshold sliver (a sample-sized RDD scan, no corpus file scan " +
      "below the window), corpus rows never ride an exchange, and the " +
      "one shuffle in the plan moves only the sliver") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val out = Splits.temperatureSample(Tables.docs, "lang", 50, 0.5,
        "doc_id")
      val plan = out.queryExecution.executedPlan
      // the corpus was consumed when the sliver pinned: the FINAL plan
      // reads only the checkpointed sliver — no file scan at all, and
      // NO exchange either (the pin preserved the sliver's domain hash
      // partitioning, so the window sorts in place)
      assert(plan.collect { case f: FileSourceScanExec => f }.isEmpty,
        s"the final plan must not rescan the corpus:\n$plan")
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.isEmpty,
        s"expected no exchange over the pinned sliver, got " +
          s"${shuffles.size}:\n$plan")
      val win = plan.collect { case w: WindowExec => w }
      assert(win.nonEmpty, s"expected a WindowExec:\n$plan")
      assert(win.head.child.collectLeaves()
          .forall(_.isInstanceOf[RDDScanExec]),
        "the window input must be the pinned sliver scan:\n" +
          win.head.child)
      // ...and the sliver REALLY is sample-sized: each domain's pinned
      // rows are bounded by its inflated threshold slack, far below
      // the corpus (the ScaleStress row measures the byte-level claim)
      val pinned = win.head.child.collectLeaves().head
        .asInstanceOf[RDDScanExec].rdd.count()
      val corpus = Tables.docs.count()
      assert(pinned < corpus,
        s"sliver ($pinned) must be smaller than the corpus ($corpus)")
    }
  }

  test("sampler degenerate thresholds: strata smaller than their quota " +
      "slack skip the pin entirely — direct window over the corpus, " +
      "one exchange, nothing checkpointed") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    withConf("spark.sql.adaptive.enabled" -> "false") {
      // perStratum far above every stratum's size → every threshold
      // degenerates to max52, the expected sliver IS the corpus, and
      // pinning it would materialize the whole input for nothing
      val out = Splits.stratifiedSample(Tables.docs, "lang", 100000,
        "doc_id")
      val plan = out.queryExecution.executedPlan
      assert(plan.collect { case r: RDDScanExec => r }.isEmpty,
        s"degenerate path must not pin anything:\n$plan")
      assert(plan.collect { case f: FileSourceScanExec => f }.nonEmpty,
        s"degenerate path reads the corpus directly:\n$plan")
      assert(plan.collect { case e: ShuffleExchangeExec => e }.size == 1,
        s"one direct window exchange expected:\n$plan")
    }
  }

  test("q94 cluster-scoped dedup never plans an all-pairs join — the " +
      "pairing keys on the cluster id; the only unconditioned join is " +
      "the deliberate row × nlist centroid expansion, broadcast") {
    val p = plan("q94_cluster_neardup")
    assert(!p.contains("CartesianProduct"),
      s"cluster-scoped dedup must never go cartesian:\n$p")
    // assignTo is map-only since r21 (closure-kernel argmin over
    // collected centroids) so q94 usually plans NO unconditioned join at
    // all; if one ever reappears (e.g. a Lloyd-trained variant keeping
    // the broadcast expansion) it must stay a BROADCAST nested loop,
    // never a shuffled cartesian of corpus rows
    assert(!p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastNestedLoopJoin BuildRight"),
      s"the centroid expansion must broadcast its nlist side:\n$p")
    // the candidate pairing is an equi-join on _cid — the Σ|cluster|²
    // bound the operator promises
    assert(p.contains("Join [_cid"),
      s"pairing must key on the cluster id:\n$p")
  }

  test("q84 packChunks computes global token offsets without any Window " +
      "operator — the distributed prefix sum, not a single-partition " +
      "cumulative sum") {
    val p = plan("q84_pack_sequences")
    // the naive formulation is sum(len) OVER (ORDER BY digest) — an
    // unpartitioned window that drags the whole corpus through ONE task;
    // the operator must never regress to it
    assert(!p.contains("Window"),
      s"packChunks must not plan a window:\n$p")
    // the piece assembly is a hash aggregation on seq_id
    assert(p.contains("Exchange hashpartitioning(seq_id"),
      s"expected the seq_id assembly exchange:\n$p")
  }

  test("q52 deterministic sample plans as TakeOrderedAndProject") {
    val p = plan("q52_det_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"expected top-n pushdown, not a global sort:\n$p")
  }

  test("q58 latest-by-key is a hash aggregate with partial aggregation") {
    val p = plan("q58_latest_by_key")
    assert(!p.contains("Window"), s"q58 must not use a window:\n$p")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate")
      || p.contains("SortAggregate"), s"expected aggregation in:\n$p")
  }

  test("q55 asOf join plans exactly one Exchange and one Sort") {
    // the operator's whole value is this shape: union both sides, ONE
    // hash partitioning on the key, ONE per-partition sort, running last()
    // — the cost envelope of a single sort-merge join
    val p = plan("q55_asof_join")
    val body = p.linesIterator
      .takeWhile(!_.contains("== Initial Plan")).mkString("\n")
    def count(needle: String) =
      body.sliding(needle.length).count(_ == needle)
    // the final orderBy of the query contributes one rangepartitioning
    // exchange + its sort; the asOf core must add exactly one of each.
    // "Sort [" matches both plain `Sort [...]` and whole-stage-codegen'd
    // `*(n) Sort [...]` renderings (a codegen-only needle like "+- *Sort "
    // never matches and would make the bound vacuous).
    assert(count("Exchange hashpartitioning") == 1,
      s"asOf must hash-partition exactly once:\n$body")
    val sorts = count("Sort [")
    assert(sorts >= 1 && sorts <= 2,
      s"asOf core must sort once (plus the output orderBy), saw $sorts:\n$body")
    assert(!body.contains("BroadcastNestedLoopJoin") &&
      !body.contains("CartesianProduct") && !body.contains("Join"),
      s"asOf must not plan a join at all:\n$body")
  }

  test("q57/q67/q68 range joins stay equi-joins — never nested-loop") {
    // q72 is the operator's left-outer form; q74 is the same LEFT JOIN as
    // raw SQL through the rewrite rule's left-outer branch — both must
    // keep the bin equi-key and never fall back to a nested loop
    // q75 is the same predicate on the raw TIMESTAMP column (epoch-micros
    // binning, width inferred from the interval literal)
    for (q <- Seq("q57_range_join", "q67_range_join_sql",
        "q68_range_join_2d", "q72_range_join_outer",
        "q74_range_outer_sql", "q75_range_join_ts")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q fell back to a nested-loop plan:\n$p")
      assert(p.contains("_graft_bin"), s"$q lost its bin key:\n$p")
    }
    // the 2-D query must carry BOTH bin keys through the join — losing the
    // second silently degrades pruning back to a residual predicate
    val p2 = plan("q68_range_join_2d")
    assert(p2.contains("_graft_bin_pt2") && p2.contains("_graft_bin2"),
      s"q68 lost its second bin key:\n$p2")
  }

  test("q69/q70 interval-overlap joins stay equi-joins — never " +
      "nested-loop") {
    for (q <- Seq("q69_interval_overlap", "q70_overlap_sql")) {
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") &&
        !p.contains("CartesianProduct"),
        s"$q fell back to a nested-loop plan:\n$p")
      assert(p.contains("_graft_bin"), s"$q lost its bin key:\n$p")
    }
    // the raw-SQL overlap must go through the rule's SYMMETRIC branch —
    // both sides binned, left bin named _graft_bin_l
    val p = plan("q70_overlap_sql")
    assert(p.contains("_graft_bin_l"),
      s"q70 did not take the two-sided overlap rewrite:\n$p")
  }

  private def withConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q30/q40: the banded self-join stays sort-merge under DEFAULT " +
      "confs (r22 merge hint) — AQE must not re-broadcast one side") {
    // Without the hint AQE planned BroadcastHashJoin at sf0.1, whose
    // build side re-evaluated the whole banding subtree (fingerprint
    // kernel + explode + guard window) a second time. The hint pins the
    // corpus-scale strategy at every size so the banding exchange is
    // computed once and stage-reused (the AQE-off twin of this pin
    // below asserts the ReusedExchange; plans/r22/*_after.txt show the
    // runtime ShuffleQueryStage reuse).
    for (q <- Seq("q30_minhash_neardup", "q40_simhash_pairs")) {
      val p = plan(q)
      assert(p.contains("SortMergeJoin"),
        s"$q lost the merge-hinted banded self-join:\n$p")
    }
  }

  test("q30/q40: the skew-guard window's exchange is reused by the " +
      "bucket self-join") {
    // The guard's justification (and the round-4 regression trade): its
    // count window hash-partitions on the (band, bucket) keys the self-join
    // needs, so the join REUSES that exchange and the banding kernel runs
    // once — the guard costs a sort, not a second pass. At bench/real scale
    // the self-join is a shuffle join; force that shape here (broadcast
    // off; AQE off so static planning applies ReuseExchangeAndSubquery —
    // AQE reuses stages at runtime instead, same property) and pin the
    // reuse. A refactor that breaks canonical equality of the two banded
    // subtrees would silently double the banding shuffle and fail here.
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      for (q <- Seq("q30_minhash_neardup", "q40_simhash_pairs")) {
        val p = plan(q)
        val reusedBanding = p.linesIterator.exists(l =>
          l.contains("ReusedExchange") && l.contains("_band"))
        assert(reusedBanding,
          s"$q must reuse the banding (band, bucket) exchange:\n$p")
      }
    }
  }

  test("incremental minhash: guard on reuses the union banding exchange " +
      "for the candidate join; guard off broadcasts instead — no banding " +
      "exchange at all") {
    import org.apache.spark.sql.functions.col
    val store = graft.operators.Dedup.minhashSignatures(
        Tables.docs.filter(col("doc_id") < 500).select("doc_id", "text"),
        "text", "doc_id")
      .pinnedCheckpoint() // pin: the plan under test is the increment
    val newDocs = Tables.docs
      .filter(col("doc_id") >= 500 && col("doc_id") < 540)
      .select("doc_id", "text")
    // guard ON (default): same property as the batch q30 pin — the cohort
    // window hash-partitions on (band, bucket), and the candidate join
    // reuses that exchange, so the guard costs a sort, not a second
    // banding pass over the store
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (pairs, _) = graft.operators.Dedup.minhashNearDuplicatesIncremental(
        newDocs, store, "text", "doc_id")
      val p = pairs.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l =>
        l.contains("ReusedExchange") && l.contains("_band")),
        s"incremental candidate join must reuse the banding exchange:\n$p")
    }
    // guard OFF (buckets known clean): the scale shape the scaladoc
    // promises — the small new batch's banding broadcasts against the
    // store's banding scan, so the store is never shuffled on
    // (band, bucket) at all
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (pairs, _) = graft.operators.Dedup.minhashNearDuplicatesIncremental(
        newDocs, store, "text", "doc_id", maxBucketSize = -1)
      val p = pairs.queryExecution.executedPlan.toString
      assert(!p.contains("hashpartitioning(_band"),
        s"guard-off increment must not shuffle the store's banding:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"guard-off candidate join must broadcast:\n$p")
    }
  }

  test("incremental simhash: guard on reuses the union banding exchange; " +
      "guard off broadcasts the new batch's banding — no store shuffle") {
    import org.apache.spark.sql.functions.col
    val store = graft.operators.Dedup.simhashSignatures(
        Tables.docs.filter(col("doc_id") < 500).select("doc_id", "text"),
        "text", "doc_id")
      .pinnedCheckpoint() // pin: the plan under test is the increment
    val newDocs = Tables.docs
      .filter(col("doc_id") >= 500 && col("doc_id") < 540)
      .select("doc_id", "text")
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (pairs, _) =
        graft.operators.Dedup.simhashNearDuplicatesIncremental(
          newDocs, store, "text", "doc_id")
      val p = pairs.queryExecution.executedPlan.toString
      assert(p.linesIterator.exists(l =>
        l.contains("ReusedExchange") && l.contains("_band")),
        s"incremental candidate join must reuse the banding exchange:\n$p")
    }
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (pairs, _) =
        graft.operators.Dedup.simhashNearDuplicatesIncremental(
          newDocs, store, "text", "doc_id", maxBucketSize = -1)
      val p = pairs.queryExecution.executedPlan.toString
      assert(!p.contains("hashpartitioning(_band"),
        s"guard-off increment must not shuffle the store's banding:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"guard-off candidate join must broadcast:\n$p")
    }
  }

  test("incremental LSH embedding dedup: the signature store is never " +
      "shuffled — guard totals ride narrow count aggregates, candidate " +
      "and anti joins broadcast") {
    import org.apache.spark.sql.functions.col
    import graft.operators.Similarity
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val dim = emb.select("embedding").head.getSeq[Float](0).length
    val store = Similarity.lshSignatures(
        emb.filter(col("vec_id") < 100), "embedding", "vec_id", dim)
      .pinnedCheckpoint() // pin: the plan under test is the increment
    val newDocs = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (pairs, _) = Similarity.lshNeighborPairsIncremental(newDocs,
        store, "embedding", "vec_id", dim)
      val p = pairs.queryExecution.executedPlan.toString
      // guard ON (the default): the over-cap relation was materialized
      // eagerly at call time off narrow count aggregates; what remains
      // in THIS plan is the pairing itself, where the store-side rows
      // (embeddings included) must only ever be scanned map-side —
      // anti-join against the broadcast over-cap list, candidate join
      // against the broadcast new side
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"store-side joins must broadcast, never shuffle the store:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"increment joins must be broadcast:\n$p")
    }
  }

  test("incremental LSH over a bucketed store: a non-broadcast " +
      "increment still plans no store-side shuffle") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import graft.operators.Similarity
    val emb = graft.core.Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding")
    val dim = emb.select("embedding").head.getSeq[Float](0).length
    val tmp = java.nio.file.Files.createTempDirectory("graft-blsh")
    val store0 = Similarity.lshSignatures(
      emb.filter(col("vec_id") < 100), "embedding", "vec_id", dim)
    Similarity.saveBucketedLshStore(store0, "graft_bucketed_lsh_test",
      s"$tmp/store", numBuckets = 8)
    // reload through the re-attach path — drop the catalog entry first
    // so the CREATE TABLE branch (and its _graft_buckets sidecar read)
    // actually executes, as it would in a fresh session
    spark.sql("DROP TABLE graft_bucketed_lsh_test")
    val store = Similarity.bucketedLshStore(spark,
      "graft_bucketed_lsh_test", s"$tmp/store")
    val newDocs = emb.filter(col("vec_id") >= 100 && col("vec_id") < 120)
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (pairs, _) = Similarity.lshNeighborPairsIncremental(newDocs,
        store, "embedding", "vec_id", dim, maxBucketSize = -1)
      val plan = pairs.queryExecution.executedPlan
      // the candidate join must sort-merge against the bucketed store
      // scan DIRECTLY — any Exchange on the store side means the
      // catalog's CLUSTERED BY was not honored and the corpus shuffles
      // per increment
      def bucketedNoShuffle(side: SparkPlan): Boolean =
        side.collect { case s: FileSourceScanExec
          if s.relation.bucketSpec.isDefined => s }.nonEmpty &&
        side.collect { case e: ShuffleExchangeExec => e }.isEmpty
      val storeJoins = plan.collect { case j: SortMergeJoinExec
        if bucketedNoShuffle(j.left) || bucketedNoShuffle(j.right) => j }
      assert(storeJoins.nonEmpty,
        s"no shuffle-free bucketed store side found in:\n$plan")
      // and the plan change is not a semantics change: same pairs as
      // the plain-relation store path
      val (plainPairs, _) = Similarity.lshNeighborPairsIncremental(
        newDocs, store0, "embedding", "vec_id", dim, maxBucketSize = -1)
      def pairSet(df: DataFrame) = df.select("key_a", "key_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairSet(pairs) == pairSet(plainPairs))
    }
  }

  test("incremental connected components: the label store is never " +
      "shuffled — broadcast scan filter, broadcast relabel, solve on " +
      "the contracted graph only") {
    import org.apache.spark.sql.functions.col
    // corpus-scale label store stand-in; pinned so the plan under test
    // is the increment, not the store's construction
    val store = Tables.docs.select(col("doc_id").as("key"),
        (col("doc_id") % 97).as("component"))
      .pinnedCheckpoint()
    val newPairs = Tables.docs.filter(col("doc_id") < 40)
      .select(col("doc_id").as("key_a"),
        (col("doc_id") + 1000000L).as("key_b"))
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val out = graft.operators.Dedup.connectedComponentsIncremental(
        store, newPairs)
      val p = out.queryExecution.executedPlan.toString
      // the contracted solve ran eagerly inside the call (checkpointed
      // rounds), so this plan is exactly the store-touching surface: the
      // only allowed shuffle is the increment-sized touched-key distinct
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"store-side joins must broadcast, never shuffle the store:\n$p")
      assert(!p.contains("hashpartitioning(component"),
        s"the relabel join must broadcast the rep map, not shuffle the " +
          s"store on component:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"increment joins must be broadcast:\n$p")
    }
  }

  test("incremental exact dedup: the digest store is never shuffled — " +
      "map-side hit scan, broadcast batch joins") {
    import org.apache.spark.sql.functions.col
    val store = graft.operators.Dedup.exactSignatures(
        Tables.docs.filter(col("doc_id") < 500).select("doc_id", "text"),
        Seq("text"), "doc_id")
      .pinnedCheckpoint() // pin: the plan under test is the increment
    val newDocs = Tables.docs
      .filter(col("doc_id") >= 500 && col("doc_id") < 540)
      .select("doc_id", "text")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (kept, _) = graft.operators.Dedup.dropExactDuplicatesIncremental(
        newDocs, store, Seq("text"), "doc_id")
      val p = kept.queryExecution.executedPlan.toString
      // the only shuffle is the batch's own digest groupBy; every join
      // (store hit scan, anti, semi) broadcasts the increment side
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"store-side joins must broadcast, never shuffle the store:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"increment joins must be broadcast:\n$p")
    }
  }

  test("incremental repeated spans: the n-gram count store is never " +
      "shuffled — map-side semi-join hit scan, broadcast batch joins") {
    import org.apache.spark.sql.functions.col
    val store = graft.operators.Dedup.ngramCountStore(
        Tables.docs.filter(col("doc_id") < 500).select("doc_id", "text"),
        "text", n = 3)
      .pinnedCheckpoint() // pin: the plan under test is the increment
    val newDocs = Tables.docs
      .filter(col("doc_id") >= 500 && col("doc_id") < 540)
      .select("doc_id", "text")
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val (spans, _) = graft.operators.Dedup.repeatedSpansIncremental(
        newDocs, store, "text", "doc_id", n = 3, minCount = 5)
      val p = spans.queryExecution.executedPlan.toString
      // allowed shuffles: the batch's own gram count and the per-doc
      // span assembly — the store side must only ever broadcast-join
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"store-side joins must broadcast, never shuffle the store:\n$p")
      assert(p.contains("BroadcastHashJoin"),
        s"increment joins must be broadcast:\n$p")
    }
  }

  test("incremental exact dedup over a bucketed store: a non-broadcast " +
      "increment still plans no store-side shuffle") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucketed")
    val store0 = graft.operators.Dedup.exactSignatures(
      Tables.docs.filter(col("doc_id") < 500).select("doc_id", "text"),
      Seq("text"), "doc_id")
    graft.operators.Dedup.saveBucketedDigestStore(store0,
      "graft_bucketed_digest_test", s"$tmp/store", numBuckets = 8)
    // reload through the re-attach path — drop the catalog entry first
    // so the CREATE TABLE branch (and its _graft_buckets sidecar read)
    // actually executes, as it would in a fresh session
    spark.sql("DROP TABLE graft_bucketed_digest_test")
    val store = graft.operators.Dedup.bucketedDigestStore(spark,
      "graft_bucketed_digest_test", s"$tmp/store")
    val newDocs = Tables.docs
      .filter(col("doc_id") >= 500 && col("doc_id") < 540)
      .select("doc_id", "text")
    withConf("spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val (kept, _) =
        graft.operators.Dedup.dropExactDuplicatesIncremental(
          newDocs, store, Seq("text"), "doc_id",
          broadcastIncrement = false)
      val plan = kept.queryExecution.executedPlan
      // the hit scan must sort-merge against the bucketed store scan
      // DIRECTLY — any Exchange on the store side means the catalog's
      // CLUSTERED BY was not honored and the corpus shuffles per batch
      def bucketedNoShuffle(side: SparkPlan): Boolean =
        side.collect { case s: FileSourceScanExec
          if s.relation.bucketSpec.isDefined => s }.nonEmpty &&
        side.collect { case e: ShuffleExchangeExec => e }.isEmpty
      val hitJoins = plan.collect { case j: SortMergeJoinExec
        if bucketedNoShuffle(j.left) || bucketedNoShuffle(j.right) => j }
      assert(hitJoins.nonEmpty,
        s"no shuffle-free bucketed store side found in:\n$plan")
      // and the plan change is not a semantics change: same keep-set
      // as the plain-parquet store path
      val (keptPlain, _) =
        graft.operators.Dedup.dropExactDuplicatesIncremental(
          newDocs, store0, Seq("text"), "doc_id")
      assert(kept.select("doc_id").collect().map(_.getLong(0)).toSet ==
        keptPlain.select("doc_id").collect().map(_.getLong(0)).toSet)
    }
  }

  test("q41: IVF assignment is map-only and the probe join broadcasts " +
      "the probe side — the corpus never rides an exchange") {
    // the r21 redesign (supersedes the round-4 argmin-aggregate pin):
    // centroid assignment is a closure-kernel projection over collected
    // centroids (no nlist× row expansion, no per-key aggregate, no
    // corpus shuffle), and scoreAndRank broadcasts the |queries|×nprobe
    // probe relation, so the assigned corpus reaches the top-k pruning
    // (WindowGroupLimit) without ever being exchanged. The only
    // exchanges left are query-keyed (probe ranking, final top-k) and
    // the ≤nlist-row centroid numbering — none carries corpus rows.
    val p = plan("q41_ivf_topk")
    assert(!p.contains("partial_min(struct"),
      s"q41 regressed to the shuffle-aggregate assignment:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q41's probe join must broadcast the probe side, not sort-merge " +
        s"the corpus:\n$p")
    // count Exchange as a node-name token regardless of tree-branch
    // prefix: strip every leading tree-drawing character (":", "|",
    // "+-", spaces), so lines nested under ":" bars count too
    val exchanges = p.linesIterator.count(l =>
      l.dropWhile(c => ":|+- ".contains(c)).startsWith("Exchange"))
    assert(exchanges <= 6,
      s"q41 should plan only query-keyed + centroid exchanges " +
        s"(got $exchanges):\n$p")
  }

  test("keyless raw-SQL range join is rewritten away from nested-loop") {
    // the optimizer-rule path with NO equi key: vanilla Spark plans this
    // exact query as BroadcastNestedLoopJoin
    val ev = graft.core.Tables.load(spark, sfDir, "events")
    import org.apache.spark.sql.functions.{col, unix_millis}
    val clicks = ev.filter(col("event_type") === "click")
      .select(unix_millis(col("ts")).as("at_ms"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(unix_millis(col("ts")).as("start_ms"))
    val joined = clicks.join(purchases,
      col("at_ms") >= col("start_ms") &&
        col("at_ms") < col("start_ms") + 60000L)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      p.contains("_graft_bin"),
      s"keyless range join not rewritten:\n$p")
  }

  private object Tables {
    def docs: DataFrame =
      graft.core.Tables.load(spark, sfDir, "documents")
  }
}
