package graft.streaming

import java.nio.file.Files

import graft.SparkTestBase

/** Shared model-based randomized harness for the tombstone/compaction
  * state machine, parameterized over an ingest's store family wiring
  * (round-19 verdict item 1): [[TombstoneModelSpec]] drives the
  * simplest raw keyed family; the [[SimilarityStoreModelSpec]] and
  * [[ImageStoreModelSpec]] descriptors drive the REAL
  * `SimilarityIngest`/`ImageDedupIngest` batch paths, because each
  * ingest has its own reader/compaction wiring (`lsh/` +
  * `_cid`-partitioned `assigned/` + `drift/`; `phash/`) and the r18
  * bugs were found precisely where hand-picked scenarios under-covered.
  *
  * The harness drives random interleavings of every maintenance
  * operation and checks, after every single step, the one invariant all
  * of the machinery exists to preserve:
  *
  *     visible keys  ==  every key ever ingested  \  every key ever
  *                       named by any delete
  *
  * The model is deliberately trivial: deletes are takedowns-forever
  * (anchored keys can never legitimately re-arrive — the key-order
  * guard never frees key space; pre-emptive/legacy keys MAY arrive
  * later but their markers never retire, so they stay anti-joined), so
  * no interleaving of folds, retirements or redeliveries may ever
  * change the visible set beyond ingest/delete themselves. Any
  * over-eager retirement, lost tombstone, partial `_cutoff` carry, fold
  * double-count, or crash-healing slip shows up as a model mismatch with
  * the seed and full trace in the failure message.
  *
  * Ops vocabulary (fixed across descriptors, same draw sequence as the
  * original round-18 harness): ingest (monotone keys, under the
  * key-order guard), redelivery of the newest batch, anchored
  * deletes, PRE-EMPTIVE deletes (key not yet ingested — the r18 bug-(a)
  * window), LEGACY sidecar-less tombstone deltas (the r19
  * `_cutoff`-carry advice), full compaction at random size ratios (the
  * ingest's own compactStores order), and standalone retirement.
  */
abstract class StoreModelHarness extends SparkTestBase {
  import spark.implicits._

  /** One ingest's store wiring under the law. The key column is named
    * `key` with Long values assigned monotonically by the harness. */
  trait FamilyOps {
    /** The keyed families tombstones apply to (retirement evidence). */
    def keyedFamilies: Seq[String]
    /** Commit one micro-batch of fresh keys at version `id`, exactly
      * as the ingest writes it. */
    def ingestBatch(keys: Seq[Long], id: Long): Unit
    /** The ingest's full compactStores order at `ratio`. */
    def compact(ratio: Double): Unit
    /** The visible key set per the ingest's own committed-prefix
      * readers, tombstones applied. */
    def visible(): Set[Long]
    /** Extra family-specific invariants (e.g. serving lists vs the
      * kept record), asserted after every step. */
    def extraCheck(deleted: Set[Long], ctx: => String): Unit = {}
  }

  /** Register the law test: `seeds` random interleavings of
    * `opsRange._1 + nextInt(opsRange._2)` steps each (plus the
    * adversarial legacy-delta prologue on every third seed). */
  def runLaw(label: String, seeds: Int, opsRange: (Int, Int))(
      mk: String => FamilyOps): Unit =
    test(s"law[$label]: over $seeds seeded random interleavings of " +
        "ingest/redeliver/delete(anchored|pre-emptive|legacy)/compact/" +
        "retire, the visible key set always equals ingested-ever " +
        "minus deleted-ever") {
      for (seed <- 0 until seeds) runSeed(label, seed, opsRange, mk)
    }

  private def runSeed(label: String, seed: Int, opsRange: (Int, Int),
      mk: String => FamilyOps): Unit = {
    val rnd = new scala.util.Random(seed)
    val root = Files.createTempDirectory(s"graft-sm-$seed").toString
    val ops = mk(root)

    // ---- model ----
    val ingested = scala.collection.mutable.Set.empty[Long]
    val deleted = scala.collection.mutable.Set.empty[Long]
    var nextKey = 1L
    var nextBatch = 0L
    var lastBatch = Option.empty[Seq[Long]]
    val trace = new StringBuilder

    // ---- ops ----
    def ingest(): Unit = {
      val keys = (0 until 1 + rnd.nextInt(3)).map(_ => {
        val k = nextKey; nextKey += 1; k
      })
      // the draw that once picked 1-in-8 batches to run without the
      // guard: still taken, so every seed keeps its op schedule
      rnd.nextInt(8)
      trace ++= s"ingest(${keys.mkString(",")}) "
      ops.ingestBatch(keys, nextBatch)
      lastBatch = Some(keys)
      ingested ++= keys
      nextBatch += 1
    }
    def redeliver(): Unit = lastBatch.foreach { keys =>
      trace ++= s"redeliver(${keys.mkString(",")}) "
      // the foreachBatch retry re-runs the guard against versions
      // BELOW its own id (its first attempt's range is excluded), so
      // it passes
      ops.ingestBatch(keys, nextBatch - 1)
    }
    def delete(keys: Seq[Long]): Unit = {
      VersionedStore.writeTombstones(spark, root,
        keys.toDF("key"), ops.keyedFamilies)
      deleted ++= keys
    }
    def deleteAnchored(): Unit = if (ingested.nonEmpty) {
      val pool = (ingested ++ deleted).toSeq.sorted
      val keys = Seq.fill(1 + rnd.nextInt(2))(
        pool(rnd.nextInt(pool.size))).distinct
      trace ++= s"delAnchored(${keys.mkString(",")}) "
      delete(keys)
    }
    def deletePreemptive(): Unit = {
      val keys = Seq(nextKey + rnd.nextInt(3))
      trace ++= s"delPreemptive(${keys.mkString(",")}) "
      delete(keys)
    }
    def deleteLegacy(forceFuture: Boolean = false): Unit = {
      // a pre-sidecar writer: data + _SUCCESS, NO _cutoff — naming
      // an existing or future key
      val k = if (!forceFuture && rnd.nextBoolean() && ingested.nonEmpty) {
        val pool = ingested.toSeq.sorted; pool(rnd.nextInt(pool.size))
      } else nextKey + rnd.nextInt(3)
      trace ++= s"delLegacy($k) "
      val v = VersionedStore.committedVersions(spark,
        s"$root/tombstones", Long.MaxValue).lastOption.getOrElse(-1L) + 1
      Seq(k).toDF("key").coalesce(1)
        .write.parquet(s"$root/tombstones/v=$v")
      deleted += k
    }
    def retire(): Unit = {
      trace ++= "retire "
      VersionedStore.retireTombstones(spark, root, ops.keyedFamilies)
    }
    def compact(): Unit = {
      val ratio = Seq(1.0, 1.5, 4.0, Double.PositiveInfinity)(
        rnd.nextInt(4))
      trace ++= s"compact($ratio) "
      ops.compact(ratio)
    }

    def step(op: () => Unit): Unit = {
      op()
      val got = ops.visible()
      val want = ingested.toSet -- deleted
      assert(got == want,
        s"[$label] seed $seed diverged after [$trace]: visible " +
          s"${got.toSeq.sorted} != model ${want.toSeq.sorted} " +
          s"(spurious ${(got -- want).toSeq.sorted}, missing " +
          s"${(want -- got).toSeq.sorted})")
      ops.extraCheck(deleted.toSet, s"[$label] seed $seed after [$trace]")
    }

    // every third seed opens with an adversarial prologue uniform
    // sampling almost never assembles: a FUTURE-key LEGACY delta
    // below two anchored deltas, so later tombstone-family folds
    // merge a sidecar-less source with finite-cutoff ones — the
    // merged delta must stay unretirable (the r19 `_cutoff`-carry
    // posture) and the legacy key must stay suppressed through every
    // subsequent schedule, including its own later legitimate arrival
    if (seed % 3 == 0) {
      step(() => ingest())
      step(() => deleteLegacy(forceFuture = true))
      step(() => deleteAnchored())
      step(() => deleteAnchored())
    }
    val ops2 = opsRange._1 + rnd.nextInt(opsRange._2)
    for (_ <- 0 until ops2) {
      step(() => rnd.nextInt(10) match {
        case 0 | 1 | 2 | 3 => ingest()
        case 4 => redeliver()
        case 5 => deleteAnchored()
        case 6 => deletePreemptive()
        case 7 => deleteLegacy()
        case 8 => compact()
        case 9 => retire()
      })
    }
  }
}
