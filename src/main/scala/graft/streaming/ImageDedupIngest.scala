package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Multimodal}
import graft.streaming.VersionedStore.{BatchOutput, Family}

/** Streaming incremental ingest for the IMAGE family — the multimodal
  * sibling of [[DedupIngest]] (text) and [[SimilarityIngest]]
  * (embeddings), completing the dedup story for the three column kinds
  * a training-data pipeline carries. Each micro-batch of binary image
  * payloads is perceptual-hashed ([[Multimodal.perceptualHashes]] —
  * dHash/aHash over the real JDK decode), near-dup-deduplicated
  * keep-first against the persisted fingerprint store via the banded
  * hamming incremental ([[Dedup.simhashNearDuplicatesIncrementalFromSigs]]
  * — the simhash machinery is hash-agnostic: any `(key, _h)` 64-bit
  * fingerprint relation rides it), and kept rows land in
  * `keptDir/ingest_batch=<id>/`.
  *
  * STORE LAYOUT under `storeRoot` (the shared [[VersionedStore]]
  * machinery — `_SUCCESS`-gated `v=<batchId>` deltas, committed-prefix
  * readers, tiered crash-safe compaction, tombstones — with its
  * exactly-once and crash-safety analysis):
  *   - `phash/v=<batchId>/` — the batch's perceptual fingerprints
  *     (`key, _h`; append-only — a hash is immutable per key), with the
  *     `_keyrange` guard sidecar
  *   - `tombstones/v=<n>/` — deleted keys ([[deleteKeys]]); readers
  *     anti-join, compaction applies physically
  *
  * UNDECODABLE and null payloads hash to a null `_h`: they are KEPT
  * (content that cannot be decoded cannot be deduplicated — dropping it
  * silently would be data loss with no duplicate evidence) and their
  * null fingerprints are EXCLUDED from the store (a null can never band
  * or pair; persisting it would only grow the store and poison the
  * 32-bit-width tripwire's sample).
  *
  * The monotone-unique-key contract is enforced per batch
  * ([[VersionedStore.runBatch]]'s `_keyrange` guard): every cross-batch
  * pair's canonical `key_b` is the later key, so dropping `key_b` per
  * batch composes to keep-first over the union.
  *
  * Scale shape per batch: decode+hash is one `mapPartitions` kernel
  * pass (map-only, the dominant cost at corpus scale and embarrassingly
  * parallel); the pair search is the banded hamming join — the batch's
  * four 16-bit band chunks against the store's, under the shared
  * union-wide cohort cap — so per-batch work is
  * O(batch × matching-bucket width), never O(store²); the store scan
  * reads two longs per historical image, not the image bytes.
  */
object ImageDedupIngest {

  /** A compaction fold record — re-exported
    * [[VersionedStore.Fold]] (the store machinery is shared with
    * [[DedupIngest]]). */
  type Fold = VersionedStore.Fold
  // pattern-extraction (`ImageDedupIngest.Fold(...)`) compiling for
  // callers outside the package
  val Fold = VersionedStore.Fold

  private val phash = Family("phash", _.dropDuplicates(), keyed = true)
  /** The store families (layout in the object doc): the one place this
    * ingest declares them. */
  private[streaming] val families = Seq(phash)

  /** The live fingerprint store (`key, _h`) from all committed deltas
    * below `below`, tombstones applied. `batchLike` supplies the key
    * column's name and type for the empty-store schema.
    */
  private[graft] def loadHashStore(spark: SparkSession, storeRoot: String,
      batchLike: DataFrame, bytesCol: String, key: String,
      below: Long = Long.MaxValue): DataFrame =
    VersionedStore.read(spark, storeRoot, phash,
      Multimodal.perceptualHashes(batchLike.limit(0), bytesCol, key), below)

  /** The store records its hash method in a `phash/_method` marker and
    * every batch verifies it: dHash and aHash values for the same image
    * are unrelated bit patterns, so restarting the ingest with the
    * other method would not error — every historical duplicate would
    * silently re-ingest as kept (the same silent-miss class as the
    * simhash width mismatch, closed the same way: a loud tripwire).
    */
  private def enforceMethodMarker(spark: SparkSession, storeRoot: String,
      method: String): Unit = {
    val marker = new Path(s"$storeRoot/phash/_method")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val recorded =
      if (!fs.exists(marker)) ""
      else {
        val in = fs.open(marker)
        try new String(
          org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
      }
    // an empty/blank marker is a crash mid-write, not a method — treat
    // it as absent and rewrite rather than mismatching every method
    // string and permanently wedging the ingest
    if (recorded.isEmpty) {
      // write-temp-then-rename (the TFRecord sink's commit pattern) so
      // a crash never leaves a truncated marker visible at the final
      // path; rename-over needs the destination absent
      val tmp = new Path(s"$storeRoot/phash/._method.tmp")
      val out = fs.create(tmp, true)
      try out.write(method.getBytes("UTF-8")) finally out.close()
      fs.delete(marker, false)
      if (!fs.rename(tmp, marker))
        throw new java.io.IOException(
          s"could not commit method marker $tmp -> $marker")
    } else if (recorded != method)
      throw new IllegalStateException(
        s"this fingerprint store was built with method='$recorded' " +
          s"but the ingest was started with method='$method' — " +
          "cross-method hamming pairs essentially never verify, so " +
          "every historical duplicate would silently re-ingest; " +
          "restart with the recorded method or rebuild the store")
  }

  /** One micro-batch, exposed for direct testing of idempotence. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      storeRoot: String, keptDir: String, bytesCol: String, key: String,
      maxDistance: Int, maxBucketSize: Long, method: String): Unit = {
    val spark = batch.sparkSession
    enforceMethodMarker(spark, storeRoot, method)
    VersionedStore.runBatch(batch, batchId, storeRoot, keptDir, phash,
        key) {
      val store = loadHashStore(spark, storeRoot, batch, bytesCol, key,
        below = batchId)
      // one decode+hash kernel pass: the same fingerprints feed the pair
      // op AND the store delta write; nulls (undecodable payloads) are
      // excluded here — they cannot band, pair, or be searched for
      val sigs = Multimodal.perceptualHashes(batch, bytesCol, key, method)
        .filter(col("_h").isNotNull)
        .localCheckpoint(false)
      // checkStoreWidth = false: the 32-bit-width tripwire is a text-
      // simhash heuristic (uniform fingerprints), but perceptual hashes
      // are legitimately low-entropy — a crawl stretch of solid-color
      // placeholders hashes to 0L (no gradient sets no bit) and would
      // false-trip it, wedging the stream
      val (pairs, _) = Dedup.simhashNearDuplicatesIncrementalFromSigs(
        sigs, store, key, maxDistance, maxBucketSize,
        checkStoreWidth = false)
      // keep-first: every pair's canonical key_b is the later key under
      // the monotone contract (see object doc)
      BatchOutput(sigs, batch.join(
        pairs.select(col("key_b").as(key)).distinct(), Seq(key),
        "left_anti"))
    }
  }

  /** Start the ingest query. `images` is any streaming DataFrame
    * carrying a binary `bytesCol` payload column and a globally-unique
    * `key` assigned monotonically increasing across batches — the
    * keep-first contract, ENFORCED on every batch exactly as in
    * [[DedupIngest.start]]. The hamming knobs mirror
    * [[Multimodal.imageNearDuplicates]].
    */
  def start(images: DataFrame, bytesCol: String, key: String,
      storeRoot: String, keptDir: String, checkpointDir: String,
      maxDistance: Int = 3, maxBucketSize: Long = 5000,
      method: String = "dhash"): StreamingQuery =
    VersionedStore.startIngest(images, "ImageDedupIngest.start", "images",
        Seq(bytesCol, key), "use Multimodal.imageNearDuplicates or the " +
          "incremental operators directly", checkpointDir) {
      (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, storeRoot, keptDir, bytesCol, key,
          maxDistance, maxBucketSize, method)
    }

  /** TOMBSTONE a set of images — [[DedupIngest.deleteKeys]]'s contract
    * verbatim (its scaladoc carries the semantics: effective
    * immediately via the reader anti-join, physically removed as
    * compaction folds touch the rows, key space never freed, the store
    * stops RECOGNIZING deleted content — a verbatim re-crawl re-ingests
    * fresh). Run with the ingest query STOPPED. */
  def deleteKeys(spark: SparkSession, storeRoot: String,
      keys: DataFrame): Long =
    VersionedStore.deleteKeys(spark, storeRoot, keys, families)

  /** Collapse the fingerprint-store version history under the size-
    * tiered, crash-safe policy of [[VersionedStore.compactStores]],
    * which carries the full analysis. Run with the ingest query
    * STOPPED. */
  def compactStores(spark: SparkSession, storeRoot: String,
      sizeRatio: Double = 4.0): Seq[Fold] =
    VersionedStore.compactStores(spark, storeRoot, families, sizeRatio)
}
