package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.streaming.VersionedStore.{BatchOutput, Family}

/** Streaming incremental near-dup dedup — the Structured Streaming form
  * of QUICKSTART.md's crawl-batch loop (not a reference capability; the
  * reference's closest analogue is its skip-existing incremental re-run,
  * `jigsaw/io_utils.py:89,150`). Each micro-batch is deduplicated
  * keep-first against the persisted signature + label stores via
  * [[Dedup.minhashNearDuplicatesIncremental]] and
  * [[Dedup.connectedComponentsIncremental]], kept rows land in
  * `keptDir/ingest_batch=<id>/`, and both stores advance by versioned
  * DELTAS under `storeRoot` — so a later run (or a batch job) resumes
  * against everything ingested so far.
  *
  * STORE LAYOUT under `storeRoot`:
  *   - `sig/v=<batchId>/`    — the batch's minhash signatures
  *     (append-only: signatures are immutable per key; the live store is
  *     the union of all committed versions)
  *   - `labels/v=<batchId>/` — the batch's CHANGED cluster labels only,
  *     each row carrying `_v = batchId`; the live store is
  *     latest-version-per-key over all committed versions (labels are
  *     not append-only — a bridge batch relabels old clusters)
  *   - `exact/v=<batchId>/`  — with `exactPrefilter = true`, the
  *     batch's FRESH content digests (append-only), so verbatim
  *     re-crawls drop before any shingling
  *   - `spancounts/v=<batchId>/` — with `spanMask = Some(...)`, the
  *     batch's raw-text n-gram count delta (delta-valued: counts are
  *     additive, readers aggregate, compaction folds by summing), so
  *     corpus-repeated boilerplate spans strip from each batch BEFORE
  *     any dedup stage
  *   - `linecounts/v=<batchId>/` — with `lineDedup = Some(...)`, the
  *     batch's trimmed-line-hash count delta (same delta-valued shape
  *     as `spancounts`), so each batch exact-line-dedups keep-first
  *     against every line the crawl has already kept (the C4/CCNet
  *     step, incremental form of [[graft.operators.Dedup.dedupLines]])
  *   - `tombstones/v=<n>/` — deleted keys ([[deleteKeys]]; own version
  *     counter). Readers anti-join them; compaction physically removes
  *     tombstoned rows from the folds it touches and keeps the
  *     tombstone rows themselves.
  * A version counts only once its `_SUCCESS` marker exists, so
  * half-written attempts are invisible to readers; the exactly-once
  * and crash-safety analysis is [[VersionedStore]]'s. (The optional
  * [[Curate]] quality/language stage adds NO family — it is a
  * stateless map-only filter of the kept output.)
  *
  * SCALE SHAPE per micro-batch: the batch's text is shingled ONCE
  * (the checkpointed signature relation feeds both the pair op and the
  * delta write; the corpus is never re-shingled), the signature store is
  * re-read as narrow columnar parquet, and the label store is
  * reconstructed by a latest-per-key aggregation over deltas — call
  * [[compactStores]] periodically (with the query stopped) to fold the
  * version history into a few geometric size tiers and keep that
  * reconstruction narrow.
  */
object DedupIngest {

  /** One merged group from [[compactStores]] — see
    * [[VersionedStore.Fold]] (the store machinery is shared with
    * [[SimilarityIngest]]). */
  type Fold = VersionedStore.Fold
  // a type alias does not alias the COMPANION: keep construction and
  // pattern-extraction (`DedupIngest.Fold(...)`) compiling for callers
  // that predate the VersionedStore factoring
  val Fold = VersionedStore.Fold

  private def latestLabels(df: DataFrame): DataFrame =
    graft.operators.AggOps.latestByKey(df, Seq("key"), "_v",
      Seq("component")).select("key", "component", "_v")
  // counts are additive: the fold resolves deltas by summing, so the
  // live count per gram/line is invariant under any fold schedule
  private def sumCounts(df: DataFrame): DataFrame =
    df.groupBy("_h").agg(sum(col("_c")).as("_c"))

  private val sig = Family("sig", _.dropDuplicates(), keyed = true)
  private val exact = Family("exact", _.dropDuplicates(), keyed = true)
  private val labels = Family("labels", latestLabels, keyed = true,
    tombKey = Some("key"))
  private val spanCounts = Family("spancounts", sumCounts)
  private val lineCounts = Family("linecounts", sumCounts)
  /** The store families (layout in the object doc): the one place this
    * ingest declares them. */
  private[streaming] val families =
    Seq(sig, exact, labels, spanCounts, lineCounts)

  /** The live signature store from all committed deltas below `below`
    * (empty-schema fallback derived from `batchLike`). */
  private[graft] def loadSignatureStore(spark: SparkSession,
      storeRoot: String, batchLike: DataFrame, textCol: String,
      key: String, below: Long = Long.MaxValue): DataFrame =
    VersionedStore.read(spark, storeRoot, sig,
      Dedup.minhashSignatures(batchLike.limit(0), textCol, key), below)

  /** The live exact-digest store (the optional prefilter family) from
    * all committed deltas below `below`. */
  private[graft] def loadExactStore(spark: SparkSession,
      storeRoot: String, batchLike: DataFrame, textCol: String,
      key: String, below: Long = Long.MaxValue): DataFrame =
    VersionedStore.read(spark, storeRoot, exact,
      Dedup.exactSignatures(batchLike.limit(0), Seq(textCol), key), below)

  /** The live label store: latest-version-per-key over all committed
    * deltas below `below`. */
  private[graft] def loadLabelStore(spark: SparkSession,
      storeRoot: String, batchLike: DataFrame, key: String,
      below: Long = Long.MaxValue): DataFrame =
    latestLabels(VersionedStore.read(spark, storeRoot, labels,
      batchLike.limit(0).select(col(key).as("key"),
        col(key).as("component"), lit(0L).as("_v")), below))
      .select("key", "component")

  /** Configuration for the optional boilerplate-stripping stage — the
    * [[graft.operators.Dedup.maskRepeatedSpansIncremental]] operator
    * run per micro-batch against a `spancounts/` versioned count-store
    * family. Knobs mirror the batch operator, including
    * `broadcastIncrement`: the default broadcasts each batch's distinct
    * n-gram set into the store scan (exchange-free), but a batch whose
    * distinct-gram set exceeds the broadcast limit needs `false` to
    * route the increment through a shuffled join instead of failing the
    * stream. */
  final case class SpanMask(n: Int = 10, minCount: Long = 5,
      marker: String = "", broadcastIncrement: Boolean = true)

  /** Configuration for the optional C4/CCNet-style exact-line dedup
    * stage — [[graft.operators.Dedup.dedupLinesIncremental]] run per
    * micro-batch against a `linecounts/` versioned count-store family,
    * so a growing crawl line-dedups against everything ingested so far
    * without a corpus re-run. Knobs mirror the batch operator;
    * `broadcastIncrement` is the usual escape hatch (the batch's
    * distinct line-hash set rides a broadcast into the store scan —
    * `false` reroutes through a shuffled semi-join when a batch is too
    * wide for it).
    *
    * `dropEmptied` (default true) drops a document whose EVERY countable
    * line was removed as duplicate (whitespace-empty remainder with at
    * least one removal) — without it, a verbatim re-crawl loses all its
    * lines HERE and reaches the exact/near-dup stages as empty text with
    * an empty shingle set, shipping as an empty husk the downstream
    * stages would otherwise have dropped as a duplicate. Documents that
    * ARRIVE empty (no removal evidence) still flow, mirroring the
    * undecodable-image posture. */
  final case class LineDedup(minChars: Int = 10, delim: String = "\n",
      broadcastIncrement: Boolean = true, dropEmptied: Boolean = true)

  /** Configuration for the optional MAP-ONLY CURATION stage — the
    * quality/language filter of QUICKSTART.md's batch chain (stage 3:
    * dedup → quality → write), mirrored into the ingest so a growing
    * crawl no longer needs a separate downstream job for it. Runs LAST,
    * on the batch's dedup-surviving rows just before the kept write —
    * the same position as the batch chain, so the composed streaming
    * pipeline stays stage-for-stage parity with it. NO store and NO
    * state: the stage filters only the kept OUTPUT; every store family
    * still accrues over the full deduped batch (parity again — the
    * batch chain's dedup also sees pre-quality rows), so a later
    * near-dup of a curated-away document is still recognized as a
    * duplicate rather than re-admitted.
    *
    * `score` (optional) appends whatever columns `keep` needs —
    * `QualityModel.score(_, clf, textCol)`, a `langId`/`textQuality`
    * withColumn, any map-only transform. It MUST be deterministic
    * (redelivery re-computes it; a nondeterministic score would make a
    * retry ship a different kept set) and should be map-only (anything
    * heavier runs per micro-batch). `keep` is the predicate over the
    * scored frame; null evaluates to drop (SQL filter semantics).
    * `keepScores = true` ships the appended score columns in the kept
    * output (the default restores exactly the batch's columns). */
  final case class Curate(keep: org.apache.spark.sql.Column,
      score: DataFrame => DataFrame = identity,
      keepScores: Boolean = false)

  /** The live count store of `family` from all committed deltas below
    * `below` (delta-valued `(_h, _c)` — readers aggregate or take
    * membership; compaction folds by summing). */
  private def loadCountStore(spark: SparkSession, storeRoot: String,
      family: Family, below: Long): DataFrame = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("_h", LongType),
      StructField("_c", LongType)))
    VersionedStore.read(spark, storeRoot, family, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), below)
  }

  /** The live n-gram count store ([[SpanMask]]'s `spancounts/`
    * family). */
  private[graft] def loadSpanCountStore(spark: SparkSession,
      storeRoot: String, below: Long = Long.MaxValue): DataFrame =
    loadCountStore(spark, storeRoot, spanCounts, below)

  /** The live line-hash count store ([[LineDedup]]'s `linecounts/`
    * family). */
  private[graft] def loadLineCountStore(spark: SparkSession,
      storeRoot: String, below: Long = Long.MaxValue): DataFrame =
    loadCountStore(spark, storeRoot, lineCounts, below)

  /** One micro-batch, exposed for direct testing of idempotence. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      storeRoot: String, keptDir: String, textCol: String, key: String,
      numHashes: Int, bands: Int, shingleSize: Int, threshold: Double,
      seed: Long, maxBucketSize: Long,
      enforceKeyOrder: Boolean = true,
      exactPrefilter: Boolean = false,
      spanMask: Option[SpanMask] = None,
      lineDedup: Option[LineDedup] = None,
      curate: Option[Curate] = None): Unit =
    VersionedStore.runBatch(batch, batchId, storeRoot, keptDir, sig, key,
        enforceKeyOrder) {
      val spark = batch.sparkSession
      // optional stage -2: C4/CCNet exact-line dedup against the growing
      // crawl's line history. MUST precede the span mask — the mask
      // kernel's uniform-output contract whitespace-normalizes text to a
      // single-space join, which would erase the very line structure this
      // stage keys on. Counts accrue in the `linecounts/` delta family
      // (batchId-addressed, idempotent); the line-deduped text replaces
      // `textCol` for every downstream stage and the kept output.
      val lined = lineDedup match {
        case None => batch
        case Some(cfg) =>
          val lineStore = loadLineCountStore(spark, storeRoot,
            below = batchId)
          val (res, delta) = Dedup.dedupLinesIncremental(batch, lineStore,
            textCol, key, cfg.minChars, cfg.delim, cfg.broadcastIncrement)
          // fully-emptied docs (all countable lines were duplicates) are
          // dropped HERE: emptied text has no shingles, so the dedup
          // stages below could never catch the verbatim re-crawl it came
          // from — see the LineDedup scaladoc
          val survived =
            if (cfg.dropEmptied)
              res.filter(!(col("removed_lines") > 0 &&
                length(trim(col("text_deduped"))) === 0))
            else res
          val r = survived.drop(textCol, "kept_lines", "removed_lines")
            .withColumnRenamed("text_deduped", textCol)
            .localCheckpoint(false)
          VersionedStore.writeDelta(delta, storeRoot, lineCounts, batchId)
          r
      }
      // optional stage -1: strip corpus-repeated boilerplate spans BEFORE
      // any dedup (the QUICKSTART pipeline order — shared headers must
      // not glue distinct docs into near-dup pairs, and two docs
      // differing only in boilerplate SHOULD become exact dups once it is
      // gone). Counts accrue over this stage's INPUT text — the raw
      // batch, or the line-deduped text when the LineDedup stage is
      // active (deduplicated lines' grams are then absent from the
      // boilerplate statistics, deliberately: a stripped line must not
      // keep feeding span counts) — in the `spancounts/`
      // delta family (batchId-addressed, idempotent); the masked text
      // replaces `textCol` for every downstream stage and the kept
      // output — which also means kept text is whitespace-normalized to
      // the single-space token join (the mask kernel's uniform-output
      // contract), span-free documents included.
      val masked = spanMask match {
        case None => lined
        case Some(cfg) =>
          val countStore = loadSpanCountStore(spark, storeRoot,
            below = batchId)
          val (m, delta) = Dedup.maskRepeatedSpansIncrementalDetailed(
            lined, countStore, textCol, key, cfg.n, cfg.minCount,
            cfg.marker, cfg.broadcastIncrement)
          val mm = m.drop(textCol)
            .withColumnRenamed("masked_text", textCol)
            .localCheckpoint(false)
          VersionedStore.writeDelta(delta, storeRoot, spanCounts, batchId)
          mm
      }
      // optional stage 0: drop verbatim re-crawls against the digest
      // store BEFORE any shingling — exact dups are the common case in
      // re-crawl traffic and shingling them is pure waste; a dropped
      // doc's near-dup future matches still work because its identical
      // original already sits in the signature store. The `exact/`
      // family is append-only fresh digests.
      val work =
        if (!exactPrefilter) masked
        else {
          val exactStore = loadExactStore(spark, storeRoot, masked,
            textCol, key, below = batchId)
          // the operator's fresh signatures (at most one per batch row),
          // collected in one execution: they ARE the delta, written from
          // the driver, and their keys are the kept set — so neither the
          // delta write nor the kept rows re-run the store hit join
          val freshSigs = Dedup.dropExactDuplicatesIncrementalDetailed(
            masked, exactStore, Seq(textCol), key)._2
          val fresh = freshSigs.collect()
          VersionedStore.writeDelta(spark, freshSigs.schema, fresh.toSeq,
            storeRoot, exact, batchId)
          // the semi-join on the fresh keys as an IN-set filter (the
          // near-dup drop set's shape below); a null key never matches
          masked.filter(col(key).isInCollection(fresh.map(_.get(0)).toSeq))
        }
      val sigStore = loadSignatureStore(spark, storeRoot, batch, textCol,
        key, below = batchId)
      val labelStore = loadLabelStore(spark, storeRoot, batch, key,
        below = batchId)
      // one shingle-kernel pass: the same checkpointed signatures feed
      // the pair op AND the store delta write below
      val sigs = Dedup.minhashSignatures(work, textCol, key, numHashes,
        bands, shingleSize, seed).localCheckpoint(false)
      val (pairs, _) = Dedup.minhashNearDuplicatesIncrementalFromSigs(
        sigs, sigStore, key, threshold, cacheSignatures = false,
        maxBucketSize)
      // the delta form hands back exactly the rows to persist — a full
      // updated relation would need a corpus×corpus comparison join
      // against the prior store every micro-batch to find them. The solve
      // runs here, on the driver; `changed` is evaluated once, by the
      // labels/ write below.
      val (delta, absorbed) =
        Dedup.connectedComponentsIncrementalDeltaDetailed(labelStore, pairs)
      val changed = delta
        .select(col("key"), col("component"), lit(batchId).as("_v"))
      // a batch key is dropped when its cluster's label is another key.
      // Only the delta's NEW keys can be batch keys: under the unique,
      // monotone key contract a batch never carries a key the store holds
      // (the key-order guard enforces it; with enforceKeyOrder = false
      // it is trusted, as `start` documents). So the drop set is the
      // solve's absorbed new keys, already on the driver, and this
      // anti-join is an IN-set filter that reads no store and runs no
      // broadcast job. A null key is never dropped, as in a join.
      val kept0 = work.filter(
        col(key).isNull || !col(key).isInCollection(absorbed))
      // optional LAST stage: map-only curation of the kept OUTPUT (the
      // batch chain's dedup → quality → write order; see Curate). The
      // store deltas below are written from the deduped, UN-curated
      // batch, deliberately: no new state, and a later near-dup of a
      // curated-away document is still recognized as a duplicate.
      val kept = curate match {
        case None => kept0
        case Some(c) =>
          val scored = c.score(kept0)
          // name comparisons ride the session's resolution rule: under
          // the default case-insensitive analysis, withColumn("Text", …)
          // REPLACES batch column "text" (and renames it) — a literal
          // comparison would misreport that as a drop, and an appended
          // name differing from a batch column only by case would make
          // every later reference ambiguous without tripping a literal
          // duplicate check
          val caseSensitive =
            spark.conf.get("spark.sql.caseSensitive", "false").toBoolean
          def canon(n: String): String =
            if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
          val scoredCanon = scored.columns.map(canon).toSet
          val reEmitted = kept0.columns.filter(b =>
            !scored.columns.contains(b) && scoredCanon.contains(canon(b)))
          require(reEmitted.isEmpty,
            s"Curate.score re-emitted batch column(s) " +
              s"${reEmitted.mkString(", ")} under a different case " +
              "(spark.sql.caseSensitive is false, so the re-emit replaced " +
              "and renamed the batch column) — the scoring transform may " +
              "only APPEND new columns")
          val missing = kept0.columns.filterNot(b =>
            scoredCanon.contains(canon(b)))
          require(missing.isEmpty,
            s"Curate.score dropped batch column(s) ${missing.mkString(", ")}" +
              " — the scoring transform may only APPEND columns")
          // a duplicate name (literal, or case-colliding under the
          // resolver) would pass the missing-check yet make the restore
          // projection below (and every downstream reference) ambiguous
          // — fail here, at the configuration, not there
          val dup = scored.columns.groupBy(canon).collect {
            case (_, vs) if vs.length > 1 => vs.distinct.mkString("/")
          }.toSeq.sorted
          require(dup.isEmpty,
            s"Curate.score produced duplicate column(s) ${dup.mkString(", ")}" +
              " — append NEW names, don't re-emit batch columns")
          val filtered = scored.filter(c.keep)
          if (c.keepScores) filtered
          else filtered.select(kept0.columns.map(col): _*)
      }
      BatchOutput(sigs, kept,
        () => VersionedStore.writeDelta(changed, storeRoot, labels, batchId))
    }

  /** Start the ingest query. `docs` is any streaming DataFrame carrying
    * `textCol` and a globally-unique `key` assigned monotonically
    * increasing across batches (the keep-first contract — see
    * QUICKSTART.md). That contract is ENFORCED per batch by default
    * via metadata-sized version key ranges (see
    * [[enforceKeyOrderGuard]]) — a violated contract would not error,
    * it would silently corrupt keep-first semantics and cluster
    * labels; pass `enforceKeyOrder = false` only when the upstream key
    * assignment is trusted and the per-batch driver read of the
    * committed ranges matters (the batch's one range aggregate runs
    * either way, for its sidecar) — doing so also PERMANENTLY disables
    * tombstone retirement for this store (deletes still apply; see
    * [[VersionedStore.markUnguarded]]). The minhash knobs mirror
    * [[Dedup.minhashNearDuplicates]].
    *
    * @param spanMask pass `Some(SpanMask(...))` to also strip
    *   corpus-repeated boilerplate spans per micro-batch BEFORE dedup
    *   (a fourth `spancounts/` store family accrues the raw-text n-gram
    *   counts as versioned deltas; the masked text replaces `textCol`
    *   downstream and in the kept output, whitespace-normalized).
    *   Stage order matches the QUICKSTART pipeline: mask, then exact
    *   prefilter, then near-dup.
    * @param curate pass `Some(Curate(...))` to quality/language-filter
    *   the kept output per micro-batch AFTER every dedup stage — the
    *   batch chain's dedup → quality → write order, map-only, no new
    *   store state (see [[Curate]]).
    * @param lineDedup pass `Some(LineDedup(...))` to exact-line-dedup
    *   each micro-batch keep-first against the crawl's accumulated
    *   line history (a `linecounts/` store family accrues trimmed-line
    *   hash counts as versioned deltas; the line-deduped text replaces
    *   `textCol` downstream and in the kept output). Runs FIRST —
    *   before the span mask, whose kernel whitespace-normalizes text
    *   and would erase the line structure. */
  def start(docs: DataFrame, textCol: String, key: String,
      storeRoot: String, keptDir: String, checkpointDir: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.9, seed: Long = 42,
      maxBucketSize: Long = 10000,
      enforceKeyOrder: Boolean = true,
      exactPrefilter: Boolean = false,
      spanMask: Option[SpanMask] = None,
      lineDedup: Option[LineDedup] = None,
      curate: Option[Curate] = None): StreamingQuery =
    VersionedStore.startIngest(docs, "DedupIngest.start", "docs",
        Seq(textCol, key),
        "use the QUICKSTART.md loop over the incremental operators",
        checkpointDir) {
      (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, storeRoot, keptDir, textCol, key,
          numHashes, bands, shingleSize, threshold, seed, maxBucketSize,
          enforceKeyOrder, exactPrefilter, spanMask, lineDedup, curate)
    }

  /** TOMBSTONE a set of documents — the takedown/relicensing path: the
    * keys land as a versioned delta in a `tombstones/` family
    * ([[VersionedStore.writeTombstones]] — its own monotone version
    * counter; the single column's NAME must be the ingest's key column,
    * it is recorded in the parquet and drives every later anti-join).
    * Effective immediately for every store reader (`sig`/`exact`/
    * `labels` anti-join the committed tombstones) WITHOUT rewriting
    * anything; [[compactStores]] then physically removes the rows as
    * folds touch them, keeping each tombstone delta only while some
    * version could still carry its keys and RETIRING it once every such
    * version has been rewritten with it applied
    * ([[VersionedStore.retireTombstones]] — the family is O(live
    * deleted keys), not O(all deletes ever)). Run with the ingest query
    * STOPPED, like compaction.
    *
    * Documented semantics, deliberate: (1) deleting a cluster's
    * representative does not resurrect its previously-dropped
    * near-dups — takedown removes THIS document, not history; other
    * rows' `component` labels may keep referencing the deleted key as
    * an opaque cluster id. (2) After deletion the store no longer
    * RECOGNIZES the content — a verbatim re-crawl re-ingests fresh
    * (use an explicit blocklist upstream if re-ingest must stay
    * barred). (3) The `spancounts` and `linecounts` families are NOT
    * keyed by document and keep their counts — retracting them would
    * need the deleted text's gram/line multiset; boilerplate statistics
    * legitimately include deleted documents' history. (4) The key-order
    * guard is
    * unaffected: deleted keys do not free key space — `_keyrange`
    * sidecars survive, so new batches must still exceed the
    * all-time max key. (5) Scope is the STORES: the kept output under
    * `keptDir` is downstream pipeline data, not store state — a full
    * takedown also filters it (anti-join the same key list, e.g.
    * rewrite the affected `ingest_batch=` partitions), which this
    * method deliberately does not reach into.
    */
  def deleteKeys(spark: SparkSession, storeRoot: String,
      keys: DataFrame): Long =
    VersionedStore.deleteKeys(spark, storeRoot, keys, families)

  /** Collapse the version history (signatures unioned, labels resolved
    * latest-per-key, counts summed) under the size-tiered, crash-safe
    * policy of [[VersionedStore.compactStores]], which carries the full
    * analysis. Run with the ingest query STOPPED. Returns the folds
    * performed, with the parquet bytes each rewrote. */
  def compactStores(spark: SparkSession, storeRoot: String,
      sizeRatio: Double = 4.0): Seq[Fold] =
    VersionedStore.compactStores(spark, storeRoot, families, sizeRatio)
}
