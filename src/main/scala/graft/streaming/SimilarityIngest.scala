package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.core.Eager._
import graft.operators.Similarity
import graft.operators.Similarity.IvfIndex
import graft.streaming.VersionedStore.{BatchOutput, Family}

/** Streaming incremental ingest for the EMBEDDING family — the
  * similarity-side sibling of [[DedupIngest]] (not a reference
  * capability; the reference has no embedding pipeline at all — this is
  * the LLM-training-data extension's production loop). Each micro-batch
  * of vectors is near-dup-deduplicated keep-first against the persisted
  * LSH signature store via
  * [[Similarity.lshNeighborPairsIncremental]], kept rows land in
  * `keptDir/ingest_batch=<id>/`, and — when centroids are supplied —
  * the kept vectors are appended to a servable IVF index
  * ([[Similarity.extendIvfIndex]] semantics) with a per-batch
  * [[Similarity.assignmentDrift]] row logged, so centroid staleness is
  * a number you watch rather than a silent recall leak.
  *
  * STORE LAYOUT under `storeRoot` (the [[VersionedStore]] machinery —
  * `_SUCCESS`-gated `v=<batchId>` deltas, committed-prefix readers,
  * tiered crash-safe compaction — with its exactly-once and
  * crash-safety analysis):
  *   - `lsh/v=<batchId>/`      — the batch's LSH signatures
  *     (`key, _emb, _n, _bucket`; append-only — signatures are
  *     immutable per key). ALL batch rows sign, kept or dropped,
  *     matching the batch operator which bands every corpus row.
  *   - `assigned/v=<batchId>/` — the KEPT rows' IVF list assignment
  *     delta, partitioned by `_cid` so a serving read prunes to the
  *     probed lists (only with centroids).
  *   - `drift/v=<batchId>/`    — the batch's one-row assignment-drift
  *     record (only with centroids).
  *   - `centroids/`            — the fixed centroid relation, written
  *     once so the store serves on its own (idempotent overwrite).
  *
  * KEEP-FIRST PARITY: under the monotone-unique-key contract every
  * near-dup pair's canonical `key_b` is the LATER key, so each pair is
  * discovered exactly in `key_b`'s batch and the union of per-batch
  * drop lists equals [[Similarity.embeddingDedupDropList]] over the
  * full corpus (same hyperplanes — the seed pins them). Dropped rows
  * still sign the store, so a future re-near-dup of a dropped vector
  * matches its earlier twin.
  *
  * SCALE SHAPE per micro-batch: the batch is bucketed once (one kernel
  * pass), candidates join the batch's narrow `(key, bucket)` rows
  * against the store's (batch side broadcast — the store is scanned
  * map-side, never shuffled), embeddings ride only the candidate
  * verify-join, and the IVF stage is one broadcast argmin aggregate
  * over the batch. Size `numBits` for the TARGET corpus
  * (~2·log₂(n)), not the first batch.
  */
object SimilarityIngest {

  /** One merged group from [[compactStores]] — see
    * [[VersionedStore.Fold]]. */
  type Fold = VersionedStore.Fold

  // signatures and assignments are append-only, immutable per key; the
  // assigned merge keeps its `_cid` partitioning so probe pruning
  // survives compaction; the drift log is a log, carried unchanged
  private val lsh = Family("lsh", _.dropDuplicates(), keyed = true)
  private val assigned = Family("assigned", _.dropDuplicates(),
    keyed = true, partitionBy = Seq("_cid"))
  private val drift = Family("drift", identity)
  /** The store families (layout in the object doc; `centroids/` is one
    * relation, not a versioned family): the one place this ingest
    * declares them. */
  private[streaming] val families = Seq(lsh, assigned, drift)

  /** The live LSH signature store from all committed deltas below
    * `below`. */
  private[graft] def loadLshStore(spark: SparkSession, storeRoot: String,
      batchLike: DataFrame, embCol: String, key: String, dim: Int,
      numBits: Int, seed: Long,
      below: Long = Long.MaxValue): DataFrame =
    VersionedStore.read(spark, storeRoot, lsh, Similarity.lshSignatures(
      batchLike.limit(0), embCol, key, dim, numBits, seed), below)

  /** The live assigned relation (IVF inverted lists) from all committed
    * deltas below `below`. Versions are read one directory at a time so
    * each keeps its own `_cid=` partition discovery (and partition
    * pruning under a probe's `_cid` filter); the committed version
    * count is compaction-bounded at O(log) tiers, so the union stays
    * narrow. The key column's name and type belong to the caller, so
    * the schema is pinned from the first committed delta (empty deltas
    * are never written — see [[processBatch]]). */
  private[graft] def loadAssignedStore(spark: SparkSession,
      storeRoot: String, below: Long = Long.MaxValue): DataFrame = {
    val fs = new Path(storeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = VersionedStore.committedVersions(spark,
      s"$storeRoot/assigned", below)
    // Only the SCHEMA-PINNING head read needs a data-bearing version:
    // processBatch never writes an empty delta, but a compaction whose
    // whole folded group was tombstoned legally commits an empty fold
    // target — it contributes no rows and has no schema to infer, so it
    // must not LEAD the union read. Probe hasData (a recursive listing —
    // one metadata round-trip per probe on object stores) only until
    // that first data-bearing version; the remaining versions read
    // under the pinned schema, which handles an empty (bare _SUCCESS)
    // fold target fine.
    val firstIdx = vs.indexWhere(v => VersionedStore.hasData(fs,
      new Path(s"$storeRoot/assigned/v=$v")))
    if (firstIdx < 0)
      throw new IllegalStateException(
        s"no data-bearing assignment deltas under $storeRoot/assigned " +
          "— the ingest has not yet kept any rows with an IVF stage " +
          "active, or every kept vector was deleted and compaction " +
          "folded the lists empty")
    val first = spark.read.parquet(
      s"$storeRoot/assigned/v=${vs(firstIdx)}")
    // versions before firstIdx are empty fold targets: zero rows, safe
    // to skip outright
    val all = vs.drop(firstIdx + 1)
      .map(v => spark.read.schema(first.schema)
        .parquet(s"$storeRoot/assigned/v=$v"))
      .foldLeft(first)(_.unionByName(_))
    // the key column leads the assigned schema by construction; the
    // tombstone column carries the same caller-owned name
    VersionedStore.antiTombstones(all, all.columns.head, spark,
      storeRoot)
  }

  /** The per-batch drift log: one row per committed batch
    * (`_v, count, mean_dist, p95_dist`), ascending. Compare against the
    * build-time [[Similarity.assignmentDrift]] row — a sustained climb
    * is the rebuild-centroids signal ([[Similarity.extendIvfIndex]]
    * doc). */
  def driftLog(spark: SparkSession, storeRoot: String): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("_v", LongType),
      StructField("count", LongType),
      StructField("mean_dist", DoubleType),
      StructField("p95_dist", DoubleType)))
    VersionedStore.read(spark, storeRoot, drift, spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
      Long.MaxValue).orderBy("_v")
  }

  /** The servable index the ingest has accumulated: the stored
    * centroids plus every committed assignment delta — pass straight to
    * [[Similarity.ivfTopK]] (probe reads prune to the probed `_cid`
    * lists). Requires the loop to have run with centroids. */
  def loadIvfIndex(spark: SparkSession, storeRoot: String): IvfIndex = {
    val cdir = new Path(s"$storeRoot/centroids")
    val fs = cdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(cdir, "_SUCCESS")))
      throw new IllegalStateException(
        s"no centroids at $cdir — this similarity store was ingested " +
          "without an IVF stage (start(..., centroids = Some(...)))")
    IvfIndex(VersionedStore.readBound(spark, cdir.toString),
      loadAssignedStore(spark, storeRoot))
  }

  /** Crash-safe refresh of the compressed SERVING snapshot — the
    * QUICKSTART recipe (`Similarity.saveQuantizedIvfIndex(
    * loadIvfIndex(spark, storeRoot), dir)`) promoted to a first-class
    * maintenance step with the store layer's commit discipline: the
    * ingested store stays full-precision and canonical; this derives
    * the int8 serving layout from it under `servingDir/v=<k>` and
    * commits the snapshot by creating the version's `_SUCCESS` marker
    * LAST. A refresh killed anywhere mid-write leaves an uncommitted
    * directory [[loadServingSnapshot]] never reads (the prior snapshot
    * keeps serving) and the next refresh sweeps. Returns the committed
    * snapshot version.
    *
    * `retain` previous committed snapshots survive each refresh
    * (default 1 — a reader mid-probe on the prior snapshot must not
    * have its files deleted under it; raise it if serving readers can
    * lag more than one refresh). Single-writer, like [[compactStores]]
    * and [[retrainIvfIndex]]: run refreshes one at a time, though the
    * INGEST query may keep running — the source store read takes the
    * committed prefix like any other reader.
    */
  def snapshotServing(spark: SparkSession, storeRoot: String,
      servingDir: String, retain: Int = 1): Long = {
    require(retain >= 0, s"retain must be >= 0, got $retain")
    val index = loadIvfIndex(spark, storeRoot)
    val p = new Path(servingDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed =
      VersionedStore.committedVersions(spark, servingDir, Long.MaxValue)
    // sweep crashed refreshes: a v= directory without its root _SUCCESS
    // is an uncommitted partial no reader ever saw
    if (fs.exists(p))
      for (s <- fs.listStatus(p); if s.isDirectory;
          m <- "^v=(\\d+)$".r.findFirstMatchIn(s.getPath.getName);
          v <- scala.util.Try(m.group(1).toLong).toOption;
          if !committed.contains(v))
        fs.delete(s.getPath, true)
    val v = if (committed.isEmpty) 0L else committed.max + 1L
    val vd = s"$servingDir/v=$v"
    Similarity.saveQuantizedIvfIndex(index, vd)
    // the commit point: marker creation is atomic, and readers take
    // the newest version whose marker exists
    fs.create(new Path(vd, "_SUCCESS"), true).close()
    for (old <- committed.sorted.dropRight(retain))
      fs.delete(new Path(s"$servingDir/v=$old"), true)
    v
  }

  /** The newest committed serving snapshot under `servingDir` (written
    * by [[snapshotServing]]), as a ready-to-serve index —
    * [[Similarity.ivfTopK]] works unchanged over the dequantizing view,
    * probe reads prune to the probed lists. */
  def loadServingSnapshot(spark: SparkSession,
      servingDir: String): IvfIndex = {
    val committed =
      VersionedStore.committedVersions(spark, servingDir, Long.MaxValue)
    if (committed.isEmpty)
      throw new IllegalStateException(
        s"no committed serving snapshot under $servingDir — run " +
          "snapshotServing(spark, storeRoot, servingDir) first")
    Similarity.loadQuantizedIvfIndex(spark,
      s"$servingDir/v=${committed.max}")
  }

  /** One micro-batch, exposed for direct testing of idempotence. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      storeRoot: String, keptDir: String, embCol: String, key: String,
      dim: Int, numBits: Int, threshold: Double, seed: Long,
      centroids: Option[DataFrame],
      maxBucketSize: Long = 10000): Unit =
    VersionedStore.runBatch(batch, batchId, storeRoot, keptDir, lsh, key) {
      val spark = batch.sparkSession
      val store = loadLshStore(spark, storeRoot, batch, embCol, key, dim,
        numBits, seed, below = batchId)
      // one bucketing-kernel pass: the same signatures feed the pair op
      // AND the store delta write
      val sigs = Similarity.lshSignatures(batch, embCol, key, dim,
        numBits, seed).localCheckpoint(false)
      val (pairs, _) = Similarity.lshNeighborPairsIncrementalFromSigs(
        sigs, store, key, threshold, maxBucketSize)
      // keep-first: every pair's canonical key_b is the later key under
      // the monotone contract, so dropping key_b per batch composes to
      // embeddingDedupDropList over the union (see object doc)
      val kept = batch.join(
        pairs.select(col("key_b").as(key)).distinct(), Seq(key),
        "left_anti")
        .localCheckpoint(false)
      BatchOutput(sigs, kept, () => centroids.foreach(cents =>
        indexKept(spark, batch, batchId, storeRoot, embCol, key, cents,
          kept)))
    }

  /** The IVF stage of a batch: commit or check the centroids, assign
    * the kept rows to their lists and log the batch's drift. */
  private def indexKept(spark: SparkSession, batch: DataFrame,
      batchId: Long, storeRoot: String, embCol: String, key: String,
      cents: DataFrame, kept: DataFrame): Unit = {
    val fs = new Path(storeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // once, so the store serves on its own; overwrite-idempotent
    // under redelivery, and cheap to skip once committed. Writing is
    // legal ONLY on a fresh store: missing centroids WITH committed
    // list assignments means a retrainIvfIndex crashed in its
    // centroid-commit window — silently re-committing the (likely
    // stale) passed relation over already-rewritten lists would
    // bless exactly the desynchronization the tripwire below exists
    // to stop.
    if (!fs.exists(new Path(s"$storeRoot/centroids/_SUCCESS"))) {
      if (VersionedStore.committedVersions(spark,
          s"$storeRoot/assigned", Long.MaxValue).nonEmpty)
        throw new IllegalStateException(
          s"committed list assignments exist under $storeRoot but " +
            "no committed centroids — a retrainIvfIndex crashed in " +
            "its centroid-commit window; re-run retrainIvfIndex " +
            "(and restart the ingest with its centroids) before " +
            "processing more batches")
      cents.write.mode("overwrite").parquet(s"$storeRoot/centroids")
    } else {
      // tripwire: assigning against centroids that disagree with the
      // committed relation would not error — it would silently
      // desynchronize lists from the centroids probes rank against,
      // a pure recall leak. The common way in is restarting the loop
      // with a stale relation after retrainIvfIndex. Both sides are
      // parquet round-trips of the same doubles (bit-exact), so
      // set equality is the right check; nlist-bounded collect.
      // Flip side (start()'s scaladoc carries the contract): a
      // re-evaluated LIVE kmeansCentroids plan is NOT bit-stable
      // (partition-order float addition) and can spuriously trip
      // this — restarts must pass loadIvfIndex(storeRoot).centroids.
      def keyOf(df: DataFrame) = df
        .select(col("_cid"), col("_cv").cast("array<double>"))
        .collect().map(r =>
          (r.getInt(0), r.getSeq[Double](1).toList)).toSet
      if (keyOf(VersionedStore.readBound(spark, s"$storeRoot/centroids"))
          != keyOf(cents))
        throw new IllegalStateException(
          s"the centroids passed to this ingest disagree with the " +
            s"committed relation at $storeRoot/centroids — after " +
            "retrainIvfIndex, restart with the retrained centroids " +
            "(loadIvfIndex(storeRoot).centroids); assigning against " +
            "stale centroids silently desynchronizes the lists")
    }
    // index the KEPT rows only — a dropped vector's near-identical
    // twin is already (or about to be) in the lists. An all-dropped
    // (or empty) batch writes NO delta: a partitioned empty write
    // has no readable schema, and skipping is retry-consistent
    // because kept is deterministic over the committed prefix
    if (!kept.isEmpty)
      VersionedStore.writeDelta(Similarity.assignTo(cents, kept, embCol,
        key), storeRoot, assigned, batchId)
    // drift is a property of the incoming TRAFFIC, so it is measured
    // over the whole batch, dropped rows included
    VersionedStore.writeDelta(
      Similarity.assignmentDrift(cents, batch, embCol, key)
        .select(lit(batchId).as("_v"), col("count"), col("mean_dist"),
          col("p95_dist")).coalesce(1),
      storeRoot, drift, batchId)
  }

  /** Start the ingest query. `docs` is any streaming DataFrame carrying
    * an `embCol` vector column (castable to `array<double>`, dimension
    * `dim`) and a globally-unique `key` assigned monotonically
    * increasing across batches — the keep-first contract, ENFORCED on
    * every batch via metadata-sized version key ranges exactly as
    * in [[DedupIngest.start]]. Pass `centroids` (e.g. a built index's
    * `centroids` relation, or `loadIvfIndex(dir).centroids`) to also
    * maintain the servable IVF index + drift log; leave it `None` for
    * dedup-only ingest. The LSH knobs mirror
    * [[Similarity.lshNeighborPairs]].
    *
    * RESTARTS must pass parquet-round-tripped centroids —
    * `loadIvfIndex(storeRoot).centroids` — NOT a re-evaluated live
    * `kmeansCentroids` plan: the committed-centroid tripwire compares
    * bit-exact doubles (the correct check for two parquet round-trips
    * of the same relation), and k-means component means depend on
    * partition-order float addition, so a recomputed plan can differ
    * in the last ulp and spuriously trip it even when the centroids
    * are logically identical.
    */
  def start(docs: DataFrame, embCol: String, key: String, dim: Int,
      storeRoot: String, keptDir: String, checkpointDir: String,
      numBits: Int = 16, threshold: Double = 0.95, seed: Long = 42,
      centroids: Option[DataFrame] = None,
      maxBucketSize: Long = 10000): StreamingQuery = {
    require(dim > 0, s"dim must be positive, got $dim")
    VersionedStore.startIngest(docs, "SimilarityIngest.start", "docs",
        Seq(embCol, key), "use the incremental operators directly " +
          "(Similarity.lshNeighborPairsIncremental / extendIvfIndex)",
        checkpointDir) {
      // pin the centroid relation ON THE DRIVER — foreachBatch must not
      // re-evaluate a live query plan against moved data on every
      // batch, and an executor-resident pin (localCheckpoint) would die
      // with its executor hours into the run (spot / dynamic
      // allocation). nlist × dim doubles: the same bounded-collect
      // class as the k-means loop's per-round centroids.
      val pinned = centroids.map { c =>
        (c.collect().toSeq, c.schema)
      }
      (batch: DataFrame, batchId: Long) => {
        import scala.jdk.CollectionConverters._
        val cents = pinned.map { case (rows, schema) =>
          batch.sparkSession.createDataFrame(rows.asJava, schema)
        }
        processBatch(batch, batchId, storeRoot, keptDir, embCol, key,
          dim, numBits, threshold, seed, cents, maxBucketSize)
      }
    }
  }

  /** The answer to a climbing [[driftLog]]: retrain the centroids on
    * the embeddings the store has ACCUMULATED (fresh spherical
    * [[Similarity.kmeansCentroids]] rounds over every committed
    * assignment delta) and rewrite each version's list assignment
    * against them, so the inverted lists partition today's corpus
    * rather than the bootstrap sample's. Run with the ingest query
    * STOPPED, like [[compactStores]]; restart it with `centroids =
    * Some(retrained.centroids)` (the pinned relation a running query
    * holds would silently re-diverge the next batch). Returns the
    * retrained, servable index.
    *
    * `nlist` may differ from the original build — the `_cid` space is
    * wholly replaced.
    *
    * CRASH SAFETY: each version rewrite goes through the staged-commit
    * protocol ([[VersionedStore.stagedReplace]] — same heal/sweep story
    * as compaction), and the centroids commit LAST, staged the same
    * way. A crash mid-retrain can therefore leave versions assigned
    * against centroids newer than the committed `centroids/` relation.
    * That state is still SAFE — every served cosine is real; ivfTopK
    * can only lose recall while lists and centroids disagree — and
    * re-running retrain (or restarting it after fixing the fault)
    * converges the store. */
  def retrainIvfIndex(spark: SparkSession, storeRoot: String,
      nlist: Int, kmeansIters: Int = 5): IvfIndex = {
    val assigned = loadAssignedStore(spark, storeRoot)
      .pinnedCheckpoint()
    // the key column leads the assigned schema by construction
    // (assignTo selects it first); its name belongs to the caller
    val key = assigned.columns.head
    val cents = Similarity.kmeansCentroids(assigned, "_emb", key, nlist,
      kmeansIters).pinnedCheckpoint()
    val famDir = s"$storeRoot/assigned"
    // the rewrite below destroys any fold target's `_folded` sidecar,
    // so folded crash leftovers must be deleted first or they would
    // silently rejoin the committed set (with stale-centroid rows)
    VersionedStore.sweepFoldedLeftovers(spark, famDir)
    for (v <- VersionedStore.committedVersions(spark, famDir,
        Long.MaxValue)) {
      val rows = spark.read.schema(assigned.schema)
        .parquet(s"$famDir/v=$v").pinnedCheckpoint()
      VersionedStore.stagedReplace(spark, famDir, v) { staging =>
        Similarity.assignTo(cents, rows, "_emb", key)
          .write.mode("overwrite").partitionBy("_cid").parquet(staging)
      }
    }
    // centroids commit LAST, through the shared staged protocol (no
    // v= healer applies here: a crash inside the commit window leaves
    // no committed centroids, which loadIvfIndex AND the next
    // processBatch refuse loudly — the re-run remedy in the scaladoc)
    VersionedStore.stagedCommitDir(spark,
        s"$storeRoot/.centroids-retrain", s"$storeRoot/centroids") {
      staging => cents.write.mode("overwrite").parquet(staging)
    }
    IvfIndex(cents, loadAssignedStore(spark, storeRoot))
  }

  /** TOMBSTONE a set of vectors — the embedding-side [[DedupIngest
    * .deleteKeys]] (whose scaladoc carries the semantics: effective
    * immediately via reader anti-joins, physically removed as
    * compaction folds touch the rows, key space never freed, the store
    * stops RECOGNIZING deleted content). The single key column's name
    * must be the ingest's key column. Served top-k reflects the
    * deletion on the next [[snapshotServing]] (the live
    * [[loadIvfIndex]] reflects it immediately). Run with the ingest
    * query STOPPED.
    */
  def deleteKeys(spark: SparkSession, storeRoot: String,
      keys: DataFrame): Long =
    VersionedStore.deleteKeys(spark, storeRoot, keys, families)

  /** Collapse the version history under the size-tiered, crash-safe
    * policy of [[VersionedStore.compactStores]], which carries the full
    * analysis. Run with the ingest query STOPPED. */
  def compactStores(spark: SparkSession, storeRoot: String,
      sizeRatio: Double = 4.0): Seq[Fold] =
    VersionedStore.compactStores(spark, storeRoot, families, sizeRatio)
}
