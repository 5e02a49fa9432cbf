package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over embedding columns.
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set,
  * score every corpus row, per-query top-k via window. One pass over the
  * corpus, no corpus self-shuffle: at 100 TB this is a map-side scan.
  *
  * Scale path: random-hyperplane LSH — bucket corpus and queries by sign
  * bits, join on bucket, verify exact cosine only within buckets. Trades
  * recall for turning the scan into a hash join on bucket keys.
  */
object Similarity {

  // All dot products here — the per-ROW norms and the per-PAIR scores —
  // ride the native codegen'd ArrayDotProduct expression via
  // VectorFunctions.dot: no UDF serialization boundary, no
  // interpreted-per-element HOF tree, stays inside the generated loop.

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Brute-force cosine top-k. `queries` must be small enough to broadcast
    * (it is hash-joined against every corpus row).
    * Output: (query_key, neighbor key, cosine, rank) excluding self-matches.
    *
    * CONTRACT, not guarded here: the query relation is forced into a
    * broadcast, whose hard Spark cap is 8 GB / 512M rows — a batch
    * anywhere near that fails the broadcast build (or OOMs the driver)
    * rather than falling back to a shuffle join. Chunk huge batches into
    * several calls. The loaded-index `ivfTopK(index, …)` overload DOES
    * enforce this (its `maxProbeRows` guard rides a collect it already
    * pays); enforcing it here would cost an extra count job on a path
    * that is otherwise a single action.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, embCol: String,
      key: String, k: Int): DataFrame = {
    Reserved.requireFreeParams(
      Seq("_q_emb", "_q_n", "_c_emb", "_c_n", "query_id", "neighbor_id",
        "cosine", "rank"), "cosineTopK", "key" -> key)
    val q = queries.select(col(key).as("query_id"),
      asDouble(col(embCol)).as("_q_emb"),
      norm(col(embCol)).as("_q_n"))
    val scored = corpus
      .select(col(key), asDouble(col(embCol)).as("_c_emb"),
        norm(col(embCol)).as("_c_n"))
      .join(broadcast(q), col(key) =!= col("query_id"))
      .select(col("query_id"), col(key).as("neighbor_id"),
        (dot(col("_q_emb"), col("_c_emb"))
          / (col("_q_n") * col("_c_n"))).as("cosine"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic random hyperplanes: `numBits` vectors of `dim` gaussians
    * from a seeded RNG — computed once per operator call and captured in
    * the bucketing kernel's closure.
    */
  private def hyperplanes(dim: Int, numBits: Int,
      seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-bit LSH bucket id for an embedding: bit i = (v · plane_i) > 0.
    *
    * JVM-loop kernel, not a Catalyst HOF tree: the per-ROW cost is
    * numBits × dim multiply-adds, and the previous `aggregate`+`zip_with`
    * formulation evaluated every one of them as an interpreted expression
    * (the same ~100× tax [[graft.operators.Dedup.Kernels]] documents).
    * Values are bit-identical to that formulation: same seeded plane
    * order, same strict `> 0` sign rule, bit i weighted 2^i. Null
    * embeddings AND embeddings containing a null element bucket to null
    * and so drop out of the bucket equi-join (the old HOF form gave them
    * bucket 0 via null dot products; downstream results were identical
    * because the cosine verify already dropped such pairs — but a typed
    * Seq[Double] UDF would CRASH on a null element, so the boxed element
    * type here is load-bearing).
    */
  def lshBucket(emb: Column, dim: Int, numBits: Int = 16,
      seed: Long = 42): Column = {
    val planes = hyperplanes(dim, numBits, seed)
    val kernel = udf((v: Seq[java.lang.Double]) => {
      if (v == null || v.contains(null)) null
      else {
        var acc = 0L
        var b = 0
        while (b < planes.length) {
          val p = planes(b)
          val n = math.min(v.length, p.length)
          var d = 0.0
          var i = 0
          while (i < n) { d += v(i) * p(i); i += 1 }
          if (d > 0) acc |= (1L << b)
          b += 1
        }
        java.lang.Long.valueOf(acc)
      }
    }: java.lang.Long)
    kernel(asDouble(emb))
  }

  /** LSH-bucketed near-neighbor pairs: same-bucket candidates
    * ([[Banding.pairs]]) verified with exact cosine ≥ threshold. Output:
    * (key_a, key_b, cosine), key_a < key_b.
    *
    * `maxBucketSize` caps the B² blow-up of a degenerate bucket (a hot
    * cluster the hyperplanes fail to split, or numBits sized for a smaller
    * corpus), drops counted under the "lsh" tag; <= 0 skips it. There is
    * no dedup pass: each vector carries exactly ONE sign-bit bucket (a
    * single signature long, not a banded set), so a given pair can only
    * form in one bucket and the result is duplicate-free by construction.
    */
  def lshNeighborPairs(corpus: DataFrame, embCol: String, key: String,
      dim: Int, numBits: Int = 16, threshold: Double = 0.8,
      seed: Long = 42, maxBucketSize: Long = 10000): DataFrame = {
    require(maxBucketSize <= 0 || maxBucketSize > 1,
      "maxBucketSize must be > 1 (or <= 0 to skip the skew guard)")
    // Null (zero-norm) buckets are filtered BEFORE the guard: the
    // equi-join drops them anyway, and counting them as a "dropped
    // cohort" would fire the skew alarm for rows that never lose a
    // pair (the incremental excludes them from its totals the same
    // way).
    val bucketed = lshSignatures(corpus, embCol, key, dim, numBits, seed)
      .filter(col("_bucket").isNotNull)
    cosineVerify(Banding.pairs(bucketed, key, Seq("_bucket"),
      Seq("_emb", "_n"), maxBucketSize, "lsh"), threshold)
  }

  /** Exact cosine verify of `(key_a, key_b, _emb_a, _emb_b, _n_a, _n_b)`
    * candidates, norms hoisted per row: one fast dot and a divide per
    * pair. */
  private def cosineVerify(cands: DataFrame, threshold: Double): DataFrame =
    cands.select(col("key_a"), col("key_b"),
        (dot(col("_emb_a"), col("_emb_b"))
          / (col("_n_a") * col("_n_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)

  /** LSH signature store relation for INCREMENTAL embedding dedup: one
    * row per vector — `(key, _emb array<double>, _n double, _bucket
    * long)`, the cast embedding, its hoisted norm, and the sign-bit
    * bucket. Self-contained like
    * [[graft.operators.Dedup.minhashSignatures]]: candidate generation
    * needs `_bucket`, cosine verification needs `_emb`/`_n`, so
    * incremental runs against a parquet-persisted store never re-read
    * the original corpus (column pruning reads only `_bucket` until
    * verification). Null embeddings / embeddings with null elements
    * bucket to null and are KEPT in the store (they can never pair —
    * the bucket equi-join drops them — but dropping them here would
    * silently shrink a store used for other lookups).
    *
    * The store is parameterized by `(dim, numBits, seed)` — incremental
    * calls must pass the values the store was built with (the caller
    * owns persisting them alongside, same contract as the minhash
    * store).
    */
  def lshSignatures(corpus: DataFrame, embCol: String, key: String,
      dim: Int, numBits: Int = 16, seed: Long = 42): DataFrame = {
    Banding.requireFreeParams("lshSignatures", "key" -> key)
    corpus.select(col(key),
      asDouble(col(embCol)).as("_emb"),
      norm(col(embCol)).as("_n"),
      // zero-norm embeddings (the classic missing-embedding-as-zeros
      // data bug) bucket to NULL, not to the all-signs-negative bucket:
      // their cosine is 0/0 = NaN, which Spark's total ordering ranks
      // ABOVE every double — `NaN >= threshold` is TRUE — so bucketing
      // them together would not just waste quadratic candidate work, it
      // would EMIT every such pair. A null bucket never equi-joins —
      // the pairs never form at all (and the incremental additionally
      // filters _n > 0 against legacy stores predating this rule).
      when(norm(col(embCol)) > 0,
        lshBucket(col(embCol), dim, numBits, seed)).as("_bucket"))
  }

  /** Persist an LSH signature store hash-bucketed by `_bucket` — the
    * large-increment escape hatch for [[lshNeighborPairsIncremental]],
    * the embedding-side twin of
    * [[graft.operators.Dedup.saveBucketedDigestStore]] (whose scaladoc
    * carries the full rationale and sizing guidance). Unlike the
    * minhash store — whose banding key is DERIVED by exploding
    * `_buckets`, so no on-disk clustering can serve it — the LSH
    * store's join key is the stored `_bucket` column, so a
    * `CLUSTERED BY (_bucket)` store lets a non-broadcastable
    * increment's candidate join sort-merge with NO store-side
    * Exchange: only the increment shuffles, to `numBuckets`
    * partitions. The bucket count rides a `_graft_buckets` sidecar so
    * a re-attach can never declare a partitioning the files don't
    * have. */
  def saveBucketedLshStore(store: DataFrame, table: String,
      path: String, numBuckets: Int = 256): Unit = {
    for (c <- Seq("_emb", "_n", "_bucket"); if !store.columns.contains(c))
      throw new IllegalArgumentException(
        s"LSH store is missing column '$c' — expected the relation " +
          "lshSignatures produces")
    BucketedStore.save(store, table, path, numBuckets, Seq("_bucket"))
  }

  /** Load (re-attaching to the session catalog if needed) a bucketed
    * LSH store written by [[saveBucketedLshStore]]; the bucket count
    * comes from the `_graft_buckets` sidecar, exactly as in
    * [[graft.operators.Dedup.bucketedDigestStore]]. */
  def bucketedLshStore(spark: org.apache.spark.sql.SparkSession,
      table: String, path: String): DataFrame =
    BucketedStore.attach(spark, table, path, Seq("_bucket"),
      "saveBucketedLshStore")

  private def validateLshStore(store: DataFrame, key: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
    Banding.requireFreeParams("the incremental LSH operators",
      "key" -> key)
    for (c <- Seq(key, "_emb", "_n", "_bucket");
        if !store.columns.contains(c))
      throw new IllegalArgumentException(
        s"LSH signature store is missing column '$c' — expected the " +
          s"($key, _emb, _n, _bucket) relation lshSignatures produces")
    (store.schema("_emb").dataType, store.schema("_n").dataType,
        store.schema("_bucket").dataType) match {
      case (ArrayType(DoubleType, _), DoubleType, LongType) => ()
      case (e, n, b) => throw new IllegalArgumentException(
        "LSH signature store column types must be _emb array<double>, " +
          s"_n double, _bucket bigint; got ${e.simpleString}, " +
          s"${n.simpleString}, ${b.simpleString}")
    }
  }

  /** Incremental embedding near-duplicate detection — the embedding-side
    * sibling of
    * [[graft.operators.Dedup.minhashNearDuplicatesIncremental]]: dedup
    * each NEW batch of vectors against the existing corpus without
    * re-bucketing it or re-verifying old-old pairs. Returns
    * `(pairs touching the new batch, updated store)`; pairs are
    * `(key_a, key_b, cosine)` with `key_a < key_b`, at least one side
    * new (new-vs-store and new-vs-new). Keys must be globally unique
    * across batches.
    *
    * Parity: per increment this is exactly [[lshNeighborPairs]] over
    * the union-so-far restricted to pairs touching the batch (same
    * hyperplanes — the seed fixes them — same threshold, same
    * union-wide `maxBucketSize` cohort cap), so the union of increments
    * over K batches equals the batch run over the full corpus, with the
    * minhash family's guard-crossing caveat: a bucket that grows past
    * the cap at batch k emitted its under-cap pairs in batches < k and
    * only stops pairing from k on. Bucket skew is governed by `numBits`
    * sizing first (~2·log₂(n) at the TARGET corpus size — size for
    * where the store is going, not the first batch); the cap is the
    * backstop.
    *
    * Scale shape per increment: the new batch is bucketed once (one
    * kernel pass); candidates join the new batch's narrow
    * (key, bucket) rows against the store's — with the store persisted
    * bucket-partitioned or simply because the new side is small, AQE
    * broadcasts it and the store is scanned map-side, never shuffled.
    * Embeddings ride the verification join only for candidate keys.
    */
  def lshNeighborPairsIncremental(newDocs: DataFrame, store: DataFrame,
      embCol: String, key: String, dim: Int, numBits: Int = 16,
      threshold: Double = 0.8, seed: Long = 42,
      maxBucketSize: Long = 10000): (DataFrame, DataFrame) =
    lshNeighborPairsIncrementalFromSigs(
      lshSignatures(newDocs, embCol, key, dim, numBits, seed), store,
      key, threshold, maxBucketSize)

  /** [[lshNeighborPairsIncremental]] for a caller that already holds
    * the batch's [[lshSignatures]] relation — e.g. to also persist it
    * as a store delta without running the bucketing kernel twice
    * ([[graft.streaming.SimilarityIngest]] does). `newSigs` must have
    * been produced at the store's `(dim, numBits, seed)`. */
  def lshNeighborPairsIncrementalFromSigs(newSigs: DataFrame,
      store: DataFrame, key: String, threshold: Double = 0.8,
      maxBucketSize: Long = 10000): (DataFrame, DataFrame) = {
    validateLshStore(store, key)
    validateLshStore(newSigs, key)
    require(maxBucketSize <= 0 || maxBucketSize > 1,
      "maxBucketSize must be > 1 (or <= 0 to skip the skew guard)")
    val allStoreSigs = store.select(col(key), col("_emb"), col("_n"),
      col("_bucket"))
    // the batch operator's UNION-WIDE cohort cap, enforced WITHOUT
    // windowing (= shuffling) the store: per-bucket totals from two
    // count aggregates, over-cap buckets recorded in GuardMetrics'
    // "lsh" accumulators and broadcast into map-side anti-joins on
    // both sides. Guard-ON cost: the store-side count's partial
    // aggregation emits per-partition-distinct (bucket, count) rows —
    // a narrow column-pruned store-sized exchange per call in the
    // worst (well-sized numBits) case, the exact trade the minhash
    // incremental's guard-ON banding window makes; pass <= 0 on a
    // trusted (size-governed) bucket space for the zero-store-shuffle
    // shape, which is the form BASELINE.md's flatness row measures.
    // Parity with the guarded batch run holds as long as
    // no bucket CROSSES the cap mid-stream (same guard-crossing caveat
    // as the minhash incremental: a bucket that grows past the cap at
    // batch k already emitted its under-cap pairs in batches < k and
    // only stops pairing from k on). Null (zero-norm) buckets never
    // pair, so they are excluded from the totals. Metric unit: each
    // CALL records the union total of every over-cap bucket it sees —
    // a persistently hot bucket re-records per call, so across a
    // streaming ingest the accumulators are fire diagnostics, not
    // cumulative excluded-row accounting (the GuardMetrics object doc's
    // contract).
    val (newGuarded, storeSigs) =
      if (maxBucketSize <= 0) (newSigs, allStoreSigs)
      else {
        // counts mirror the pairing sides exactly: null buckets AND
        // legacy zero-norm rows (_n = 0, see the filter below) never pair,
        // so neither may inflate a cohort total past the cap
        val over = GuardMetrics.recordOverCohorts(
          allStoreSigs.filter(col("_bucket").isNotNull && col("_n") > 0)
            .groupBy("_bucket").count()
            .unionByName(newSigs.filter(col("_bucket").isNotNull
                && col("_n") > 0)
              .groupBy("_bucket").count())
            .groupBy("_bucket").agg(sum("count").as("_total"))
            .filter(col("_total") > maxBucketSize),
          "_total", maxBucketSize, "lsh")
          .select("_bucket")
        (newSigs.join(broadcast(over), Seq("_bucket"), "left_anti"),
          allStoreSigs.join(broadcast(over), Seq("_bucket"), "left_anti"))
      }
    // Pairing sides require _n > 0: stores written by pre-null-bucket
    // versions of lshSignatures can hold zero-norm rows (_n = 0) with
    // REAL buckets, and for those cosine is 0/0 = NaN — which Spark's
    // ordering ranks ABOVE every double, so `cosine >= threshold` is
    // TRUE, not false: without this filter a legacy store row would
    // emit bogus pairs (and, as a bogus key_b, silently drop a
    // legitimate new row downstream). Current-format rows are
    // unaffected (zero-norm ⇒ null bucket ⇒ never equi-joins).
    // The guard above already ran, so the core runs with it off; its
    // `_new` filters fold each join input back to its own side of the
    // union, keeping the store scan map-side. The dropDuplicates is
    // defensive across the store/batch union.
    val all = storeSigs.withColumn("_new", lit(false))
      .unionByName(newGuarded.withColumn("_new", lit(true)))
      .filter(col("_n") > 0)
    // the guard affects PAIRING only — the updated store keeps every
    // signature, so a later cap raise (or compaction-time re-pair)
    // still has the full relation
    (cosineVerify(Banding.incrementalPairs(all, key, Seq("_bucket"),
        Seq("_emb", "_n"), 0, "lsh"), threshold)
      .dropDuplicates("key_a", "key_b"),
      allStoreSigs.unionByName(newSigs))
  }

  /** Deterministic "training-free" IVF centroids: the first `nlist` corpus
    * rows by content hash of the key — no training pass, adequate when the
    * corpus has no strong cluster structure.
    */
  private def sampledCentroids(corpus: DataFrame, embCol: String,
      key: String, nlist: Int): DataFrame = corpus
    .select(col(key), asDouble(col(embCol)).as("_cv"))
    .orderBy(xxhash64(col(key)), col(key)).limit(nlist)
    // ≤ nlist rows here: number them in one partition WITHOUT a window
    // (an unpartitioned WindowExec warns and a constant partition key is
    // constant-folded away) — sort the single partition and use the
    // in-partition row offset. coalesce(1), not repartition(1): the
    // global limit already lands on one partition, so a repartition
    // would plan a SinglePartition Exchange stage for a no-op; coalesce
    // keeps the single-partition guarantee exchange-free.
    .coalesce(1).sortWithinPartitions(col(key))
    .withColumn("_cid", (monotonically_increasing_id() + 1).cast("int"))
    .select("_cid", "_cv")

  /** Spherical k-means (Lloyd) refinement of the IVF centroids — the
    * quality path when the corpus IS clustered: hash-sampled init, then
    * `iters` rounds of assign-to-nearest + component-wise mean +
    * re-normalize. Output schema matches [[sampledCentroids]]:
    * (`_cid` int, `_cv` array<double>), centroids unit-length.
    *
    * Scale shape per round: the centroids live on the driver between
    * rounds (same bounded-collect class as the label dictionaries —
    * nlist × dim doubles), so assignment is a map-only JVM kernel over
    * the closure-captured centroid array — NO corpus shuffle, unlike the
    * broadcast-join + argmin aggregation [[ivfTopK]] needs for its
    * (queryable) assignment output. The only shuffle per round is the
    * component mean: posexplode to (cid, component) then an avg hash
    * aggregate — partial aggregation applies, and the shuffle carries
    * nlist × dim rows, not the corpus. A cluster that loses all members
    * keeps its previous centroid instead of vanishing.
    *
    * Component means average double sums whose partition order Spark does
    * not fix, so centroids are deterministic only to FP addition
    * reordering — use full probe (`nprobe = nlist`) where bit-stable
    * results matter; the top-k is then exhaustive and centroid jitter
    * cannot surface.
    */
  def kmeansCentroids(corpus: DataFrame, embCol: String, key: String,
      nlist: Int, iters: Int, cacheVecs: Boolean = true): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    // Every Lloyd round launches its own job over the projection
    // (assignment + component mean), so without caching the SOURCE is
    // re-scanned and re-projected once per round — at 100 TB, `iters`
    // full-corpus scans dominate the training cost. Persist the narrow
    // (key, emb) relation across rounds when more than one round will
    // read it: MEMORY_AND_DISK spills rather than OOMs, and the relation
    // is the embedding column plus a key — a fraction of the source
    // table. This method is eager (it collects centroids every round),
    // so the unpersist in `finally` is deterministic — unlike lazy
    // operators, which must localCheckpoint instead (see
    // Dedup.minhashNearDuplicates). Set cacheVecs=false where executor
    // storage is scarcer than the re-scan is expensive.
    val projected = corpus.select(col(key), asDouble(col(embCol)).as("_emb"))
    val doCache = cacheVecs && iters > 1
    val vecs = if (doCache)
      projected.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else projected
    try kmeansLoop(vecs, corpus, embCol, key, nlist, iters)
    finally if (doCache) vecs.unpersist(blocking = false)
  }

  private def kmeansLoop(vecs: DataFrame, corpus: DataFrame, embCol: String,
      key: String, nlist: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    def normalize(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    // cid-ascending order makes the kernel's keep-first tie-break match
    // min(struct(_d, _cid)) — equal dots resolve to the smallest cid
    var cents: Seq[(Int, Array[Double])] =
      sampledCentroids(corpus, embCol, key, nlist)
        .as[(Int, Array[Double])].collect().toSeq
        .map { case (cid, v) => (cid, normalize(v)) }
        .sortBy(_._1)
    for (_ <- 0 until iters) {
      val cids = cents.map(_._1).toArray
      val cvs = cents.map(_._2).toArray
      // map-only argmax-dot assignment (unit centroids: max-dot =
      // max-cosine); JVM loop kernel, not a Catalyst HOF tree — nlist ×
      // dim multiply-adds per row (see lshBucket for the rationale).
      // Null embeddings and null elements assign to null and drop out of
      // the mean (posexplode generates nothing for a null array).
      val assign = udf((v: Seq[java.lang.Double]) => {
        if (v == null || v.contains(null)) null
        else {
          var best = 0
          var bestD = Double.NegativeInfinity
          var c = 0
          while (c < cvs.length) {
            val p = cvs(c)
            val n = math.min(v.length, p.length)
            var d = 0.0
            var i = 0
            while (i < n) { d += v(i) * p(i); i += 1 }
            if (d > bestD) { bestD = d; best = c }
            c += 1
          }
          java.lang.Integer.valueOf(cids(best))
        }
      }: java.lang.Integer)
      // component-wise mean: explode to (cid, pos, x), avg — ONE
      // exchange, carrying nlist × dim rows. The per-cid array assembly
      // happens on the driver over those same collected rows (the
      // former second groupBy + array_sort(collect_list) aggregation
      // re-shuffled the nlist × dim relation just to build arrays the
      // collect was about to materialize anyway — same values, one
      // fewer exchange and stage per Lloyd round). The assignment is
      // projected BELOW the explode — in the same select, the generate
      // would re-evaluate the kernel once per exploded component (dim×
      // per vector)
      val meanRows = vecs
        .select(assign(col("_emb")).as("_cid"), col("_emb"))
        .filter(col("_cid").isNotNull)
        .select(col("_cid"), posexplode(col("_emb")).as(Seq("_pos", "_x")))
        .groupBy(col("_cid"), col("_pos"))
        .agg(avg(col("_x")).as("_m"))
        .collect()
      val updated = meanRows
        .groupBy(_.getInt(0))
        .map { case (cid, rs) =>
          cid -> rs.sortBy(_.getInt(1)).map(_.getDouble(2))
        }
      cents = cents.map { case (cid, old) =>
        (cid, updated.get(cid).map(normalize).getOrElse(old))
      }
    }
    cents.toDF("_cid", "_cv")
  }

  /** IVF-style ANN (the second scale path besides sign-bit LSH): pick
    * `nlist` deterministic centroids (content-hash sample of the corpus,
    * optionally refined by `kmeansIters` rounds of spherical k-means),
    * assign every corpus row to its nearest centroid (one broadcast pass),
    * then answer each query by searching only the `nprobe` nearest
    * centroids' lists. Recall/cost knob = nprobe/nlist; the corpus scan
    * becomes a hash join on the centroid id. `kmeansIters = 0` (default)
    * keeps the training-free sampled centroids; on clustered corpora a few
    * Lloyd rounds align the lists with the real clusters and raise recall
    * at the same nprobe (see [[kmeansCentroids]] for the determinism
    * caveat).
    *
    * Queries are broadcast-small BY CONTRACT (the [[cosineTopK]] caveat:
    * |queries| × nprobe probe rows ride a forced broadcast with an 8 GB /
    * 512M-row hard cap — chunk huge batches). The loaded-index overload
    * enforces the cap for free; this batch path does not pay the extra
    * count job.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, embCol: String,
      key: String, k: Int, nlist: Int = 16, nprobe: Int = 4,
      kmeansIters: Int = 0): DataFrame = {
    val index = buildIvfIndex(corpus, embCol, key, nlist, kmeansIters)
    scoreAndRank(
      probeLists(index.centroids, queries, embCol, key, nprobe),
      index.assigned, key, k)
  }

  /** A built IVF index: `centroids` is the (`_cid` int, `_cv`
    * array<double>) table, `assigned` the corpus partitioned into lists
    * — (key, `_emb`, `_n`, `_cid`), one row per corpus key. Build once
    * with [[buildIvfIndex]] (the expensive full-corpus pass), persist
    * with [[saveIvfIndex]], then serve query batches against the loaded
    * index with the `ivfTopK(index, …)` overload — the 100 TB shape,
    * where re-assigning the corpus per query batch would dwarf the
    * search itself.
    */
  final case class IvfIndex(centroids: DataFrame, assigned: DataFrame)

  /** Build the IVF index: pick centroids (hash-sampled, optionally
    * Lloyd-refined — see [[ivfTopK]]) and assign every corpus row to its
    * nearest list. Assignment shape as before: broadcast centroids,
    * argmin via `min(struct(…))` hash aggregate with map-side combine —
    * the shuffle carries one row per corpus key, not the
    * nlist×-expanded relation a window would sort. The (_d, _cid)
    * struct prefix is unique per key (distinct centroid ids), so the
    * trailing payload fields can never influence the comparison.
    */
  def buildIvfIndex(corpus: DataFrame, embCol: String, key: String,
      nlist: Int = 16, kmeansIters: Int = 0): IvfIndex = {
    val centroids0 =
      if (kmeansIters > 0)
        kmeansCentroids(corpus, embCol, key, nlist, kmeansIters)
      else sampledCentroids(corpus, embCol, key, nlist)
    // Materialize the centroid table ONCE into a LocalRelation (nlist ×
    // dim doubles — driver-bounded): it has two consumers — the probe
    // side's broadcast and the assignment kernel's collect — and without
    // this the sampled-centroid subtree (a corpus scan + top-nlist) ran
    // once per consumer (the Lloyd path was already local). Every
    // downstream read — probeLists' broadcast, assignTo's collect,
    // saveIvfIndex's write — now starts from in-memory rows.
    val spark = corpus.sparkSession
    val rows = centroids0
      .select(col("_cid").cast("int"), asDouble(col("_cv")).as("_cv"))
      .collect()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("_cid",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("_cv",
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))))
    val centroids = spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
    // hand the kernel the rows already on the driver — re-collecting them
    // from the LocalRelation was a (small but real) extra job per build
    val centRows = rows.map { r =>
      val cv: Seq[java.lang.Double] =
        if (r.isNullAt(1)) null else r.getSeq[java.lang.Double](1)
      (r.getInt(0), cv)
    }.sortBy(_._1)
    IvfIndex(centroids, assignToRows(centRows, corpus, embCol, key))
  }

  /** Nearest-centroid assignment of `docs` — MAP-ONLY over the corpus:
    * the centroids are collected to the driver
    * (nlist × dim doubles, the same bounded-collect class as
    * [[kmeansCentroids]]'s Lloyd loop — [[buildIvfIndex]] hands every
    * consumer a LocalRelation, so the collect is a local read there) and
    * the argmin runs as a closure-captured JVM kernel over primitive
    * arrays per row, so the corpus never rides an exchange here. The
    * previous formulation — `join(broadcast(centroids))` +
    * `min(struct(-dot, _cid, …))` aggregate — expanded every row nlist×
    * and shuffled one embedding-laden row per key through a
    * SortAggregate; at 100 TB that was a full-corpus shuffle for a value
    * a map pass computes (guide §2.4: remove shuffles outright).
    * Downstream joins on `_cid` pay their own exchange either way (or
    * broadcast the probe side and pay none).
    *
    * Measured design note: a LAZY one-row-broadcast variant (the
    * centroid matrix riding into the kernel as array columns) avoided
    * this method's eager collect but benched ~2× SLOWER end to end —
    * the downstream join on `_cid` pushes `isnotnull(kernel(...))` into
    * the broadcast join condition, evaluating the kernel TWICE per row
    * (the guide §4.4 duplication, JVM flavor), and every evaluation
    * re-converts the nlist × dim matrix from Catalyst to Scala PER ROW.
    * The closure form converts centroids exactly once per call and the
    * per-row kernel touches only primitive arrays; its one extra
    * centroid-collect job is bounded and amortizes to nothing at scale.
    *
    * Semantics are an exact mirror of the old aggregate, including its
    * edges: the dot follows [[graft.functions.ArrayDotProduct]] (null
    * vector, null element on either side, or length mismatch → null
    * dot); a null dot sorted FIRST in the ascending (d, cid) struct
    * order, so any row with ≥1 null-dot centroid assigns to the smallest
    * such `_cid`; otherwise argmin of −dot with ties (and the all-NaN
    * case — NaN sorts last, like Spark's double ordering) broken to the
    * smallest `_cid`. Zero centroids assign nothing (the old inner join
    * against an empty broadcast). One output row PER INPUT ROW — `key`
    * is the operator family's unique-row identity, as documented on the
    * signature stores.
    */
  private[graft] def assignTo(centroids: DataFrame, docs: DataFrame,
      embCol: String, key: String): DataFrame =
    assignToRows(collectCentroidRows(centroids), docs, embCol, key)

  /** The (cid, vector) rows [[assignToRows]] consumes, in ascending-cid
    * order (the kernel's tie/null-dot rules depend on that order). One
    * bounded collect job; [[buildIvfIndex]] converts its own collected
    * rows instead of paying this job a second time (the build path used
    * to collect the LocalRelation it had just built). */
  private[graft] def collectCentroidRows(
      centroids: DataFrame): Array[(Int, Seq[java.lang.Double])] =
    centroids
      .select(col("_cid").cast("int"), asDouble(col("_cv"))).collect()
      .map { r =>
        val cv: Seq[java.lang.Double] =
          if (r.isNullAt(1)) null
          else r.getSeq[java.lang.Double](1)
        (r.getInt(0), cv)
      }
      .sortBy(_._1)

  private[graft] def assignToRows(
      centRows: Array[(Int, Seq[java.lang.Double])], docs: DataFrame,
      embCol: String, key: String): DataFrame = {
    val projected = docs.select(col(key),
      asDouble(col(embCol)).as("_emb"), norm(col(embCol)).as("_n"))
    if (centRows.isEmpty)
      projected.withColumn("_cid", lit(null).cast("int")).limit(0)
    else {
      val cids = centRows.map(_._1)
      val badCent = centRows.map { case (_, cv) =>
        cv == null || cv.contains(null) }
      val cvs = centRows.map { case (_, cv) =>
        if (cv == null) Array.empty[Double]
        else cv.map(x => if (x == null) 0.0 else x.doubleValue).toArray }
      // NaN sorts AFTER every real double in Spark's ordering — a real
      // −dot must beat a NaN one, NaN vs NaN ties to the first (min) cid
      def lt(a: Double, b: Double): Boolean =
        if (a.isNaN) false else if (b.isNaN) true else a < b
      val assign = udf((v: Seq[java.lang.Double]) => {
        val vBad = v == null || v.contains(null)
        var best = -1
        var bestD = 0.0
        var c = 0
        var nullDot = false
        while (c < cvs.length && !nullDot) {
          if (vBad || badCent(c) || cvs(c).length != v.length) {
            best = c; nullDot = true // ascending cids ⇒ first = min cid
          } else {
            val p = cvs(c)
            var d = 0.0
            var i = 0
            while (i < p.length) { d += v(i) * p(i); i += 1 }
            val nd = -d
            if (best < 0 || lt(nd, bestD)) { bestD = nd; best = c }
            c += 1
          }
        }
        java.lang.Integer.valueOf(cids(best))
      }: java.lang.Integer)
      projected.withColumn("_cid", assign(col("_emb")))
    }
  }

  /** Persist an index: centroids as plain parquet, the assigned corpus
    * PARTITIONED BY its list id — so a loaded index's probe reads touch
    * only the probed lists' files (partition pruning), the on-disk
    * analogue of an ANN index's inverted lists.
    */
  def saveIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    index.assigned.write.mode("overwrite").partitionBy("_cid")
      .parquet(s"$dir/assigned")
  }

  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex =
    IvfIndex(spark.read.parquet(s"$dir/centroids"),
      spark.read.parquet(s"$dir/assigned"))

  /** Int8-quantized form of an index's assigned lists: per vector a
    * symmetric-quantized `_q array<tinyint>` plus its `_scale`
    * ([[graft.functions.VectorFunctions.quantizeInt8]]), ~8× fewer
    * bytes than the `array<double>` embeddings — the standard
    * vector-index compression, here as the SERVING-store layout (the
    * scan is the probe path's IO cost at corpus scale). The key column
    * leads the schema, as in [[assignTo]]'s output. */
  private[graft] def quantizeAssigned(assigned: DataFrame): DataFrame = {
    val key = assigned.columns.head
    assigned
      .select(col(key), col("_emb"), col("_n"), col("_cid"),
        maxAbs(col("_emb")).as("_scale"))
      .select(col(key),
        quantizeInt8(col("_emb"), col("_scale"))
          .cast("array<tinyint>").as("_q"),
        col("_scale"), col("_n"), col("_cid"))
  }

  /** The servable view over a quantized assigned relation — the
    * algebraic trick that keeps scoring inside Cast + the codegen'd
    * dot kernel (no per-element HOF on the hot path): expose the RAW
    * int vector as `_emb` and fold the dequantization scale into the
    * norm (`_n' = _n·127/_scale`), so [[ivfTopK]]'s generic
    * `dot(q, _emb)/(_n_q · _n')` equals
    * `dot(q, dequantized)/(_n_q · |orig|)` exactly. Zero vectors
    * (`_scale = 0`) yield a null norm and rank nowhere — the same
    * contract as the plain path's undefined cosine. */
  private[graft] def dequantizeAssigned(quantized: DataFrame): DataFrame = {
    val key = quantized.columns.head
    quantized.select(col(key),
      col("_q").cast("array<double>").as("_emb"),
      (col("_n") * lit(127.0)
        / when(col("_scale") =!= 0.0, col("_scale"))).as("_n"),
      col("_cid"))
  }

  /** Persist an index in the int8-quantized serving layout — same
    * partition-pruned probe reads as [[saveIvfIndex]], ~8× less scan
    * IO (the quantized lists land under `assigned_q/`, so the two
    * layouts cannot be confused at load time). Quantization costs one
    * HOF pass at WRITE time; serving pays only a codegen'd cast.
    * Recall impact is the int8 rounding error — measured in
    * SimilaritySpec on the real embeddings and recorded in
    * COVERAGE.md. */
  def saveQuantizedIvfIndex(index: IvfIndex, dir: String): Unit = {
    index.centroids.write.mode("overwrite").parquet(s"$dir/centroids")
    quantizeAssigned(index.assigned).write.mode("overwrite")
      .partitionBy("_cid").parquet(s"$dir/assigned_q")
  }

  /** Load a [[saveQuantizedIvfIndex]] layout as a ready-to-serve
    * index ([[ivfTopK]] works unchanged over the dequantizing view).
    */
  def loadQuantizedIvfIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): IvfIndex = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/assigned_q")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new IllegalArgumentException(
        s"no quantized lists under $dir — was this index written by " +
          "saveQuantizedIvfIndex? (plain saveIvfIndex layouts load " +
          "with loadIvfIndex)")
    IvfIndex(spark.read.parquet(s"$dir/centroids"),
      dequantizeAssigned(spark.read.parquet(s"$dir/assigned_q")))
  }

  /** Extend a built index with a NEW batch of vectors — the crawl-
    * pipeline shape, matching the incremental dedup family: the batch
    * is assigned against the EXISTING centroids (one broadcast map
    * pass, the same argmin aggregate as [[buildIvfIndex]] — no corpus
    * re-scan, no centroid rebuild) and appended to the lists. Exactly
    * equivalent to having built the index over the union with these
    * centroids; keys must be globally unique across batches.
    *
    * The returned index's `assigned` is the union relation; persist the
    * DELTA cheaply instead with
    * `extended.assigned.exceptAll(old.assigned)`… or simply write the
    * new batch's assignment with `mode("append")` under the same
    * partitioned layout:
    * {{{
    *   val delta = Similarity.extendIvfIndex(
    *     IvfIndex(idx.centroids, idx.assigned.limit(0)), newVecs,
    *     "embedding", "vec_id").assigned
    *   delta.write.mode("append").partitionBy("_cid")
    *     .parquet(s"$dir/assigned")
    * }}}
    * (an empty-assigned index extension IS the delta). Centroid
    * quality degrades as the corpus drifts from the one the centroids
    * were trained on — recall the recall@k curve is a function of how
    * well lists partition the data; measure each batch with
    * [[assignmentDrift]] against the build-time row and rebuild with
    * fresh [[kmeansCentroids]] when it climbs.
    *
    * CONTRACT: assignment emits one row PER
    * INPUT ROW — duplicate keys in `newDocs` propagate into the lists
    * instead of being collapsed (the old groupBy argmin masked such
    * contract violations). Keys must be globally unique across batches,
    * as stated above. Note also that [[assignTo]] is now EAGER: calling
    * this method runs a bounded centroid-collect job at
    * DataFrame-construction time, so don't construct extensions
    * speculatively.
    */
  def extendIvfIndex(index: IvfIndex, newDocs: DataFrame, embCol: String,
      key: String): IvfIndex =
    IvfIndex(index.centroids, index.assigned.unionByName(
      assignTo(index.centroids, newDocs, embCol, key)))

  /** The drift number the [[extendIvfIndex]] doc promises: the
    * distribution of assigned-centroid cosine distances
    * (`1 − dot(emb, cv)/(|emb|·|cv|)`, for the centroid the argmin
    * assignment picks) over `docs`, as a one-row
    * (`count`, `mean_dist`, `p95_dist`) DataFrame.
    *
    * Usage: record it once over the build corpus, then per extension
    * batch — a batch whose mean/p95 sits well above the build-time row
    * is drifting off the trained lists (recall@nprobe degrades even
    * though extension itself stays exact), which is the signal to
    * rebuild centroids with [[kmeansCentroids]].
    *
    * SCALE SHAPE: the same broadcast argmin aggregate as assignment —
    * but narrower (the shuffle carries the winning (distance, norms)
    * per key, never the embedding) — followed by a one-row global
    * aggregate; zero-norm embeddings yield null distances and are
    * ignored by the aggregates, matching cosine's undefinedness there.
    */
  def assignmentDrift(centroids: DataFrame, docs: DataFrame,
      embCol: String, key: String): DataFrame = {
    val cents = broadcast(centroids.withColumn("_cvn", norm(col("_cv"))))
    docs
      .select(col(key), asDouble(col(embCol)).as("_emb"),
        norm(col(embCol)).as("_n"))
      .join(cents)
      .withColumn("_d", -dot(col("_emb"), col("_cv")))
      .groupBy(col(key))
      .agg(min(struct(col("_d"), col("_cid"), col("_n"), col("_cvn")))
        .as("_best"))
      .select((lit(1.0) + col("_best._d")
        / when(col("_best._n") * col("_best._cvn") > 0,
          col("_best._n") * col("_best._cvn"))).as("_dist"))
      .agg(count(col("_dist")).as("count"),
        avg(col("_dist")).as("mean_dist"),
        percentile_approx(col("_dist"), lit(0.95), lit(10000))
          .as("p95_dist"))
  }

  /** Serve one query batch against a prebuilt (usually loaded) index —
    * identical results to the corpus-building overload at the same
    * centroids. The probed list ids are collected to the driver
    * (bounded by |queries| × nprobe — queries are broadcast-small by
    * the operator's contract) and pushed as a partition filter on the
    * assigned store, so a [[saveIvfIndex]]-persisted index reads ONLY
    * the probed lists from disk.
    *
    * Applies `maxProbeRows = 4000000`: a batch whose |queries| × nprobe
    * probe rows exceed it fails fast with an IllegalArgumentException
    * instead of broadcasting them. Pass a cap to the 7-argument
    * overload to change it.
    */
  def ivfTopK(index: IvfIndex, queries: DataFrame, embCol: String,
      key: String, k: Int, nprobe: Int): DataFrame =
    ivfTopK(index, queries, embCol, key, k, nprobe,
      maxProbeRows = 4000000L)

  /** [[ivfTopK]] (loaded-index form) with an explicit probe-row cap —
    * no default here because the batch overload already carries default
    * arguments (Scala permits defaults on only one alternative). */
  def ivfTopK(index: IvfIndex, queries: DataFrame, embCol: String,
      key: String, k: Int, nprobe: Int,
      maxProbeRows: Long): DataFrame = {
    val probes = probeLists(index.centroids, queries, embCol, key, nprobe)
    // one bounded job yields BOTH the probed list ids for partition
    // pruning AND the probe-row count for the broadcast-small guard —
    // enforcing the contract costs no extra action here (the
    // distinct() it replaces collected the same relation without the
    // counts). |probes| = |queries| × nprobe, each row carrying a query
    // embedding: past a few million rows the scoreAndRank broadcast
    // approaches the 8 GB / 512M-row hard cap and ceases to be the right
    // plan — fail fast with the remedy instead of OOMing mid-broadcast.
    val cidCounts = probes.groupBy("_cid").count()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val probeRows = cidCounts.map(_._2).sum
    require(maxProbeRows <= 0 || probeRows <= maxProbeRows,
      s"probe relation has $probeRows rows (|queries| × nprobe), over the " +
        s"broadcast-small cap $maxProbeRows — chunk the query batch into " +
        "several ivfTopK calls, or raise maxProbeRows if the executors " +
        "can genuinely hold the broadcast (hard Spark cap: 8 GB / 512M " +
        "rows); <= 0 disables the guard")
    val cids = cidCounts.map(_._1).toSeq
    scoreAndRank(probes,
      index.assigned.filter(col("_cid").isInCollection(cids)), key, k)
  }

  /** Each query's `nprobe` nearest centroid lists. */
  private def probeLists(centroids: DataFrame, queries: DataFrame,
      embCol: String, key: String, nprobe: Int): DataFrame = queries
    .select(col(key).as("query_id"), asDouble(col(embCol)).as("_q_emb"),
      norm(col(embCol)).as("_q_n"))
    .join(broadcast(centroids))
    .withColumn("_d", -dot(col("_q_emb"), col("_cv")))
    .withColumn("_rk", row_number().over(
      Window.partitionBy("query_id").orderBy(col("_d"), col("_cid"))))
    .filter(col("_rk") <= nprobe)
    .select(col("query_id"), col("_q_emb"), col("_q_n"), col("_cid"))

  /** Score probed lists and keep each query's top k. The probe side is
    * |queries| × nprobe rows — broadcast-small by the operator family's
    * contract (cosineTopK broadcasts the raw queries the same way) — so
    * broadcasting it keeps the ASSIGNED side, the corpus, out of any
    * exchange: with the map-only [[assignTo]] the whole corpus path is
    * scan → assign → broadcast-join → partial top-k (WindowGroupLimit
    * prunes to ≤ k rows per query per partition before the only, tiny,
    * query-keyed exchange). Before the map-only assignment this joined
    * sort-merge: two
    * corpus-sized exchanges per search.
    */
  private def scoreAndRank(probes: DataFrame, assigned: DataFrame,
      key: String, k: Int): DataFrame =
    broadcast(probes).join(assigned, Seq("_cid"))
      .filter(col("query_id") =!= col(key))
      .select(col("query_id"), col(key).as("neighbor_id"),
        (dot(col("_q_emb"), col("_emb"))
          / (col("_q_n") * col("_n"))).as("cosine"))
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("cosine").desc, col("neighbor_id"))))
      .filter(col("rank") <= k)

  /** Exact all-pairs cosine ≥ threshold — the brute-force baseline the LSH
    * and IVF paths approximate. O(n²): only for bounded or pre-filtered
    * corpora; at scale use [[lshNeighborPairs]]. Output: (key_a, key_b,
    * cosine) with key_a < key_b.
    */
  def cosinePairs(corpus: DataFrame, embCol: String, key: String,
      threshold: Double): DataFrame = {
    val withN = corpus.select(col(key), asDouble(col(embCol)).as("_emb"),
      norm(col(embCol)).as("_n"))
    val a = withN.select(col(key).as("key_a"), col("_emb").as("_emb_a"),
      col("_n").as("_n_a"))
    val b = withN.select(col(key).as("key_b"), col("_emb").as("_emb_b"),
      col("_n").as("_n_b"))
    a.crossJoin(b)
      .filter(col("key_a") < col("key_b"))
      .select(col("key_a"), col("key_b"),
        (dot(col("_emb_a"), col("_emb_b"))
          / (col("_n_a") * col("_n_b"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-duplicate keys: pairs above threshold collapsed
    * to "drop the larger key" survivors (connected-components-free greedy,
    * adequate for sparse duplicate graphs).
    *
    * GUARD CAVEAT — over-cap clusters survive dedup ENTIRELY: the skew
    * guard defaults ON (`maxBucketSize = 10000`), and a bucket holding
    * more than that many near-identical vectors — the prime dedup
    * target — emits ZERO pairs, so every copy in such a cluster is
    * KEPT (the drop only warns, via GuardMetrics' "lsh" accumulators).
    * If massive duplicate clusters are expected, either raise the cap,
    * pass `maxBucketSize <= 0` to disable the guard (accepting the B²
    * verify cost on the hot bucket), or watch the accumulators and
    * re-run the flagged buckets exactly. The default favors
    * never-quadratic over never-misses, matching the minhash family.
    */
  def embeddingDedupDropList(corpus: DataFrame, embCol: String, key: String,
      dim: Int, numBits: Int = 16, threshold: Double = 0.95,
      seed: Long = 42, maxBucketSize: Long = 10000): DataFrame =
    lshNeighborPairs(corpus, embCol, key, dim, numBits, threshold, seed,
        maxBucketSize)
      .select(col("key_b").as(key)).distinct()

  /** CLUSTER-scoped semantic near-duplicate pairs — the SemDeDup-family
    * alternative (public technique: k-means the embedding space, then
    * search for duplicates only WITHIN each cluster) to the sign-bit
    * LSH of [[lshNeighborPairs]]: k-means with `nlist` clusters bounds
    * the candidate set, exact cosine verifies inside each cluster.
    * Output: (key_a, key_b, cosine), key_a < key_b — the
    * [[lshNeighborPairs]] contract, so either feeds the same drop-list
    * / connected-components downstream.
    *
    * When to prefer which: LSH's recall is a function of `numBits` vs
    * the threshold (hyperplane cuts lose near-pairs probabilistically,
    * mitigated by band ORing); the cluster scope instead loses exactly
    * the pairs that straddle a k-means boundary — rare for the
    * SEMANTIC-level duplicates this targets (copies land in the same
    * cluster almost surely; the spec pins a measured recall floor), and
    * recall is tuned by `nlist` (fewer, larger clusters → higher recall,
    * more pair work — `nlist ≈ corpus/expected-cluster-size`). Pair
    * cost is Σ|cluster|² instead of Σ|bucket|²; the same
    * `maxClusterSize` cohort guard (GuardMetrics tag "semdedup") keeps
    * a degenerate cluster from going quadratic, with the drop-only-
    * warns caveat [[embeddingDedupDropList]] documents.
    *
    * `kmeansIters = 0` keeps the hash-sampled deterministic centroids
    * (bit-stable output, the oracle-ability contract); `> 0` runs Lloyd
    * rounds for real cluster structure — better recall, deterministic
    * only to FP addition reordering ([[kmeansCentroids]]'s caveat).
    * Null and zero-norm vectors never pair.
    *
    * Scale shape: centroid training is [[kmeansCentroids]]'s map-only
    * loop (driver holds nlist × dim doubles); assignment is one
    * broadcast-join argmin; the pair join shuffles on `_cid` once. No
    * all-pairs stage anywhere.
    */
  def clusterNearDuplicatePairs(corpus: DataFrame, embCol: String,
      key: String, nlist: Int, threshold: Double = 0.95,
      kmeansIters: Int = 2, maxClusterSize: Long = 10000): DataFrame = {
    Banding.requireFreeParams("clusterNearDuplicatePairs", "key" -> key)
    require(nlist > 0, s"nlist must be > 0, got $nlist")
    require(maxClusterSize <= 0 || maxClusterSize > 1,
      "maxClusterSize must be > 1 (or <= 0 to skip the skew guard)")
    val usable = corpus
      .select(col(key), asDouble(col(embCol)).as("_uemb"))
      .withColumn("_un", norm(col("_uemb")))
      .filter(col("_un") > 0)
      .select(col(key), col("_uemb"))
    val cents = kmeansCentroids(usable, "_uemb", key, nlist, kmeansIters)
    // assignTo gives each row exactly one `_cid`, so under the
    // unique-key contract a pair forms in one cluster only: no dedup pass
    cosineVerify(Banding.pairs(assignTo(cents, usable, "_uemb", key), key,
      Seq("_cid"), Seq("_emb", "_n"), maxClusterSize, "semdedup"), threshold)
  }

  /** [[clusterNearDuplicatePairs]] collapsed to the "drop the larger
    * key" survivor set — [[embeddingDedupDropList]]'s greedy contract
    * through the cluster-scoped path. */
  def clusterDedupDropList(corpus: DataFrame, embCol: String,
      key: String, nlist: Int, threshold: Double = 0.95,
      kmeansIters: Int = 2, maxClusterSize: Long = 10000): DataFrame =
    clusterNearDuplicatePairs(corpus, embCol, key, nlist, threshold,
        kmeansIters, maxClusterSize)
      .select(col("key_b").as(key)).distinct()

  /** SEMANTIC decontamination — the embedding-space member of the
    * decontamination family ([[graft.operators.TextOps.decontaminate]]
    * catches verbatim n-gram overlap; this catches PARAPHRASED eval
    * material, which shares meaning but not n-grams): tag every corpus
    * vector with its maximum EXACT cosine against a benchmark embedding
    * set, plus a keep/drop verdict at `threshold`. Output: `corpus.*` +
    * `max_benchmark_cosine` (null when the corpus vector is
    * null/contains nulls/has zero norm, has a different dimension than
    * the benchmark vectors, or the benchmark has no usable vectors —
    * null can never match) + `verdict` ('drop' when the max
    * cosine ≥ threshold, else 'keep').
    *
    * Dimensions are validated, never truncated: all benchmark vectors
    * must share one length (checked at collect time — mixed-model
    * benchmark embeddings are a hard error), and a corpus vector whose
    * length differs from the benchmark's yields a null cosine rather
    * than a partial dot product. A partial dot would systematically
    * underestimate cosines and silently miss contamination — the one
    * failure mode this operator exists to prevent; a null keeps the
    * mismatch visible for the caller to audit.
    *
    * Exactness is deliberate: the benchmark side is an EVAL set —
    * small by definition — so the corpus side affords |benchmark| dot
    * products per row in one JVM kernel pass over the broadcast
    * (vector, norm) array, and the result is oracle-exact with NO
    * recall caveat (a decontamination miss is a contaminated training
    * set; this is the one dedup-family operator where approximate is
    * the wrong default). Strictly map-only: one eager bounded collect
    * of the benchmark, then no join, no shuffle, fused into the corpus
    * scan at any scale. If the "benchmark" outgrows the broadcast
    * contract (dim × |bench| doubles), fall back to the LSH composition
    * ([[lshNeighborPairsIncremental]] with the benchmark signatures as
    * the store) and accept its recall floor.
    */
  def embeddingDecontaminate(corpus: DataFrame, benchmark: DataFrame,
      embCol: String, key: String, threshold: Double = 0.95,
      benchEmbCol: String = ""): DataFrame = {
    val bec = if (benchEmbCol.isEmpty) embCol else benchEmbCol
    require(benchmark.columns.contains(bec),
      s"benchmark is missing embedding column '$bec'")
    require(corpus.columns.contains(embCol),
      s"corpus is missing embedding column '$embCol'")
    // zero-norm/null benchmark vectors can never match anything —
    // excluding them here keeps the kernel division-safe
    val bench: Array[(Array[Double], Double)] = benchmark
      .select(asDouble(col(bec)).as("_e"), norm(col(bec)).as("_n"))
      .filter(col("_n") > 0)
      .collect()
      .map(r => (r.getSeq[Double](0).toArray, r.getDouble(1)))
    val benchDims = bench.map(_._1.length).distinct
    require(benchDims.length <= 1,
      s"benchmark embeddings have mixed dimensions ${benchDims.sorted.mkString(", ")}: " +
        "all benchmark vectors must come from one embedding model")
    val benchDim = if (bench.isEmpty) -1 else benchDims.head
    val bc = corpus.sparkSession.sparkContext.broadcast(bench)
    val maxCos = udf((v: Seq[java.lang.Double]) => {
      if (v == null || v.contains(null)) null
      else {
        val set = bc.value
        val x = new Array[Double](v.length)
        var i = 0
        while (i < x.length) { x(i) = v(i); i += 1 }
        var nn = 0.0
        i = 0
        while (i < x.length) { nn += x(i) * x(i); i += 1 }
        val xn = math.sqrt(nn)
        // dimension mismatch → null, never a truncated dot product
        if (xn == 0.0 || set.isEmpty || x.length != benchDim) null
        else {
          var best = Double.NegativeInfinity
          var b = 0
          while (b < set.length) {
            val (bv, bn) = set(b)
            var d = 0.0
            i = 0
            while (i < x.length) { d += x(i) * bv(i); i += 1 }
            val c = d / (xn * bn)
            if (c > best) best = c
            b += 1
          }
          java.lang.Double.valueOf(best)
        }
      }
    }: java.lang.Double)
    Reserved.requireFreeColumns(corpus,
      Seq("max_benchmark_cosine", "verdict"), "embeddingDecontaminate",
      "it appends max_benchmark_cosine/verdict — re-tagging an " +
        "already-tagged frame must drop the stale columns first")
    corpus
      .withColumn("max_benchmark_cosine", maxCos(asDouble(col(embCol))))
      .withColumn("verdict",
        when(col("max_benchmark_cosine") >= threshold, "drop")
          .otherwise("keep"))
  }
}
