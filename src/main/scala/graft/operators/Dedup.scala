package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators.TextOps.tokens

/** Deduplication operators for training-data pipelines.
  *
  * Scale design: exact dedup is one hash-partitioned aggregation on the
  * content key (map-side partial combine applies). Near-dup (MinHash/SimHash)
  * avoids the O(n²) all-pairs comparison by banding signatures into buckets
  * and joining within buckets — the classic LSH trick — so the shuffle is on
  * (band, bucket-hash) keys and only candidate pairs are verified exactly.
  */
object Dedup {

  /** Exact dedup: one survivor per distinct value of `contentCols`, keeping
    * the minimum `key` (deterministic "keep-first"). Returns the surviving
    * keys with their group sizes.
    *
    * The shuffle key is the raw content — exact but heavy when the content
    * is document text. At corpus scale prefer [[exactByDigest]], which
    * ships 192-bit digests through the shuffle instead of documents.
    */
  def exact(df: DataFrame, contentCols: Seq[String],
      key: String): DataFrame = {
    Reserved.requireFreeParams(Seq("dup_count"), "exact",
      ("key" -> key) +: contentCols.map("contentCols" -> _): _*)
    df.groupBy(contentCols.map(col): _*)
      .agg(min(col(key)).as(key), count(lit(1)).as("dup_count"))
      .select((key +: contentCols :+ "dup_count").map(col): _*)
  }

  /** Exact dedup at corpus scale: group on a 192-bit content digest
    * (md5 ⊕ xxhash64) so the shuffle carries 24
    * bytes per row instead of the documents themselves — on a 100 TB text
    * corpus this is the difference between shuffling kilobytes and
    * shuffling the corpus. Same (key, dup_count) result as [[exact]] up to
    * a 2^-192-scale collision (cryptographically negligible). Content
    * columns are NOT in the output — they stayed on the map side.
    *
    * The md5 input is a JSON rendering of the content struct with
    * `ignoreNullFields=false`, which (a) distinguishes NULL from "" and
    * from any real value, and (b) keeps column boundaries unambiguous via
    * quoting — so (null, "x") vs ("x", null) and null vs "" all digest
    * differently, exactly as [[exact]]'s groupBy separates them. (A
    * separator-joined concat_ws would SKIP nulls and collide all of
    * those.) xxhash64's own null-skipping is harmless here: the JSON md5
    * alone carries the null distinction, and a collision needs BOTH
    * digests to agree.
    */
  def exactByDigest(df: DataFrame, contentCols: Seq[String],
      key: String): DataFrame = {
    Reserved.requireFreeParams(Seq("_d1", "_d2", "dup_count"),
      "exactByDigest", "key" -> key)
    val rendered = to_json(struct(contentCols.map(col): _*),
      java.util.Collections.singletonMap("ignoreNullFields", "false"))
    df.select(col(key), md5(rendered).as("_d1"),
        xxhash64(contentCols.map(col): _*).as("_d2"))
      .groupBy("_d1", "_d2")
      .agg(min(col(key)).as(key), count(lit(1)).as("dup_count"))
      .select(col(key), col("dup_count"))
  }

  /** End-to-end exact-duplicate REMOVAL via the digest path: keeps the
    * minimum-key row of every content group, joining survivors back by
    * key (a semi-join on the narrow key column, broadcastable when the
    * survivor set fits).
    */
  def dropExactDuplicates(df: DataFrame, contentCols: Seq[String],
      key: String): DataFrame =
    df.join(exactByDigest(df, contentCols, key).select(key), Seq(key),
      "left_semi")

  /** Persistable exact-dedup digest store: one `(key, _d1, _d2)` row per
    * DISTINCT content digest (the same 192-bit md5 ⊕ xxhash64 family as
    * [[exactByDigest]], same null/boundary discipline), keyed by the
    * minimum key that carried it — ~40 bytes per distinct document.
    * Input duplicates collapse here, so building a store over a batch is
    * one digest-width shuffle of that batch only.
    */
  def exactSignatures(df: DataFrame, contentCols: Seq[String],
      key: String): DataFrame = {
    Reserved.requireFreeParams(Seq("_d1", "_d2"), "exactSignatures",
      "key" -> key)
    val rendered = to_json(struct(contentCols.map(col): _*),
      java.util.Collections.singletonMap("ignoreNullFields", "false"))
    df.select(col(key), md5(rendered).as("_d1"),
        xxhash64(contentCols.map(col): _*).as("_d2"))
      .groupBy("_d1", "_d2").agg(min(col(key)).as(key))
      .select(col(key), col("_d1"), col("_d2"))
  }

  /** Fail fast when an increment violates the incremental family's
    * globally-unique-key contract. Every incremental operator
    * ([[dropExactDuplicatesIncremental]],
    * [[minhashNearDuplicatesIncremental]],
    * [[simhashNearDuplicatesIncremental]], the LSH form in
    * `Similarity`, and [[connectedComponentsIncremental]]) assumes the
    * increment's keys have never been seen by the store — a violated
    * contract does not error, it silently corrupts keep-first
    * semantics and cluster labels. Call this before an incremental
    * step when the upstream key assignment is not trusted.
    *
    * SCALE SHAPE: one map-side scan of the store against the broadcast
    * increment key set (the same shape as the incrementals' hit scan)
    * with an early-exit take — the store is never shuffled. Pass
    * `broadcastIncrement = false` for an increment too large to
    * broadcast.
    *
    * @param storeKey the store's key column when its name differs from
    *                 the increment's (e.g. a label store's `key`)
    */
  def assertDisjointKeys(increment: DataFrame, store: DataFrame,
      key: String, storeKey: String = "",
      broadcastIncrement: Boolean = true): Unit = {
    val sk = if (storeKey.isEmpty) key else storeKey
    def bc(df: DataFrame) = if (broadcastIncrement) broadcast(df) else df
    val offenders = store.select(col(sk).as("_k"))
      .join(bc(increment.select(col(key).as("_k")).distinct()),
        Seq("_k"), "left_semi")
      .take(5)
    if (offenders.nonEmpty)
      throw new IllegalStateException(
        "incremental key contract violated: the increment reuses keys " +
          s"the store already holds (first offenders: ${offenders
            .map(_.get(0)).mkString(", ")}) — keys must be globally " +
          "unique across batches; deduplicate the key assignment " +
          "upstream or re-key the increment")
  }

  private def validateDigestStore(store: DataFrame, key: String): Unit = {
    import org.apache.spark.sql.types.{LongType, StringType}
    Reserved.requireFreeParams(Seq("_d1", "_d2"),
      "the incremental digest operators", "key" -> key)
    for (c <- Seq(key, "_d1", "_d2"); if !store.columns.contains(c))
      throw new IllegalArgumentException(
        s"digest store is missing column '$c' — expected the " +
          s"($key, _d1, _d2) relation exactSignatures produces")
    (store.schema("_d1").dataType, store.schema("_d2").dataType) match {
      case (StringType, LongType) => ()
      case (a, b) => throw new IllegalArgumentException(
        "digest store column types must be _d1 string, _d2 bigint; " +
          s"got ${a.simpleString}, ${b.simpleString}")
    }
  }

  /** Incremental exact-duplicate REMOVAL against a persisted digest
    * store — the exact-equality member of the incremental family: per
    * crawl batch, drop every new document whose content digest the
    * corpus has already seen (and all but the minimum-key copy of each
    * digest within the batch), without re-digesting or shuffling the
    * corpus. Returns `(kept rows of newDocs, updated store)`; the store
    * is `store ∪ signatures(kept)`, ready to persist for the next
    * increment.
    *
    * Unlike the near-dup incrementals there is NO superset caveat:
    * content equality is transitive, so with monotonically increasing
    * keys the union of K incremental keep-sets is EXACTLY
    * [[dropExactDuplicates]] over the union — a late arrival can never
    * bridge two previously-distinct exact-content groups.
    *
    * SCALE SHAPE per increment (`broadcastIncrement` on, the default):
    * the batch is digested and min-key-collapsed in one batch-sized
    * shuffle; the store is read ONCE, map-side, against the broadcast
    * batch digests (the hit set); the batch-side anti/semi joins are
    * all broadcast. The store is never shuffled and document content
    * never leaves the map side. Pass `broadcastIncrement = false` for
    * an increment too large to broadcast — and persist the store with
    * [[saveBucketedDigestStore]] so that fallback's sort-merge hit
    * scan still plans with no store-side shuffle.
    */
  def dropExactDuplicatesIncremental(newDocs: DataFrame,
      store: DataFrame, contentCols: Seq[String], key: String,
      broadcastIncrement: Boolean = true): (DataFrame, DataFrame) = {
    val (kept, _, updated) = dropExactDuplicatesIncrementalDetailed(
      newDocs, store, contentCols, key, broadcastIncrement)
    (kept, updated)
  }

  /** [[dropExactDuplicatesIncremental]] plus the batch's FRESH
    * signatures as a middle element — the store DELTA a versioned
    * layout persists, already computed inside; recomputing it from the
    * kept rows would digest the batch a second time. */
  private[graft] def dropExactDuplicatesIncrementalDetailed(
      newDocs: DataFrame, store: DataFrame, contentCols: Seq[String],
      key: String, broadcastIncrement: Boolean = true)
      : (DataFrame, DataFrame, DataFrame) = {
    validateDigestStore(store, key)
    def bc(df: DataFrame) = if (broadcastIncrement) broadcast(df) else df
    // within-batch representatives (min key per digest); pinned — the
    // hit join, the anti-join, and the store update all consume it
    val newSigs = exactSignatures(newDocs, contentCols, key)
      .localCheckpoint(false)
    // digests the corpus has seen: the one store scan, map-side against
    // the broadcast batch digests
    val hit = store.join(bc(newSigs.select("_d1", "_d2")),
      Seq("_d1", "_d2")).select(col("_d1"), col("_d2"))
    val freshSigs = newSigs.join(bc(hit), Seq("_d1", "_d2"), "left_anti")
    val kept = newDocs.join(bc(freshSigs.select(key)), Seq(key),
      "left_semi")
    (kept, freshSigs.select(col(key), col("_d1"), col("_d2")),
      store.select(col(key), col("_d1"), col("_d2"))
        .unionByName(freshSigs.select(col(key), col("_d1"), col("_d2"))))
  }

  /** Build a Bloom-filter sidecar over a digest store's `_d2` hashes —
    * the membership summary that lets
    * [[dropExactDuplicatesIncrementalBloomed]] answer "definitely
    * fresh" for most of a batch WITHOUT any store I/O. At corpus scale
    * the plain incremental's hit scan reads the whole digest store
    * once per batch (map-side, but still O(store) bytes off disk); the
    * sidecar is ~1.2 bytes × `ln(1/fpp)/ln²2` per stored doc (about
    * 1.2 GB for 10⁹ docs at 1% fpp) and lives in memory, so only the
    * bloom-positive sliver of a batch ever consults the store.
    *
    * `expectedItems` must cover the STORE'S EVENTUAL size (the filter
    * cannot be resized; overshooting only costs bits). Extend with
    * [[extendDigestBloom]] as increments commit, persist with
    * [[saveDigestBloom]]/[[loadDigestBloom]].
    */
  def digestBloom(store: DataFrame, expectedItems: Long,
      fpp: Double = 0.01): org.apache.spark.util.sketch.BloomFilter =
    // stat.bloomFilter NPEs on zero rows (null aggregate buffer) — the
    // empty bootstrap store starts from a blank filter instead
    if (store.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
    else store.stat.bloomFilter("_d2", expectedItems, fpp)

  /** Fold an increment's digests into an existing sidecar (in place,
    * and returned for chaining). Increment-sized: the digests stream
    * through the driver — the filter lives there anyway. */
  def extendDigestBloom(bloom: org.apache.spark.util.sketch.BloomFilter,
      newSigs: DataFrame): org.apache.spark.util.sketch.BloomFilter = {
    val it = newSigs.select(col("_d2")).distinct().toLocalIterator()
    while (it.hasNext) bloom.putLong(it.next().getLong(0))
    bloom
  }

  def saveDigestBloom(spark: SparkSession,
      bloom: org.apache.spark.util.sketch.BloomFilter,
      path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try bloom.writeTo(out) finally out.close()
  }

  def loadDigestBloom(spark: SparkSession,
      path: String): org.apache.spark.util.sketch.BloomFilter = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in)
    finally in.close()
  }

  /** [[dropExactDuplicatesIncremental]] behind a Bloom sidecar: the
    * batch's digests are first split by `bloom` membership — the
    * definitely-fresh majority (no false negatives: the sidecar must
    * cover every digest in the store, the contract
    * [[digestBloom]]/[[extendDigestBloom]] maintain; supersets are
    * safe) skips the store entirely, and only the bloom-positive
    * sliver (true duplicates + `fpp` of the fresh) is confirmed
    * against the store's hit scan. When a batch has NO positives —
    * the common case for genuinely novel crawl data — the store is
    * never read at all, which is the point: per-batch store I/O drops
    * from O(store) to O(positives' confirmation), at the price of a
    * memory-resident sidecar broadcast to executors.
    *
    * Returns `(kept, updated store, the same bloom extended with the
    * kept signatures)`. Keep-sets are IDENTICAL to the plain
    * incremental — the bloom only ever short-circuits negatives.
    */
  def dropExactDuplicatesIncrementalBloomed(newDocs: DataFrame,
      store: DataFrame, bloom: org.apache.spark.util.sketch.BloomFilter,
      contentCols: Seq[String], key: String,
      broadcastIncrement: Boolean = true)
      : (DataFrame, DataFrame, org.apache.spark.util.sketch.BloomFilter) = {
    validateDigestStore(store, key)
    def bc(df: DataFrame) = if (broadcastIncrement) broadcast(df) else df
    val spark = newDocs.sparkSession
    val bcBloom = spark.sparkContext.broadcast(bloom)
    val might = udf((d2: Long) => bcBloom.value.mightContainLong(d2))
    val newSigs = exactSignatures(newDocs, contentCols, key)
      .localCheckpoint(false)
    val suspect = newSigs.filter(might(col("_d2")))
      .localCheckpoint(false)
    val freshSigs =
      if (suspect.isEmpty) newSigs // zero positives: NO store access
      else {
        val hit = store.join(bc(suspect.select("_d1", "_d2")),
          Seq("_d1", "_d2")).select(col("_d1"), col("_d2"))
        // three consumers (bloom extension, kept semi-join, store
        // union) — pin, or the store-confirm scan runs three times
        newSigs.join(bc(hit), Seq("_d1", "_d2"), "left_anti")
          .localCheckpoint(false)
      }
    val kept = newDocs.join(bc(freshSigs.select(key)), Seq(key),
      "left_semi")
    (kept, store.select(col(key), col("_d1"), col("_d2"))
      .unionByName(freshSigs.select(col(key), col("_d1"), col("_d2"))),
      extendDigestBloom(bloom, freshSigs))
  }

  /** Persist a digest store PRE-BUCKETED on its join digest — the
    * large-increment escape hatch for
    * [[dropExactDuplicatesIncremental]]. The incremental's
    * no-store-shuffle claim rides on broadcasting the increment; with
    * `broadcastIncrement = false` (an increment too large to
    * broadcast) the hit scan falls back to a sort-merge join that
    * shuffles the CORPUS-scale store on every increment. A store
    * persisted through this helper carries its hash partitioning in
    * the catalog (`CLUSTERED BY (_d1, _d2)`), so that join plans with
    * NO store-side Exchange (pinned in PlanShapeSpec): only the
    * increment shuffles, to `numBuckets` partitions. The store is
    * written `repartition(numBuckets, _d1, _d2)` first — the writer's
    * task hash equals the bucket hash, yielding one file per bucket
    * so the sorted-bucket metadata stays usable.
    *
    * Size `numBuckets` for the TARGET corpus: one bucket should be a
    * comfortable task's worth of store (the usual ~128 MB parquet
    * yardstick), and it cannot be changed without rewriting the store.
    *
    * The files are plain parquet; the bucketing lives in the session
    * catalog. In a fresh session, re-attach with
    * [[bucketedDigestStore]] before trusting the plan shape.
    */
  def saveBucketedDigestStore(store: DataFrame, table: String,
      path: String, numBuckets: Int = 256): Unit = {
    for (c <- Seq("_d1", "_d2"); if !store.columns.contains(c))
      throw new IllegalArgumentException(
        s"digest store is missing column '$c' — expected the " +
          "(key, _d1, _d2) relation exactSignatures produces")
    BucketedStore.save(store, table, path, numBuckets, Seq("_d1", "_d2"))
  }

  /** Load (re-attaching to the session catalog if needed) a bucketed
    * digest store written by [[saveBucketedDigestStore]]. A fresh
    * session does not know the parquet files are bucketed until the
    * table is declared; the bucket count is read from the
    * `_graft_buckets` sidecar the save wrote — a caller-supplied
    * count cannot drift from the files' actual hashing. */
  def bucketedDigestStore(spark: SparkSession, table: String,
      path: String): DataFrame =
    BucketedStore.attach(spark, table, path, Seq("_d1", "_d2"),
      "saveBucketedDigestStore")

  /** Word n-gram shingles of a text column (distinct, lowercased). Empty
    * tokens are filtered (so tab/newline padding can't smuggle "" into the
    * set — Spark `trim` strips spaces only) and null/empty text yields an
    * EMPTY set, which never matches anything — mirroring SQL predicate
    * semantics where a NULL-derived jaccard drops the pair.
    */
  def shingles(text: Column, n: Int = 3): Column = {
    val tk = filter(tokens(text), t => length(t) > 0)
    array_distinct(
      when(size(tk) === 0, array().cast("array<string>"))
        .otherwise(when(size(tk) < n, array(concat_ws(" ", tk)))
          .otherwise(
            transform(sequence(lit(0), size(tk) - n),
              i => concat_ws(" ", slice(tk, i + 1, lit(n)))))))
  }

  /** Exact Jaccard similarity of two string-array columns, counted over
    * their distinct elements, so arrays that are not sets count right. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_distinct(concat(a, b))).cast("double")
    when(union === 0, 0.0).otherwise(inter / union)
  }

  /** Tight-loop kernels for the hot per-row/per-pair math. Catalyst
    * higher-order functions are NOT whole-stage-codegen'd (interpreted per
    * element), so a 64-hash signature over ~50 shingles as an HOF tree costs
    * thousands of interpreted expression evaluations per row; a JVM loop is
    * ~100× cheaper and still fully distributed.
    */
  private[graft] object Kernels extends Serializable {
    import scala.util.hashing.MurmurHash3

    /** The one JVM tokenizer of the shingle, simhash and n-gram kernels:
      * lowercased (root locale), whitespace-split, empty tokens dropped.
      * No explicit trim: `\s+` splitting plus the nonEmpty filter already
      * drops leading/trailing whitespace of ANY kind (space, tab, newline),
      * which keeps semantics aligned with the Catalyst `split`+filter
      * formulation without depending on which characters `trim` strips.
      */
    def tokens(text: String): Array[String] =
      text.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)

    /** Word n-gram shingles in one pass (mirrors [[shingles]] semantics).
      * Null/empty text → EMPTY set (never a duplicate of anything): a ""
      * sentinel would make every null-text row an exact jaccard-1.0 dup of
      * every other, the same defect class the null simhash fix addressed.
      */
    def shingleSet(text: String, n: Int): Array[String] = {
      if (text == null) return Array.empty
      val tk = tokens(text)
      if (tk.length == 0) Array.empty
      else if (tk.length < n) Array(tk.mkString(" "))
      else {
        val out = new scala.collection.mutable.LinkedHashSet[String]
        var i = 0
        while (i + n <= tk.length) {
          out += tk.slice(i, i + n).mkString(" ")
          i += 1
        }
        out.toArray
      }
    }

    /** Seeded (a, b) coefficient family for the minhash signature —
      * computed ONCE per operator call and captured in the UDF closure, not
      * re-derived per row.
      */
    def minhashCoefficients(numHashes: Int,
        seed: Long): (Array[Long], Array[Long]) = {
      val p = 4294967311L // smallest prime > 2^32
      val rnd = new scala.util.Random(seed)
      val as = new Array[Long](numHashes)
      val bs = new Array[Long](numHashes)
      var i = 0
      while (i < numHashes) {
        as(i) = 1 + math.abs(rnd.nextLong()) % (p - 1)
        bs(i) = math.abs(rnd.nextLong()) % p
        i += 1
      }
      (as, bs)
    }

    /** Band-bucket hashes: minhash signature via the (a*x+b) mod p family
      * over murmur shingle hashes, folded per band into one long bucket id.
      */
    def bandBuckets(shingles: Seq[String], as: Array[Long], bs: Array[Long],
        bands: Int): Array[Long] = {
      val p = 4294967311L
      val numHashes = as.length
      val rowsPerBand = numHashes / bands
      val sig = Array.fill(numHashes)(Long.MaxValue)
      shingles.foreach { s =>
        val x = MurmurHash3.bytesHash(s.getBytes("UTF-8"), 42).toLong & 0xffffffffL
        var j = 0
        while (j < numHashes) {
          val v = (as(j) * x + bs(j)) % p
          if (v < sig(j)) sig(j) = v
          j += 1
        }
      }
      Array.tabulate(bands) { b =>
        var acc = 1125899906842597L
        var j = b * rowsPerBand
        while (j < (b + 1) * rowsPerBand) { acc = acc * 31 + sig(j); j += 1 }
        acc
      }
    }

    /** 32-bit SimHash in one JVM pass (mirrors the documented semantics:
      * per-bit +1/-1 votes over distinct-token murmur hashes). Uses Spark's
      * own Murmur3_x86_32 with the `hash()` seed so values match the
      * equivalent Catalyst-HOF formulation — but ~30× cheaper, since the
      * HOF tree evaluated 32 interpreted `aggregate` folds per row.
      * Null text hashes to null (NOT 0): a non-null sentinel would cluster
      * every null-text row as a hamming-0 near-duplicate of empty-text rows
      * in [[simhashNearDuplicates]]; a null key instead drops out of the
      * bucket equi-join, matching SQL join semantics.
      * Tokenization is bare `\s+` split + nonEmpty filter (no trim) for the
      * same reason as [[shingleSet]].
      *
      * WIDTH CAVEAT — why 64 is the default: two DISTINCT documents
      * collide at hamming 0 with probability ~n²/2³³ per fingerprint
      * width 32, and such birthday collisions PASS hamming verification —
      * they are indistinguishable from true near-dups downstream (they
      * would even bridge clusters in [[connectedComponents]]). Measured
      * on a Zipf-10k corpus (BASELINE.md): coincidence pairs grow
      * quadratically, 50 → 2,367 at 1×→10× (5.5k→55k docs). The 64-bit
      * kernel below drops that floor by 2³² — effectively zero at any
      * realistic corpus size — so it is the default everywhere; 32 stays
      * available for fingerprint stores built before the widening.
      */
    def simhash32(text: String): java.lang.Long = {
      if (text == null) return null
      val tk = tokens(text)
      val seen = new scala.collection.mutable.HashSet[String]
      val votes = new Array[Int](32)
      var ti = 0
      while (ti < tk.length) {
        val t = tk(ti)
        if (seen.add(t)) {
          val bytes = t.getBytes("UTF-8")
          val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashUnsafeBytes(
            bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            bytes.length, 42)
          var i = 0
          while (i < 32) {
            if (((h >>> i) & 1) == 1) votes(i) += 1 else votes(i) -= 1
            i += 1
          }
        }
        ti += 1
      }
      var acc = 0L
      var i = 0
      while (i < 32) { if (votes(i) > 0) acc |= (1L << i); i += 1 }
      acc
    }

    /** 64-bit SimHash: same vote semantics and tokenization as
      * [[simhash32]] but with 64 vote counters over xxhash64 token hashes
      * (Spark's own XXH64 with the `xxhash64()` seed, so values match the
      * equivalent Catalyst formulation `aggregate(transform(tokens,
      * xxhash64), …)`). The doubled width retires the 32-bit birthday
      * floor (see the width caveat on [[simhash32]]): the hamming≤3
      * coincidence probability drops by 2³², from quadratically-growing
      * junk pairs at corpus scale to ~n²·43745/2⁶⁵ ≈ 0 for any n a real
      * corpus reaches. Null/empty-text semantics identical to the 32-bit
      * kernel.
      */
    def simhash64(text: String): java.lang.Long = {
      if (text == null) return null
      val tk = tokens(text)
      val seen = new scala.collection.mutable.HashSet[String]
      val votes = new Array[Int](64)
      var ti = 0
      while (ti < tk.length) {
        val t = tk(ti)
        if (seen.add(t)) {
          val bytes = t.getBytes("UTF-8")
          val h = org.apache.spark.sql.catalyst.expressions.XXH64
            .hashUnsafeBytes(bytes,
              org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
              bytes.length, 42L)
          var i = 0
          while (i < 64) {
            if (((h >>> i) & 1) == 1) votes(i) += 1 else votes(i) -= 1
            i += 1
          }
        }
        ti += 1
      }
      var acc = 0L
      var i = 0
      while (i < 64) { if (votes(i) > 0) acc |= (1L << i); i += 1 }
      acc
    }

    /** Per-OCCURRENCE n-gram spans of a text: one (start, end, hash64)
      * triple per n-gram position, multiplicity kept (unlike
      * [[shingleSet]] — occurrence COUNTS are the point here). Token
      * positions index the lowercased whitespace-split non-empty token
      * sequence; `< n` tokens → one whole-text span [0, len); null/empty
      * → no spans. Hashes are [[TextOps.ngramHash64]], the same 64-bit
      * two-seed murmur the decontamination operator keys on.
      */
    def ngramSpans(text: String, n: Int): Array[(Int, Int, Long)] = {
      if (text == null) return Array.empty
      val tk = tokens(text)
      if (tk.length == 0) Array.empty
      else if (tk.length < n)
        Array((0, tk.length, TextOps.ngramHash64(tk.mkString(" "))))
      else {
        val out = new Array[(Int, Int, Long)](tk.length - n + 1)
        var i = 0
        while (i + n <= tk.length) {
          out(i) = (i, i + n, TextOps.ngramHash64(tk.slice(i, i + n).mkString(" ")))
          i += 1
        }
        out
      }
    }

    /** Merge token spans into maximal disjoint intervals: overlapping OR
      * adjacent ([0,5) + [5,8) → [0,8)) spans coalesce — identical to
      * islands over the covered-position set.
      */
    def mergeSpans(spans: Seq[(Int, Int)]): Array[(Int, Int)] = {
      if (spans.isEmpty) return Array.empty
      val sorted = spans.sortBy(identity)
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var cs = sorted.head._1
      var ce = sorted.head._2
      for ((s, e) <- sorted.tail) {
        if (s <= ce) ce = math.max(ce, e)
        else { out += ((cs, ce)); cs = s; ce = e }
      }
      out += ((cs, ce))
      out.toArray
    }

    /** Rewrite a text with its duplicated spans removed: tokens (original
      * case, whitespace-split) inside any [start, end) span are dropped;
      * a non-empty `marker` is emitted once per span. The output is
      * always the single-space join of what remains — token-level
      * masking inherently normalizes whitespace, for span-free documents
      * too (keeps the transform uniform and the oracle replayable).
      * Spans must be sorted and disjoint ([[mergeSpans]] output).
      * Null text → null.
      */
    def maskSpans(text: String, starts: Seq[Int], ends: Seq[Int],
        marker: String): String = {
      if (text == null) return null
      val tk = text.split("\\s+").filter(_.nonEmpty)
      val sb = new java.lang.StringBuilder
      var si = 0
      var j = 0
      def append(tok: String): Unit = {
        if (sb.length > 0) sb.append(' ')
        sb.append(tok)
      }
      while (j < tk.length) {
        if (si < starts.length && j == starts(si)) {
          if (marker.nonEmpty) append(marker)
          j = ends(si)
          si += 1
        } else {
          append(tk(j))
          j += 1
        }
      }
      sb.toString
    }
  }

  private def shinglesUdf(n: Int) =
    udf((text: String) => Kernels.shingleSet(text, n))

  /** JVM-kernel shingles: same semantics as [[shingles]] but a single
    * per-row JVM pass ([[Kernels.shingleSet]]) instead of a Catalyst
    * higher-order-function tree — the HOF form is interpreted per element
    * (~100× slower on corpus-wide scans; see the [[Kernels]] note). Use
    * this one in hot paths; [[shingles]] remains for pure-Column
    * composition (e.g. applying to expressions inside other HOFs).
    */
  def shinglesFast(text: Column, n: Int = 3): Column = shinglesUdf(n)(text)

  /** Exact Jaccard over DISTINCT-element arrays as a codegen expression:
    * |A∩B| / (|A|+|B|−|A∩B|), the inclusion–exclusion identity — valid
    * ONLY because both inputs are sets (array sizes are then set
    * cardinalities). Bit-identical to [[jaccard]] there: same integer
    * counts, same IEEE double division, same 0.0 on empty∪empty, one
    * array_distinct fewer. The store-fed incremental path uses [[jaccard]]
    * instead — a stored `_sh` that violates the distinctness contract
    * would get silently wrong values from the size arithmetic.
    */
  private def jaccardSetExpr(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    val union = size(a) + size(b) - inter
    when(union === 0, lit(0.0))
      .otherwise(inter.cast("double") / union)
  }

  /** Per-document merged duplicated-span relation backing
    * [[repeatedSpans]] / [[maskRepeatedSpans]]: `(key, _spans)` where
    * `_spans` is the sorted disjoint [start, end) token intervals covered
    * by any n-gram occurring ≥ `minCount` times corpus-wide. Only
    * documents with ≥ 1 span appear.
    */
  /** The span family's internal working + output names. Only `_spans`
    * and `masked_text` ride the CALLER'S frame (the mask join /
    * withColumn — frame-reserved in [[maskWithSpans]]); the rest live
    * in fresh select lineages that the key and text columns themselves
    * ride, so those two parameter NAMES must stay clear of the whole
    * set ([[Reserved.requireFreeParams]]). */
  private val spanInternal = Seq("_g", "_s", "_e", "_h", "_c", "_sc",
    "_iv", "_spans", "_sp", "span_start", "span_end", "masked_text")

  private def mergedSpanRelation(df: DataFrame, textCol: String,
      key: String, n: Int, minCount: Long,
      cacheOccurrences: Boolean): DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    require(minCount >= 2,
      s"minCount must be >= 2 (1 would mark every token), got $minCount")
    Reserved.requireFreeParams(spanInternal, "repeatedSpans",
      "key" -> key, "textCol" -> textCol)
    val gramUdf = udf((text: String) => Kernels.ngramSpans(text, n))
    val occ0 = df
      .select(col(key), explode(gramUdf(col(textCol))).as("_g"))
      .select(col(key), col("_g._1").as("_s"), col("_g._2").as("_e"),
        col("_g._3").as("_h"))
    // two consumers (the count aggregate and the hit join) would each
    // re-scan the corpus and re-run the shingle kernel; pin the narrow
    // occurrence relation so the expensive pass happens once — the
    // cacheShingles trade (localCheckpoint truncates lineage; pass
    // false on spot/dynamic-allocation clusters to keep recomputability)
    val occ = if (cacheOccurrences) occ0.localCheckpoint(false) else occ0
    val rep = occ.groupBy("_h").agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minCount).select("_h")
    val mergeUdf = udf((ss: Seq[Int], es: Seq[Int]) =>
      Kernels.mergeSpans(ss.zip(es)))
    occ.join(rep, Seq("_h"))
      .groupBy(col(key))
      .agg(collect_list(struct(col("_s"), col("_e"))).as("_iv"))
      .select(col(key), mergeUdf(col("_iv._s"), col("_iv._e")).as("_spans"))
  }

  /** Cross-document repeated-substring detection — the span-level
    * complement of whole-document dedup: boilerplate (headers, licenses,
    * navigation chrome) that survives doc-granular
    * [[minhashNearDuplicates]] at any threshold shows up here as token
    * n-grams occurring ≥ `minCount` times across the corpus. Output: one
    * row per maximal duplicated span, `(key, span_start, span_end)` —
    * [start, end) positions into the document's whitespace-split
    * non-empty token sequence, overlapping/adjacent repeated n-grams
    * merged. The reference's dedup family stops at whole-document
    * granularity (`/root/reference/jigsaw/model_utils/filters.py:142-143`
    * keep-first); this is the standard span-level next step for LLM
    * training corpora.
    *
    * Scale shape — nothing is quadratic, no guard needed (unlike the
    * banding self-joins): the occurrence relation is corpus-TOKEN-sized
    * narrow rows (key, 2×int, hash64); the count aggregate partial-
    * combines map-side, so its exchange carries per-partition-DISTINCT
    * n-grams, not occurrences (a corpus-hot boilerplate gram collapses
    * to one row per map partition — ScaleStressSpec measures the
    * exchange scaling with distinct-gram count); the repeated set is
    * boilerplate-sized and joins the occurrences narrow (AQE broadcasts
    * it when small); the per-document merge shuffles only HIT spans,
    * bounded by document length. Counting is per OCCURRENCE (a doc
    * repeating its own n-gram 10× contributes 10), so within-document
    * boilerplate is caught too.
    *
    * `< n`-token documents contribute one whole-text pseudo-n-gram
    * covering [0, len) — exact short-duplicate texts repeated
    * ≥ `minCount` times are flagged whole.
    */
  def repeatedSpans(df: DataFrame, textCol: String, key: String,
      n: Int = 10, minCount: Long = 5,
      cacheOccurrences: Boolean = true): DataFrame =
    mergedSpanRelation(df, textCol, key, n, minCount, cacheOccurrences)
      .select(col(key), explode(col("_spans")).as("_sp"))
      .select(col(key), col("_sp._1").as("span_start"),
        col("_sp._2").as("span_end"))

  /** The removal transform over [[repeatedSpans]]: every input row comes
    * back with a `masked_text` column — the document's tokens with all
    * duplicated spans dropped (replaced by `marker` once per span when
    * non-empty). Token-level masking inherently whitespace-normalizes:
    * `masked_text` is ALWAYS the single-space join of the surviving
    * original-case tokens, span-free documents included (uniform output,
    * exactly replayable by the SQL oracle). Null text → null.
    */
  def maskRepeatedSpans(df: DataFrame, textCol: String, key: String,
      n: Int = 10, minCount: Long = 5, marker: String = "",
      cacheOccurrences: Boolean = true): DataFrame =
    maskWithSpans(df,
      mergedSpanRelation(df, textCol, key, n, minCount,
        cacheOccurrences),
      textCol, key, marker)

  /** CORPUS-LEVEL LINE DEDUPLICATION — the classic C4/CCNet curation
    * step between whole-document dedup and the statistical span family:
    * an EXACT line (delimiter-bounded, trim-compared) occurring more
    * than once ANYWHERE in the corpus survives only at its FIRST
    * occurrence — the lexicographically smallest `(key, position)` —
    * and every other occurrence is dropped from its document. Document
    * dedup misses shared navigation/footer lines; [[repeatedSpans]]
    * needs `minCount` statistical support and token-window alignment;
    * this is the exact-match, ≥2-occurrence, keep-one variant the
    * public pipelines run (C4 dropped repeated spans corpus-wide
    * keep-first; CCNet dedups exact lines across shards).
    *
    * Semantics: line identity is the TRIMMED line; the rebuilt text
    * keeps the original untrimmed line (so two occurrences differing
    * only in surrounding whitespace collapse, and the survivor keeps
    * its own padding). Lines shorter than `minChars` AFTER trimming are
    * EXEMPT — always kept, never counted: ubiquitous short lines
    * ("Home", "") carry no signal and would cross-link unrelated
    * documents. Within-document repeats fall out of the same rule
    * (first position wins). `delim` is a literal (regex-quoted for the
    * split) and empty trailing lines are preserved (split limit −1), so
    * an untouched document round-trips byte-exact. Null text passes
    * through (null `text_deduped`, zero counts). `key` must be unique
    * per row and orderable — it is the keep-first identity.
    *
    * Output: `df.*` + `text_deduped` (surviving lines re-joined with
    * `delim`), `kept_lines`, `removed_lines`.
    *
    * Scale shape — relational throughout, nothing collected: the corpus
    * explodes to (key, pos, line-hash) narrow rows — the TEXT never
    * rides an exchange; `xxhash64(trim(line))` is computed in the same
    * projection as the split (collisions 2⁻⁶⁴ per pair, the
    * decontamination family's accepted posture). The canonical-
    * occurrence aggregation (`min(struct(key, pos))`, map-side partial
    * combine) keeps ONLY hashes seen ≥2 times, so the occurrence join
    * back and the per-document removal lists stay SPARSE — documents
    * that actually lose a line. The attach strategy is
    * `broadcastRemovals`: `None` (the default) adds NO hint — the
    * planner (AQE, from the removal relation's ACTUAL size at runtime)
    * broadcasts when it fits and shuffles when it doesn't, the safe
    * posture for the operator's motivating C4/CCNet use case where
    * boilerplate is pervasive and the removal relation is corpus-dense
    * (a forced broadcast there is a driver-OOM); `Some(true)` forces
    * the broadcast (curated corpora — guarantees corpus rows never
    * ride an exchange); `Some(false)` forces a shuffled join (the
    * attach is then the one shuffle touching corpus rows). The rebuild
    * is codegen'd HOFs (indexed `filter` over the split array), no UDF.
    */
  def dedupLines(df: DataFrame, textCol: String, key: String,
      minChars: Int = 10, delim: String = "\n",
      broadcastRemovals: Option[Boolean] = None): DataFrame = {
    lineDedupGuards(df, textCol, key, minChars, delim)
    val occ = lineOccurrences(df, textCol, key, minChars, delim)
    val canon = occ.groupBy(col("_h"))
      .agg(min(struct(col(key), col("_p"))).as("_first"),
        count(lit(1)).as("_n"))
      .where(col("_n") > 1)
      .select(col("_h"), col("_first"))
    val removals = occ.join(canon, Seq("_h"))
      .where(struct(col(key), col("_p")) =!= col("_first"))
      .groupBy(col(key))
      .agg(sort_array(collect_list(col("_p"))).as("_rm"))
    attachLineRemovals(df, textCol, key, removals, delim,
      broadcastRemovals)
  }

  /** Shared validation for the line-dedup family ([[dedupLines]],
    * [[dedupLinesIncremental]], [[lineCountStore]]). */
  private def lineDedupGuards(df: DataFrame, textCol: String,
      key: String, minChars: Int, delim: String): Unit = {
    require(df.columns.contains(textCol),
      s"frame is missing text column '$textCol'")
    require(df.columns.contains(key),
      s"frame is missing key column '$key'")
    require(minChars >= 0, s"minChars must be >= 0, got $minChars")
    require(delim.nonEmpty, "delim must be non-empty")
    // fail loud on collisions with the appended outputs / internal
    // working names (the QualityModel.score posture) — a frame already
    // carrying one of these would otherwise die with an obscure
    // ambiguous-column error or silently misbehave. Only the names that
    // actually ride the CALLER'S frame are reserved: the output trio
    // plus the rebuild's _rm/_kept withColumns; the occurrence-side
    // names (_p/_l/_h/_first/_n/_hit) live in fresh select lineages
    // that never see df's OTHER columns — but the key and text columns
    // themselves DO ride those lineages, so those two names must stay
    // clear of the whole internal set
    val reserved = Seq("text_deduped", "kept_lines", "removed_lines",
      "_rm", "_kept")
    val occInternal = Seq("_p", "_l", "_h", "_first", "_n", "_hit",
      "_c") ++ reserved
    Reserved.requireFreeParams(occInternal, "dedupLines",
      "key" -> key, "textCol" -> textCol)
    Reserved.requireFreeColumns(df, reserved, "dedupLines",
      "it appends text_deduped/kept_lines/removed_lines and uses the " +
        "_-prefixed names internally")
  }

  /** The split expression all line ops share: literal delimiter,
    * trailing empties preserved so untouched docs round-trip. */
  private def lineSplit(textCol: String, delim: String): Column =
    split(col(textCol), java.util.regex.Pattern.quote(delim), -1)

  /** The `(key, _p, _h)` occurrence relation — position and trimmed-
    * line hash per countable line; the text never leaves the
    * projection. */
  private def lineOccurrences(df: DataFrame, textCol: String,
      key: String, minChars: Int, delim: String): DataFrame =
    df.select(col(key),
        posexplode(lineSplit(textCol, delim)).as(Seq("_p", "_l")))
      .where(length(trim(col("_l"))) >= minChars)
      .select(col(key), col("_p"), xxhash64(trim(col("_l"))).as("_h"))

  /** The rebuild tail: left-join the sparse `(key, _rm)` removal lists
    * and drop the listed positions with codegen'd HOFs. */
  private def attachLineRemovals(df: DataFrame, textCol: String,
      key: String, removals: DataFrame, delim: String,
      broadcastRemovals: Option[Boolean]): DataFrame = {
    val rm = broadcastRemovals match {
      case Some(true)  => broadcast(removals)
      case Some(false) => removals.hint("shuffle_hash")
      case None        => removals // AQE sizes the attach at runtime
    }
    val lines = lineSplit(textCol, delim)
    df.join(rm, Seq(key), "left")
      .withColumn("_rm", coalesce(col("_rm"), typedLit(Seq.empty[Int])))
      .withColumn("_kept", filter(lines,
        (_: Column, i: Column) => !array_contains(col("_rm"), i)))
      .withColumn("text_deduped", array_join(col("_kept"), delim))
      .withColumn("kept_lines",
        coalesce(size(col("_kept")).cast("long"), lit(0L)))
      .withColumn("removed_lines", size(col("_rm")).cast("long"))
      .select(df.columns.map(col) ++ Seq(col("text_deduped"),
        col("kept_lines"), col("removed_lines")): _*)
  }

  /** Persistable corpus-wide line-hash count store — [[dedupLines]]'s
    * incremental state, the exact shape of [[ngramCountStore]] with
    * trimmed lines (≥ `minChars`) as the unit instead of n-grams: one
    * `(_h bigint, _c bigint)` row per distinct line hash, ~16 bytes
    * each. DELTA-VALUED like its sibling — counts are additive, readers
    * aggregate, [[compactNgramCountStore]] folds (the relation is
    * schema-identical, the same fold applies). Membership (any row) is
    * what [[dedupLinesIncremental]] consumes; the counts cost nothing
    * extra and keep corpus-frequency analyses possible.
    */
  def lineCountStore(df: DataFrame, textCol: String,
      minChars: Int = 10, delim: String = "\n"): DataFrame = {
    require(df.columns.contains(textCol),
      s"frame is missing text column '$textCol'")
    require(minChars >= 0, s"minChars must be >= 0, got $minChars")
    require(delim.nonEmpty, "delim must be non-empty")
    df.select(posexplode(lineSplit(textCol, delim)).as(Seq("_p", "_l")))
      .where(length(trim(col("_l"))) >= minChars)
      .select(xxhash64(trim(col("_l"))).as("_h"))
      .groupBy("_h").agg(count(lit(1)).as("_c"))
  }

  /** Incremental [[dedupLines]] — line-dedup a NEW batch of documents
    * keep-first against a growing crawl's history without re-running
    * over the corpus: an occurrence in `newDocs` is removed when its
    * trimmed-line hash already exists in `store` (kept by some earlier
    * increment) OR when it is not the batch's own first occurrence
    * (`min(struct(key, pos))` — within-batch keep-first, the batch
    * operator's rule). Under the ingest contract that keys are
    * monotonically increasing across increments, running increments in
    * order reproduces EXACTLY the lines a single [[dedupLines]] run
    * over the concatenated corpus keeps (parity pinned in DedupSpec).
    *
    * `store` is the `(_h, _c)` relation [[lineCountStore]] produces
    * (delta-valued; pass the union of all prior deltas — readers need
    * membership, so unaggregated deltas are fine). Returns the result
    * frame (the [[dedupLines]] output shape) AND the batch's own count
    * delta to append to the store — computed from the same single
    * occurrence pass, so the batch text is split exactly once.
    *
    * Scale shape: the batch explodes to `(key, pos, hash)` narrow rows
    * (text never rides an exchange); the store is read ONCE, map-side
    * against the broadcast batch-hash set (`broadcastIncrement`, the
    * [[maskRepeatedSpansIncremental]] escape hatch: `false` routes a
    * huge batch through a shuffled semi-join instead of failing) — line
    * hashes the batch never mentions cannot remove a batch line, so the
    * STORE never shuffles regardless of how large history grows. The
    * removal attach follows [[dedupLines]]' `broadcastRemovals`
    * contract.
    */
  def dedupLinesIncremental(newDocs: DataFrame, store: DataFrame,
      textCol: String, key: String, minChars: Int = 10,
      delim: String = "\n", broadcastIncrement: Boolean = true,
      broadcastRemovals: Option[Boolean] = None)
      : (DataFrame, DataFrame) = {
    lineDedupGuards(newDocs, textCol, key, minChars, delim)
    validateNgramCountStore(store)
    def bc(df: DataFrame) = if (broadcastIncrement) broadcast(df) else df
    // one split pass: the occurrence relation feeds the canonical-
    // occurrence aggregation (whose counts ARE the store delta), the
    // store membership scan, and the removal join
    val occ = lineOccurrences(newDocs, textCol, key, minChars, delim)
      .localCheckpoint(false)
    val agg = occ.groupBy(col("_h"))
      .agg(min(struct(col(key), col("_p"))).as("_first"),
        count(lit(1)).as("_c"))
      .localCheckpoint(false)
    val delta = agg.select(col("_h"), col("_c"))
    // map-only store scan against the broadcast batch-hash set; the
    // distinct collapses the store's delta multiplicity to membership
    val storeHits = store
      .join(bc(agg.select(col("_h"))), Seq("_h"), "left_semi")
      .select(col("_h")).distinct()
      .withColumn("_hit", lit(true))
    val removals = occ
      .join(agg.select(col("_h"), col("_first")), Seq("_h"))
      .join(storeHits, Seq("_h"), "left")
      .where(col("_hit").isNotNull ||
        struct(col(key), col("_p")) =!= col("_first"))
      .groupBy(col(key))
      .agg(sort_array(collect_list(col("_p"))).as("_rm"))
    (attachLineRemovals(newDocs, textCol, key, removals, delim,
      broadcastRemovals), delta)
  }

  /** Persistable corpus-wide n-gram occurrence-count store — the span
    * family's incremental state: one `(_h bigint, _c bigint)` row per
    * distinct n-gram of `df` (per-occurrence counts, the
    * [[repeatedSpans]] unit), ~16 bytes per distinct gram. The store
    * relation is DELTA-VALUED: incremental updates append rows rather
    * than rewriting (counts are additive, so a gram may carry several
    * rows that sum to its live count) — readers always aggregate, and
    * [[compactNgramCountStore]] folds the history back to one row per
    * gram when the delta pile grows.
    */
  def ngramCountStore(df: DataFrame, textCol: String, n: Int = 10)
      : DataFrame = {
    require(n > 0, s"n must be positive, got $n")
    val gramUdf = udf((text: String) => Kernels.ngramSpans(text, n))
    df.select(explode(gramUdf(col(textCol))).as("_g"))
      .select(col("_g._3").as("_h"))
      .groupBy("_h").agg(count(lit(1)).as("_c"))
  }

  /** Fold a delta-valued count store to one row per gram. Run it
    * offline when the appended history widens the per-increment
    * hit-scan aggregation (same maintenance role as the versioned-store
    * compactions). */
  def compactNgramCountStore(store: DataFrame): DataFrame = {
    validateNgramCountStore(store)
    store.groupBy("_h").agg(sum(col("_c")).as("_c"))
  }

  private def validateNgramCountStore(store: DataFrame): Unit = {
    import org.apache.spark.sql.types.LongType
    for (c <- Seq("_h", "_c"); if !store.columns.contains(c))
      throw new IllegalArgumentException(
        s"n-gram count store is missing column '$c' — expected the " +
          "(_h, _c) relation ngramCountStore produces")
    (store.schema("_h").dataType, store.schema("_c").dataType) match {
      case (LongType, LongType) => ()
      case (a, b) => throw new IllegalArgumentException(
        "n-gram count store column types must be _h bigint, _c bigint; " +
          s"got ${a.simpleString}, ${b.simpleString}")
    }
  }

  /** The incremental batch's `(key, _spans)` relation plus the updated
    * store — shared by [[repeatedSpansIncremental]] and
    * [[maskRepeatedSpansIncremental]]. */
  private def incrementalSpanRelation(newDocs: DataFrame,
      store: DataFrame, textCol: String, key: String, n: Int,
      minCount: Long, broadcastIncrement: Boolean)
      : (DataFrame, DataFrame) = {
    require(n > 0, s"n must be positive, got $n")
    require(minCount >= 2,
      s"minCount must be >= 2 (1 would mark every token), got $minCount")
    Reserved.requireFreeParams(spanInternal, "repeatedSpansIncremental",
      "key" -> key, "textCol" -> textCol)
    validateNgramCountStore(store)
    def bc(df: DataFrame) = if (broadcastIncrement) broadcast(df) else df
    val gramUdf = udf((text: String) => Kernels.ngramSpans(text, n))
    // batch occurrences feed the batch counts AND the hit join — one
    // shingle pass (the cacheOccurrences rationale on the batch op)
    val occ = newDocs
      .select(col(key), explode(gramUdf(col(textCol))).as("_g"))
      .select(col(key), col("_g._1").as("_s"), col("_g._2").as("_e"),
        col("_g._3").as("_h"))
      .localCheckpoint(false)
    val batchCounts = occ.groupBy("_h").agg(count(lit(1)).as("_c"))
      .localCheckpoint(false)
    // the one store read: map-side against the broadcast batch-gram
    // set — counts of grams the batch never mentions cannot change a
    // batch span, so the store is never shuffled (the exact-dedup
    // hit-scan shape); only the batch-gram HITS aggregate
    val storeHits = store
      .join(bc(batchCounts.select(col("_h"))), Seq("_h"), "left_semi")
      .groupBy("_h").agg(sum(col("_c")).as("_sc"))
    val rep = batchCounts.join(storeHits, Seq("_h"), "left")
      .filter(col("_c") + coalesce(col("_sc"), lit(0L)) >= minCount)
      .select("_h")
    val mergeUdf = udf((ss: Seq[Int], es: Seq[Int]) =>
      Kernels.mergeSpans(ss.zip(es)))
    val spans = occ.join(bc(rep), Seq("_h"))
      .groupBy(col(key))
      .agg(collect_list(struct(col("_s"), col("_e"))).as("_iv"))
      .select(col(key), mergeUdf(col("_iv._s"), col("_iv._e")).as("_spans"))
    (spans, batchCounts)
  }

  /** [[maskRepeatedSpansIncremental]] with the batch's raw count DELTA
    * as the second element instead of the unioned store — what a
    * versioned layout persists per increment
    * ([[graft.streaming.DedupIngest]]'s `spancounts/` family) without
    * re-shingling the batch. */
  private[graft] def maskRepeatedSpansIncrementalDetailed(
      newDocs: DataFrame, store: DataFrame, textCol: String, key: String,
      n: Int, minCount: Long, marker: String,
      broadcastIncrement: Boolean = true): (DataFrame, DataFrame) = {
    val (spans, delta) = incrementalSpanRelation(newDocs, store,
      textCol, key, n, minCount, broadcastIncrement)
    (maskWithSpans(newDocs, spans, textCol, key, marker), delta)
  }

  private def maskWithSpans(newDocs: DataFrame, spans: DataFrame,
      textCol: String, key: String, marker: String): DataFrame = {
    // the two names that actually ride the caller's frame: the span
    // join would be ambiguous on a pre-existing _spans, and the
    // withColumn would silently clobber a pre-existing masked_text
    Reserved.requireFreeColumns(newDocs, Seq("_spans", "masked_text"),
      "maskRepeatedSpans", "it appends masked_text and joins the " +
        "_spans relation in")
    val maskUdf = udf((text: String, ss: Seq[Int], es: Seq[Int]) =>
      Kernels.maskSpans(text,
        if (ss == null) Nil else ss, if (es == null) Nil else es, marker))
    newDocs.join(spans, Seq(key), "left")
      .withColumn("masked_text",
        maskUdf(col(textCol), col("_spans._1"), col("_spans._2")))
      .drop("_spans")
  }

  /** Incremental [[repeatedSpans]] against a persisted n-gram count
    * store — the span-level member of the incremental dedup family:
    * per crawl batch, the batch documents' duplicated spans under the
    * occurrence counts of the WHOLE corpus so far (store ∪ batch,
    * within-batch repetition included), without re-shingling or
    * shuffling the corpus. Returns `(batch span rows, updated store)`;
    * span rows are `(key, span_start, span_end)` exactly as the batch
    * operator emits them, and the updated store appends the batch's
    * count delta (compact periodically with
    * [[compactNgramCountStore]]).
    *
    * PARITY: each increment's spans are EXACTLY
    * `repeatedSpans(prefixCorpus ∪ batch) restricted to the batch's
    * keys` — a document's spans depend only on its own text and the
    * global counts, both of which this computes in full. The K-batch
    * caveat is the family's usual monotonicity: a gram that crosses
    * `minCount` at batch k does not retro-mask documents shipped in
    * batches < k (they were processed under the prefix's counts) — the
    * union of incremental span sets can under-flag relative to a
    * one-shot run over everything, never over-flag. Re-run the batch
    * operator offline when retroactive coverage matters.
    *
    * SCALE SHAPE per increment (`broadcastIncrement` on, the default):
    * the batch is shingled once; the store is read ONCE, map-side,
    * semi-joined against the broadcast batch-gram set (counts of grams
    * the batch never mentions cannot affect a batch span, so the store
    * is NEVER shuffled — only the batch-gram hits aggregate); the span
    * assembly shuffles batch-sized relations only. Pass
    * `broadcastIncrement = false` when the batch's distinct-gram set is
    * itself too large to broadcast.
    */
  def repeatedSpansIncremental(newDocs: DataFrame, store: DataFrame,
      textCol: String, key: String, n: Int = 10, minCount: Long = 5,
      broadcastIncrement: Boolean = true): (DataFrame, DataFrame) = {
    val (spans, delta) = incrementalSpanRelation(newDocs, store,
      textCol, key, n, minCount, broadcastIncrement)
    (spans.select(col(key), explode(col("_spans")).as("_sp"))
      .select(col(key), col("_sp._1").as("span_start"),
        col("_sp._2").as("span_end")),
      store.unionByName(delta))
  }

  /** The removal transform over [[repeatedSpansIncremental]]: the batch
    * comes back with `masked_text` ([[maskRepeatedSpans]] semantics —
    * always the whitespace-normalized join of the surviving tokens),
    * alongside the updated count store. */
  def maskRepeatedSpansIncremental(newDocs: DataFrame, store: DataFrame,
      textCol: String, key: String, n: Int = 10, minCount: Long = 5,
      marker: String = "", broadcastIncrement: Boolean = true)
      : (DataFrame, DataFrame) = {
    val (masked, delta) = maskRepeatedSpansIncrementalDetailed(newDocs,
      store, textCol, key, n, minCount, marker, broadcastIncrement)
    (masked, store.unionByName(delta))
  }

  /** LSH candidate pairs: minhash-band the shingles, bucket-join on compact
    * (band, bucket-long) keys ([[Banding.pairs]]), dedup candidate pairs,
    * then verify with exact Jaccard, keeping pairs ≥ threshold. Output:
    * (key_a, key_b, jaccard) with key_a < key_b. `bands` must divide
    * `numHashes`.
    *
    * Scale shape: the band rows carry ONLY (key, band, bucket) — shingle
    * arrays never ride the band shuffle; they are re-joined by key for just
    * the deduped candidates. Verification cost is per candidate pair, not
    * per (pair × shared-band), and `maxBucketSize` caps the B² candidate
    * blow-up of degenerate (boilerplate) buckets; exact duplicates of
    * boilerplate belong to the digest path anyway ([[exactByDigest]] is
    * O(n)). `maxBucketSize <= 0` is the documented sentinel for "skip the
    * guard window entirely" — for corpora already known to be
    * boilerplate-free it removes the count window (and its sort) from the
    * plan, at the cost of unbounded B² blow-up if the assumption is wrong.
    */
  def minhashNearDuplicates(df: DataFrame, textCol: String, key: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.7, seed: Long = 42,
      cacheShingles: Boolean = true,
      maxBucketSize: Long = 10000): DataFrame = {
    Banding.requireFreeParams("minhashNearDuplicates",
      "key" -> key, "textCol" -> textCol)
    require(numHashes % bands == 0, "bands must divide numHashes")
    require(maxBucketSize <= 0 || maxBucketSize > 1,
      "maxBucketSize must be > 1 (or <= 0 to skip the skew guard)")
    val (hashA, hashB) = Kernels.minhashCoefficients(numHashes, seed)
    val bucketsUdf = udf((sh: Seq[String]) =>
      Kernels.bandBuckets(sh, hashA, hashB, bands))
    // The (key, shingles) relation has three consumers (banding + the two
    // candidate re-joins). A lazy localCheckpoint computes the shingle
    // kernel once and persists only the narrow derived relation; unlike
    // Dataset.cache (held by CacheManager until explicit unpersist) the
    // checkpoint RDD is GC-cleaned by ContextCleaner when the result goes
    // unreachable, so a lazy operator can use it without leaking. Tradeoff
    // at scale: localCheckpoint truncates lineage, so ANY lost executor —
    // preemptible/spot nodes, but also ordinary dynamic-allocation
    // decommission — fails the job instead of recomputing. Set
    // cacheShingles=false on clusters where executors can go away
    // (spark.dynamicAllocation.enabled, spot fleets) to recompute the
    // shingle kernel per consumer instead.
    val projected = df
      .select(col(key), shinglesUdf(shingleSize)(col(textCol)).as("_sh"))
      // null/empty text → empty shingle set → can never be a duplicate;
      // drop before banding so such rows don't co-bucket with each other
      .filter(size(col("_sh")) > 0)
    val withSh =
      if (cacheShingles) projected.localCheckpoint(false) else projected
    val banded = Banding.explode(withSh, Seq(key),
      bucketsUdf(col("_sh")), "_bucket")
    Banding.pairs(banded, key, Seq("_band", "_bucket"), Nil, maxBucketSize,
        "minhash")
      .dropDuplicates("key_a", "key_b")
      .join(withSh.select(col(key).as("key_a"), col("_sh").as("_sh_a")), "key_a")
      .join(withSh.select(col(key).as("key_b"), col("_sh").as("_sh_b")), "key_b")
      // in-plan shingle arrays are sets by construction (shingleSet) —
      // the codegen identity applies; see jaccardSetExpr
      .select(col("key_a"), col("key_b"),
        jaccardSetExpr(col("_sh_a"), col("_sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signature store relation for INCREMENTAL near-dup dedup:
    * one row per document — `(key, _buckets array<long>, _sh
    * array<string>)`, the per-band bucket ids plus the shingle set. The
    * relation is self-contained: candidate generation needs `_buckets`,
    * exact-jaccard verification needs `_sh`, so incremental runs against
    * a parquet-persisted store NEVER re-read or re-shingle the original
    * corpus. Null/empty-text rows are absent (they can never be
    * duplicates — the same pre-banding filter as
    * [[minhashNearDuplicates]]).
    *
    * The store is parameterized by `(numHashes, bands, shingleSize,
    * seed)`: [[minhashNearDuplicatesIncremental]] must be called with
    * the SAME values the store was built with (bucket ids from different
    * parameters never collide meaningfully — candidates silently vanish)
    * — the caller owns persisting them next to the store. An empty store
    * with the right schema is `minhashSignatures(df.limit(0), …)`.
    *
    * Store size: signatures are `bands` longs per doc; `_sh` is the
    * distinct lowercased word n-grams — the same order of magnitude as
    * the text itself. A 100 TB corpus's store is corpus-sized on disk
    * but columnar: increments that only generate candidates read the
    * narrow `_buckets` column and touch `_sh` only for verified
    * candidate keys (column pruning does this automatically).
    */
  def minhashSignatures(df: DataFrame, textCol: String, key: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      seed: Long = 42): DataFrame = {
    Banding.requireFreeParams("minhashSignatures",
      "key" -> key, "textCol" -> textCol)
    require(numHashes % bands == 0, "bands must divide numHashes")
    val (hashA, hashB) = Kernels.minhashCoefficients(numHashes, seed)
    val bucketsUdf = udf((sh: Seq[String]) =>
      Kernels.bandBuckets(sh, hashA, hashB, bands))
    df.select(col(key), shinglesUdf(shingleSize)(col(textCol)).as("_sh"))
      .filter(size(col("_sh")) > 0)
      .select(col(key), bucketsUdf(col("_sh")).as("_buckets"), col("_sh"))
  }

  private def validateSignatureStore(store: DataFrame, key: String): Unit = {
    import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
    Banding.requireFreeParams("the incremental minhash operators",
      "key" -> key)
    for (c <- Seq(key, "_buckets", "_sh"); if !store.columns.contains(c))
      throw new IllegalArgumentException(
        s"signature store is missing column '$c' — expected the " +
          s"($key, _buckets, _sh) relation minhashSignatures produces")
    (store.schema("_buckets").dataType, store.schema("_sh").dataType) match {
      case (ArrayType(LongType, _), ArrayType(StringType, _)) => ()
      case (b, s) => throw new IllegalArgumentException(
        "signature store column types must be _buckets array<bigint>, " +
          s"_sh array<string>; got ${b.simpleString}, ${s.simpleString}")
    }
  }

  /** Incremental near-duplicate detection: the production shape a crawl
    * pipeline needs — dedup each NEW batch against the EXISTING corpus
    * without recomputing all pairs. Returns
    * `(pairs touching the new batch, updated store)`: the pairs are
    * `(key_a, key_b, jaccard)` with `key_a < key_b` where at least one
    * side is from `newDocs` (new-vs-store AND new-vs-new); the updated
    * store is `store ∪ signatures(newDocs)`, ready to persist for the
    * next increment. Replaces re-running the batch operator over the
    * whole union: old-vs-old pairs are never re-generated or
    * re-verified. (The reference's closest analogue is its
    * skip-existing incremental re-run, `jigsaw/io_utils.py:89,150` —
    * file-level skips, not signature reuse.)
    *
    * SEMANTICS — parity with the batch run: calling this over a corpus
    * split into K batches (threading the store through) yields, per
    * batch, exactly [[minhashNearDuplicates]] over the union-SO-FAR
    * restricted to pairs touching that batch, with the same `threshold`
    * and the same `maxBucketSize` guard (the cohort cap is evaluated
    * over the prefix union's bucket sizes, exactly where that prefix's
    * batch run evaluates it). Consequently the union of all K
    * incremental outputs equals the batch run over the full union
    * whenever no bucket crosses the cap mid-sequence — the normal,
    * guard-clean case. A bucket that DOES cross the cap at increment j
    * stops generating candidates from then on, but pairs it yielded at
    * earlier increments stay emitted (drops are never retroactive), so
    * the incremental union is a SUPERSET of the late batch run's pairs
    * there — the right behavior for a pipeline that already acted on
    * those pairs. Keys must be globally unique across batches (same
    * contract as the batch operator's `key_a < key_b`
    * canonicalization).
    *
    * SCALE SHAPE per increment: `newDocs` is shingled and banded once
    * (the store's signatures are read back, never recomputed). The
    * candidate search is [[Banding.incrementalPairs]] over the union's
    * narrow `(key, band, bucket)` rows: O((|store| + |new|) × bands)
    * small rows through one reused exchange with the guard on, a
    * broadcast against a map-side store scan with it off — never the
    * corpus text. Verification joins hit the store's `_sh` column only
    * for candidate keys (AQE broadcasts the candidate side when small).
    *
    * Same `cacheSignatures` tradeoff as the batch operator's
    * `cacheShingles` (the new batch's signatures have three consumers;
    * localCheckpoint truncates lineage — pass false on spot/dynamic
    * fleets).
    *
    * Unlike the digest store ([[saveBucketedDigestStore]]), bucketing
    * the signature store cannot remove its exchange: the banding join
    * key (band, bucket) is DERIVED by exploding `_buckets` per row, so
    * no on-disk clustering of the un-exploded rows satisfies the
    * join's distribution — the (band, bucket) exchange of narrow
    * banding rows IS the operator's scale cost, by design.
    */
  def minhashNearDuplicatesIncremental(newDocs: DataFrame,
      store: DataFrame, textCol: String, key: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.7, seed: Long = 42,
      cacheSignatures: Boolean = true,
      maxBucketSize: Long = 10000): (DataFrame, DataFrame) = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    minhashNearDuplicatesIncrementalFromSigs(
      minhashSignatures(newDocs, textCol, key, numHashes, bands,
        shingleSize, seed),
      store, key, threshold, cacheSignatures, maxBucketSize)
  }

  /** [[minhashNearDuplicatesIncremental]] for a caller that already
    * holds the batch's [[minhashSignatures]] relation — e.g. to also
    * persist it as a store delta without running the shingle kernel
    * twice ([[graft.streaming.DedupIngest]] does; pass an
    * already-localCheckpointed relation with
    * `cacheSignatures = false` so the persisted delta IS the relation
    * the pair op consumed). `newSigs` must have been produced at the
    * store's `(numHashes, bands, shingleSize, seed)`. */
  def minhashNearDuplicatesIncrementalFromSigs(newSigs0: DataFrame,
      store: DataFrame, key: String, threshold: Double = 0.7,
      cacheSignatures: Boolean = true,
      maxBucketSize: Long = 10000): (DataFrame, DataFrame) = {
    require(maxBucketSize <= 0 || maxBucketSize > 1,
      "maxBucketSize must be > 1 (or <= 0 to skip the skew guard)")
    validateSignatureStore(store, key)
    validateSignatureStore(newSigs0, key)
    // three consumers (banding + the two verify re-joins) of the only
    // expensive computation in this operator — the new batch's shingle
    // kernel; the store side is parquet-backed and cheap to re-read
    val newSigs =
      if (cacheSignatures) newSigs0.localCheckpoint(false) else newSigs0
    val all = store.select(col(key), col("_buckets"), col("_sh"))
      .withColumn("_new", lit(false))
      .unionByName(newSigs.withColumn("_new", lit(true)))
    val banded = Banding.explode(all, Seq(key, "_new"), col("_buckets"),
      "_bucket")
    // dropDuplicates canonicalizes multi-band hits, as in the batch
    // operator; Dedup.jaccard counts distinct elements, so it stays right
    // for a stored `_sh` that is not a set
    val pairs = Banding.incrementalPairs(banded, key, Seq("_band", "_bucket"),
        Nil, maxBucketSize, "minhash")
      .dropDuplicates("key_a", "key_b")
      .join(all.select(col(key).as("key_a"), col("_sh").as("_sh_a")),
        "key_a")
      .join(all.select(col(key).as("key_b"), col("_sh").as("_sh_b")),
        "key_b")
      .select(col("key_a"), col("key_b"),
        jaccard(col("_sh_a"), col("_sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    (pairs, store.select(col(key), col("_buckets"), col("_sh"))
      .unionByName(newSigs))
  }

  private val simhash32Udf = udf(Kernels.simhash32 _)
  private val simhash64Udf = udf(Kernels.simhash64 _)

  private def requireBits(bits: Int): Unit = require(
    bits == 32 || bits == 64, s"simhash width must be 32 or 64, got $bits")

  /** SimHash over distinct-token hashes: for each bit position, sum
    * +1/-1 votes across tokens; the bit is set if the sum is positive.
    * Implemented as a JVM-loop UDF (the equivalent Catalyst formulation
    * is `bits` interpreted `aggregate` HOF folds, which dominated q40's
    * runtime). `bits = 64` (xxhash64 token hashes, the default) retires
    * the 32-bit birthday floor — see the width caveat on
    * [[Kernels.simhash32]]; pass 32 only for compatibility with
    * fingerprint stores built at that width.
    */
  def simhash(text: Column, bits: Int = 64): Column = {
    requireBits(bits)
    if (bits == 64) simhash64Udf(text) else simhash32Udf(text)
  }

  /** Hamming distance between two simhash values. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** The four band chunks of a `bits`-wide simhash: chunk `b` is the
    * b-th `bits/4`-bit slice. Two hashes within hamming distance ≤ 3
    * must agree on at least one of the four chunks (pigeonhole),
    * independent of width.
    */
  private def bandChunks(h: Column, bits: Int): Column = {
    val chunkBits = bits / 4
    val mask = (1L << chunkBits) - 1
    array((0 until 4).map(b =>
      shiftright(h, b * chunkBits).bitwiseAND(lit(mask))): _*)
  }

  /** SimHash near-duplicate pairs at scale: band the `bits`-wide simhash
    * into four `bits/4`-bit chunks — two hashes within hamming distance
    * ≤ 3 of each other must agree on at least one chunk (pigeonhole) —
    * bucket-join per (band, chunk), dedup candidates, verify exact
    * hamming distance. Output: (key_a, key_b, hamming) with
    * key_a < key_b. `maxBucketSize <= 0` skips the skew-guard window
    * entirely (same sentinel contract as [[minhashNearDuplicates]]).
    * `bits = 64` is the default (the 32-bit fingerprint's birthday floor
    * is quadratic in corpus size — see [[Kernels.simhash32]]).
    */
  def simhashNearDuplicates(df: DataFrame, textCol: String, key: String,
      maxDistance: Int = 3, maxBucketSize: Long = 5000,
      bits: Int = 64): DataFrame = {
    requireBits(bits)
    hammingNearDuplicates(
      df.select(col(key), simhash(col(textCol), bits).as("_h")),
      key, maxDistance, maxBucketSize, bits, "simhash")
  }

  /** Banded hamming near-duplicate pairs for ANY `(key, _h)` fingerprint
    * relation with hamming-space near-dup semantics — text simhash,
    * perceptual image hashes ([[Multimodal.perceptualHashes]]), any future
    * 64/32-bit locality-preserving fingerprint. Bands each fingerprint into
    * four `bits/4`-bit chunks (two hashes within hamming ≤ 3 must share a
    * chunk — pigeonhole), bucket-joins per (band, chunk) under the
    * skew-guard cap ([[Banding.pairs]]), verifies exact hamming distance
    * codegen-side BEFORE the dedup shuffle. Output: `(key_a, key_b,
    * hamming)`, `key_a < key_b`. Null fingerprints never pair (SQL
    * join-key semantics). Never all-pairs at any corpus size.
    */
  def hammingNearDuplicates(hashed: DataFrame, key: String,
      maxDistance: Int = 3, maxBucketSize: Long = 5000,
      bits: Int = 64, guardLabel: String = "hamming"): DataFrame = {
    Banding.requireFreeParams("hammingNearDuplicates", "key" -> key)
    // pigeonhole bound of 4 banded chunks: only distances <= 3 are
    // guaranteed a shared chunk — larger values would silently lose recall
    require(maxDistance <= 3,
      s"maxDistance $maxDistance exceeds the 4-band pigeonhole bound (3)")
    requireBits(bits)
    val banded = Banding.explode(hashed, Seq(key, "_h"),
      bandChunks(col("_h"), bits), "_chunk")
    hammingVerify(Banding.pairs(banded, key, Seq("_band", "_chunk"),
      Seq("_h"), maxBucketSize, guardLabel), maxDistance)
  }

  /** Exact hamming verify of banded `(key_a, key_b, _h_a, _h_b)`
    * candidates, BEFORE the dedup shuffle: xor+bit_count is codegen'd per
    * joined row, so only true near-dup pairs reach dropDuplicates. */
  private def hammingVerify(cands: DataFrame, maxDistance: Int): DataFrame =
    cands.select(col("key_a"), col("key_b"),
        hammingDistance(col("_h_a"), col("_h_b")).as("hamming"))
      .filter(col("hamming") <= maxDistance)
      .dropDuplicates("key_a", "key_b")

  /** Persistable SimHash signature store for incremental dedup: the
    * `(key, _h)` relation [[simhashNearDuplicatesIncremental]] consumes
    * and returns. Unlike the minhash store ([[minhashSignatures]]) this
    * is TINY — one fingerprint per document, no shingle sets — because
    * simhash verification (exact hamming distance) runs on the
    * fingerprint itself, never on the text. A 100 TB corpus's store is
    * ~12 bytes/doc of columnar parquet; re-banding it per increment is
    * two codegen'd bit ops per row, so the store needs no precomputed
    * band columns. Null-text documents carry a null `_h` and never pair
    * (same SQL-comparison semantics as the batch operator).
    *
    * The store schema is `_h` bigint at EITHER width — `bits` is a
    * build-time parameter the caller must persist next to the store and
    * pass identically to [[simhashNearDuplicatesIncremental]] (like the
    * minhash store's hash parameters; fingerprints of different widths
    * never band meaningfully against each other). Default 64; a store
    * built at 32 before the widening keeps working by passing 32.
    */
  def simhashSignatures(df: DataFrame, textCol: String,
      key: String, bits: Int = 64): DataFrame = {
    Banding.requireFreeParams("simhashSignatures",
      "key" -> key, "textCol" -> textCol)
    requireBits(bits)
    df.select(col(key), simhash(col(textCol), bits).as("_h"))
  }

  private def validateSimhashStore(store: DataFrame, key: String): Unit = {
    import org.apache.spark.sql.types.LongType
    Banding.requireFreeParams("the incremental simhash operators",
      "key" -> key)
    for (c <- Seq(key, "_h"); if !store.columns.contains(c))
      throw new IllegalArgumentException(
        s"simhash store is missing column '$c' — expected the " +
          s"($key, _h) relation simhashSignatures produces")
    store.schema("_h").dataType match {
      case LongType => ()
      case t => throw new IllegalArgumentException(
        s"simhash store column _h must be bigint; got ${t.simpleString}")
    }
  }

  /** Incremental SimHash near-duplicate detection — the simhash member
    * of the incremental family ([[minhashNearDuplicatesIncremental]] for
    * text shingles, `Similarity.lshNeighborPairsIncremental` for
    * embeddings): dedup each NEW batch against the EXISTING corpus's
    * persisted fingerprints without recomputing all pairs. Returns
    * `(pairs touching the new batch, updated store)`; pairs are
    * `(key_a, key_b, hamming)` with `key_a < key_b` and at least one
    * side from `newDocs`; the updated store is `store ∪
    * simhashSignatures(newDocs)`, ready to persist for the next
    * increment.
    *
    * SEMANTICS — same parity contract as the minhash form: per
    * increment the output equals [[simhashNearDuplicates]] over the
    * union-so-far restricted to pairs touching the batch, with the same
    * `maxDistance` and the same union-wide `maxBucketSize` guard; the
    * union of K incremental runs equals the batch run whenever no
    * (band, chunk) bucket crosses the cap mid-sequence, and is a
    * non-retroactive superset where one does. Keys must be globally
    * unique across batches. `bits` must equal the width the store was
    * built with (see [[simhashSignatures]]).
    *
    * SCALE SHAPE per increment: only the new batch's text is hashed; the
    * candidate search is [[Banding.incrementalPairs]] over the union's
    * narrow `(key, _h, band, chunk)` rows. Hamming verification is
    * codegen'd xor+bit_count ON the joined rows, so no verify re-join
    * touches the store at all — with the guard off (`maxBucketSize <=
    * 0`) the increment is a broadcast of the small new batch's banding
    * against a map-side scan of the store, zero store shuffle.
    */
  def simhashNearDuplicatesIncremental(newDocs: DataFrame,
      store: DataFrame, textCol: String, key: String,
      maxDistance: Int = 3,
      maxBucketSize: Long = 5000, bits: Int = 64): (DataFrame, DataFrame) =
    simhashNearDuplicatesIncrementalFromSigs(
      simhashSignatures(newDocs, textCol, key, bits), store, key,
      maxDistance, maxBucketSize, bits)

  /** [[simhashNearDuplicatesIncremental]] for a caller that already
    * holds the batch's `(key, _h)` fingerprints — the composition point
    * for NON-text fingerprints with hamming semantics (e.g. perceptual
    * image hashes from [[Multimodal.perceptualHashes]]): any such
    * relation plays the batch against its own persisted store with
    * identical incremental semantics.
    */
  def simhashNearDuplicatesIncrementalFromSigs(newSigs: DataFrame,
      store: DataFrame, key: String,
      maxDistance: Int = 3,
      maxBucketSize: Long = 5000, bits: Int = 64,
      checkStoreWidth: Boolean = true): (DataFrame, DataFrame) = {
    require(maxDistance <= 3,
      s"maxDistance $maxDistance exceeds the 4-band pigeonhole bound (3)")
    requireBits(bits)
    validateSimhashStore(store, key)
    validateSimhashStore(newSigs, key)
    // width-mismatch tripwire: banding 64-bit batch fingerprints
    // against a 32-bit store does not error — chunks 2-3 of every
    // stored fingerprint are zero, cross-width pairs essentially never
    // verify, and every old-vs-new duplicate is silently missed. A
    // true 32-bit store has every `_h` in [0, 2³²); a genuine 64-bit
    // fingerprint lands there with probability 2⁻³², so a bounded
    // sample is decisive (one cheap first-partition read, not a scan).
    if (bits == 64 && checkStoreWidth) {
      // nulls excluded: a store persisted from this function's own
      // `updated` relation may carry null fingerprints (undecodable
      // payloads upstream), and the primitive getter would NPE on them
      val sample = store.select(col("_h")).filter(col("_h").isNotNull)
        .limit(1000).collect().map(_.getLong(0))
      if (sample.nonEmpty &&
          sample.forall(h => h >= 0L && h < (1L << 32)))
        throw new IllegalArgumentException(
          "simhash store appears to be 32-bit wide (every sampled " +
            "fingerprint fits in 32 bits) but bits = 64 was requested " +
            "— pass bits = 32 for a store built before the widening, " +
            "rebuild the store at 64 bits, or pass checkStoreWidth = " +
            "false for a fingerprint family that is legitimately " +
            "low-entropy (perceptual hashes of flat images)")
    }
    val all = store.select(col(key), col("_h"))
      .withColumn("_new", lit(false))
      .unionByName(newSigs.withColumn("_new", lit(true)))
    val banded = Banding.explode(all, Seq(key, "_h", "_new"),
      bandChunks(col("_h"), bits), "_chunk")
    val pairs = hammingVerify(Banding.incrementalPairs(banded, key,
      Seq("_band", "_chunk"), Seq("_h"), maxBucketSize, "simhash"),
      maxDistance)
    (pairs, store.select(col(key), col("_h")).unionByName(newSigs))
  }

  /** End-to-end near-duplicate REMOVAL: MinHash pairs → greedy drop-larger
    * survivors (each pair keeps its smaller key) → anti-join. For chains
    * a~b~c this keeps the chain minimum and drops the rest — standard
    * greedy dedup, adequate for the sparse duplicate graphs real corpora
    * have (full connected components would need iterative min-propagation).
    */
  def dropNearDuplicates(df: DataFrame, textCol: String, key: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.9, seed: Long = 42): DataFrame = {
    val dropList = minhashNearDuplicates(df, textCol, key, numHashes, bands,
        shingleSize, threshold, seed)
      .select(col("key_b").as(key)).distinct()
    df.join(dropList, Seq(key), "left_anti")
  }

  /** Connected components over a near-duplicate pair relation: every key in
    * `pairs` is labeled with the MINIMUM key reachable from it, so each
    * duplicate CLUSTER (not just each pair) has one canonical representative.
    * This is the correct cluster semantics for corpus dedup — greedy
    * pair-dropping ([[dropNearDuplicates]]) over a chain a~b~c keeps only
    * `a` but labels nothing, while components let callers keep exactly one
    * row per cluster and attribute members to it.
    *
    * Algorithm: iterative min-label propagation — each round every vertex
    * takes the min label among itself and its neighbors; converges in
    * O(graph diameter) rounds. Duplicate clusters are near-cliques
    * (diameter ≤ ~3), so 2–4 rounds in practice; `maxIterations` bounds
    * pathological chains. Each round is one equi-join + one aggregation,
    * both shuffle-partitioned on the vertex key — no driver-side graph.
    * Labels are checkpointed per round to truncate the iterative lineage.
    *
    * Output: (key, component), one row per distinct key in `pairs`.
    *
    * If the graph has not converged after `maxIterations` rounds the labels
    * would be silently WRONG (one true component split across several
    * labels), so by default that raises IllegalStateException; pass
    * `failOnNonConvergence = false` to accept truncated labels instead
    * (e.g. for progressive/monitoring runs).
    *
    * Per-round lineage truncation strategy (`reliableLineage`): the default
    * `false` uses `localCheckpoint` — cheapest, but it TRUNCATES lineage,
    * so any lost executor (spot/preemptible nodes, dynamic-allocation
    * decommission) fails the job instead of recomputing; same caveat as
    * `cacheShingles` in [[minhashNearDuplicates]]. Pass `true` on such
    * clusters: rounds are pinned with `persist(MEMORY_AND_DISK)`, which
    * keeps lineage intact (recoverable, at the cost of re-running earlier
    * rounds on loss); prior rounds are unpersisted as the loop advances
    * and the (large) edge relation is unpersisted when the loop finishes.
    * Only the FINAL per-vertex label table — bounded by the duplicate
    * graph, far smaller than the corpus — stays pinned backing the
    * returned DataFrame; `spark.catalog.clearCache()` reclaims it once
    * consumed.
    */
  def connectedComponents(pairs: DataFrame, aCol: String = "key_a",
      bCol: String = "key_b", maxIterations: Int = 25,
      failOnNonConvergence: Boolean = true,
      reliableLineage: Boolean = false): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import graft.core.Eager._
    def pin(df: DataFrame, eager: Boolean): DataFrame =
      if (!reliableLineage) {
        // eager goes through the GC-pinned form: the unnamed source plan
        // must stay reachable while its materialization job reports task
        // metrics (the accessNonExistentAccumulator race — Eager's doc)
        if (eager) df.pinnedCheckpoint() else df.localCheckpoint(false)
      } else {
        val p = df.persist(StorageLevel.MEMORY_AND_DISK)
        if (eager) p.count()
        p
      }
    // symmetric edge list, computed once and reused every round — EAGER
    // deliberately (measured): a lazy pin here would fold the two
    // materialization jobs into round 1's convergence count, but the
    // edge/seed relations each feed TWO independent downstream shuffle
    // stages, and un-materialized checkpoint partitions race — the
    // stages run concurrently and can each compute the O(n²) pair
    // kernel before the first result lands in the block store. The
    // lazy variant benched consistently slower (interleaved MicroBench,
    // +0.05–0.18 s vs eager at sf0.1); two small eager jobs are cheaper
    // than one duplicated pair pass. (The per-ROUND count below is
    // already the round's only action — the convergence check rides the
    // materializing job, the count-fusion shape.)
    val edges = pin(pairs
      .select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct(), eager = true)
    // seed labels with round 1 for free: component = min(v, neighbors).
    // Near-clique dup clusters converge here already, so the loop below
    // usually runs exactly once (the confirmation round).
    var labels = pin(edges.groupBy(col("src"))
      .agg(min(col("dst")).as("_mn"))
      .select(col("src").as("v"),
        least(col("src"), col("_mn")).as("component")), eager = true)
    // the persisted handle backing `labels` (unpersist must see the exact
    // persisted plan, not a projection of it)
    var pinnedLabels = labels
    // Strong refs to every round's plan until the loop ends: reassigning
    // `labels` makes the prior round's DataFrame garbage mid-loop, and
    // the ContextCleaner may then unregister its SQL-metric accumulators
    // WHILE a later round's job still reports them (the checkpointed
    // round RDDs ride along in task binaries) — harmless to results but
    // it spams ERROR-level accessNonExistentAccumulator traces. Scoped
    // to this call: the buffer dies on return, after the last round's
    // job has finished, so cleanup happens with no job left to race.
    val liveRounds = scala.collection.mutable.ListBuffer[DataFrame](
      edges, labels)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // neighbor labels → min(own, neighbors); one shuffle each on v. The
      // previous label rides along (tagged _self) so the convergence check
      // falls out of the same aggregation — no extra join per round.
      val proposals = edges
        .join(labels.withColumnRenamed("v", "dst"), "dst")
        .select(col("src").as("v"), col("component"), lit(0).as("_self"))
      val next = pin(labels.withColumn("_self", lit(1))
        .union(proposals)
        .groupBy("v").agg(
          min("component").as("component"),
          max(when(col("_self") === 1, col("component"))).as("_old")),
        eager = false)
      // labels only ever decrease, so "no row changed" == converged; this
      // count also materializes the lazy checkpoint / persist
      val changed = next.filter(col("component") =!= col("_old")).count()
      if (reliableLineage) pinnedLabels.unpersist(false)
      liveRounds += next
      pinnedLabels = next
      labels = next.drop("_old")
      converged = changed == 0
      iter += 1
    }
    if (!converged && failOnNonConvergence)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIterations rounds " +
          "(graph diameter exceeds the bound); raise maxIterations or pass " +
          "failOnNonConvergence = false to accept truncated labels")
    // the final labels were materialized by the last convergence count, so
    // the edge relation is no longer needed — drop its (large) pin now
    // rather than leaking it for the session lifetime; recomputation after
    // a cache eviction walks the intact lineage back to the source
    if (reliableLineage) edges.unpersist(false)
    labels.select(col("v").as("key"), col("component"))
  }

  private def validateLabelStore(labels: DataFrame): Unit =
    for (c <- Seq("key", "component"); if !labels.columns.contains(c))
      throw new IllegalArgumentException(
        s"label store is missing column '$c' — expected the " +
          "(key, component) relation connectedComponents produces")

  /** Incremental connected components against a persisted label store —
    * the cluster-level member of the incremental dedup family: after
    * [[minhashNearDuplicatesIncremental]] (or the simhash/LSH forms)
    * yields the pairs an increment adds, this updates the corpus's
    * cluster labels without re-running label propagation over the whole
    * pair graph. `labels` is the (key, component) output of a prior
    * [[connectedComponents]] run or of this method; `newPairs` is any
    * relation of new edges (new–old, new–new, or even old–old merges).
    * Returns the FULL updated (key, component) relation, ready to
    * persist as the next increment's store.
    *
    * CORRECTNESS — contraction: the store's min-label invariant (every
    * cluster is labeled by its minimum key, which [[connectedComponents]]
    * guarantees and this method preserves inductively) means each stored
    * component is a certified-connected super-vertex. Mapping every new
    * edge endpoint to its stored representative (identity for unseen
    * keys) and solving components on that CONTRACTED graph is therefore
    * exact: the result equals the batch run over (all old edges ∪
    * newPairs) — merged clusters relabel to min(old representatives,
    * new keys) = the merged cluster's true minimum key, and untouched
    * clusters never appear in the contracted graph at all. The store
    * must come from connectedComponents or this method; labels that
    * violate the min invariant (or a `failOnNonConvergence = false` run
    * that truncated) would silently break the contract.
    *
    * SCALE SHAPE per increment: the contracted graph has at most
    * 2·|newPairs| vertices, so it is solved on the driver with
    * union-find, in four steps: the increment's edges are collected in
    * one action; the representatives of the touched keys come back from
    * one map-side scan of the label store filtered to the touched-key
    * set (an IN-set predicate — a broadcast of the same keys would run
    * a job of its own, and the predicate prunes a latest-per-key store
    * before its aggregation); the union-find labels each merged cluster
    * by its minimum key under Spark's ordering of the key type (UTF-8
    * byte order for strings, as `min` orders them); and the store is
    * relabeled map-side against the broadcast (old rep → new rep) map.
    * The driver holds only increment-sized data — the edges, the touched
    * keys and their representatives — and the store is never shuffled.
    * A batch rerun instead shuffles the FULL edge set once per
    * propagation round.
    */
  def connectedComponentsIncremental(labels: DataFrame,
      newPairs: DataFrame, aCol: String = "key_a",
      bCol: String = "key_b"): DataFrame = {
    val (store, remapped, newKeyLabels, _) =
      incrementalComponentsCore(labels, newPairs, aCol, bCol)
    // relabel the store: old representative → merged representative,
    // untouched components pass through (broadcast left-outer, map-side)
    val updatedOld = store
      .join(broadcast(remapped), Seq("component"), "left")
      .select(col("key"), coalesce(col("_nc"), col("component"))
        .as("component"))
    updatedOld.unionByName(newKeyLabels)
  }

  /** The DELTA form of [[connectedComponentsIncremental]]: returns ONLY
    * the (key, component) rows whose mapping DIFFERS from `labels` —
    * existing members of clusters the increment relabels, plus keys the
    * store has never seen. Exactly the rows a versioned label store
    * needs to persist per increment, computed without ever joining two
    * corpus-scale relations: a full-minus-store comparison join would
    * shuffle the corpus twice per batch, while here the changed old
    * rows fall out of one inner broadcast join of the store against the
    * representatives the solve moved (map-side, same shape as the
    * relabel join) and the new keys' labels are a local relation. The
    * output is sized by the increment's touched clusters (a relabeled
    * cluster necessarily surfaces all its members — their labels all
    * change), never by the corpus.
    *
    * `labels` union-overridden by this delta (latest wins per key)
    * equals [[connectedComponentsIncremental]]'s full relation.
    */
  def connectedComponentsIncrementalDelta(labels: DataFrame,
      newPairs: DataFrame, aCol: String = "key_a",
      bCol: String = "key_b"): DataFrame =
    connectedComponentsIncrementalDeltaDetailed(labels, newPairs, aCol,
      bCol)._1

  /** [[connectedComponentsIncrementalDelta]] plus, as driver values,
    * the keys the store has never seen whose label is another key — the
    * solve already holds them, so a caller that needs them (the ingest's
    * keep-set) gets them without running a job. */
  private[graft] def connectedComponentsIncrementalDeltaDetailed(
      labels: DataFrame, newPairs: DataFrame, aCol: String = "key_a",
      bCol: String = "key_b"): (DataFrame, Seq[Any]) = {
    val (store, remapped, newKeyLabels, absorbed) =
      incrementalComponentsCore(labels, newPairs, aCol, bCol)
    val changedOld = store.join(broadcast(remapped), Seq("component"))
      .select(col("key"), col("_nc").as("component"))
    (changedOld.unionByName(newKeyLabels), absorbed)
  }

  /** The driver-side contracted solve shared by the incremental
    * component forms. Returns (store; remapped — a local (component,
    * _nc) relation of every contracted vertex whose representative
    * moved; newKeyLabels — a local (key, component) relation of the
    * touched keys absent from the store; absorbed — those new keys whose
    * label is another key). Null endpoints behave as in a join: a null
    * never matches the store and never links two keys, so its edge only
    * makes the other endpoint a vertex, and the null key is labeled
    * null. */
  private def incrementalComponentsCore(labels: DataFrame,
      newPairs: DataFrame, aCol: String, bCol: String)
      : (DataFrame, DataFrame, DataFrame, Seq[Any]) = {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.types.PhysicalDataType
    import org.apache.spark.sql.types.{StructField, StructType}
    validateLabelStore(labels)
    val spark = labels.sparkSession
    val store = labels.select(col("key"), col("component"))
    val e0 = newPairs.select(col(aCol).as("_a"), col(bCol).as("_b"))
    // one type for every vertex: the one Spark's unions and joins
    // coerce the endpoints and the store columns to
    val kt = Seq(e0.select("_b"), store.select("key"),
        store.select("component"))
      .foldLeft(e0.select("_a"))(_ union _).schema.head.dataType
    def local(rows: Seq[Row], names: String*): DataFrame =
      spark.createDataFrame(rows.asJava,
        StructType(names.map(StructField(_, kt))))
    // distinct non-null keys in Spark's ordering of the key type — the
    // order `min` labels a cluster by — so a key's rank orders it and
    // a binary search finds it under Spark's equality
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(kt)
    val ord = PhysicalDataType.ordering(kt)
    final class Ranked(values: Iterable[Any]) {
      private val sorted = values.iterator.map(v => (toCatalyst(v), v))
        .toArray.sortWith((x, y) => ord.lt(x._1, y._1))
      private val distinct = sorted.indices
        .filter(i => i == 0 || !ord.equiv(sorted(i - 1)._1, sorted(i)._1))
        .map(sorted(_))
      private val cats = distinct.map(_._1)
      val keys: IndexedSeq[Any] = distinct.map(_._2)
      def rank(v: Any): Int = cats.search(toCatalyst(v))(ord) match {
        case scala.collection.Searching.Found(i) => i
        case _ => -1
      }
    }
    // 1. the increment's edges, in one action
    val edges = e0.select(col("_a").cast(kt), col("_b").cast(kt)).collect()
      .map(r => (r.get(0), r.get(1)))
    val touched = new Ranked(edges.iterator
      .flatMap { case (a, b) => Iterator(a, b) }.filter(_ != null).toSeq)
    // 2. the touched stored keys' representatives: one map-side scan of
    // the store filtered to the touched set; a null component stands
    // for the key itself, as the contraction's coalesce always had it
    val reps: Map[Int, Seq[Any]] =
      if (touched.keys.isEmpty) Map.empty
      else store.filter(col("key").isInCollection(touched.keys))
        .select(col("key").cast(kt),
          coalesce(col("component"), col("key")).cast(kt))
        .collect().toSeq
        .groupMap(r => touched.rank(r.get(0)))(_.get(1))
    // 3. union-find over the contracted vertices — a new key stands for
    // itself, a stored key for its representatives. A union keeps the
    // lower rank, so each root is its cluster's minimum key.
    val newKeys = touched.keys.indices.filterNot(reps.contains)
      .map(touched.keys)
    val vertices = new Ranked(newKeys ++ reps.values.flatten)
    val parent = Array.tabulate(vertices.keys.size)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var j = i
      while (parent(j) != r) { val next = parent(j); parent(j) = r; j = next }
      r
    }
    for ((a, b) <- edges if a != null && b != null) {
      val vs = Seq(a, b).flatMap(k =>
          reps.getOrElse(touched.rank(k), Seq(k)))
        .map(vertices.rank).map(find)
      val root = vs.min
      vs.foreach(parent(_) = root)
    }
    def rep(k: Any): Any = vertices.keys(find(vertices.rank(k)))
    // 4. the moved representatives and the new keys' labels, as local
    // relations the store-side joins broadcast
    val remapped = local(vertices.keys.indices.filter(i => find(i) != i)
      .map(i => Row(vertices.keys(i), vertices.keys(find(i)))),
      "component", "_nc")
    val nullKey =
      if (edges.exists { case (a, b) => a == null || b == null })
        Seq(Row(null, null))
      else Nil
    val newKeyLabels = local(newKeys.map(k => Row(k, rep(k))) ++ nullKey,
      "key", "component")
    val absorbed = newKeys.filter(k => find(vertices.rank(k)) !=
      vertices.rank(k))
    (store, remapped, newKeyLabels, absorbed)
  }

  /** Cluster-correct near-duplicate REMOVAL: pair generation via MinHash,
    * full [[connectedComponents]] labeling, keep exactly the MINIMUM key
    * of every duplicate cluster. Strictly stronger than the greedy
    * [[dropNearDuplicates]]: greedy keeps every key that never appears on
    * the drop side of a pair, which over-keeps when a cluster's minimum
    * sits mid-chain — pairs (5,9) and (3,9) drop only 9 and keep BOTH 5
    * and 3, though they are one duplicate cluster with representative 3.
    * Costs the component iteration (a few extra join+agg rounds) on top
    * of greedy; use greedy when the duplicate graph is known to be
    * pairwise-only.
    */
  def dropNearDuplicateClusters(df: DataFrame, textCol: String, key: String,
      numHashes: Int = 64, bands: Int = 16, shingleSize: Int = 3,
      threshold: Double = 0.9, seed: Long = 42,
      reliableLineage: Boolean = false): DataFrame = {
    val pairs = minhashNearDuplicates(df, textCol, key, numHashes, bands,
      shingleSize, threshold, seed)
    // pin the pair relation: connectedComponents' symmetric-edge union
    // consumes it TWICE, and the banding + jaccard-verify pipeline behind
    // it is the expensive part of the whole operation. Same pinning
    // tradeoff as cacheShingles (localCheckpoint truncates lineage) with
    // the same reliableLineage escape hatch.
    val pinnedPairs =
      if (reliableLineage)
        pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else pairs.localCheckpoint(false)
    val drops = connectedComponents(pinnedPairs,
        reliableLineage = reliableLineage)
      .filter(col("key") =!= col("component")) // non-representatives
      .select(col("key").as(key))
    // components' labels are materialized on return, so the pair pin has
    // served its purpose (the localCheckpoint variant is GC-cleaned)
    if (reliableLineage) pinnedPairs.unpersist(false)
    df.join(drops, Seq(key), "left_anti")
  }

  /** Exact all-pairs n-gram Jaccard over a (small or pre-filtered) corpus —
    * the brute-force baseline the LSH path approximates. O(n²): only for
    * bounded subsets; at scale use [[minhashNearDuplicates]].
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, key: String,
      n: Int = 3, threshold: Double = 0.0): DataFrame = {
    val withSh = df.select(col(key), shinglesUdf(n)(col(textCol)).as("_sh"))
      .filter(size(col("_sh")) > 0) // null/empty text never pairs (SQL NULL)
    val a = withSh.select(col(key).as("key_a"), col("_sh").as("_sh_a"))
    val b = withSh.select(col(key).as("key_b"), col("_sh").as("_sh_b"))
    a.crossJoin(b)
      .filter(col("key_a") < col("key_b"))
      // in-plan shingle arrays are sets by construction (shingleSet) —
      // the codegen identity applies; see jaccardSetExpr
      .select(col("key_a"), col("key_b"),
        jaccardSetExpr(col("_sh_a"), col("_sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }
}
