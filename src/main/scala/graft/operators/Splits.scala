package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting — test/dev split, k-fold assignment, and
  * round-robin sharding.
  *
  * Reference semantics replicated as contracts:
  *  - test/dev split: shuffle, first `max(1, floor(n*p))` rows → test, error
  *    on n ≤ 1 (`jigsaw/write_dataset.py:66-89`);
  *  - k-fold: shuffled contiguous chunks, sizes balanced within 1
  *    (`jigsaw/write_dataset.py:92-130`);
  *  - shards: `num_shards = n/1000 + 1`, example i → shard i % num_shards
  *    (`jigsaw/write_dataset.py:178-198`).
  *
  * Scale note: the exact variants need a global row rank. We produce it with
  * sort + `rdd.zipWithIndex` — a distributed range-partitioned sort, NOT a
  * single-task window, so the same code holds at 100 TB. For pipelines that
  * don't need the exact-count contract, `hashSplit` assigns splits from a
  * content hash with zero shuffles.
  */
object Splits {

  /** Global 0-based rank by `sortCols`, computed scalably (sort +
    * zipWithIndex, no single-partition window).
    *
    * Measured alternative, rejected: a DataFrame-native two-job plan
    * (repartitionByRange + per-partition row_number + broadcast offsets)
    * benches ~60% SLOWER here — range sampling adds a job and the window
    * re-sorts partitions the cache already sorted. zipWithIndex's RDD
    * round-trip wins, and it stays on InternalRow (via the graftshim
    * bridge) so no per-field Row decode/re-encode happens on the way.
    *
    * CACHE LIFETIME: by default (`eager = false`) the sorted-rows cache
    * is released by the ContextCleaner once the returned DataFrame
    * becomes unreachable — fine for one-shot use, but in a loop that
    * produces many indexed frames the caches pile up until GC notices.
    * `eager = true` materializes the result (an eager local checkpoint)
    * and unpersists the intermediate immediately, so repeated callers
    * release the big sorted intermediate deterministically at the cost
    * of one extra materialization pass.
    */
  def withGlobalIndex(df: DataFrame, sortCols: Seq[Column],
      idxCol: String = "_idx", eager: Boolean = false): DataFrame =
    withGlobalIndexCounted(df, sortCols, idxCol, eager)._1

  /** [[withGlobalIndex]] plus the TOTAL row count for free: the index
    * needs per-partition counts anyway (the offset pass zipWithIndex
    * would run), so their sum is already on the driver. Callers that
    * need both — [[testDevSplit]] / [[kfold]] / [[shardAssign]], whose
    * cut/shard formulas take n — previously ran a SEPARATE `df.count()`
    * job with its own source scan before the sort; this fuses the two
    * passes, so the same thing is not computed twice.
    */
  def withGlobalIndexCounted(df: DataFrame, sortCols: Seq[Column],
      idxCol: String = "_idx", eager: Boolean = false): (DataFrame, Long) = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.JoinedRow
    import org.apache.spark.sql.graftshim.DatasetShim
    // schema.add would produce a DUPLICATE column name — every later
    // col(idxCol) reference is then ambiguous, far from this call
    Reserved.requireFreeColumns(df, Seq(idxCol), "withGlobalIndex",
      s"it appends the $idxCol index column")
    val sorted = df.orderBy(sortCols: _*)
    val schema = sorted.schema
    // the offset pass needs per-partition counts before the main pass;
    // persist the sorted rows so the sort executes once (ContextCleaner
    // unpersists the RDD when it becomes unreachable). toRdd hands out
    // reused row buffers — copy before buffering them in the persist
    // store.
    val sortedRdd = DatasetShim.toInternalRdd(sorted).map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // explicit form of zipWithIndex's count pass — kept by hand so the
    // total row count falls out of the same job
    val counts = sortedRdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach(_ => s += 1)
        Iterator((pid, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val bases = counts.scanLeft(0L)(_ + _) // exclusive partition bases
    val withIdx: org.apache.spark.rdd.RDD[InternalRow] =
      sortedRdd.mapPartitionsWithIndex { (pid, it) =>
        var i = bases(pid)
        it.map { r =>
          val out = new JoinedRow(r, InternalRow(i))
          i += 1
          out
        }
      }
    val out = DatasetShim.internalCreateDataFrame(sorted.sparkSession,
      withIdx, schema.add(idxCol, org.apache.spark.sql.types.LongType))
    (releaseOrReturn(out, sortedRdd, eager), bases.last)
  }

  /** Shared tail of the prefix-sum helpers: either hand back the lazy
    * plan (the cached intermediate is ContextCleaner-released when the
    * result becomes unreachable) or, with `eager`, pin the result with
    * an eager checkpoint and unpersist the intermediate NOW — the
    * deterministic-release path for repeated shard-production loops. */
  private def releaseOrReturn(out: DataFrame,
      cached: org.apache.spark.rdd.RDD[_], eager: Boolean): DataFrame =
    if (!eager) out
    else {
      import graft.core.Eager.EagerOps
      val pinned = out.pinnedCheckpoint()
      cached.unpersist(blocking = false)
      pinned
    }

  /** Global EXCLUSIVE running total (distributed prefix sum) of
    * `valueCol` (LongType, nulls count 0) in `sortCols` order, appended
    * as `outCol`: the first row gets 0, each next row the sum of all
    * values strictly before it. The scalable scan behind
    * [[graft.operators.TextOps.packChunks]]'s token offsets — same
    * machinery as [[withGlobalIndex]] (range-partitioned sort, then two
    * narrow passes over the persisted sorted RDD: per-partition totals
    * collected to the driver — partition-count-sized — and broadcast
    * back as per-partition base offsets), NOT a single-partition window,
    * so it holds at 100 TB. Same `eager` cache-lifetime contract as
    * [[withGlobalIndex]] — [[graft.operators.TextOps.packChunks]] (the
    * shard-production-loop caller) passes `eager = true` so each call
    * releases its sorted intermediate instead of accumulating caches
    * for the session lifetime.
    */
  def withRunningTotal(df: DataFrame, sortCols: Seq[Column],
      valueCol: String, outCol: String = "_cum",
      eager: Boolean = false): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.JoinedRow
    import org.apache.spark.sql.graftshim.DatasetShim
    Reserved.requireFreeColumns(df, Seq(outCol), "withRunningTotal",
      s"it appends the $outCol running-total column")
    val sorted = df.orderBy(sortCols: _*)
    val schema = sorted.schema
    val vi = schema.fieldIndex(valueCol)
    require(schema(vi).dataType == org.apache.spark.sql.types.LongType,
      s"withRunningTotal needs a bigint '$valueCol', got " +
        schema(vi).dataType.simpleString)
    val sortedRdd = DatasetShim.toInternalRdd(sorted).map(_.copy())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def valueAt(r: InternalRow): Long =
      if (r.isNullAt(vi)) 0L else r.getLong(vi)
    // pass 1: per-partition totals — a partition-count-sized collect
    val partTotals = sortedRdd
      .mapPartitionsWithIndex { (pid, it) =>
        var s = 0L
        it.foreach(r => s += valueAt(r))
        Iterator((pid, s))
      }
      .collect().sortBy(_._1).map(_._2)
    val bases = partTotals.scanLeft(0L)(_ + _) // exclusive partition bases
    // pass 2: per-partition running sum on top of the broadcast base
    val withCum: org.apache.spark.rdd.RDD[InternalRow] =
      sortedRdd.mapPartitionsWithIndex { (pid, it) =>
        var acc = bases(pid)
        it.map { r =>
          val out = new JoinedRow(r, InternalRow(acc))
          acc += valueAt(r)
          out
        }
      }
    val out = DatasetShim.internalCreateDataFrame(sorted.sparkSession,
      withCum, schema.add(outCol, org.apache.spark.sql.types.LongType))
    releaseOrReturn(out, sortedRdd, eager)
  }

  /** P2: seeded shuffled test/dev split. Adds a `split` column with values
    * "test" (exactly `max(1, floor(n * testPercent))` rows) and "dev".
    */
  def testDevSplit(df: DataFrame, testPercent: Double = 0.2, seed: Long = 42,
      key: String = "image_id", knownCount: Option[Long] = None): DataFrame = {
    Reserved.requireFreeColumns(df, Seq("split"), "testDevSplit",
      "it appends the split assignment column")
    val (ranked, _, nTest) =
      testDevRanked(df, testPercent, seed, key, knownCount)
    ranked
      .withColumn("split", when(col("_idx") < nTest, "test").otherwise("dev"))
      .drop("_idx")
  }

  /** The order behind [[testDevSplit]]: `df` with its 0-based rank `_idx`
    * in the split's seeded order, the row count n and the test size
    * `max(1, floor(n * testPercent))`. Rows ranked below the test size are
    * the test split; a row's position within its split is its rank minus
    * the split's first rank.
    */
  def testDevRanked(df: DataFrame, testPercent: Double, seed: Long,
      key: String, knownCount: Option[Long] = None): (DataFrame, Long, Long) = {
    // n falls out of the index's own count pass — no separate count() job
    val (indexed, counted) =
      withGlobalIndexCounted(df, Seq(rand(seed), col(key)))
    val n = knownCount.getOrElse(counted)
    require(n > 1,
      s"cannot split $n rows into test/dev (reference errors on n <= 1)")
    (indexed, n, math.max(1L, math.floor(n * testPercent).toLong))
  }

  /** P3: seeded k-fold assignment, fold sizes balanced within 1 (ntile
    * semantics: the first n % k folds get the extra row). Folds are 1..k.
    */
  def kfold(df: DataFrame, k: Int, seed: Long = 0,
      key: String = "image_id"): DataFrame = {
    require(k >= 2, "k-fold needs k >= 2")
    Reserved.requireFreeColumns(df, Seq("fold"), "kfold",
      "it appends the fold assignment column")
    // n falls out of the index's own count pass — no separate count() job
    val (indexed, n) = withGlobalIndexCounted(df, Seq(rand(seed), col(key)))
    val base = n / k
    val extra = n % k
    // rank r (0-based) → fold: first `extra` folds have base+1 rows.
    val cut = extra * (base + 1)
    indexed
      .withColumn("fold",
        when(col("_idx") < cut, (col("_idx") / (base + 1)).cast("int") + 1)
          .otherwise(((col("_idx") - cut) / math.max(base, 1L)).cast("int")
            + extra.toInt + 1))
      .drop("_idx")
  }

  /** P5: round-robin shard id with the reference's shard-count formula.
    * Row order (and thus the exact assignment) is defined by `sortCols`.
    */
  def shardAssign(df: DataFrame, sortCols: Seq[Column],
      shardSize: Long = 1000): DataFrame = {
    Reserved.requireFreeColumns(df, Seq("shard"), "shardAssign",
      "it appends the shard assignment column")
    // n falls out of the index's own count pass — no separate count() job
    val (indexed, n) = withGlobalIndexCounted(df, sortCols)
    val numShards = n / shardSize + 1
    indexed
      .withColumn("shard", pmod(col("_idx"), lit(numShards)))
      .drop("_idx")
  }

  /** The content digest behind every deterministic sampler below — the
    * engine-portability contract: Spark md5(salt || CAST(key AS STRING))
    * equals DuckDB md5('salt' || CAST(key AS VARCHAR)), so draws reproduce
    * across engines, partitionings and cluster sizes. Keep the three
    * samplers on THIS one definition.
    */
  private[operators] def contentDigest(key: String, salt: String): Column =
    md5(concat_ws("", lit(salt), col(key).cast("string")))

  /** The digest's first 13 hex chars as a long — 52 uniform bits whose
    * numeric order is a prefix-coarsening of the full digest's
    * lexicographic order (fixed-width lowercase hex sorts like the
    * 128-bit value), which is what makes a numeric threshold on it an
    * EXACT pre-filter for digest-ordered top-k: every row it drops has a
    * strictly larger prefix — hence a strictly larger digest — than at
    * least `quota` surviving rows. */
  private def digestPrefix(key: String, salt: String): Column =
    conv(substring(contentDigest(key, salt), 1, 13), 16, 10).cast("long")

  /** The inflated per-domain prefix threshold: digests are uniform, so
    * the `quota` smallest of `nd` rows sit near prefix
    * `quota/nd · 2^52`; inflating by `margin` standard deviations of the
    * binomial survivor count (+16 for tiny quotas) makes undershoot a
    * ~`margin`-sigma event — and undershoot only costs the fallback
    * sort, never exactness. Degenerates to no filtering (max threshold)
    * when the domain is smaller than its inflated quota.
    *
    * WHY UNIFORMITY HOLDS EVEN FOR ADVERSARIAL KEYS: the prefix is the
    * leading 52 bits of `md5(salt || key)`. md5's avalanche property
    * makes the 128-bit digests of DISTINCT keys behave as independent
    * uniform draws regardless of how clustered the key VALUES are —
    * near-duplicate keys (sequential ids, common prefixes, one-char
    * edits) still land uniformly, so no real key distribution can
    * concentrate a domain's digests above the threshold and starve the
    * sliver beyond the modeled binomial tail. (Cryptographic breakage
    * of md5 is collision-crafting, not distribution skew, and an
    * adversary would at worst force the undershoot FALLBACK — a full
    * per-domain window — never a wrong sample.) The two real edges are
    * therefore structural, not distributional, and both are handled:
    * quotas at or near the domain size force the degenerate
    * max-threshold path (`need >= nd` here; the kernel then skips the
    * pin when the expected sliver is most of the corpus), and margins
    * forced negative — down to `-Infinity`, where every domain takes
    * the all-short fallback exclusively — keep exactness unconditional
    * (AlgebraLawsSpec's margin-independence law pins the whole range).
    * Identical KEYS would share a digest, but the samplers' contract
    * already requires unique keys and ties break on the key column. */
  private def digestThreshold(quota: Long, nd: Long,
      margin: Double): Long = {
    val max52 = (1L << 52) - 1
    // a zero-quota domain takes nothing — answer 0 (empty sliver)
    // BEFORE the need arithmetic, whose `margin * sqrt(0)` would be
    // 0 × -Infinity = NaN under the margin-independence law's -∞ edge
    // (the NaN happened to fall through to 0L anyway, but only via
    // unmodeled min/toLong NaN semantics a refactor could break)
    if (quota <= 0) 0L
    else {
      val need = quota + margin * math.sqrt(quota.toDouble) + 16.0
      if (nd <= 0 || need >= nd) max52
      else math.min(max52.toDouble,
        math.ceil(need / nd * (1L << 52).toDouble)).toLong
    }
  }

  /** Shared exact top-`quota`-per-domain kernel for the samplers:
    * broadcast-join `(domain, quota, threshold)`, pre-filter each
    * domain to prefix ≤ threshold, PIN the resulting sliver
    * (sample-sized: ~quota + slack rows per domain, a lazy local
    * checkpoint), verify per-domain survivor counts against the pinned
    * sliver, window the sliver, and widen only undershooting domains
    * back to their full window over the source relation.
    *
    * Scale shape: the corpus is scanned ONCE here (the pre-filter scan
    * that materializes the sliver — the callers' count pass makes two
    * total) and corpus rows never ride an exchange at all — the window
    * exchange moves only the pinned sliver. The full-corpus sort this
    * replaces is the difference between sampling 100 rows from 10^9
    * and sorting 10^9; undershoot (≈margin-sigma rare) costs one extra
    * pass over the short domains' rows only. Callers with an expensive
    * un-cached upstream plan should persist it first — the count pass
    * and the sliver scan each evaluate it once.
    *
    * DEGENERATE thresholds — when the domains are small relative to
    * their quotas, the "sliver" is most of the corpus (every
    * threshold at or near max52); pinning it would materialize ~the
    * whole input into executor storage for nothing. When the expected
    * sliver exceeds half the rows (pure driver arithmetic from the
    * counts — engine-replayable), the kernel runs the direct window
    * instead: one corpus-sized exchange, no pin, same exact result.
    *
    * `reliableLineage = true` swaps the sliver's lazy local checkpoint
    * (lineage-truncating: an executor loss makes the pinned RDD
    * unrecoverable) for a MEMORY_AND_DISK persist that keeps the
    * lineage recomputable — the same escape hatch as
    * [[Dedup.dropNearDuplicateClusters]], for spot/dynamic-allocation
    * clusters. Domains are matched on their string cast, null-safely
    * (a null domain is a domain). */
  private[graft] def exactTopQuota(rows: DataFrame, domain: Column,
      quotas: Seq[(String, Long, Long, Long)], key: String,
      salt: String, reliableLineage: Boolean = false): DataFrame = {
    // a pre-existing internal column would be silently clobbered (_rk)
    // or make the quota join ambiguous (_dom/_quota/_thr) — fail with
    // the fix spelled out instead
    Reserved.requireFreeColumns(rows, Seq("_dom", "_quota", "_thr", "_rk"),
      "sampling", "the exact samplers use these _-prefixed names " +
        "internally")
    if (quotas.isEmpty) return rows.limit(0)
    val spark = rows.sparkSession
    import spark.implicits._
    val internal = Seq("_rk", "_dom", "_quota", "_thr")
    val qdf = broadcast(quotas.map(q => (q._1, q._2, q._3))
      .toDF("_dom", "_quota", "_thr"))
    val joined = rows.join(qdf, domain.cast("string") <=> col("_dom"))
    val w = Window.partitionBy(col("_dom"))
      .orderBy(contentDigest(key, salt), col(key))
    val max52 = (1L << 52) - 1
    val totalRows = quotas.map(_._4).sum.toDouble
    val expectedSliver = quotas.map { case (_, _, thr, nd) =>
      if (thr >= max52) nd.toDouble
      else nd.toDouble * math.max(0L, thr) / (1L << 52).toDouble
    }.sum
    if (2.0 * expectedSliver > totalRows)
      // degenerate: most rows would survive the pre-filter anyway —
      // run the direct per-domain window (one corpus-sized exchange,
      // nothing pinned), still exact
      return joined.withColumn("_rk", row_number().over(w))
        .filter(col("_rk") <= col("_quota"))
        .drop(internal: _*)
    // ONE corpus scan: filter to the threshold sliver, repartition it
    // by domain (a sliver-sized exchange — without it the pin would
    // inherit the corpus scan's partition count, and every downstream
    // job would pay one near-empty task per input split at 100 TB),
    // and pin it. The pin preserves the hash partitioning, so the
    // window sorts within partitions with NO further exchange —
    // everything downstream (survivor check, the window itself) reads
    // the sample-sized sliver, never the corpus
    val sliverRaw = joined
      .filter(digestPrefix(key, salt) <= col("_thr"))
      .repartition(col("_dom"))
    val sliver =
      if (reliableLineage) sliverRaw.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sliverRaw.localCheckpoint(false)
    // a domain whose sliver undershoots its quota (≈margin-sigma rare,
    // or a margin forced down in tests) widens back to its full
    // window. Short = the quota domains NOT confirmed ok — a domain
    // with zero survivors has no aggregation group at all, so the
    // confirmed set is the only side the sliver can answer
    val okDoms = sliver
      .groupBy(col("_dom"), col("_quota"))
      .agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= col("_quota"))
      .select(col("_dom")).collect().map(_.getString(0)).toSet
    val short = quotas.collect {
      case (d, q, _, _) if q > 0 && !okDoms.contains(d) => d
    }
    val fromSliver = sliver
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= col("_quota"))
    val out =
      if (short.isEmpty) fromSliver
      else {
        // rare fallback: the short domains' FULL windows, read from the
        // source relation; confirmed domains keep their sliver result
        val shortSet = short.toSet
        val isShort = if (shortSet.contains(null))
          col("_dom").isNull or col("_dom").isin(
            shortSet.filter(_ != null).toSeq: _*)
        else col("_dom").isin(shortSet.toSeq: _*)
        val fullShort = joined.filter(isShort)
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") <= col("_quota"))
        // NULL-SAFE negation: when no short domain is null, `isin`
        // yields NULL for a null-domain sliver row — a bare `!isShort`
        // would silently drop the (confirmed-ok) null stratum's sample
        fromSliver.filter(!coalesce(isShort, lit(false)))
          .unionByName(fullShort)
      }
    out.drop(internal: _*)
  }

  /** Engine-independent deterministic exact-n sample: the n rows with the
    * smallest md5(salt || key) digest. Same result on any engine, any
    * partitioning, any cluster size — unlike seeded `rand`, whose draw
    * order is engine-specific (so [[graft.operators.TagOps.sampleExact]]
    * can only be checked rows-only). Physical plan is TakeOrderedAndProject:
    * per-partition top-n then a driver merge of n-row heaps — no global
    * sort, no full shuffle.
    */
  def deterministicSample(df: DataFrame, n: Int, key: String,
      salt: String = "graft"): DataFrame =
    df.orderBy(contentDigest(key, salt), col(key)).limit(n)

  /** The exact samplers' per-domain count collect, driver-bounded with
    * the family's fail-fast posture (ngramLm's `maxTypes`, bpeTrain's
    * `maxWordTypes`): the collect is LIMITed to `cap` + 1 rows, so an
    * over-cardinality domain column (50M crawl URL domains, say) errors
    * with the fix spelled out instead of OOMing the driver mid-collect.
    */
  private def domainCounts(df: DataFrame, domainCol: String, cap: Int,
      capName: String): Array[(String, Long)] = {
    require(cap > 0, s"$capName must be > 0, got $cap")
    val rows = df.groupBy(col(domainCol).cast("string").as("_dom"))
      .agg(count(lit(1)).as("_nd"))
      .limit(if (cap == Int.MaxValue) cap else cap + 1)
      .collect()
    if (rows.length > cap)
      throw new IllegalArgumentException(
        s"'$domainCol' has more than $cap distinct values — the exact " +
          "samplers hold one quota row per domain on the driver (the " +
          s"label-dictionary contract); raise $capName if the driver " +
          "heap affords it (~50 bytes per domain), or bucket the " +
          "domain column first")
    rows.map(r => (r.getString(0), r.getLong(1)))
  }

  /** Exact per-stratum deterministic sample: up to `perStratum` rows from
    * each distinct value of `stratumCol`, chosen by the same md5 content
    * digest as [[deterministicSample]]. The workhorse for class-balanced
    * training subsets at corpus scale.
    *
    * Scale shape — the corpus is scanned twice and never shuffled: the
    * stratum-count pass (driver-bounded by `maxStrata`, the
    * label-dictionary contract), then the digest-threshold pre-filter
    * scan (see [[digestPrefix]]) that pins each stratum's
    * ~`perStratum` + slack smallest-prefix rows; the window sorts only
    * that pinned sliver, so picking 100 rows per class out of 10^9
    * sorts hundreds, not billions, and only sliver rows ride an
    * exchange. Exactness is unconditional because any stratum the
    * (≈6-sigma-inflated) threshold undershoots falls back to its full
    * window. Null strata sample like any other stratum value.
    */
  def stratifiedSample(df: DataFrame, stratumCol: String, perStratum: Int,
      key: String, salt: String = "graft",
      maxStrata: Int = 1000000,
      reliableLineage: Boolean = false): DataFrame =
    stratifiedSampleImpl(df, stratumCol, perStratum, key, salt,
      margin = 6.0, maxStrata, reliableLineage)

  private[graft] def stratifiedSampleImpl(df: DataFrame,
      stratumCol: String, perStratum: Int, key: String, salt: String,
      margin: Double, maxStrata: Int = 1000000,
      reliableLineage: Boolean = false): DataFrame = {
    require(perStratum > 0, "perStratum must be > 0")
    val counts = domainCounts(df, stratumCol, maxStrata, "maxStrata")
    val quotas = counts.map { case (d, nd) =>
      (d, math.min(nd, perStratum.toLong),
        digestThreshold(perStratum.toLong, nd, margin), nd)
    }
    exactTopQuota(df, col(stratumCol), quotas.toSeq, key, salt,
      reliableLineage)
  }

  /** Deterministic weighted sample WITHOUT replacement (Efraimidis–Spirakis
    * A-ES): each row draws u ∈ (0,1] from 52 bits of its md5 digest and is
    * ranked by u^(1/w); the top n ranks are the sample. Inclusion
    * probability is proportional to weight, the draw is reproducible on
    * any engine/partitioning (content-hash randomness, like
    * [[deterministicSample]]), and the plan is one TakeOrderedAndProject —
    * no global sort. Rows with weight ≤ 0 (or null) are excluded.
    */
  def weightedSample(df: DataFrame, n: Int, key: String, weightCol: String,
      salt: String = "graft"): DataFrame = {
    // 13 hex chars = 52 bits: exactly representable in a double, and both
    // engines parse hex identically — (bits + 1) / (2^52 + 1) ∈ (0,1]
    val u = (conv(substring(contentDigest(key, salt), 1, 13),
        16, 10).cast("double") + 1.0) / 4503599627370497.0
    val rank = pow(u, lit(1.0) / col(weightCol))
    df.filter(col(weightCol) > 0)
      .orderBy(rank.desc, col(key))
      .limit(n)
  }

  /** TEMPERATURE-weighted domain mixture sample — the standard
    * multilingual/data-mixing reweighting (public technique, the
    * `p_d ∝ n_d^τ` rule of the multilingual-pretraining lineage):
    * draw `n` rows total across the distinct values of `domainCol`
    * (languages, sources, topic clusters), with each domain's share
    * proportional to its natural size raised to `tau`. `tau = 1`
    * reproduces natural proportions, `tau = 0` splits uniformly across
    * domains, `0 < tau < 1` upweights the tail domains a head-heavy
    * corpus would otherwise drown — the knob a training mixture tunes.
    *
    * Exact deterministic contract (engine-replayable, like the other
    * samplers): per-domain quotas are largest-remainder (Hamilton)
    * allocations of `n` over `w_d = n_d^tau / Σ n_e^tau` — floor every
    * ideal share, then +1 to the largest remainders (ties break to the
    * ascending domain string) — each capped at the domain's own row
    * count; within a domain the quota picks the smallest
    * md5(salt || key) digests ([[stratifiedSample]]'s order). A domain
    * hitting its cap is NOT redistributed (one-pass allocation keeps
    * the quota function engine-replayable; the result is then simply
    * `< n` rows total, every undersized domain taken whole). Rows with
    * a null domain are excluded.
    *
    * Scale shape: one type-sized driver collect (the per-domain counts
    * — the label-dictionary contract, driver-bounded by `maxDomains`),
    * quotas broadcast back, the digest-threshold pre-filter scan (see
    * [[digestPrefix]]; exactness-safe, undershoot falls back per
    * domain) pinning the ~quota + slack sliver, and ONE window sort
    * over that pinned sliver — the window never sorts the corpus, and
    * corpus rows never ride an exchange.
    */
  def temperatureSample(df: DataFrame, domainCol: String, n: Int,
      tau: Double, key: String, salt: String = "graft",
      maxDomains: Int = 1000000,
      reliableLineage: Boolean = false): DataFrame =
    temperatureSampleImpl(df, domainCol, n, tau, key, salt,
      margin = 6.0, maxDomains, reliableLineage)

  private[graft] def temperatureSampleImpl(df: DataFrame,
      domainCol: String, n: Int, tau: Double, key: String, salt: String,
      margin: Double, maxDomains: Int = 1000000,
      reliableLineage: Boolean = false): DataFrame = {
    require(n >= 0, s"n must be >= 0, got $n")
    require(tau >= 0.0, s"tau must be >= 0, got $tau")
    val rows = df.filter(col(domainCol).isNotNull)
    val counts = domainCounts(rows, domainCol, maxDomains, "maxDomains")
      .sortBy(_._1)
    if (counts.isEmpty) return rows.limit(0)
    val wRaw = counts.map { case (_, nd) => math.pow(nd.toDouble, tau) }
    val tot = wRaw.sum
    val ideal = wRaw.map(w => n * w / tot)
    val base = ideal.map(math.floor(_).toLong)
    val leftover = math.max(0L, n - base.sum).toInt
    val bonus = counts.indices
      .sortBy(i => (-(ideal(i) - base(i)), counts(i)._1))
      .take(leftover).toSet
    val quotas = counts.indices.map { i =>
      val q = math.min(counts(i)._2,
        base(i) + (if (bonus(i)) 1L else 0L))
      (counts(i)._1, q, digestThreshold(q, counts(i)._2, margin),
        counts(i)._2)
    }
    exactTopQuota(rows, col(domainCol), quotas, key, salt,
      reliableLineage)
  }

  /** Scale path: shuffle-free split assignment from a content hash of the
    * key — approximate proportions, fully parallel, stable across runs and
    * cluster sizes. Buckets: (name, cumulative-fraction-exclusive-upper).
    */
  def hashSplit(df: DataFrame, key: String,
      fractions: Seq[(String, Double)] = Seq("test" -> 0.2, "dev" -> 1.0),
      salt: String = "graft"): DataFrame = {
    val u = pmod(xxhash64(concat_ws("\u0000", lit(salt), col(key))),
      lit(1000000L)).cast("double") / 1000000.0
    val expr = fractions.init.foldRight(
      lit(fractions.last._1): Column) { case ((name, upper), acc) =>
      when(u < upper, name).otherwise(acc)
    }
    df.withColumn("split", expr)
  }
}
