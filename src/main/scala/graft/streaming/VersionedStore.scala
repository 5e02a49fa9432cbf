package graft.streaming

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import graft.core.{LocalParquet, ParquetSchema}

/** The versioned-delta store layout the three streaming ingest loops
  * ride ([[DedupIngest]] for text near-dup, [[SimilarityIngest]] for
  * embedding near-dup + IVF serving, [[ImageDedupIngest]] for image
  * near-dup): each family directory holds `v=<batchId>/` version
  * deltas, a version counts only once its `_SUCCESS` marker exists,
  * readers take the committed prefix `< batchId`, and [[compactFamily]]
  * folds committed history under a size-tiered policy with a staged,
  * crash-safe commit. Each ingest declares its families once, as a
  * `Seq[`[[Family]]`]`; the readers ([[read]]), the takedown
  * ([[deleteKeys]]), the compaction order ([[compactStores]]) and the
  * per-batch skeleton ([[runBatch]], [[startIngest]]) are derived from
  * that declaration here, so the invariants below hold for every family
  * of every ingest.
  *
  * EXACTLY-ONCE: `foreachBatch` re-delivers a batch after failure with
  * the SAME batchId. Every per-batch output (the deltas and the kept
  * partition) is written with wholesale `Overwrite` into
  * batchId-addressed directories ([[writeDelta]]), and the store readers
  * consider only versions `< batchId` — a retry recomputes from exactly
  * the same committed prefix (the operators are seeded/deterministic)
  * and overwrites the same paths, making the batch idempotent end to
  * end.
  */
private[graft] object VersionedStore {

  /** One merged group from [[compactFamily]]: the committed, adjacent
    * `versions` (all strictly below the family's max) were folded into
    * `v=<into>` (= `versions.max`), rewriting `bytes` parquet bytes. */
  final case class Fold(family: String, versions: Seq[Long], into: Long,
      bytes: Long)

  /** One store family of an ingest: the `name/` directory of `v=<n>`
    * deltas, the `fold` that resolves a merged group of them during
    * compaction, and the columns its deltas are partitioned by. A
    * `keyed` family holds rows keyed by document: its readers and folds
    * apply the tombstones (joined on `tombKey`, or on the tombstone
    * column's own recorded name — the ingest's key column — when None),
    * its fold targets record the applied floor, and retirement must see
    * it rewritten. */
  final case class Family(name: String, fold: DataFrame => DataFrame,
      keyed: Boolean = false, tombKey: Option[String] = None,
      partitionBy: Seq[String] = Nil)

  private val VersionDir = "^v=(\\d+)$".r
  private val StagingDir = "^\\.compact-v=(\\d+)$".r

  /** Finish any compaction that crashed between unlinking its fold
    * target and renaming the staged merge into place — the one window
    * where committed rows are on disk but invisible (the staged
    * directory carries its own `_SUCCESS` from the merged write).
    * Rename is atomic, so a raced second healer simply loses the rename
    * and moves on. Incomplete staging directories (no `_SUCCESS`, or
    * the target still present) are left alone here — readers never
    * delete; [[compactFamily]] sweeps them. Returns true if anything
    * was healed (the caller's listing is stale). */
  private def healStagedCompactions(fs: FileSystem, dir: Path,
      entries: Seq[FileStatus]): Boolean = {
    var attempted = false
    for (s <- entries; if s.isDirectory;
        m <- StagingDir.findFirstMatchIn(s.getPath.getName)) {
      val target = new Path(dir, s"v=${m.group(1)}")
      if (!fs.exists(target) &&
          fs.exists(new Path(s.getPath, "_SUCCESS"))) {
        attempted = true
        // rename is atomic; a raced second healer loses and finds the
        // target present. But if the rename failed AND the target is
        // still missing, the staged merge holds the ONLY copy of
        // committed rows — proceeding would silently dedup against a
        // store with a hole in it, so fail instead.
        if (!fs.rename(s.getPath, target) && !fs.exists(target))
          throw new IllegalStateException(
            s"committed rows are stranded in ${s.getPath}: a crashed " +
              s"compaction's staged merge could not be renamed to " +
              s"$target — repair the filesystem state before reading " +
              "this store")
      }
    }
    // any attempt (won or raced) invalidates the caller's listing
    attempted
  }

  /** The versions a committed fold target records as folded away (its
    * `_folded` sidecar): their rows live in the target, so any of them
    * still on disk is a crash leftover a reader must EXCLUDE (else its
    * rows count twice) and the next compaction deletes. */
  private def foldedAway(fs: FileSystem, versionDir: Path): Seq[Long] = {
    val f = new Path(versionDir, "_folded")
    if (!fs.exists(f)) Seq.empty
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .flatMap(l => scala.util.Try(l.trim.toLong).toOption).toList
      finally in.close()
    }
  }

  /** The committed version ids strictly below `below` in `dir`,
    * ascending — healing crashed compactions and excluding
    * folded-away crash leftovers on the way. */
  def committedVersions(spark: SparkSession, dir: String,
      below: Long): Seq[Long] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else {
      val entries = fs.listStatus(p).toSeq
      val listed =
        if (healStagedCompactions(fs, p, entries)) fs.listStatus(p).toSeq
        else entries
      val committed = listed
        .filter(_.isDirectory)
        // only ^v=\d+$ — a foreign or leftover directory (v=1.bak, a
        // staging dir, an editor artifact) must not crash every batch
        .flatMap(s => VersionDir.findFirstMatchIn(s.getPath.getName)
          .flatMap(m => scala.util.Try(m.group(1).toLong).toOption)
          .map(v => (v, s.getPath)))
        // one listStatus per version answers BOTH marker questions
        // (_SUCCESS committed? _folded present?) — on an object store
        // these per-version probes are the read path's metadata cost,
        // so they must not multiply per sidecar. A dir deleted under
        // us (racing cleanup) simply drops out.
        .flatMap { case (v, d) =>
          scala.util.Try(
            fs.listStatus(d).map(_.getPath.getName).toSet).toOption
            .filter(_.contains("_SUCCESS"))
            .map(names => (v, d, names.contains("_folded")))
        }
        .filter(_._1 < below)
      // exclude sources a surviving fold target already holds — the
      // crash-between-commit-and-source-deletes window would otherwise
      // double their rows (harmless for resolve-collapsed families,
      // wrong for the serving `assigned` lists). Only targets THIS
      // reader sees may exclude: a filtered-out target can't vouch for
      // its sources.
      val folded = committed
        .collect { case (_, d, true) => foldedAway(fs, d) }.flatten.toSet
      committed.map(_._1).filterNot(folded).sorted
    }
  }

  def dirs(root: String, family: String, vs: Seq[Long]): Seq[String] =
    dirs(s"$root/$family", vs)

  def dirs(famDir: String, vs: Seq[Long]): Seq[String] =
    vs.map(v => s"$famDir/v=$v")

  /** The live relation of `family` from its committed deltas below
    * `below`, tombstones applied when the family is keyed; `empty` when
    * nothing is committed. Reads are pinned to `empty`'s schema, so an
    * empty delta (a bare `_SUCCESS`) cannot break schema inference and
    * binding runs no Spark job. Partitioned families need a
    * per-directory read instead ([[SimilarityIngest.loadAssignedStore]]). */
  def read(spark: SparkSession, storeRoot: String, family: Family,
      empty: DataFrame, below: Long): DataFrame = {
    val vs = committedVersions(spark, s"$storeRoot/${family.name}", below)
    if (vs.isEmpty) empty
    else {
      val df = spark.read.schema(empty.schema)
        .parquet(dirs(storeRoot, family.name, vs): _*)
      if (family.keyed)
        applyTombstones(df, tombstones(spark, storeRoot), family.tombKey)
      else df
    }
  }

  /** A non-partitioned parquet directory, its schema bound from the
    * footer of its first data file: no inference job runs. */
  def readBound(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(ParquetSchema(spark, dir)).parquet(dir)

  /** Whether a version dir holds readable data: some file outside
    * hidden (`_`/`.`) segments — `_SUCCESS`-only empty deltas and
    * sidecar dirs don't count (no schema to infer, nothing to merge). */
  private[streaming] def hasData(fs: FileSystem, base: Path): Boolean =
    if (!fs.exists(base)) false
    else {
      val it = fs.listFiles(base, true)
      var found = false
      while (!found && it.hasNext) {
        val rel = it.next().getPath.toUri.getPath
          .stripPrefix(base.toUri.getPath).split('/')
        // Spark's hidden-path rule: _ and . prefixes hide a segment
        // UNLESS it is a partition dir (contains '='), so `_cid=0`
        // partition directories still count as data
        found = rel.filter(_.nonEmpty).forall(s =>
          !(s.startsWith("_") || s.startsWith(".")) || s.contains("="))
      }
      found
    }

  /** One-long sidecar files (`_cutoff` on tombstone deltas,
    * `_tombfloor` on fold targets). Always written inside a staging
    * directory before its atomic commit, so a reader never sees a
    * truncated value — but parse defensively anyway: unreadable means
    * absent, and every consumer treats absent as "cannot vouch". */
  private def writeLongSidecar(fs: FileSystem, p: Path, v: Long): Unit = {
    val out = fs.create(p, true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
  }

  private def readLongSidecar(fs: FileSystem, p: Path): Option[Long] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try scala.util.Try(scala.io.Source.fromInputStream(in, "UTF-8")
        .mkString.trim.toLong).toOption
      finally in.close()
    }

  /** Write `df` as `family`'s delta `v=<batchId>`: a bare
    * batchId-addressed overwrite — the PER-BATCH delta discipline every
    * family shares: `_SUCCESS` gates commitment, redelivery overwrites
    * idempotently, and the stream retries an uncommitted batch. The
    * staged write-then-rename protocol ([[stagedReplace]]) is the
    * MAINTENANCE discipline (compaction, retrain, tombstones), where a
    * committed version is replaced while readers may exist — routing
    * hot-path deltas through it would add a delete+rename metadata
    * round-trip per batch for no crash-safety gain. */
  def writeDelta(df: DataFrame, storeRoot: String, family: Family,
      batchId: Long): Unit = {
    val w = df.write.mode("overwrite")
    (if (family.partitionBy.nonEmpty) w.partitionBy(family.partitionBy: _*)
      else w).parquet(s"$storeRoot/${family.name}/v=$batchId")
  }

  /** What an ingest's batch body hands [[runBatch]]: the `guarded`
    * family's delta, the `kept` rows, and the writes (`afterDelta`)
    * that land between the two, in the body's own order. */
  final case class BatchOutput(delta: DataFrame, kept: DataFrame,
      afterDelta: () => Unit = () => ())

  /** [[writeDelta]] for rows already on the driver: written there, as one
    * file, with no Spark job. The family must not be partitioned. */
  def writeDelta(spark: SparkSession, schema: StructType, rows: Seq[Row],
      storeRoot: String, family: Family, batchId: Long): Unit = {
    require(family.partitionBy.isEmpty,
      s"${family.name} is partitioned; write it with a DataFrame")
    LocalParquet.write(spark, s"$storeRoot/${family.name}/v=$batchId",
      schema, rows)
  }

  /** One micro-batch of an ingest, in the write order every ingest
    * shares: the batch's key range, aggregated once; the key-order guard
    * on the `guarded` family before any work; then `body`; the guarded
    * family's delta; its `_keyrange` sidecar, from the same range, AFTER
    * the data commit (a crash between the two leaves a committed version
    * the guard merely skips); the body's other writes; and the kept rows
    * last, in `keptDir/ingest_batch=<batchId>`. */
  def runBatch(batch: DataFrame, batchId: Long, storeRoot: String,
      keptDir: String, guarded: Family, key: String)(
      body: => BatchOutput): Unit = {
    val spark = batch.sparkSession
    val famDir = s"$storeRoot/${guarded.name}"
    val range = KeyRange.of(batch, key)
    checkKeyOrder(spark, range, batchId, famDir)
    val out = body
    writeDelta(out.delta, storeRoot, guarded, batchId)
    writeKeyRange(spark, range, s"$famDir/v=$batchId")
    out.afterDelta()
    out.kept.write.mode("overwrite")
      .parquet(s"$keptDir/ingest_batch=$batchId")
  }

  /** Start an ingest query: `data` must be streaming (`batchHint` names
    * the batch-data alternative) and carry `columns`; every micro-batch
    * runs `batchFn` under `foreachBatch`, checkpointed at
    * `checkpointDir`. `batchFn` is evaluated once, after the checks. */
  def startIngest(data: DataFrame, entry: String, dataName: String,
      columns: Seq[String], batchHint: String, checkpointDir: String)(
      batchFn: => (DataFrame, Long) => Unit): StreamingQuery = {
    require(data.isStreaming,
      s"$entry needs a streaming DataFrame — for batch data $batchHint")
    for (c <- columns; if !data.columns.contains(c))
      throw new IllegalArgumentException(
        s"$dataName is missing column '$c' " +
          s"(have: ${data.columns.mkString(", ")})")
    val f = batchFn
    data.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(f)
      .start()
  }

  /** A key range held on the driver: one `(minKey, maxKey)` row of the
    * `_keyrange` sidecar's schema (both nullable, of the key type). */
  private[streaming] final case class KeyRange(schema: StructType,
      row: Row) {
    def keyType: DataType = schema.head.dataType
    def min: Any = row.get(0)
    def max: Any = row.get(1)
  }

  private[streaming] object KeyRange {
    /** `batch`'s range of `key`, aggregated in one Spark action. */
    def of(batch: DataFrame, key: String): KeyRange = {
      val agg = batch.agg(min(col(key)).as("minKey"),
        max(col(key)).as("maxKey"))
      KeyRange(agg.schema, agg.collect().head)
    }
  }

  /** Write the key-order guard's one-row range sidecar for a just-
    * committed version (underscore-prefixed — invisible to the
    * version's data readers). */
  def writeKeyRange(batch: DataFrame, key: String,
      versionDir: String): Unit =
    writeKeyRange(batch.sparkSession, KeyRange.of(batch, key), versionDir)

  /** [[writeKeyRange]] from a range already on the driver: written there,
    * with no Spark job. */
  private[streaming] def writeKeyRange(spark: SparkSession, range: KeyRange,
      versionDir: String): Unit =
    LocalParquet.write(spark, s"$versionDir/_keyrange", range.schema,
      Seq(range.row))

  /** The span of the committed `_keyrange` sidecars of `versionDirs` (one
    * store's version dirs, each family's oldest first; only the guarded
    * family carries sidecars): the least `minKey` and the greatest
    * `maxKey` under Spark's ordering of the key type (UTF-8 byte order for
    * strings), nulls ignored as `min` and `max` ignore them. None when no
    * version carries a committed sidecar (versions written before the
    * guard existed carry none).
    *
    * Every batch of a store passed the key-order guard, and every fold
    * target carries the span of its sources, so the committed ranges
    * increase with the version: the oldest non-null range holds the least
    * min and the newest non-null one the greatest max. Only those are read,
    * walking in from each end, so the cost does not grow with the history.
    * A store with the `_unguarded` marker (an older build ran it without
    * the guard) may hold ranges in any order, and all of them are read.
    * The sidecars are read on the driver, every one bound to the oldest
    * one's footer schema (the engine writes a family's sidecars with one),
    * so no Spark job runs; they are re-read on every call, so nothing goes
    * stale across restarts, compactions and deletes. */
  private[streaming] def committedKeyRange(spark: SparkSession,
      versionDirs: Seq[String]): Option[KeyRange] =
    versionDirs.headOption.flatMap { head =>
      val storeRoot = new Path(head).getParent.getParent
      val fs = storeRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def sidecars(ds: Seq[String]): Iterator[String] = ds.iterator
        .map(d => new Path(d, "_keyrange"))
        .filter(p => fs.exists(new Path(p, "_SUCCESS"))).map(_.toString)
      sidecars(versionDirs).nextOption().map { first =>
        val schema = ParquetSchema(spark, first)
        def rows(ds: Seq[String]): Iterator[Row] =
          sidecars(ds).flatMap(LocalParquet.read(spark, _, schema))
        def nonNull(rs: Iterator[Row], i: Int): Iterator[Any] =
          rs.map(_.get(i)).filter(_ != null)
        val span =
          if (fs.exists(new Path(storeRoot, "_unguarded"))) {
            val all = rows(versionDirs).toList
            val kt = schema.head.dataType
            val ord = PhysicalDataType.ordering(kt)
            val toCatalyst =
              CatalystTypeConverters.createToCatalystConverter(kt)
            def extreme(i: Int, better: (Any, Any) => Boolean): Any =
              nonNull(all.iterator, i)
                .reduceOption((a, b) =>
                  if (better(toCatalyst(b), toCatalyst(a))) b else a)
                .orNull
            Row(extreme(0, ord.lt), extreme(1, ord.gt))
          } else
            Row(nonNull(rows(versionDirs), 0).nextOption().orNull,
              nonNull(rows(versionDirs.reverse), 1).nextOption().orNull)
        KeyRange(schema, span)
      }
    }

  /** The rows of a one-row local relation of `fields` holding `values`
    * that satisfy `pred`: Spark's comparison semantics (type coercion,
    * null propagation, the key type's ordering), evaluated by the
    * optimizer on the driver, with no Spark job. */
  private def localFilter(spark: SparkSession, fields: Seq[StructField],
      values: Seq[Any], pred: Column): Array[Row] =
    spark.createDataFrame(java.util.List.of(Row(values: _*)),
      StructType(fields)).filter(pred).collect()

  /** The micro-batch key-order guard: every committed version of the
    * guarded family carries a one-row `_keyrange` sidecar recording its
    * min/max key; a new batch's min key must exceed the max over all
    * committed ranges, enforcing the monotonically-increasing-unique-key
    * contract the whole incremental family rides on WITHOUT ever
    * scanning the store (metadata-sized: the two end sidecars
    * [[committedKeyRange]] reads on the driver, and one aggregate of the
    * batch). Versions written
    * before the guard existed carry no range and are skipped —
    * best-effort for pre-existing stores. A null comparison (empty
    * batch, or an all-null range) skips the check, mirroring SQL
    * predicate semantics. */
  def enforceKeyOrderGuard(batch: DataFrame, batchId: Long,
      famDir: String, key: String): Unit =
    checkKeyOrder(batch.sparkSession, KeyRange.of(batch, key), batchId,
      famDir)

  /** [[enforceKeyOrderGuard]] for a batch range already on the driver:
    * no Spark job runs. */
  private[streaming] def checkKeyOrder(spark: SparkSession,
      batch: KeyRange, batchId: Long, famDir: String): Unit = {
    val vs = committedVersions(spark, famDir, batchId)
    for (store <- committedKeyRange(spark, dirs(famDir, vs))) {
      val viol = localFilter(spark,
        Seq(StructField("_storeMax", store.keyType),
          StructField("_batchMin", batch.keyType)),
        Seq(store.max, batch.min), col("_batchMin") <= col("_storeMax"))
      if (viol.nonEmpty)
        throw new IllegalStateException(
          s"key-order contract violated: batch $batchId min key " +
            s"${viol(0).get(1)} does not exceed the store's max key " +
            s"${viol(0).get(0)} — keys must be globally unique and " +
            "monotonically increasing across batches (the keep-first " +
            "contract; see the ingest's start doc)")
    }
  }

  /** TOMBSTONE family — deletion support for the append-only stores:
    * `tombstones/v=<n>/` holds single-column key deltas with their OWN
    * monotone version counter (deletes are out-of-band maintenance, not
    * micro-batches, so batchId addressing does not apply — and a
    * version id colliding with a future batchId would be harmless
    * anyway: the family is only ever read in full). The tombstone
    * column NAME is the store's key column name (recorded in the
    * parquet itself — no side configuration). Readers anti-join;
    * compaction applies tombstones to the folded data but RETAINS the
    * tombstone rows while any unfolded version may still carry the key,
    * then RETIRES a delta ([[retireTombstones]]) once every version
    * that could carry its keys has provably been rewritten with it
    * applied — the family is O(live deleted keys) and compacts by
    * dropDuplicates. Run deletes with the ingest query STOPPED (the
    * same rule as compaction): a tombstone landing between a batch's
    * first attempt and its redelivery would make the retry see a
    * different store.
    *
    * Each delta records a `_cutoff` sidecar — the max committed version
    * id over the store's KEYED families at delete time. Under the
    * monotone-key contract, versions committed after the delete carry
    * only keys above every key the delta can name, so retirement can
    * clear them by id alone — but ONLY when the delta is ANCHORED:
    * every deleted key provably at-or-below the store's all-time max
    * ingested key (checked against the committed `_keyrange` sidecars).
    * A delta naming a key the store has never seen (a pre-emptive
    * takedown — out of the documented takedown contract, but it must
    * stay SAFE) could have that key legitimately arrive in ANY later
    * batch — `deleteKeys` writes no `_keyrange`, so the key-order
    * guard never closes the arrival window — which means no amount of
    * version-id or fold-floor evidence can ever prove the delete fully
    * applied; such a delta records `_cutoff = Long.MaxValue` and NEVER
    * retires, the safe price of deleting ahead of ingest. Stores with
    * no `_keyrange` history (pre-guard) anchor nothing, conservatively.
    */
  def writeTombstones(spark: SparkSession, storeRoot: String,
      keys: DataFrame, keyedFamilies: Seq[String]): Long = {
    require(keys.columns.length == 1,
      s"tombstones take ONE key column, got ${keys.columns.length} " +
        s"(${keys.columns.mkString(", ")})")
    val famDir = s"$storeRoot/tombstones"
    val fs = new Path(famDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = committedVersions(spark, famDir, Long.MaxValue)
      .lastOption.getOrElse(-1L) + 1L
    // one listing per keyed family serves both the anchor check and
    // the cutoff (driver metadata round-trips are the cost on an
    // object store)
    val famVersions = keyedFamilies.map(f =>
      f -> committedVersions(spark, s"$storeRoot/$f", Long.MaxValue))
    // anchored ⇔ no deleted key exceeds the all-time ingested max (an
    // empty delta is trivially anchored; a null store max never vouches)
    val anchored = committedKeyRange(spark, famVersions.flatMap {
      case (f, vs) => dirs(storeRoot, f, vs) }).exists { store =>
      val tombMax = keys.agg(max(col(keys.columns.head)).as("_tombMax"))
      localFilter(spark,
        Seq(StructField("_storeMax", store.keyType), tombMax.schema.head),
        Seq(store.max, tombMax.collect().head.get(0)),
        col("_tombMax") > col("_storeMax") ||
          (col("_storeMax").isNull && col("_tombMax").isNotNull))
        .isEmpty
    }
    val cutoff =
      if (!anchored) Long.MaxValue
      else famVersions.flatMap(_._2.lastOption).foldLeft(-1L)(math.max)
    // staged so the delta and its cutoff sidecar appear atomically
    // (coalesce(1): a takedown list is metadata-sized; one file each)
    stagedReplace(spark, famDir, v) { staging =>
      keys.dropDuplicates().coalesce(1)
        .write.mode("overwrite").parquet(staging)
      writeLongSidecar(fs, new Path(staging, "_cutoff"), cutoff)
    }
    v
  }

  /** [[writeTombstones]] over the keyed ones of an ingest's `families`. */
  def deleteKeys(spark: SparkSession, storeRoot: String, keys: DataFrame,
      families: Seq[Family]): Long =
    writeTombstones(spark, storeRoot, keys, keyedNames(families))

  private def keyedNames(families: Seq[Family]): Seq[String] =
    families.filter(_.keyed).map(_.name)

  /** All committed tombstone keys, distinct — None when the store has
    * never seen a delete, or every delta has been retired (the
    * zero-overhead common cases: readers skip the anti-join entirely).
    * Retired deltas are empty committed husks, skipped here. */
  def tombstones(spark: SparkSession,
      storeRoot: String): Option[DataFrame] =
    tombstonesAndFloor(spark, storeRoot)._1

  /** [[tombstones]] PLUS the applied-floor a fold resolving them may
    * record (`max committed tombstone version + 1` — "every tombstone
    * delta below this has been physically applied here"): one family
    * listing serves both, for the compaction paths that need the pair. */
  def tombstonesAndFloor(spark: SparkSession,
      storeRoot: String): (Option[DataFrame], Long) = {
    val famDir = s"$storeRoot/tombstones"
    val fs = new Path(famDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = committedVersions(spark, famDir, Long.MaxValue)
    val dataDirs = vs.map(v => s"$famDir/v=$v")
      .filter(d => hasData(fs, new Path(d)))
    val tomb =
      if (dataDirs.isEmpty) None
      else {
        // the family is never partitioned, so the first delta's footer
        // is its schema: binding runs no inference job
        val schema = ParquetSchema(spark, dataDirs.head)
        Some(dataDirs.map(d => spark.read.schema(schema).parquet(d))
          .reduce(_.unionByName(_))
          .dropDuplicates())
      }
    (tomb, vs.lastOption.map(_ + 1L).getOrElse(0L))
  }

  /** Retire tombstone deltas whose deletions have been FULLY applied,
    * so the marker no longer taxes every reader's anti-join: delta
    * `v_t` retires when, in every keyed family, each committed version
    * either carries a `_tombfloor` above `v_t` (a fold target rewritten
    * with the delta applied) or is a raw delta committed after the
    * delete (id above the delta's `_cutoff` — which, under the
    * monotone-key contract the whole incremental family rides, cannot
    * carry any key the delta names). UNANCHORED deltas
    * (`_cutoff = Long.MaxValue`, see [[writeTombstones]]) NEVER retire:
    * their keys exceed everything ingested so far, the arrival window
    * never provably closes (deleteKeys writes no `_keyrange`, so the
    * key-order guard would admit the key's later arrival even after
    * every existing version was folded), and a fold-floor argument is
    * therefore insufficient — and on a store with no committed keyed
    * versions at all it would even hold vacuously. Conservative
    * everywhere: a missing or unreadable sidecar never vouches, so
    * pre-sidecar deltas simply never retire.
    *
    * The `v > cutoff` evidence rides the key-order guard. A store that
    * carries the `_unguarded` marker (an older build ran batches without
    * the guard) retires NOTHING: a post-cutoff batch there could have
    * re-carried a deleted key. Its tombstones still apply (readers
    * anti-join; compaction removes rows and dropDuplicates the family).
    *
    * A retired delta is replaced by an empty committed husk (staged,
    * crash-safe) rather than deleted: the family's version counter must
    * stay monotone, because `_tombfloor` values already recorded on
    * fold targets would falsely vouch for a reused id. Husks read as
    * nothing ([[tombstones]] skips them) and fold away under the
    * family's normal tiered compaction. Returns the retired ids. */
  def retireTombstones(spark: SparkSession, storeRoot: String,
      keyedFamilies: Seq[String]): Seq[Long] = {
    val famDir = s"$storeRoot/tombstones"
    val fs = new Path(famDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tombVs = committedVersions(spark, famDir, Long.MaxValue)
    if (tombVs.isEmpty ||
        fs.exists(new Path(storeRoot, "_unguarded"))) Seq.empty
    else {
      // each keyed family listed once; floors probed per version
      val perFam = keyedFamilies.map { f =>
        committedVersions(spark, s"$storeRoot/$f", Long.MaxValue).map {
          v => v -> readLongSidecar(fs,
            new Path(s"$storeRoot/$f/v=$v/_tombfloor"))
        }
      }
      val retired = tombVs.filter { vt =>
        hasData(fs, new Path(s"$famDir/v=$vt")) &&
          readLongSidecar(fs,
            new Path(s"$famDir/v=$vt/_cutoff")).exists(cut =>
            cut != Long.MaxValue &&
              perFam.forall(_.forall { case (v, floor) =>
                floor.exists(_ > vt) || (v > cut && floor.isEmpty)
              }))
      }
      retired.foreach { vt =>
        stagedReplace(spark, famDir, vt) { staging =>
          val s = new Path(staging)
          fs.mkdirs(s)
          fs.create(new Path(s, "_SUCCESS"), true).close()
        }
      }
      retired
    }
  }

  /** Filter a store relation through the committed tombstones:
    * left-anti on `keyCol` (the tombstone column is renamed to it, so a
    * family whose internal key name differs — the label store's `key` —
    * still applies cleanly). No committed tombstones → the relation
    * unchanged, zero plan overhead. */
  def antiTombstones(df: DataFrame, keyCol: String, spark: SparkSession,
      storeRoot: String): DataFrame =
    applyTombstones(df, tombstones(spark, storeRoot), Some(keyCol))

  /** [[antiTombstones]] over an ALREADY-RESOLVED tombstone relation —
    * for callers applying one tombstone set to several families
    * (compaction), so the family listing + marker probes run once, not
    * once per family. `keyCol = None` joins on the tombstone column's
    * own recorded name; `Some(c)` renames it (the label store's
    * internal `key`). */
  def applyTombstones(df: DataFrame, tomb: Option[DataFrame],
      keyCol: Option[String]): DataFrame =
    tomb match {
      case None => df
      case Some(t) =>
        val tt = keyCol.map(t.toDF(_)).getOrElse(t)
        df.join(tt, Seq(tt.columns.head), "left_anti")
    }

  // adjacent-run grouping: push versions oldest -> newest, cascading
  // a merge whenever the newest tier is within sizeRatio of the one
  // below it; cascades let accumulated small tiers climb into the
  // settled large ones exactly when they have earned the rewrite
  private def tiers(sized: Seq[(Long, Long)],
      sizeRatio: Double): List[(Vector[Long], Long)] = {
    var stack = List.empty[(Vector[Long], Long)] // head = newest tier
    for ((v, bytes) <- sized) {
      stack ::= (Vector(v), bytes)
      // the isPosInfinity arm dodges 0 bytes × Infinity = NaN for
      // empty deltas under the fold-everything ratio
      while (stack.lengthCompare(2) >= 0 && (sizeRatio.isPosInfinity ||
          stack.head._2 * sizeRatio >= stack(1)._2)) {
        val (nv, nb) :: (ov, ob) :: rest = stack: @unchecked
        stack = (ov ++ nv, ob + nb) :: rest
      }
    }
    stack.reverse
  }

  /** Delete folded-away crash leftovers: sources whose rows a
    * committed fold target already holds (readers exclude them via the
    * `_folded` sidecar; here they are finally removed). Every
    * maintenance pass that REWRITES version directories must run this
    * first — a wholesale rewrite of a fold target destroys its
    * `_folded` sidecar, and a leftover that outlived its exclusion
    * record would silently return to the committed set. */
  def sweepFoldedLeftovers(spark: SparkSession, famDir: String): Unit = {
    val p = new Path(famDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    for (v <- committedVersions(spark, famDir, Long.MaxValue);
        fv <- foldedAway(fs, new Path(s"$famDir/v=$v"));
        d = new Path(s"$famDir/v=$fv"); if fs.exists(d))
      fs.delete(d, true)
  }

  /** Commit a fully-written staging directory over its target: unlink,
    * then atomic rename. The crash window between the two is exactly
    * the one [[healStagedCompactions]] closes — which is why every
    * staged writer uses the `.compact-v=N` staging names the healer
    * recognizes. */
  private def commitStaged(fs: FileSystem, staging: Path,
      target: Path): Unit = {
    fs.delete(target, true)
    if (!fs.rename(staging, target) && !fs.exists(target))
      throw new IllegalStateException(
        s"staged commit failed: could not rename $staging over $target")
  }

  /** Write-then-commit a directory via the staged protocol: `write`
    * produces the new contents at the staging path (it must leave a
    * `_SUCCESS` marker — any DataFrame parquet write does), then the
    * staging directory is committed over `target`. A crash before the
    * write completes leaves an ignored partial staging dir; a crash
    * inside the commit window either heals on the next read (when the
    * staging name matches the healer's `.compact-v=N` pattern) or
    * leaves no committed target, which the caller's readers must
    * refuse loudly. */
  def stagedCommitDir(spark: SparkSession, staging: String,
      target: String)(write: String => Unit): Unit = {
    val s = new Path(staging)
    val fs = s.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(s, true)
    write(staging)
    commitStaged(fs, s, new Path(target))
  }

  /** Replace one committed version's contents via the staged-commit
    * protocol — [[stagedCommitDir]] at the `.compact-v=N` staging name
    * the crash healer recognizes. Used by maintenance rewrites
    * ([[SimilarityIngest.retrainIvfIndex]]). */
  def stagedReplace(spark: SparkSession, famDir: String, v: Long)(
      write: String => Unit): Unit =
    stagedCommitDir(spark, s"$famDir/.compact-v=$v", s"$famDir/v=$v")(
      write)

  /** Fold one family's committed history (resolved by `resolve`) under
    * the size-tiered policy, with the staged crash-safe commit and the
    * `_keyrange` sidecar carry-through — the full policy and safety
    * argument lives on [[compactStores]], which is this per family. Only
    * versions STRICTLY BELOW the family's max are ever folded (the max
    * must survive for `foreachBatch` retry reads).
    *
    * `tombFloor = Some(f)` records an `_tombfloor` sidecar on every
    * fold target this call commits: "all tombstone deltas with version
    * < f have been physically applied here" — the caller's `resolve`
    * must actually apply them ([[applyTombstones]]). The sidecar is
    * what [[retireTombstones]] reads to prove a delete has reached
    * every old version. Pass it only for KEYED families. */
  def compactFamily(spark: SparkSession, storeRoot: String,
      family: String, sizeRatio: Double,
      resolve: DataFrame => DataFrame,
      partitionBy: Seq[String] = Nil,
      tombFloor: Option[Long] = None): Seq[Fold] = {
    require(sizeRatio >= 1.0, s"sizeRatio must be >= 1, got $sizeRatio")
    val fs = new Path(storeRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val famDir = s"$storeRoot/$family"
    // sweep staging leftovers a crash may have orphaned: completed
    // ones were healed by committedVersions below the first read;
    // whatever remains is an incomplete attempt whose sources are
    // all still committed, so it is safe to drop
    val all = committedVersions(spark, famDir, Long.MaxValue)
    if (fs.exists(new Path(famDir)))
      for (s <- fs.listStatus(new Path(famDir));
          if StagingDir.findFirstMatchIn(s.getPath.getName).isDefined)
        fs.delete(s.getPath, true)
    sweepFoldedLeftovers(spark, famDir)
    val vs = if (all.isEmpty) all else all.filter(_ < all.max)
    val sized = vs.map(v =>
      v -> fs.getContentSummary(new Path(s"$famDir/v=$v")).getLength)
    for ((group, _) <- tiers(sized, sizeRatio); if group.size > 1) yield {
      val vInto = group.max
      val staging = new Path(s"$famDir/.compact-v=$vInto")
      val target = new Path(s"$famDir/v=$vInto")
      // read the group one directory at a time: a multi-path read of
      // `partitionBy`-laid-out versions trips Spark's partition
      // discovery (the v=N level itself parses as a conflicting
      // partition), and per-dir reads keep each version's own
      // partition-column inference
      val withData = group
        .filter(v => hasData(fs, new Path(s"$famDir/v=$v")))
      val readable = dirs(storeRoot, family, withData)
      fs.delete(staging, true)
      if (readable.isEmpty) {
        // every source was an empty delta — the merge is the same
        // empty version the writers produce: a bare `_SUCCESS` marker
        fs.mkdirs(staging)
        fs.create(new Path(staging, "_SUCCESS"), true).close()
      } else {
        // an unpartitioned family's footer is its schema (no inference
        // job); a partitioned one keeps inference for its partition
        // columns
        val schema =
          if (partitionBy.isEmpty) ParquetSchema(spark, readable.head)
          else spark.read.parquet(readable.head).schema
        val merged = readable
          .map(d => spark.read.schema(schema).parquet(d))
          .reduce(_.unionByName(_))
        val writer = resolve(merged).write.mode("overwrite")
        (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*)
          else writer).parquet(staging.toString)
      }
      // carry the key-order guard's range sidecars through the fold
      // (the span of whichever sources have one — a source without one
      // predates the guard, and understating never false-positives)
      committedKeyRange(spark, dirs(famDir, group))
        .foreach(writeKeyRange(spark, _, staging.toString))
      // keyed-family fold targets record which tombstone deltas their
      // resolve applied — retirement's evidence
      tombFloor.foreach(f =>
        writeLongSidecar(fs, new Path(staging, "_tombfloor"), f))
      // tombstone-family folds carry the sources' data cutoffs through
      // — but only when EVERY data-bearing source has one: a
      // pre-sidecar delta's keys have no established anchoring, so its
      // absence must keep the whole merged delta unretirable (the
      // target sidecar is omitted — same as Long.MaxValue to
      // retirement), mirroring the "a missing sidecar never vouches"
      // posture everywhere else. Empty husks carry no keys and cannot
      // dilute the carry. Max over the sources is conservative: keys
      // from any source live only in versions at or below their own
      // cutoff, which is at most this.
      val srcCutoffs = withData.map(v =>
        readLongSidecar(fs, new Path(s"$famDir/v=$v/_cutoff")))
      if (srcCutoffs.nonEmpty && srcCutoffs.forall(_.isDefined))
        writeLongSidecar(fs, new Path(staging, "_cutoff"),
          srcCutoffs.flatten.max)
      // record the folded sources INSIDE the staging dir before the
      // commit: once the rename lands, readers exclude any source the
      // crash window left undeleted (their rows live here now), and
      // the next compaction's sweep removes them. The healer only
      // finishes renames whose target is already unlinked — which
      // commitStaged does strictly after this write — so every healed
      // or committed fold target carries its `_folded` list.
      // carried-forward entries keep exclusion alive across nested
      // folds even when a prior crash's leftovers outlive their
      // original target (already-deleted dirs are no-ops to exclude)
      val srcs = (group.filter(_ != vInto) ++ group.flatMap(v =>
        foldedAway(fs, new Path(s"$famDir/v=$v")))).distinct.sorted
      val out = fs.create(new Path(staging, "_folded"), true)
      try out.write(srcs.mkString("", "\n", "\n").getBytes("UTF-8"))
      finally out.close()
      commitStaged(fs, staging, target)
      srcs.foreach(v => fs.delete(new Path(s"$famDir/v=$v"), true))
      Fold(family, group, vInto, fs.getContentSummary(target).getLength)
    }
  }

  /** Collapse the version history of an ingest's `families` under a
    * SIZE-TIERED policy. Run with the ingest query STOPPED — compaction
    * rewrites directories a running batch may be reading.
    *
    * ORDER: the tombstones resolve ONCE (one family listing + marker
    * probe, not one per folded family — driver metadata round-trips are
    * the read-path cost on an object store); each family folds in
    * declaration order by its `fold`, the keyed ones with the tombstones
    * applied (physical removal) and the applied floor recorded; then
    * fully-applied tombstone deltas retire ([[retireTombstones]]), and
    * the tombstone family itself folds LAST so its directories are
    * stable while the other folds read them.
    *
    * POLICY — tiered, not monolithic: folding the whole history into
    * one version every call is an O(store) rewrite per call, which at
    * corpus scale means periodically rewriting the entire signature
    * store. Instead, adjacent committed versions are grouped oldest →
    * newest with the classic merge rule: a run of newer versions folds
    * into the next older one only once the run's bytes reach within
    * `sizeRatio` of it (`newerBytes × sizeRatio ≥ olderBytes`). The
    * surviving tiers grow geometrically, so each byte is rewritten
    * O(log_ratio(store/delta)) times over the store's lifetime and a
    * large settled version is touched only when the data accumulated
    * after it is comparable to it. Pass `sizeRatio =
    * Double.PositiveInfinity` for the old fold-everything behavior.
    * Groups are contiguous and fold into the group's own maximum
    * version, so every directory `v=N` always holds rows from versions
    * ≤ N and the readers' `below = batchId` prefix filter stays exact.
    *
    * Only versions STRICTLY BELOW the highest are ever folded. The
    * highest version must survive untouched because `foreachBatch`
    * commits its epoch AFTER the batch function returns — a stop in
    * that window re-delivers the last batch on restart, and its retry
    * reads versions `< batchId`; folding history into the max would
    * make that retry see an empty store and overwrite the merged data
    * with a batch-sized delta. Every version below the max has provably
    * committed (offsets advance in order), so folding them is safe.
    *
    * CRASH SAFETY — staged commit: each group's merge is written to
    * `.compact-v=<into>` (invisible to readers, with its own `_SUCCESS`
    * once complete), then committed by unlinking `v=<into>` and
    * atomically renaming the staging directory over it, and only then
    * are the other source versions deleted. Every committed version
    * therefore remains readable until the merged data is fully on
    * disk. A crash inside the two-metadata-op unlink/rename window
    * leaves the merge complete but unlinked — the next reader or
    * compaction heals it by finishing the rename
    * ([[healStagedCompactions]]). A crash after the rename but before
    * the source deletes leaves duplicate rows across versions, which
    * readers exclude by the target's `_folded` record and the next
    * compaction removes.
    *
    * Returns the folds performed, with the parquet bytes each rewrote
    * — the observability hook for sizing `sizeRatio`. */
  def compactStores(spark: SparkSession, storeRoot: String,
      families: Seq[Family], sizeRatio: Double): Seq[Fold] = {
    val (tomb, floor) = tombstonesAndFloor(spark, storeRoot)
    val folds = families.flatMap { f =>
      if (f.keyed)
        compactFamily(spark, storeRoot, f.name, sizeRatio,
          df => applyTombstones(f.fold(df), tomb, f.tombKey),
          f.partitionBy, tombFloor = Some(floor))
      else compactFamily(spark, storeRoot, f.name, sizeRatio, f.fold,
        f.partitionBy)
    }
    retireTombstones(spark, storeRoot, keyedNames(families))
    folds ++ compactFamily(spark, storeRoot, "tombstones", sizeRatio,
      _.dropDuplicates())
  }
}
