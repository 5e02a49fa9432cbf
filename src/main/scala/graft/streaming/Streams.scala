package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.TagOps

/** Structured Streaming extension (SURVEY.md §2.9/M7 — not a reference
  * capability; replaces its "skip files already downloaded" incremental
  * re-run, `jigsaw/io_utils.py:89,150`, with checkpointed exactly-once file
  * ingestion).
  *
  * STATE STORE BACKEND: every stateful operator here (the stream-stream
  * joins, the as-of family's flatMapGroupsWithState, dedup, sessionize)
  * runs on whichever provider
  * `spark.sql.streaming.stateStore.providerClass` names. The default
  * HDFSBackedStateStoreProvider keeps working state on executor HEAP —
  * fine at the watermark-bounded sizes these operators maintain, but at
  * production key cardinality set
  *
  * {{{
  *   spark.conf.set("spark.sql.streaming.stateStore.providerClass",
  *     "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  * }}}
  *
  * to keep state in native memory + local disk with incremental
  * checkpointing (rocksdbjni ships with stock Spark; the conf is read
  * per query at start). The operators are provider-agnostic —
  * StreamsRocksDbSpec runs each state-machine shape under RocksDB and
  * asserts via the `rocksdb*` custom metrics that the provider engaged.
  */
object Streams {

  /** Incremental corpus-metadata ingestion: the streaming form of
    * TagOps.loadMetadata. New `meta_<id>.json` files are picked up exactly
    * once per checkpoint; the batch query shape is identical.
    */
  def tagStream(spark: SparkSession, dir: String): DataFrame =
    TagOps.metadataRows(spark.readStream
      .schema(TagOps.MetadataSchema)
      .option("multiLine", "true")
      .option("pathGlobFilter", "meta_*.json")
      .option("maxFilesPerTrigger", 1000)
      .json(dir))

  /** Hourly tumbling-window event aggregation with late-data handling — the
    * streaming form of q12_events_hourly. Watermark bounds state: at scale
    * this is the knob that keeps the state store finite.
    */
  def hourlyEventCounts(events: DataFrame,
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Streaming exact dedup: drop re-deliveries of the same key within the
    * watermark horizon (state is bounded by the watermark — the streaming
    * form of Dedup.exact for at-least-once upstream sources).
    */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
      watermark: String = "1 hour"): DataFrame = {
    require(keyCols.nonEmpty, "dedupStream needs at least one key column")
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)
  }

  final case class Event(user_id: Long, ts: java.sql.Timestamp,
      event_type: String, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, nEvents: Long,
      totalValue: Double)
  final case class Session(user_id: Long, startMs: Long, endMs: Long,
      nEvents: Long, totalValue: Double)

  final case class Tagged(key: Long, tsMs: Long, isRight: Boolean,
      value: Double)
  final case class Enriched(key: Long, tsMs: Long, value: Double,
      asofValue: Option[Double])
  final case class AsofState(tsMs: Long, value: Double)

  /** Streaming range join — the streaming form of
    * [[graft.operators.Joins.rangeJoin]] for sliding windows: each left
    * event pairs with the right events whose
    * `[rightTs, rightTs + windowMs)` window contains the left event's
    * timestamp, per key, via Spark's NATIVE stream-stream interval join.
    *
    * Unlike the batch side, no binning trick is needed here: the
    * stream-stream join's state store is already hash-partitioned on the
    * equi key, and the time-range conjuncts are consumed as a state
    * RETENTION bound, not a nested-loop predicate — with watermarks on
    * both inputs Spark derives exactly how long each side's rows must be
    * kept (right rows age out `windowMs` past the left watermark), so
    * state is bounded by rate × (watermark + window), not stream length.
    * Late rows beyond the watermark are dropped, the standard streaming
    * trade; the batch operator is the exact-over-late-data path.
    *
    * The right side's key column is renamed internally, so the two inputs
    * may share the key name; all other column names must be distinct —
    * inputs sharing a non-key column name are REJECTED up front with an
    * `IllegalArgumentException` naming the collisions (contract, not a
    * bug: earlier versions let such inputs through to degenerate
    * duplicate-named output or Spark's opaque ambiguous-reference
    * error; rename the colliding columns on one side first). Applies to
    * every join in this family, including [[overlapJoinStream]]. Both
    * timestamp columns must be TimestampType.
    *
    * `joinType = "left_outer"` keeps every left event — the streaming
    * form of [[graft.operators.Joins.rangeJoinLeftOuter]]. Outer rows are
    * emitted only once the watermark proves no matching right event can
    * still arrive (both watermarks past the event's match window), so
    * unmatched events surface with watermark latency — the standard
    * streaming outer-join trade, handled entirely by Spark's state
    * manager.
    *
    * `joinType = "full_outer"` additionally keeps every unmatched RIGHT
    * event (the streaming form of
    * [[graft.operators.Joins.rangeJoinFullOuter]] — Spark supports
    * full-outer stream-stream interval joins natively since 3.1, so no
    * binning/dedup machinery from the batch operator is needed here).
    * Matching the batch operator's USING-style contract, the output
    * carries ONE `key` column coalesced across the sides, so a
    * right-only row's key survives. Unmatched rows on either side wait
    * for both watermarks, like `left_outer`.
    */
  def rangeJoinStream(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, windowMs: Long,
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame =
    rangeJoinStream(left, right, Seq(key), leftTs, rightTs, windowMs,
      watermark, joinType)

  /** [[rangeJoinStream]] with COMPOSITE equality keys — the batch
    * operators all take `Seq[String]`; this aligns the streaming
    * surface. Key columns must be named identically on both inputs
    * (they are renamed internally on the right and, for `full_outer`,
    * coalesced back USING-style).
    */
  def rangeJoinStream(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightTs: String, windowMs: Long,
      watermark: String, joinType: String): DataFrame = {
    require(windowMs > 0, "windowMs must be > 0")
    streamJoin(left.withWatermark(leftTs, watermark), right, keys,
      watermark = watermark, rightWmCol = rightTs, joinType = joinType,
      timeCond =
        col(leftTs) >= col(rightTs) &&
          col(leftTs) < col(rightTs) +
            expr(s"INTERVAL $windowMs MILLISECONDS"))
  }

  /** [[rangeJoinStream]] for VARIABLE-length right windows — the
    * streaming form of [[graft.operators.Joins.rangeJoin]] with raw
    * `[rightStart, rightEnd)` columns instead of the fixed-`windowMs`
    * sliding window: each left event pairs with the right rows whose
    * interval contains its timestamp (`leftTs >= rightStart AND
    * leftTs < rightEnd`), per key.
    *
    * Spark derives stream-stream state retention only from event-time
    * range conditions between the WATERMARKED columns (`leftTs`,
    * `rightStart`); containment's upper bound runs against `rightEnd`,
    * which carries no watermark. The caller therefore declares the
    * maximum window length, and the operator adds the implied band
    * `leftTs < rightStart + maxWindowMs` (from `leftTs < rightEnd <=
    * rightStart + maxWindowMs`) as the retention bound — it never drops
    * a valid pair while the length declaration holds. Right rows whose
    * window exceeds the declared maximum are excluded up front rather
    * than silently losing their far matches (the batch operator is the
    * path for unbounded window lengths), and every exclusion is COUNTED
    * under the `streamRangeCap` [[graft.operators.GuardMetrics]] tag
    * (plus the session-wide pair) with a first-drop warn line — an
    * under-declared `maxWindowMs` shows up as a non-zero counter, not as
    * silently missing rows. Exclusions are ALSO surfaced per micro-batch
    * as the observed metric
    * `GuardMetrics.observedMetricName("streamRangeCap", rightStart)` in
    * every `StreamingQueryProgress.observedMetrics` — the accumulators
    * are session totals, the observed metric is the per-batch number a
    * monitoring pipeline alerts on.
    *
    * Same `joinType` surface, USING-style key contract, and
    * no-shared-non-key-columns rule as the fixed-window form.
    */
  def rangeJoinStream(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightStart: String, rightEnd: String,
      maxWindowMs: Long, watermark: String,
      joinType: String): DataFrame =
    rangeJoinStream(left, right, Seq(key), leftTs, rightStart, rightEnd,
      maxWindowMs, watermark, joinType)

  /** Composite-key form of the variable-window [[rangeJoinStream]]. */
  def rangeJoinStream(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightStart: String,
      rightEnd: String, maxWindowMs: Long, watermark: String,
      joinType: String): DataFrame =
    rangeJoinStream(left, right, keys, leftTs, rightStart, rightEnd,
      maxWindowMs, watermark, joinType, guardSite = "")

  /** Variable-window [[rangeJoinStream]] with an explicit `guardSite`:
    * the per-site id spliced into the length-cap guard's observed-metric
    * name ([[graft.operators.GuardMetrics.observedMetricName]]). Needed
    * ONLY when one query composes SEVERAL capped range joins whose
    * capped right sides share a start-column name (cascades, unions) —
    * Spark rejects duplicate observed-metric names in one query at
    * analysis, so each such join must carry a distinct site. The empty
    * default keeps the stable un-suffixed metric name.
    */
  def rangeJoinStream(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftTs: String, rightStart: String,
      rightEnd: String, maxWindowMs: Long, watermark: String,
      joinType: String, guardSite: String): DataFrame = {
    require(maxWindowMs > 0, "maxWindowMs must be > 0")
    // the cap guard passes null-end windows (they can match nothing but
    // must surface unmatched under full_outer — the batch operator's
    // contract) and counts every over-length exclusion under its tag
    streamJoin(left.withWatermark(leftTs, watermark),
      graft.operators.GuardMetrics.capIntervalLength(
        right, rightStart, rightEnd, maxWindowMs, tag = "streamRangeCap",
        site = guardSite),
      keys, watermark = watermark, rightWmCol = rightStart,
      joinType = joinType,
      timeCond =
        // retention band on the watermarked columns (derived above)
        col(leftTs) < col(rightStart) +
          expr(s"INTERVAL $maxWindowMs MILLISECONDS") &&
          // exact containment
          col(leftTs) >= col(rightStart) &&
          col(leftTs) < col(rightEnd))
  }

  /** Streaming interval-overlap join — the streaming form of
    * [[graft.operators.Joins.intervalOverlapJoin]]: each left interval
    * `[leftStart, leftEnd)` pairs with the right intervals
    * `[rightStart, rightEnd)` it overlaps (`leftStart < rightEnd AND
    * rightStart < leftEnd`, the batch operator's strict form), per key,
    * via Spark's native stream-stream join.
    *
    * Spark bounds stream-stream join state ONLY through event-time range
    * conditions between the two WATERMARKED columns (the interval
    * STARTs) — but the overlap predicate relates each start to the OTHER
    * side's end, which Spark cannot turn into a retention bound. The
    * caller therefore declares each side's maximum interval length, and
    * the operator derives the start-to-start band that overlap implies:
    *
    * {{{
    *   rightStart ∈ (leftStart − maxRightLenMs, leftStart + maxLeftLenMs)
    * }}}
    *
    * (from `leftStart < rightEnd <= rightStart + maxRightLen` and
    * `rightStart < leftEnd <= leftStart + maxLeftLen`). The band is
    * IMPLIED by overlap whenever the length declarations hold, so it
    * prunes state without dropping any valid pair; the exact overlap
    * predicate rides along and filters within the band. Rows whose
    * interval exceeds the declared maximum are excluded up front — a
    * longer interval would silently miss matches past the band, and an
    * operator must not emit a silently-wrong subset (the batch operator
    * is the path for unbounded interval lengths). Every exclusion, on
    * either side, is COUNTED under the `streamOverlapCap`
    * [[graft.operators.GuardMetrics]] tag (plus the session-wide pair)
    * with a first-drop warn line, so an under-declared max is one
    * readable number, not silent row loss. Per micro-batch, each side's
    * exclusions also appear as an observed metric in
    * `StreamingQueryProgress.observedMetrics` —
    * `GuardMetrics.observedMetricName("streamOverlapCap", leftStart)`
    * and `(..., rightStart)` — attributing the drop to a side, which
    * the shared accumulator tag cannot.
    *
    * `joinType`: `inner`, `left_outer` (every surviving left interval
    * emits, null-extended once both watermarks close its band — the
    * streaming form of `intervalOverlapJoinLeftOuter`), or `full_outer`
    * (both sides' unmatched intervals emit; the output key column is
    * coalesced across sides, the batch USING-style contract). The right
    * side's key column is renamed internally, so the two inputs may
    * share the key name; all other column names must be distinct (a
    * shared non-key name is rejected up front, see [[rangeJoinStream]]).
    * All four bound columns must be TIMESTAMPs (the watermark's
    * currency).
    */
  def overlapJoinStream(left: DataFrame, right: DataFrame, key: String,
      leftStart: String, leftEnd: String, rightStart: String,
      rightEnd: String, maxLeftLenMs: Long, maxRightLenMs: Long,
      watermark: String = "10 minutes",
      joinType: String = "inner"): DataFrame =
    overlapJoinStream(left, right, Seq(key), leftStart, leftEnd,
      rightStart, rightEnd, maxLeftLenMs, maxRightLenMs, watermark,
      joinType)

  /** Composite-key form of [[overlapJoinStream]]. */
  def overlapJoinStream(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String, maxLeftLenMs: Long,
      maxRightLenMs: Long, watermark: String,
      joinType: String): DataFrame =
    overlapJoinStream(left, right, keys, leftStart, leftEnd, rightStart,
      rightEnd, maxLeftLenMs, maxRightLenMs, watermark, joinType,
      guardSite = "")

  /** [[overlapJoinStream]] with an explicit `guardSite` — the per-site
    * id spliced into BOTH sides' length-cap observed-metric names (the
    * sides stay distinguished by their start columns). Needed only when
    * one query composes several capped overlap joins whose capped sides
    * share start-column names; see the [[rangeJoinStream]] `guardSite`
    * doc for the duplicate-observed-metric rule.
    */
  def overlapJoinStream(left: DataFrame, right: DataFrame,
      keys: Seq[String], leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String, maxLeftLenMs: Long,
      maxRightLenMs: Long, watermark: String,
      joinType: String, guardSite: String): DataFrame = {
    require(maxLeftLenMs > 0 && maxRightLenMs > 0,
      "max interval lengths must be > 0")
    // the cap guard passes null-end intervals (the overlap predicate
    // nulls out — no matches — but outer types must still emit them
    // unmatched, the batch operators' contract) and counts every
    // over-length exclusion; both sides share one tag, the session-wide
    // pair keeps the grand total
    def capped(df: DataFrame, start: String, end: String,
        maxLen: Long): DataFrame =
      graft.operators.GuardMetrics.capIntervalLength(
        df, start, end, maxLen, tag = "streamOverlapCap",
        site = guardSite)
    streamJoin(
      capped(left, leftStart, leftEnd, maxLeftLenMs)
        .withWatermark(leftStart, watermark),
      capped(right, rightStart, rightEnd, maxRightLenMs),
      keys, watermark = watermark, rightWmCol = rightStart,
      joinType = joinType,
      timeCond =
        // state-retention band on the watermarked starts (derived above)
        col(rightStart) > col(leftStart) -
          expr(s"INTERVAL $maxRightLenMs MILLISECONDS") &&
          col(rightStart) < col(leftStart) +
            expr(s"INTERVAL $maxLeftLenMs MILLISECONDS") &&
          // exact overlap (the batch operator's strict predicate)
          col(leftStart) < col(rightEnd) &&
          col(rightStart) < col(leftEnd))
  }

  /** Shared body of the stream-stream joins: rename the right side's key
    * columns, join on key equality plus the caller's time condition, and
    * restore USING-style keys (coalesced for `full_outer`, where a
    * right-only row's key lives in the renamed column).
    *
    * The "only key columns may be shared" contract is enforced here, not
    * left to Spark's ambiguous-reference error at resolution: a loud
    * require naming the collisions, the same style as `asOfParts`.
    */
  private def streamJoin(leftWm: DataFrame, right: DataFrame,
      keys: Seq[String], watermark: String, rightWmCol: String,
      joinType: String,
      timeCond: org.apache.spark.sql.Column): DataFrame = {
    require(keys.nonEmpty, "streaming joins need at least one key column")
    require(Set("inner", "left_outer", "full_outer").contains(joinType),
      s"joinType must be inner, left_outer, or full_outer, got '$joinType'")
    require(!keys.contains(rightWmCol),
      s"the right time column '$rightWmCol' cannot also be a join key — " +
        "key columns are renamed internally on the right, which would " +
        "orphan its watermark; give the time column its own name")
    val shared = (leftWm.columns.toSet -- keys)
      .intersect(right.columns.toSet -- keys)
    require(shared.isEmpty,
      "streaming join inputs share non-key column name(s) " +
        s"${shared.toSeq.sorted.mkString("'", "', '", "'")} — only key " +
        "columns may be shared (they are renamed internally and restored " +
        "USING-style); rename the colliding columns on one side first")
    def rk(k: String) = s"_graft_rk_$k"
    val r = keys.foldLeft(right)((df, k) => df.withColumnRenamed(k, rk(k)))
      .withWatermark(rightWmCol, watermark)
    val keyEq = keys.map(k => col(k) === col(rk(k))).reduce(_ && _)
    val joined = leftWm.join(r, keyEq && timeCond, joinType)
    val keyed =
      if (joinType == "full_outer")
        keys.foldLeft(joined)((df, k) =>
          df.withColumn(k, coalesce(col(k), col(rk(k)))))
      else joined
    keyed.drop(keys.map(rk): _*)
  }

  /** DataFrame-generic [[asOfStream]] — the streaming sibling of
    * [[graft.operators.Joins.asOf]] with the same column-level surface as
    * its batch twin: `left` keeps ALL its columns and gains
    * `prefix + v` for each of the right stream's `valCols`, holding the
    * value of the latest right row at-or-before the left row's `tsCol`
    * for the same `keyCols` (both streams name the key and timestamp
    * columns identically; `tsCol` must be a TIMESTAMP so the caller's
    * watermark semantics apply). State per key is ONE (ts, values) pair,
    * so state size is bounded by key cardinality, not stream length —
    * same envelope as the typed variant above, which remains as the
    * fixed-shape fast path.
    *
    * Same best-effort-on-disorder contract and `toleranceMs` horizon as
    * the typed variant (see its doc); right rows with a null key or
    * null timestamp are dropped up front (a NULL key never equi-matches;
    * a null ts orders nowhere), left rows with a null key or ts stay and
    * carry nulls — the batch operator's exact null semantics.
    *
    * Implementation: both streams are tagged and unioned into one
    * generic (key struct, ts, side, left-row struct, right-values
    * struct) shape — one shuffle on the key, like the batch operator's
    * single exchange — then `flatMapGroupsWithState` applies rows in
    * (ts, right-first) order. Row-level generics use the Row encoder
    * (key + output) and kryo (state), the standard pairing for
    * schema-dynamic typed streaming.
    */
  def asOfStream(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valCols: Seq[String], toleranceMs: Option[Long],
      prefix: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    toleranceMs.foreach(t =>
      require(t >= 0, s"toleranceMs must be >= 0, got $t"))
    val p = asOfParts(left, right, keyCols, tsCol, valCols, prefix)
    val stateEnc = Encoders.kryo[(Long, Seq[Any])]
    p.u.groupByKey((r: Row) => r.getStruct(0))(p.keyEnc)
      .flatMapGroupsWithState[(Long, Seq[Any]), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(
        backwardRunner(valCols.size, toleranceMs))(stateEnc, p.outEnc)
      .toDF()
  }

  /** Snapshot reduction shared by the bootstrap overloads: the newest
    * row per key as a (key struct `_k`, `_ts`, values struct `_rv`)
    * frame — max over a ts-first struct, so ties at the same timestamp
    * fall through to the value tuple, the batch backward tiebreak. Null
    * key/ts rows are dropped (they could never have entered state).
    *
    * Column TYPES are validated against the stream schemas up front —
    * each failure mode would otherwise surface far from its cause: a
    * non-timestamp `tsCol` as an executor-side ClassCastException in
    * the state seeding, a key-type mismatch as a silently INERT
    * bootstrap (encoded snapshot keys never equal streamed keys, every
    * key starts cold), and a value-type mismatch only at output
    * encoding.
    */
  private def snapshotPairs(initialSnapshot: DataFrame,
      keyCols: Seq[String], tsCol: String, valCols: Seq[String],
      left: DataFrame, right: DataFrame): DataFrame = {
    require(!valCols.contains(tsCol),
      s"tsCol '$tsCol' cannot also be a value column when bootstrapping " +
        "(the snapshot reduction keys its struct fields by name)")
    for (c <- keyCols ++ (tsCol +: valCols);
        if !initialSnapshot.columns.contains(c))
      throw new IllegalArgumentException(
        s"initialSnapshot is missing column '$c'")
    // same TimestampType style as asOfParts' stream-side require
    require(initialSnapshot.schema(tsCol).dataType ==
      org.apache.spark.sql.types.TimestampType,
      s"initialSnapshot tsCol '$tsCol' must be TIMESTAMP, got " +
        s"${initialSnapshot.schema(tsCol).dataType.simpleString}")
    for ((c, expected) <- keyCols.map(k => (k, left.schema(k).dataType)) ++
        valCols.map(v => (v, right.schema(v).dataType));
        got = initialSnapshot.schema(c).dataType; if got != expected)
      throw new IllegalArgumentException(
        s"initialSnapshot column '$c' has type ${got.simpleString} but " +
          s"the stream declares ${expected.simpleString} — the bootstrap " +
          "would mismatch at state seeding; cast the snapshot column " +
          "first")
    initialSnapshot
      .filter((keyCols.map(c => col(c).isNotNull) :+
        col(tsCol).isNotNull).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(max(struct((tsCol +: valCols).map(col): _*)).as("_m"))
      .select(struct(keyCols.map(col): _*).as("_k"),
        col("_m").getField(tsCol).as("_ts"),
        struct(valCols.map(v => col("_m").getField(v).as(v)): _*).as("_rv"))
  }

  /** The per-group state function of the backward [[asOfStream]] forms —
    * shared by the cold-start and batch-bootstrapped variants (the
    * bootstrap differs ONLY in the initial state handed to Spark).
    */
  private def backwardRunner(nVals: Int, toleranceMs: Option[Long]):
      (org.apache.spark.sql.Row, Iterator[org.apache.spark.sql.Row],
        GroupState[(Long, Seq[Any])]) => Iterator[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    (_, batch, state: GroupState[(Long, Seq[Any])]) =>
      val out = Seq.newBuilder[Row]
      var cur = state.getOption
      batch.toSeq
        .sortBy { r =>
          val ts = if (r.isNullAt(1)) Long.MinValue
            else r.getTimestamp(1).getTime
          (ts, r.getInt(2) == 0) // right (side=1) first at equal ts
        }
        .foreach { r =>
          val nullTs = r.isNullAt(1)
          val ts = if (nullTs) Long.MinValue
            else r.getTimestamp(1).getTime
          if (r.getInt(2) == 1) {
            if (cur.forall(_._1 <= ts))
              cur = Some((ts, r.getStruct(4).toSeq))
          } else {
            val asof: Seq[Any] = cur match {
              case Some((rts, vals)) if !nullTs && rts <= ts &&
                  toleranceMs.forall(ts - rts <= _) => vals
              case _ => Seq.fill(nVals)(null)
            }
            out += Row.fromSeq(r.getStruct(3).toSeq ++ asof)
          }
        }
      cur.foreach(state.update)
      out.result().iterator
  }

  /** Backward [[asOfStream]] BOOTSTRAPPED from a batch snapshot of the
    * right side's history — the mid-history start a real deployment
    * needs: without it, every key enriches as null until its first
    * streamed right row arrives, even though the dimension's current
    * state is sitting in a table. `initialSnapshot` is a batch DataFrame
    * carrying `keyCols`, `tsCol`, and `valCols` (extra columns are
    * ignored); it is reduced to the newest row per key — exactly the one
    * (ts, values) pair per key the runner would hold had it streamed the
    * snapshot — and handed to `flatMapGroupsWithState` as initial state.
    * Keys absent from the snapshot start cold, as before.
    *
    * Duplicate snapshot timestamps per key resolve to the largest value
    * tuple (struct-ordering max), matching the batch
    * [[graft.operators.Joins.asOf]] backward tiebreak — so bootstrap +
    * streamed tail is row-for-row the batch operator over the
    * concatenated history, PROVIDED both streams start at T0 (the
    * normal "snapshot through T0, stream from T0" deployment): a
    * streamed right OLDER than the snapshot state is ignored by the
    * runner, and a streamed LEFT older than its key's snapshot state
    * sees only that one retained pair — nulls if it precedes it
    * (history below the per-key newest is exactly what the reduction
    * discards; replaying pre-T0 lefts is the batch operator's job) —
    * both the same documented best-effort-on-disorder contract as the
    * cold-start form. Snapshot rows with a null key or null timestamp
    * are dropped (they could never have entered state).
    *
    * `toleranceMs` applies at lookup time as usual: a bootstrapped pair
    * older than a left event's horizon yields null, not stale
    * enrichment.
    */
  def asOfStream(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valCols: Seq[String], toleranceMs: Option[Long],
      prefix: String, initialSnapshot: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    toleranceMs.foreach(t =>
      require(t >= 0, s"toleranceMs must be >= 0, got $t"))
    val p = asOfParts(left, right, keyCols, tsCol, valCols, prefix)
    val stateEnc = Encoders.kryo[(Long, Seq[Any])]
    val initState = snapshotPairs(initialSnapshot, keyCols, tsCol, valCols, left, right)
      .groupByKey((r: Row) => r.getStruct(0))(p.keyEnc)
      .mapValues((r: Row) =>
        (r.getTimestamp(1).getTime, r.getStruct(2).toSeq))(stateEnc)
    p.u.groupByKey((r: Row) => r.getStruct(0))(p.keyEnc)
      .flatMapGroupsWithState[(Long, Seq[Any]), Row](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), initState)(
        backwardRunner(valCols.size, toleranceMs))(stateEnc, p.outEnc)
      .toDF()
  }

  /** [[asOfStream]] (DataFrame form) with the default `asof_` prefix and
    * no tolerance.
    */
  def asOfStream(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valCols: Seq[String]): DataFrame =
    asOfStream(left, right, keyCols, tsCol, valCols, toleranceMs = None,
      prefix = "asof_")

  /** Shared plumbing for the DataFrame-generic as-of forms: tag and union
    * the two streams into one (key struct, ts, side, left-row struct,
    * right-values struct) shape — one shuffle on the key — plus the
    * output schema/encoders. Row positions: _k=0, _ts=1, _side=2,
    * _lrow=3, _rv=4.
    */
  private final case class AsofParts(u: DataFrame,
      outSchema: org.apache.spark.sql.types.StructType,
      keyEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row],
      outEnc: org.apache.spark.sql.Encoder[org.apache.spark.sql.Row])

  private def asOfParts(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], tsCol: String, valCols: Seq[String],
      prefix: String): AsofParts = {
    import org.apache.spark.sql.Encoders
    import org.apache.spark.sql.types.{StructField, StructType, TimestampType}
    require(keyCols.nonEmpty, "asOfStream needs at least one key column")
    require(valCols.nonEmpty, "asOfStream needs at least one value column")
    for (df <- Seq(left, right))
      require(df.schema(tsCol).dataType == TimestampType,
        s"asOfStream tsCol '$tsCol' must be TIMESTAMP, got " +
          s"${df.schema(tsCol).dataType.simpleString}")
    val lRowType = StructType(left.schema.fields)
    val rValType = StructType(valCols.map(v => right.schema(v)).toArray)
    val l2 = left.select(
      struct(keyCols.map(col): _*).as("_k"),
      col(tsCol).as("_ts"),
      lit(0).as("_side"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("_lrow"),
      lit(null).cast(rValType).as("_rv"))
    val r2 = right
      .filter((keyCols.map(c => col(c).isNotNull) :+
        col(tsCol).isNotNull).reduce(_ && _))
      .select(
        struct(keyCols.map(col): _*).as("_k"),
        col(tsCol).as("_ts"),
        lit(1).as("_side"),
        lit(null).cast(lRowType).as("_lrow"),
        struct(valCols.map(col): _*).as("_rv"))
    val outSchema = StructType(left.schema.fields ++ valCols.map { v =>
      StructField(prefix + v, right.schema(v).dataType, nullable = true)
    })
    // two Encoder[Row]s in implicit scope would be ambiguous — carried as
    // values and passed explicitly at each call site
    AsofParts(l2.unionByName(r2), outSchema,
      Encoders.row(StructType(keyCols.map(k => left.schema(k)).toArray)),
      Encoders.row(outSchema))
  }

  /** [[asOfStream]] (DataFrame form) with a `direction`, mirroring the
    * batch [[graft.operators.Joins.asOf]]:
    *
    *  - `"backward"`: the form above (latest right at-or-before); the
    *    `watermark` argument is unused — state is one pair per key with
    *    no timeout.
    *  - `"forward"`: EARLIEST right at-or-after the left event. Online,
    *    a left event cannot resolve until that right ARRIVES — so left
    *    events wait in state, and `toleranceMs` is REQUIRED: it is the
    *    horizon that both resolves waits (a right farther than the
    *    horizon yields None) and bounds state (pending lefts expire via
    *    event-time timeout once the watermark passes `ts + toleranceMs`,
    *    emitting None). State per key = one backward pair + the pending
    *    lefts inside the horizon — bounded by rate × tolerance, not
    *    stream length.
    *  - `"nearest"`: whichever of the two directions is closer (ties go
    *    backward, the batch/pandas convention). A left event waits like
    *    `forward` — the nearest choice needs the first at-or-after right
    *    (or proof none can arrive in-horizon, via the same timeout) —
    *    with the retained newest right serving as its backward witness;
    *    `toleranceMs` REQUIRED, vetting each side before the
    *    closer-wins comparison.
    *
    * Unmatched/expired left events surface with watermark latency, the
    * standard streaming outer trade. Within a micro-batch rows apply in
    * (ts, left-before-right) order for the waiting directions, so an
    * equal-timestamp right resolves the left (both bounds inclusive,
    * matching batch). Two best-effort divergences from exact batch
    * parity, both documented: (1) duplicate right timestamps resolve to
    * an arbitrary one of the duplicates (the batch value-tuple tiebreak
    * needs a total order on the payload, which schema-dynamic rows don't
    * carry); (2) when the two sources' micro-batches skew — a left
    * arrives AFTER a newer right was already retained — the left
    * resolves immediately against that retained right, the best witness
    * still available online (rights between them were already
    * discarded; the batch operator is the exact-over-history path).
    */
  def asOfStream(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valCols: Seq[String], toleranceMs: Option[Long],
      prefix: String, direction: String,
      watermark: String): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be backward, forward, or nearest, got '$direction'")
    if (direction == "backward")
      return asOfStream(left, right, keyCols, tsCol, valCols, toleranceMs,
        prefix)
    val tol = toleranceMs.getOrElse(throw new IllegalArgumentException(
      s"$direction streaming as-of requires toleranceMs — the horizon " +
        "that resolves waiting left events and bounds pending state"))
    require(tol >= 0, s"toleranceMs must be >= 0, got $tol")
    val p = asOfParts(left, right, keyCols, tsCol, valCols, prefix)
    val stateEnc = Encoders.kryo[DirState]
    p.u.withWatermark("_ts", watermark)
      .groupByKey((r: Row) => r.getStruct(0))(p.keyEnc)
      .flatMapGroupsWithState[DirState, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        directionalRunner(valCols.size, tol,
          nearest = direction == "nearest"))(stateEnc, p.outEnc)
      .toDF()
  }

  // state of the forward/nearest runner: (newest right seen, pending
  // lefts as (ts, row values)). Invariant: every pending left is NEWER
  // than the retained right — a left at-or-before it resolves on
  // arrival, and a right at-or-after a pending left resolves that left;
  // so at resolution/expiry the retained right IS each pending left's
  // best backward witness
  private type AsofPair = (Long, Seq[Any])
  private type DirState = (Option[AsofPair], List[(Long, Seq[Any])])

  /** The per-group state function of the forward/nearest [[asOfStream]]
    * forms — shared by the cold-start and batch-bootstrapped variants.
    */
  private def directionalRunner(nVals: Int, tol: Long, nearest: Boolean):
      (org.apache.spark.sql.Row, Iterator[org.apache.spark.sql.Row],
        GroupState[DirState]) => Iterator[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.Row
    type Pair = AsofPair
    (_, batch, state: GroupState[DirState]) =>
          val out = Seq.newBuilder[Row]
          var (bw, pending) = state.getOption.getOrElse(
            (None: Option[Pair], Nil: List[(Long, Seq[Any])]))
          def nulls: Seq[Any] = Seq.fill(nVals)(null)
          // the in-horizon winner for one left event given the candidate
          // pairs (each may serve either direction — pick's filters vet
          // side and horizon); fw = None means "proved absent"
          def pick(lts: Long, bwc: Option[Pair],
              fw: Option[Pair]): Seq[Any] = {
            val b = bwc.filter { case (ts, _) => ts <= lts && lts - ts <= tol }
            val f = fw.filter { case (ts, _) => ts >= lts && ts - lts <= tol }
            val chosen =
              if (!nearest) f
              else (b, f) match {
                case (Some((bts, _)), Some((fts, _))) =>
                  if (lts - bts <= fts - lts) b else f // tie → backward
                case _ => b.orElse(f)
              }
            chosen.map(_._2).getOrElse(nulls)
          }
          if (state.hasTimedOut) {
            // no right at-or-after can still arrive in-horizon for lefts
            // whose window the watermark closed — resolve them without one
            val wm = state.getCurrentWatermarkMs()
            val (expired, waiting) = pending.partition(_._1 + tol < wm)
            expired.foreach { case (lts, lrow) =>
              out += Row.fromSeq(lrow ++ pick(lts, bw, None))
            }
            pending = waiting
          } else {
            batch.toSeq
              .sortBy { r =>
                val ts = if (r.isNullAt(1)) Long.MinValue
                  else r.getTimestamp(1).getTime
                (ts, r.getInt(2) == 1) // LEFT first at equal ts: the
                // equal-ts right then resolves it (inclusive >= bound)
              }
              .foreach { r =>
                if (r.getInt(2) == 1) {
                  val rts = r.getTimestamp(1).getTime
                  val rv = r.getStruct(4).toSeq
                  val (resolved, waiting) = pending.partition(_._1 <= rts)
                  // resolve BEFORE advancing bw: the retained right is
                  // each left's backward witness, this row its forward one
                  resolved.foreach { case (lts, lrow) =>
                    out += Row.fromSeq(lrow ++ pick(lts, bw, Some((rts, rv))))
                  }
                  pending = waiting
                  if (bw.forall(_._1 <= rts)) bw = Some((rts, rv))
                } else if (r.isNullAt(1)) {
                  // a null-ts left orders nowhere: nulls now (batch
                  // semantics), no wait
                  out += Row.fromSeq(r.getStruct(3).toSeq ++ nulls)
                } else {
                  val lts = r.getTimestamp(1).getTime
                  if (bw.exists(_._1 >= lts)) {
                    // the newest right already sits at-or-after this left
                    // (cross-micro-batch skew between the two sources):
                    // resolve NOW against it — earlier rights are already
                    // discarded and waiting can only time out
                    out += Row.fromSeq(r.getStruct(3).toSeq ++
                      pick(lts, bw, bw))
                  } else {
                    // prepend, O(1): pending order is never read —
                    // resolution and expiry both partition on timestamp
                    pending = ((lts, r.getStruct(3).toSeq)) :: pending
                  }
                }
              }
          }
          if (bw.isEmpty && pending.isEmpty) {
            if (state.exists) state.remove()
          } else {
            state.update((bw, pending))
            // clamped: Spark rejects a timeout at-or-before the current
            // watermark, and a pending left right at the horizon's edge
            // can race a mid-batch watermark advance
            if (pending.nonEmpty)
              state.setTimeoutTimestamp(math.max(
                pending.map(_._1).min + tol + 1,
                state.getCurrentWatermarkMs() + 1))
          }
          out.result().iterator
  }

  /** [[asOfStream]] with a `direction` AND a batch bootstrap — the
    * directional sibling of the snapshot overload above: the snapshot's
    * newest row per key seeds the retained BACKWARD witness, so a
    * `nearest` stream started mid-history can resolve its backward side
    * from the dimension table instead of enriching null until the key's
    * first streamed right. Directions:
    *
    *  - `"backward"`: delegates to the snapshot overload (same runner).
    *  - `"nearest"`: the bootstrap case that matters — the seeded pair
    *    competes as the backward candidate under the usual tolerance
    *    vetting; forward candidates are streamed rights, as always.
    *  - `"forward"`: accepted for surface symmetry; while the
    *    stream-from-T0 contract holds (every streamed left postdates
    *    the snapshot), the seeded pair never wins a forward match. A
    *    CONTRACT-VIOLATING left that predates its key's snapshot pair
    *    instead resolves immediately, best-effort, with that pair as
    *    its forward witness — possibly a later right than the true
    *    earliest-at-or-after match, the same documented best-effort
    *    shape as the cross-batch-skew path; pre-T0 replay belongs to
    *    the batch operator.
    *
    * Same stream-from-T0 parity contract as the backward bootstrap:
    * both streams start after the snapshot's per-key newest; pre-T0
    * replay is the batch operator's job.
    */
  def asOfStream(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      tsCol: String, valCols: Seq[String], toleranceMs: Option[Long],
      prefix: String, direction: String, watermark: String,
      initialSnapshot: DataFrame): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be backward, forward, or nearest, got '$direction'")
    if (direction == "backward")
      return asOfStream(left, right, keyCols, tsCol, valCols, toleranceMs,
        prefix, initialSnapshot)
    val tol = toleranceMs.getOrElse(throw new IllegalArgumentException(
      s"$direction streaming as-of requires toleranceMs — the horizon " +
        "that resolves waiting left events and bounds pending state"))
    require(tol >= 0, s"toleranceMs must be >= 0, got $tol")
    val p = asOfParts(left, right, keyCols, tsCol, valCols, prefix)
    val stateEnc = Encoders.kryo[DirState]
    val initState = snapshotPairs(initialSnapshot, keyCols, tsCol, valCols, left, right)
      .groupByKey((r: Row) => r.getStruct(0))(p.keyEnc)
      .mapValues((r: Row) => (Some((r.getTimestamp(1).getTime,
        r.getStruct(2).toSeq)): Option[AsofPair],
        Nil: List[(Long, Seq[Any])]))(stateEnc)
    p.u.withWatermark("_ts", watermark)
      .groupByKey((r: Row) => r.getStruct(0))(p.keyEnc)
      .flatMapGroupsWithState[DirState, Row](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout(),
        initState)(
        directionalRunner(valCols.size, tol,
          nearest = direction == "nearest"))(stateEnc, p.outEnc)
      .toDF()
  }

  /** Streaming as-of enrichment — the streaming form of
    * [[graft.operators.Joins.asOf]]: each left event is annotated with the
    * latest right event at-or-before it for the same key. Input is the two
    * streams tagged and unioned into one [[Tagged]] stream (`isRight`);
    * state per key is ONE (ts, value) pair — the newest right seen — so
    * state size is bounded by key cardinality, not stream length.
    *
    * Best-effort on disorder, by construction: within a micro-batch rows
    * are applied in (ts, right-first) order, but a right event arriving
    * AFTER a later-ts left event was already emitted cannot retroactively
    * re-enrich it, and a left event older than the retained right gets
    * None rather than a wrong newer value. Exact-as-of over late data is
    * the batch operator's job; this is the online path.
    *
    * `toleranceMs` mirrors the batch operator's `tolerance` (pandas
    * merge_asof): a retained right state older than the horizon
    * (exclusive of `tsMs - toleranceMs`; the bound itself matches) yields
    * None instead of stale enrichment — the online guard against a key
    * whose reference stream went quiet hours ago.
    */
  def asOfStream(tagged: Dataset[Tagged],
      toleranceMs: Option[Long] = None): Dataset[Enriched] = {
    toleranceMs.foreach(t =>
      require(t >= 0, s"toleranceMs must be >= 0, got $t"))
    import tagged.sparkSession.implicits._
    tagged
      .groupByKey(_.key)
      .flatMapGroupsWithState[AsofState, Enriched](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key, batch, state: GroupState[AsofState]) =>
          val out = Seq.newBuilder[Enriched]
          var cur = state.getOption
          batch.toSeq
            .sortBy(e => (e.tsMs, if (e.isRight) 0 else 1))
            .foreach { e =>
              if (e.isRight) {
                if (cur.forall(_.tsMs <= e.tsMs))
                  cur = Some(AsofState(e.tsMs, e.value))
              } else {
                val asof = cur.collect {
                  case s if s.tsMs <= e.tsMs &&
                    toleranceMs.forall(e.tsMs - s.tsMs <= _) => s.value
                }
                out += Enriched(key, e.tsMs, e.value, asof)
              }
            }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Session windows per user with an inactivity gap, via
    * flatMapGroupsWithState (custom state — KeyValueGroupedDataset path).
    *
    * Event-time timeouts: a session closes when a later event for the same
    * user exceeds the gap, or when the WATERMARK passes lastSeen + gap —
    * data-driven, no wall clock, so state stays bounded at scale and
    * behavior is reproducible in tests. Caller must set the watermark.
    */
  def sessionize(events: Dataset[Event], gapMs: Long = 30 * 60 * 1000L,
      watermark: String = "10 minutes"): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, batch, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(
              Session(userId, s.start, s.lastSeen, s.nEvents, s.totalValue))
          } else {
            val sorted = batch.toSeq.sortBy(_.ts.getTime)
            var cur = state.getOption
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  cur = Some(s.copy(lastSeen = t, nEvents = s.nEvents + 1,
                    totalValue = s.totalValue + e.value))
                case Some(s) =>
                  closed += Session(userId, s.start, s.lastSeen, s.nEvents,
                    s.totalValue)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.lastSeen + gapMs)
            }
            closed.result().iterator
          }
      }
  }
}
