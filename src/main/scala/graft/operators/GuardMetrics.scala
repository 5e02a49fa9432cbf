package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.SparkContext
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.core.Eager._

/** Observability for the skew guards: the hot-bin cap of the binned join
  * family ([[Joins.rangeJoin]] etc.) and the hot-bucket caps of
  * [[Dedup.minhashNearDuplicates]] / [[Dedup.simhashNearDuplicates]] DROP
  * over-cap cohorts by design — a documented survival trade. An operator
  * that discards rows must say how many: every drop increments two named
  * `LongAccumulator`s (visible in the Spark UI per stage, and readable
  * here), and the first drop in each executor JVM emits one warn line, so
  * a user debugging "missing matches" has something to find.
  *
  * Attribution: each guarded operator passes a `tag` ("rangeJoin",
  * "minhash", …), which registers a SECOND accumulator pair suffixed with
  * the tag (`graft.skewGuard.droppedRows.minhash`). The untagged pair
  * stays the session-wide total, so a dashboard watching one number keeps
  * working — but when two guarded operators run in ONE query, their
  * tagged pairs count independently and the drop source is attributable
  * (read them via `of(sc, tag)`). The warn line names the tag.
  *
  * Unit caveat for the UNTAGGED pair: the batch cohort guards
  * ([[capCohorts]]) advance `droppedCohorts` once per dropped COHORT,
  * while the streaming length-cap guards ([[capIntervalLength]]) advance
  * it once per excluded ROW (there one row is the excluded unit). A
  * session that runs both kinds of guard therefore reads
  * cohorts-plus-rows from the session-wide `droppedCohorts` total;
  * `droppedRows` is row-unit everywhere and stays comparable. Dashboards
  * needing unit purity should read the per-tag pairs, whose unit is
  * fixed by the guard kind behind the tag.
  *
  * Accumulator caveat (standard Spark semantics): updates happen inside a
  * transformation, so task retries/speculation can overcount. The counters
  * are diagnostics — "did the guard fire, roughly how hard" — not exact
  * row accounting; the RESULT is unaffected (the keep/drop decision is a
  * pure function of the cohort count).
  */
object GuardMetrics {

  /** Accumulator names as they appear in the Spark UI; a tagged pair
    * appends `.tag`.
    */
  val DroppedRowsName = "graft.skewGuard.droppedRows"
  val DroppedCohortsName = "graft.skewGuard.droppedCohorts"

  private def taggedName(base: String, tag: String): String =
    if (tag.isEmpty) base else s"$base.$tag"

  final case class Counters(droppedRows: LongAccumulator,
      droppedCohorts: LongAccumulator) {
    /** Driver-side zeroing between runs (tests, notebook re-runs). */
    def reset(): Unit = { droppedRows.reset(); droppedCohorts.reset() }
  }

  // one pair of counters per (SparkContext, tag), registered lazily on
  // first guarded operator; TrieMap for lock-free concurrent builders
  private val registry = TrieMap.empty[(SparkContext, String), Counters]

  /** The session-wide totals (every guard adds here, tagged or not). */
  def of(sc: SparkContext): Counters = of(sc, "")

  /** One operator's own counters — independent of every other tag.
    * REGISTERING a new pair requires a live context (an accumulator
    * registered on a stopped SparkContext could never report — the
    * silent-observability failure this object exists to prevent, so
    * that path fails loud). READING an already-registered pair works
    * even after the context stops: accumulator values remain readable
    * driver-side, and teardown-time reporting (asserting or logging
    * guard totals after `spark.stop()`) is a legitimate consumer.
    */
  def of(sc: SparkContext, tag: String): Counters = {
    registry.getOrElse((sc, tag), {
      require(!sc.isStopped,
        "GuardMetrics.of would register new accumulators on a stopped " +
          "SparkContext — they could never report; pass the live " +
          "session's context (already-registered tags stay readable " +
          "after stop)")
      // evict other contexts' dead entries so a long-lived JVM cycling
      // SparkContexts doesn't accumulate dead Counters. Swept only on
      // the registration slow path (a miss), not on every per-operator
      // lookup: the hit path stays a single TrieMap read — which is
      // also what keeps stopped-context READS working (teardown
      // reporting holds its Counters reference or re-reads before the
      // next fresh-context registration sweeps the entry).
      registry.keysIterator.foreach { case k @ (c, _) =>
        if ((c ne sc) && c.isStopped) registry.remove(k)
      }
      registry.getOrElseUpdate((sc, tag), Counters(
        sc.longAccumulator(taggedName(DroppedRowsName, tag)),
        sc.longAccumulator(taggedName(DroppedCohortsName, tag))))
    })
  }

  /** Zero every pair registered on this context (tagged and untagged). */
  def resetAll(sc: SparkContext): Unit =
    registry.foreach { case ((c, _), ctr) => if (c eq sc) ctr.reset() }

  // once per JVM per (application, tag), not per row: executors log the
  // first drop each guard sees and point at the accumulators; anything
  // louder floods the executor log on exactly the pathological inputs
  // the guard exists for. Keyed by applicationId (a plain String, safe
  // to ship in a task closure where the SparkContext itself is not) so
  // a fresh context in the same JVM warns again rather than staying
  // silent behind a stale entry.
  private val warned = TrieMap.empty[(String, String), Unit]
  private def warnOnce(appId: String, tag: String,
      message: => String): Unit =
    if (warned.putIfAbsent((appId, tag), ()).isEmpty)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(message)

  private def tagLabel(tag: String): String =
    if (tag.isEmpty) "(untagged)" else tag

  /** The two working columns [[capCohorts]] adds to its input. */
  private[operators] val cohortCols: Seq[String] =
    Seq("_graft_bn", "_graft_brn")

  /** Shared guard body: drop every row of a `keys` cohort larger than
    * `cap`, counting dropped rows and cohorts under `tag` (and in the
    * session-wide untagged pair). The count/row_number window partitions
    * AND sorts on `keys` — for the binned joins that is the join's own
    * shuffle+sort, so the guard adds no exchange.
    *
    * The keep decision is the same pure `cohort size <= cap` comparison
    * as before, evaluated codegen'd as the LEFT side of a short-circuit
    * OR — on clean (under-cap) data the recording UDF on the right is
    * NEVER invoked, so observability costs nothing on the hot path. Only
    * over-cap rows fall through to the UDF, whose sole job is the
    * accumulator side effect (one `add` of the whole cohort size from
    * the cohort's first row, per the row_number) before returning false.
    */
  def capCohorts(df: DataFrame, keys: Seq[Column], cap: Long,
      tag: String = ""): DataFrame = {
    if (cap <= 0) df
    else {
      val sc = df.sparkSession.sparkContext
      val total = of(sc)
      val own = if (tag.isEmpty) None else Some(of(sc, tag))
      val appId = sc.applicationId
      val w = Window.partitionBy(keys: _*).orderBy(keys: _*)
      // nondeterministic: the UDF's RESULT is constant (false) but its
      // accumulator side effect is not — marking it pins evaluation
      // order and stops the optimizer from duplicating or re-hoisting
      // the disjunct (CNF conversion, filter merging), which would
      // inflate/suppress counts beyond the documented retry caveat
      val recordDrop = udf { (n: Long, rn: Long) =>
        if (rn == 1L) { // one arbitrary row speaks for the whole cohort
          total.droppedRows.add(n)
          total.droppedCohorts.add(1L)
          own.foreach { c =>
            c.droppedRows.add(n)
            c.droppedCohorts.add(1L)
          }
          warnOnce(appId, tag,
            s"graft: skew guard '${tagLabel(tag)}' dropped an over-cap " +
              s"cohort (cap=$cap); see accumulators " +
              s"'${taggedName(DroppedRowsName, tag)}' / " +
              s"'${taggedName(DroppedCohortsName, tag)}' for totals. " +
              "Raise the cap or pass the <=0 sentinel to keep such " +
              "cohorts (at quadratic cost).")
        }
        false
      }.asNondeterministic()
      df.withColumn("_graft_bn", count(lit(1)).over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("_graft_brn", row_number().over(w))
        .filter(col("_graft_bn") <= cap ||
          recordDrop(col("_graft_bn"), col("_graft_brn")))
        .drop(cohortCols: _*)
    }
  }

  /** Count-based sibling of [[capCohorts]] for callers that must not
    * window the data relation itself — the store side of an incremental
    * join, where a cohort window would shuffle the (wide) store rows
    * the incremental's scale shape promises never move. The caller
    * aggregates per-cohort totals and passes the (already tiny)
    * OVER-CAP relation here with its size column; each cohort is
    * recorded in the same accumulators (rows += size, cohorts += 1,
    * one warn line) and the relation comes back MATERIALIZED (eager
    * localCheckpoint) so the recording fires exactly once no matter
    * how many joins then consume it.
    *
    * Same accumulator caveat as [[capCohorts]]: the recording UDF runs
    * inside a transformation, so task retries / speculative duplicates
    * during the eager localCheckpoint can over-count `droppedRows` /
    * `droppedCohorts` — treat the totals as a skew DIAGNOSTIC, not
    * exact excluded-row accounting. And note the cost: the eager
    * localCheckpoint runs one Spark job at CALL time (sized to the
    * over-cap relation, which is tiny by contract) even if no join
    * ever consumes the result.
    */
  def recordOverCohorts(over: DataFrame, sizeCol: String, cap: Long,
      tag: String = ""): DataFrame = {
    val sc = over.sparkSession.sparkContext
    val total = of(sc)
    val own = if (tag.isEmpty) None else Some(of(sc, tag))
    val appId = sc.applicationId
    val record = udf { (n: Long) =>
      total.droppedRows.add(n)
      total.droppedCohorts.add(1L)
      own.foreach { c =>
        c.droppedRows.add(n)
        c.droppedCohorts.add(1L)
      }
      warnOnce(appId, tag,
        s"graft: skew guard '${tagLabel(tag)}' dropped an over-cap " +
          s"cohort (cap=$cap); see accumulators " +
          s"'${taggedName(DroppedRowsName, tag)}' / " +
          s"'${taggedName(DroppedCohortsName, tag)}' for totals. " +
          "Raise the cap or pass the <=0 sentinel to keep such " +
          "cohorts (at quadratic cost).")
      true
    }.asNondeterministic()
    over.filter(record(col(sizeCol))).pinnedCheckpoint()
  }

  /** Length-cap guard for the streaming banded joins
    * ([[graft.streaming.Streams.rangeJoinStream]] /
    * [[graft.streaming.Streams.overlapJoinStream]]): drop every row whose
    * `[start, end)` interval is LONGER than the caller-declared
    * `maxLenMs` — the fail-safe those operators require (a longer
    * interval would silently miss matches past the derived state band) —
    * counting each excluded row under `tag` and in the session-wide
    * untagged pair, with the same first-drop warn contract as
    * [[capCohorts]]. Here one row IS the excluded unit, so both
    * accumulators of a pair advance by one per row.
    *
    * NULL `end` bounds PASS the cap — they can match nothing (the join
    * predicate nulls out) but must still surface as unmatched rows under
    * the outer join types, the batch operators' contract.
    *
    * Map-only (no shuffle, no state), so it is safe on an unbounded
    * streaming input; the accumulators advance per micro-batch task. On
    * clean (in-cap) data the recording UDF on the right of the
    * short-circuit OR is never invoked, the same zero-cost-hot-path
    * shape as [[capCohorts]].
    *
    * PER-MICRO-BATCH visibility: accumulators are session totals — in a
    * streaming query their per-batch deltas are not attributable from
    * `StreamingQueryProgress`. So the guard also `observe`s an
    * `excludedRows` count under the metric name
    * `graft.lengthCap.<tag>[.<site>].<start-column>` (the start column
    * disambiguates the two capped sides of an overlap join, which share
    * one tag): each progress event's `observedMetrics` then carries that
    * batch's exclusion count, zero on clean batches — the number a
    * streaming dashboard actually watches. The observation is a
    * metrics-only plan node (`CollectMetrics`), no shuffle and no extra
    * pass; the accumulators stay as the session-wide totals.
    *
    * ONE GUARD SITE PER (tag, site, start-column) PER QUERY: Spark
    * rejects a query holding two `CollectMetrics` nodes with the same
    * name over different children (duplicated observed-metrics name at
    * analysis). Composing two capped joins whose capped sides share a
    * tag and a start-column name — e.g. cascaded or unioned
    * `rangeJoinStream`s both capping a right side named `start` — needs
    * a distinct `site` per guard site (the join builders thread it
    * through as `guardSite`); the default empty site keeps the stable
    * dashboard-friendly name for the overwhelmingly common
    * one-capped-join-per-query shape.
    */
  def capIntervalLength(df: DataFrame, start: String, end: String,
      maxLenMs: Long, tag: String, site: String = ""): DataFrame = {
    require(maxLenMs > 0, s"maxLenMs must be > 0, got $maxLenMs")
    val sc = df.sparkSession.sparkContext
    val total = of(sc)
    val own = if (tag.isEmpty) None else Some(of(sc, tag))
    val appId = sc.applicationId
    // nondeterministic for the same optimizer-pinning reason as the
    // capCohorts recorder (the side effect must run exactly where the
    // filter's short-circuit OR placed it)
    val recordDrop = udf { () =>
      total.droppedRows.add(1L)
      total.droppedCohorts.add(1L)
      own.foreach { c =>
        c.droppedRows.add(1L)
        c.droppedCohorts.add(1L)
      }
      warnOnce(appId, tag,
        s"graft: streaming guard '${tagLabel(tag)}' excluded a row whose " +
          s"interval exceeds the declared max length (maxLenMs=$maxLenMs); " +
          s"see accumulators '${taggedName(DroppedRowsName, tag)}' / " +
          s"'${taggedName(DroppedCohortsName, tag)}' for totals. Raise " +
          "the declared max (at proportionally larger state) or use the " +
          "batch operator for unbounded interval lengths.")
      false
    }.asNondeterministic()
    val within = col(end).isNull ||
      col(end) <= col(start) + expr(s"INTERVAL $maxLenMs MILLISECONDS")
    df.observe(observedMetricName(tag, start, site),
        sum(when(within, 0L).otherwise(1L)).as("excludedRows"))
      .filter(within || recordDrop())
  }

  /** The observed-metric name [[capIntervalLength]] registers for a
    * (tag, site, start-column) guard site — look this up in
    * `StreamingQueryProgress.observedMetrics` for per-batch exclusion
    * counts. The empty default `site` yields the stable
    * `graft.lengthCap.<tag>.<startCol>` name; a non-empty site (needed
    * only when one query composes multiple capped joins sharing a tag
    * and start-column name) is spliced between tag and column.
    */
  def observedMetricName(tag: String, startCol: String,
      site: String = ""): String =
    if (site.isEmpty) s"graft.lengthCap.${tagLabel(tag)}.$startCol"
    else s"graft.lengthCap.${tagLabel(tag)}.$site.$startCol"
}
