package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, NumericType, StructType, TimestampNTZType, TimestampType}

/** Join operators Spark lacks natively, composed from built-ins so Catalyst
  * still optimizes around them.
  */
object Joins {

  /** As-of join: for each left row, attach the LATEST right row whose
    * `rightTs` <= the left row's `leftTs`, per equality key — "the most
    * recent state as of this event", the standard event-stream enrichment
    * (DuckDB/kdb ASOF JOIN, pandas merge_asof). Left-outer semantics: left
    * rows with no preceding right row get nulls.
    *
    * Spark has no ASOF JOIN, and the obvious encodings collapse at scale:
    * an inequality theta-join plans as a broadcast-nested-loop, and a
    * "max right ts per left row" window subquery is O(|L|·|R|) per key.
    * This formulation tags and unions both sides, hash-partitions on the
    * key, sorts each partition once by (ts, side), and carries the most
    * recent right values forward with a running `last(_, ignoreNulls)`
    * frame — one exchange + one sort over |L|+|R| rows total, the same
    * cost envelope as a single sort-merge join, independent of how many
    * right rows precede each left row. Equal timestamps order the right
    * row first, so a right row AT the left timestamp matches (ASOF's
    * inclusive bound).
    *
    * Output: every left column, plus `prefix + v` for each `rightVals`
    * column.
    *
    * Determinism/null semantics: right rows sharing the same (key, ts) tie-
    * break by the rightVals tuple (largest wins) so the result is stable
    * across partitionings; right rows with a null key are dropped up front
    * (a NULL key never equi-matches in SQL), which also keeps null-key left
    * rows left-outer (they see no right rows in their window partition).
    */
  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTs: String, rightTs: String, rightVals: Seq[String],
      prefix: String = "asof_"): DataFrame =
    asOf(left, right, keyCols, leftTs, rightTs, rightVals, prefix,
      direction = "backward")

  /** [[asOf]] with a `direction`, mirroring pandas `merge_asof`:
    *  - `"backward"` (the default form above): latest right row with
    *    `rightTs <= leftTs`;
    *  - `"forward"`: EARLIEST right row with `rightTs >= leftTs` — "the
    *    next state change after this event";
    *  - `"nearest"`: whichever of the two is closer in time (ties go
    *    backward, pandas' convention).
    *
    * Cost envelope is unchanged — one hash exchange over |L|+|R| rows;
    * `forward` runs the same single sort with a mirrored frame
    * (`first(_, ignoreNulls)` over `[current, unbounded)`), and
    * `nearest` evaluates both frames over one partitioning (Spark plans
    * one exchange; the two sort orders differ only in the side tag's
    * tie-break, costing a second sort, not a second shuffle). Equal
    * timestamps match in BOTH directions (both bounds are inclusive);
    * duplicate right timestamps resolve to the largest value tuple
    * backward and the smallest forward — each deterministic.
    */
  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTs: String, rightTs: String, rightVals: Seq[String],
      prefix: String, direction: String): DataFrame =
    asOf(left, right, keyCols, leftTs, rightTs, rightVals, prefix,
      direction, tolerance = None)

  /** [[asOf]] with a match `tolerance` (pandas `merge_asof(tolerance=…)`):
    * a candidate right row farther than `tolerance` from the left
    * timestamp is declined and the left row keeps nulls instead of stale
    * enrichment — the everyday guard against "the most recent state" being
    * months old. Units follow the timestamp family's bin image: native for
    * numeric columns, epoch MICROS for timestamps, epoch DAYS for dates.
    * The bound is inclusive (`|leftTs − rightTs| <= tolerance` matches);
    * under `nearest` each side's candidate is vetted BEFORE the
    * closer-wins comparison, so a too-far backward match correctly yields
    * to an in-range forward one. Implemented as one `when` over the
    * already-carried payload timestamp — the one-exchange envelope is
    * unchanged.
    *
    * Null timestamps follow SQL comparison semantics (NULL satisfies no
    * inequality): right rows with a null `rightTs` are dropped up front —
    * without this they sort to the partition edge where a window frame
    * hands them spurious matches — and left rows with a null `leftTs`
    * keep nulls but stay in the output (left-outer semantics).
    */
  def asOf(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTs: String, rightTs: String, rightVals: Seq[String],
      prefix: String, direction: String,
      tolerance: Option[Long]): DataFrame = {
    require(keyCols.nonEmpty, "asOf needs at least one equality key")
    require(Set("backward", "forward", "nearest").contains(direction),
      s"direction must be backward, forward, or nearest, got '$direction'")
    // the key columns ride the tagged-union lineage with the internal
    // working names — a key named like one would make the union
    // projection ambiguous far from here
    Reserved.requireFreeParams(
      Seq("_ts", "_side", "_lrow", "_rv", "_rpay", "_p", "_r"), "asOf",
      keyCols.map("keyCols" -> _): _*)
    tolerance.foreach { t =>
      require(t >= 0, s"tolerance must be >= 0, got $t")
      // the horizon has ONE unit (the family's bin image); a DATE left
      // against a TIMESTAMP right would mix days with micros — fail fast
      // with the family error instead of a downstream analysis error
      requireSameFamily(Seq((left, leftTs), (right, rightTs)),
        "asOf tolerance timestamp")
    }
    val lRowType = StructType(left.schema.fields)
    val rValType = StructType(
      rightVals.map(v => right.schema(v)).toArray)
    val keyed: Seq[Column] = keyCols.map(col)
    val l2 = left.select(keyed ++ Seq(
      col(leftTs).as("_ts"),
      lit(0).as("_side"),
      struct(left.columns.map(col).toIndexedSeq: _*).as("_lrow"),
      lit(null).cast(rValType).as("_rv")): _*)
    val r2 = right
      .filter((keyCols.map(c => col(c).isNotNull) :+
        col(rightTs).isNotNull).reduce(_ && _))
      .select(keyed ++ Seq(
        col(rightTs).as("_ts"),
        lit(1).as("_side"),
        lit(null).cast(lRowType).as("_lrow"),
        struct(rightVals.map(col): _*).as("_rv")): _*)
    // the numeric image each side's timestamp compares on for `tolerance`
    // (micros/days/native — the binned-join families); monotone, so the
    // inclusive horizon survives the mapping
    def vetted(pay: Column): Column = tolerance match {
      case None => pay
      case Some(t) => when(
        abs(binSrcOf(left.schema(leftTs).dataType, col("_ts")) -
          binSrcOf(right.schema(rightTs).dataType,
            pay.getField("_rts"))) <= t, pay)
    }
    // BACKWARD: sort right rows BEFORE left rows at equal _ts (desc on
    // the side tag) so the inclusive <= bound holds; last(ignoreNulls)
    // carries the newest preceding right payload (and its _ts, for
    // `nearest`) to each left row. _rv is the final tiebreak (struct
    // ordering) so duplicate right timestamps resolve deterministically.
    // FORWARD mirrors it: left rows sort BEFORE right rows at equal _ts
    // (asc side tag) so the inclusive >= bound holds, and
    // first(ignoreNulls) over [current, unbounded) grabs the earliest
    // following right payload.
    val rPayload = struct(col("_ts").as("_rts"), col("_rv").as("_v"))
    val bw = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_ts").asc, col("_side").desc, col("_rv").asc_nulls_first)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fw = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("_ts").asc, col("_side").asc, col("_rv").asc_nulls_last)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val tagged = l2.unionByName(r2)
      .withColumn("_rpay", when(col("_side") === 1, rPayload))
    val picked = direction match {
      case "backward" =>
        tagged
          .withColumn("_p", last(col("_rpay"), ignoreNulls = true).over(bw))
          .withColumn("_r", vetted(col("_p")).getField("_v"))
      case "forward" =>
        tagged
          .withColumn("_p", first(col("_rpay"), ignoreNulls = true).over(fw))
          .withColumn("_r", vetted(col("_p")).getField("_v"))
      case "nearest" =>
        // closer wins; a tie, or a missing forward match, goes backward
        tagged
          .withColumn("_b", last(col("_rpay"), ignoreNulls = true).over(bw))
          .withColumn("_f", first(col("_rpay"), ignoreNulls = true).over(fw))
          .withColumn("_b", vetted(col("_b")))
          .withColumn("_f", vetted(col("_f")))
          .withColumn("_r",
            when(col("_b").isNull, col("_f").getField("_v"))
              .when(col("_f").isNull, col("_b").getField("_v"))
              .when(col("_ts") - col("_b").getField("_rts") <=
                  col("_f").getField("_rts") - col("_ts"),
                col("_b").getField("_v"))
              .otherwise(col("_f").getField("_v")))
    }
    // a null left timestamp matches nothing (SQL comparison semantics):
    // such rows sort to the partition start, where the forward frame
    // would otherwise hand them the partition's earliest right row
    val withPick = picked.withColumn("_r",
      when(col("_ts").isNull, lit(null).cast(rValType))
        .otherwise(col("_r")))
    val joined = withPick.filter(col("_side") === 0)
    val leftCols = left.columns.map(c => col(s"_lrow.$c").as(c)).toSeq
    val rightCols = rightVals.map(v => col(s"_r.$v").as(prefix + v))
    joined.select(leftCols ++ rightCols: _*)
  }

  /** One point-in-interval dimension of a [[rangeJoin]]: the left point
    * column, the right interval's bound columns, and the bin width in the
    * units of those columns' BIN IMAGE — native for numerics, epoch
    * MICROS for TIMESTAMP columns (binned via `unix_micros` internally;
    * pass e.g. `3600L * 1000000` for an hour), epoch DAYS for DATE
    * columns (binned via `unix_date`; pass e.g. `30` for a month-ish
    * window — a micros-scale width on DATE bounds would silently put
    * every row in bin 0 and restore the per-key cross join). Choose the
    * width near the typical interval length: wider bins → fewer explode
    * rows but more false candidates; narrower → the reverse.
    */
  final case class RangeDim(leftAt: String, rightStart: String,
      rightEnd: String, binWidth: Long)

  /** One interval-vs-interval dimension of a multi-dimensional
    * [[intervalOverlapJoin]]: both sides' bound columns and the bin width
    * in their BIN-IMAGE units — native for numerics, epoch MICROS for
    * TIMESTAMP columns (binned via `unix_micros` internally), epoch DAYS
    * for DATE columns (binned via `unix_date`; a micros-scale width on
    * DATE bounds would silently put every row in bin 0). Size near the
    * LONGER side's typical interval length.
    */
  final case class OverlapDim(leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String, binWidth: Long)

  /** The numeric image a bound column bins on: timestamps map to epoch
    * micros (so `binWidth` is in micros for them), numerics to their own
    * value. The mapping is monotone and identical on both join sides,
    * which is all binning needs — the exact predicate still compares the
    * ORIGINAL columns.
    */
  private def binSrc(df: DataFrame, name: String): Column =
    binSrcOf(df.schema(name).dataType, col(name))

  private def binSrcOf(dt: DataType, c: Column): Column = dt match {
    case TimestampType => unix_micros(c)
    case TimestampNTZType => unix_micros(c.cast(TimestampType))
    case DateType => unix_date(c)
    case _ => c
  }

  /** The bin image is chosen per column TYPE (micros / days / native), so
    * every bound column of one dimension must come from the same family —
    * a DATE point binned in days can never equi-match a TIMESTAMP
    * interval binned in micros, and the join would silently return
    * nothing. Fail fast instead; callers mixing families must cast one
    * side first (Spark would coerce the exact predicate, but coercion
    * cannot reach the bin keys).
    */
  private def requireSameFamily(
      cols: Seq[(DataFrame, String)], what: String): Unit = {
    def family(dt: DataType): String = dt match {
      case TimestampType | TimestampNTZType => "timestamp"
      case DateType => "date"
      case _: NumericType => "numeric"
      case other => other.typeName
    }
    val families = cols.map { case (df, n) =>
      n -> family(df.schema(n).dataType) }
    require(families.map(_._2).distinct.size == 1 &&
        Set("numeric", "timestamp", "date").contains(families.head._2),
      s"$what bound columns must share one type family " +
        s"(numeric, timestamp, or date), got: " +
        families.map { case (n, f) => s"$n=$f" }.mkString(", "))
  }

  /** Range join: pair each left row with the right rows whose
    * [`rightStart`, `rightEnd`) interval contains the left row's `leftAt`
    * point, per equality key. Spark plans a raw inequality join as a
    * broadcast-nested-loop; this composition stays a hash equi-join by
    * binning: each right interval is exploded to the `binWidth`-sized bins
    * it overlaps, the left point equi-joins on its single bin (plus the
    * key), and the exact containment predicate filters within the bin —
    * candidate pairs are bounded by bin co-residency, not |L|·|R|.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftAt: String, rightStart: String, rightEnd: String,
      binWidth: Long): DataFrame =
    rangeJoin(left, right, keyCols,
      Seq(RangeDim(leftAt, rightStart, rightEnd, binWidth)))

  /** Single-dimension [[rangeJoin]] with an explicit hot-bin cap (Scala
    * allows default arguments on only one overload — the `dims` form
    * carries them).
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftAt: String, rightStart: String, rightEnd: String,
      binWidth: Long, maxBinSize: Long): DataFrame =
    rangeJoin(left, right, keyCols,
      Seq(RangeDim(leftAt, rightStart, rightEnd, binWidth)), maxBinSize)

  /** Multi-dimensional range join: each of `dims` is an independent
    * point-in-interval containment (e.g. a time window AND a value band),
    * and every dimension contributes its own bin equi-key, so candidate
    * pairs must co-reside in ALL dimensions — the pruning a residual
    * predicate can't give. The right side explodes the cross product of
    * its per-dimension bin ranges (size the widths near the interval
    * lengths to keep that ≤2 bins per dimension). Key columns come back
    * USING-style, first.
    *
    * `maxBinSize` is the hot-bin skew guard, here on both sides: (key,
    * bins…) cohorts larger than the cap are dropped before the join, and
    * `maxBinSize <= 0` skips the guard. See `binnedJoin` for the trade
    * and its cost.
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      dims: Seq[RangeDim], maxBinSize: Long = 10000): DataFrame =
    binnedJoin(left, right, keyCols, rangeDims(dims), maxBinSize)(
      "rangeJoin", "inner", "rangeJoin")

  /** Left-outer [[rangeJoin]] (single dimension): every left row
    * survives; points inside no right interval carry nulls for the right
    * columns. See the `dims` overload for the mechanics.
    */
  def rangeJoinLeftOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftAt: String, rightStart: String,
      rightEnd: String, binWidth: Long): DataFrame =
    rangeJoinLeftOuter(left, right, keyCols,
      Seq(RangeDim(leftAt, rightStart, rightEnd, binWidth)))

  /** Left-outer [[rangeJoin]]: "each event with its containing window,
    * keeping events with none" — the everyday complement of the inner
    * form, which otherwise needs a hand-rolled anti-join union.
    *
    * The point side never explodes, so the containment predicate rides
    * the left-outer join condition and unmatched left rows surface with
    * nulls directly — no second pass, no row-id bookkeeping, the inner
    * form's single-shuffle cost. The output keeps the left's columns in
    * order and drops the right's key columns; the right's bound columns
    * must not share a name with any left column.
    *
    * The hot-bin guard caps the RIGHT side only: an over-cap right cohort
    * loses its matches and those left rows emit as unmatched.
    */
  def rangeJoinLeftOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], dims: Seq[RangeDim],
      maxBinSize: Long = 10000): DataFrame =
    binnedJoin(left, right, keyCols, rangeDims(dims), maxBinSize)(
      "rangeJoinLeftOuter", "left_outer", "rangeJoinOuter")

  /** Full-outer [[rangeJoin]] (single dimension): every left point AND
    * every right interval survives; see the `dims` overload.
    */
  def rangeJoinFullOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftAt: String, rightStart: String,
      rightEnd: String, binWidth: Long): DataFrame =
    rangeJoinFullOuter(left, right, keyCols,
      Seq(RangeDim(leftAt, rightStart, rightEnd, binWidth)))

  /** Single-dimension [[rangeJoinFullOuter]] with an explicit guard cap
    * (defaults live on the `dims` overload).
    */
  def rangeJoinFullOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftAt: String, rightStart: String,
      rightEnd: String, binWidth: Long, maxBinSize: Long): DataFrame =
    rangeJoinFullOuter(left, right, keyCols,
      Seq(RangeDim(leftAt, rightStart, rightEnd, binWidth)), maxBinSize)

  /** Full-outer [[rangeJoin]]: matched (point, interval) pairs plus every
    * unmatched left point AND every unmatched right interval, null-extended
    * — vanilla `FULL JOIN ... ON key AND containment` semantics, which
    * Spark would plan as a nested loop. Key columns come back as one
    * column per key name, coalesced across the two sides (an unmatched
    * right row's key survives there).
    *
    * Inverted and null-bound intervals are kept: they match nothing and
    * surface as unmatched right rows. The exploded interval side emits
    * each unmatched row once, at one extra exchange (the right row-id
    * window); the hot-bin guard rides the join condition, so no row is
    * ever lost, only over-cap matches. See `binnedJoin`.
    */
  def rangeJoinFullOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], dims: Seq[RangeDim],
      maxBinSize: Long = 10000): DataFrame =
    binnedJoin(left, right, keyCols, rangeDims(dims), maxBinSize)(
      "rangeJoinFullOuter", "full_outer")

  /** Interval-overlap join: pair each left [`leftStart`, `leftEnd`)
    * interval with the right [`rightStart`, `rightEnd`) intervals it
    * overlaps (`leftStart < rightEnd AND rightStart < leftEnd` — the
    * standard half-open overlap predicate), per equality key.
    *
    * Like [[rangeJoin]] but BOTH sides carry intervals, so both sides
    * explode to their covered bins and equi-join on the bin; each pair is
    * emitted from exactly one canonical bin, so the output is
    * duplicate-free without any post-join aggregation.
    *
    * `binWidth` is in the units of the boundary columns; size it near the
    * typical interval length of the LONGER side so each interval covers
    * ~2 bins. The boundary column names must be distinct across the two
    * sides (they both survive into the joined row for the exact
    * predicate).
    *
    * Unlike [[rangeJoin]], rows whose own interval is inverted
    * (`end < start`) are NOT dropped: the raw overlap predicate is
    * satisfiable by such a row — left (10, 5) matches right (3, 20)
    * because 10 < 20 AND 3 < 5 — so this operator matches the plain-SQL
    * predicate exactly.
    *
    * `maxBinSize` is the same hot-bin skew guard as [[rangeJoin]]'s:
    * cohorts larger than the cap in one (key, bin) are dropped from BOTH
    * sides before the join; matches whose canonical bin falls in a
    * dropped cohort are lost. `maxBinSize <= 0` skips the guard entirely.
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String, binWidth: Long,
      maxBinSize: Long = 10000): DataFrame =
    intervalOverlapJoin(left, right, keyCols,
      Seq(OverlapDim(leftStart, leftEnd, rightStart, rightEnd, binWidth)),
      maxBinSize)

  /** Multi-dimensional interval-overlap join: each of `dims` is an
    * independent interval-overlap (e.g. a time overlap AND a value-band
    * overlap), and every dimension contributes its own bin equi-key, so
    * candidate pairs must co-reside in ALL dimensions — without this a
    * second dimension is only a residual predicate filtering the first
    * dimension's (possibly much larger) candidate set. Both sides
    * explode the cross product of their per-dimension bin ranges (size
    * widths near the interval lengths to keep that ≤2 bins per
    * dimension), and each pair is emitted from its per-dimension
    * canonical bin combination, so multi-bin overlaps never duplicate in
    * any dimension.
    *
    * `maxBinSize` is shared across the whole (key, bins…) cohort. (Scala
    * permits default arguments on only one overload, so this form takes
    * it explicitly; pass 10000 for the default behavior.)
    */
  def intervalOverlapJoin(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], dims: Seq[OverlapDim],
      maxBinSize: Long): DataFrame =
    binnedJoin(left, right, keyCols, overlapDims(dims), maxBinSize)(
      "intervalOverlapJoin", "inner", "overlapJoin")

  /** Left-outer [[intervalOverlapJoin]]: every left interval survives;
    * left rows overlapping no right interval carry nulls for the right
    * columns, once per row however many bins the row covers (null-bound
    * rows included). Cost vs the inner form: one extra exchange, the
    * window over an 8-byte left row id — the price of outer semantics
    * without a caller-supplied key.
    *
    * The hot-bin guard caps the RIGHT side only (a left-outer join must
    * preserve every left row); over-cap right cohorts lose their matches
    * and those left rows emit as unmatched.
    */
  def intervalOverlapJoinLeftOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String, binWidth: Long,
      maxBinSize: Long = 10000): DataFrame =
    intervalOverlapJoinLeftOuter(left, right, keyCols,
      Seq(OverlapDim(leftStart, leftEnd, rightStart, rightEnd, binWidth)),
      maxBinSize)

  /** Multi-dimensional [[intervalOverlapJoinLeftOuter]]: the 1-D
    * semantics with every dimension's overlap, as in the multi-dimension
    * [[intervalOverlapJoin]]. The hot-bin guard caps the RIGHT side only,
    * on the full (key, bins…) cohort.
    */
  def intervalOverlapJoinLeftOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], dims: Seq[OverlapDim],
      maxBinSize: Long): DataFrame =
    binnedJoin(left, right, keyCols, overlapDims(dims), maxBinSize)(
      "intervalOverlapJoinLeftOuter", "left_outer", "overlapJoinOuter")

  /** Full-outer [[intervalOverlapJoin]] (single dimension): every left
    * AND every right interval survives; see the `dims` overload.
    */
  def intervalOverlapJoinFullOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], leftStart: String, leftEnd: String,
      rightStart: String, rightEnd: String, binWidth: Long,
      maxBinSize: Long = 10000): DataFrame =
    intervalOverlapJoinFullOuter(left, right, keyCols,
      Seq(OverlapDim(leftStart, leftEnd, rightStart, rightEnd, binWidth)),
      maxBinSize)

  /** Full-outer [[intervalOverlapJoin]]: overlapping pairs plus every
    * unmatched interval from BOTH sides, once each, null-extended —
    * vanilla `FULL JOIN ... ON key AND overlap` semantics. Key columns
    * come back as one coalesced column per key name, as in
    * [[rangeJoinFullOuter]]. The hot-bin guard rides the join condition:
    * over-cap (key, bins…) cohorts match nothing and surface as
    * unmatched — no rows are ever lost. Cost vs the inner form: two extra
    * exchanges (one row-id window per side).
    */
  def intervalOverlapJoinFullOuter(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], dims: Seq[OverlapDim],
      maxBinSize: Long): DataFrame =
    binnedJoin(left, right, keyCols, overlapDims(dims), maxBinSize)(
      "intervalOverlapJoinFullOuter", "full_outer")

  /** One side's bounds in one dimension of [[binnedJoin]]. */
  private sealed trait Bound { def cols: Seq[String] }
  private final case class Point(at: String) extends Bound {
    def cols: Seq[String] = Seq(at)
  }
  private final case class Interval(start: String, end: String)
      extends Bound {
    def cols: Seq[String] = Seq(start, end)
  }

  /** One dimension of [[binnedJoin]]; `shown` is the caller's
    * [[RangeDim]] or [[OverlapDim]], for messages. The right side holds
    * an interval in every form.
    */
  private final case class Dim(shown: Product, l: Bound, r: Interval,
      binWidth: Long) {
    def binOf(c: Column): Column = floor(c / binWidth).cast("long")
  }

  private def rangeDims(dims: Seq[RangeDim]): Seq[Dim] = dims.map(d =>
    Dim(d, Point(d.leftAt), Interval(d.rightStart, d.rightEnd), d.binWidth))

  private def overlapDims(dims: Seq[OverlapDim]): Seq[Dim] = dims.map(d =>
    Dim(d, Interval(d.leftStart, d.leftEnd),
      Interval(d.rightStart, d.rightEnd), d.binWidth))

  /** One input of [[binnedJoin]] with the names its rows work in: its
    * key and bin columns, its row id, its presence marker, its guard's
    * cohort count and its unmatched-emission match count.
    */
  private final case class Side(df: DataFrame, bounds: Seq[Bound],
      keep: Boolean, keys: Seq[String], bins: Seq[String], id: String,
      mark: String, cohort: String, matches: String) {
    def work: Seq[String] = Seq(id, mark, cohort, matches)
    def explodes: Boolean = bounds.exists(_.isInstanceOf[Interval])
    /** preserved AND exploded: its unmatched rows must emit once */
    def once: Boolean = keep && explodes
    /** the first bin of an interval: [least, greatest] never steps back */
    def lo(d: Dim, iv: Interval): Column =
      d.binOf(least(binSrc(df, iv.start), binSrc(df, iv.end)))
    def hi(d: Dim, iv: Interval): Column =
      d.binOf(greatest(binSrc(df, iv.start), binSrc(df, iv.end)))
  }

  /** Bin names `_graft_bin`, `_graft_bin2`, … per dimension (these names
    * double as the RangeJoinRewrite re-entry guard — the optimizer rule
    * must not re-bin an already-binned join), `_r`-suffixed right-side
    * bins, and `_graft_rk_`-prefixed right-key renames where the right
    * side leaves the left's namespace.
    */
  private def binName(i: Int): String =
    "_graft_bin" + (if (i == 0) "" else (i + 1).toString)
  private def rBinName(i: Int): String = binName(i) + "_r"
  private def rKeyName(k: String): String = "_graft_rk_" + k

  /** The binned-join core behind all six `dims` forms: filter by bin
    * co-residency, verify with the exact predicate. Each form states
    * which side holds a point or an interval per dimension, the join
    * type and its guard tag; everything else derives from those.
    *
    * Binning. Every row gets one bin per dimension in its bound's BIN
    * IMAGE ([[binSrc]]): a point its own bin, an interval EVERY bin of
    * `[least(start, end), greatest(start, end)]`, one row copy per bin
    * combination, so `sequence()` never steps backwards. Candidates
    * equi-join on (keys, bins…) and the exact predicate verifies them:
    * containment `start <= at < end`, overlap `ls < re AND rs < le`.
    *
    * Derivation rules:
    *  - a side explodes iff it holds an interval; `explode_outer` iff it
    *    is also preserved (a null-bound row keeps one null-bin copy);
    *  - inverted intervals are dropped only on a non-preserved
    *    containment side, where they can contain no point (and
    *    `sequence()` would otherwise materialize a huge backward range);
    *    an overlap side keeps them — left (10, 5) overlaps right (3, 20)
    *    — and a preserved side must surface them as unmatched;
    *  - the canonical-bin conjunct applies iff both sides explode;
    *  - once-per-row emission applies to each side that is preserved and
    *    exploded;
    *  - the row-dropping guard applies to every non-preserved side; with
    *    both sides preserved it moves into the join condition;
    *  - key columns: an inner join is a USING join (keys first); outer
    *    joins rename the right keys to `_graft_rk_` and compare them in
    *    the condition, then drop them (left outer) or coalesce them into
    *    the left's (full outer).
    *
    * Canonical bin. When both sides explode, a pair overlapping across
    * several shared bins would match once per shared bin. Only the bin
    * of `greatest(ls, rs)`, the overlap's own start, is kept, which is
    * one bin per pair. Whenever the predicate holds it lies in both
    * sides' covered ranges, inverted rows included: `ls <= g` and, as
    * `rs < le`, `g <= greatest(ls, le)` (symmetrically on the right).
    * Per dimension, so multi-bin overlaps never duplicate in any.
    *
    * Once-per-row emission. A preserved side that explodes has a copy of
    * each row per bin, so "unmatched" is decided per ROW: a synthetic
    * 8-byte id stamped BEFORE the explode (all copies share it) keys a
    * count window of the other side's presence marker, and a row with
    * no match in any copy emits once, from its HOME bin — the `lo` of
    * every interval dimension, compared null-safe. Every row has exactly
    * one copy there: home is the first element of its own bin sequence,
    * a one-null-bound row covers just the other bound's bin, and a
    * both-null row's one `explode_outer` copy has the null bin that
    * `<=>` matches. The id is an 8-byte key instead of the whole row
    * (wide text/embedding rows would otherwise be the exchange key) and
    * always partitionable (a map-typed column would reject a full-row
    * window, where vanilla outer joins accept it). When the other side
    * is preserved too, its unmatched rows carry no id here: they key the
    * window by a disjoint negative image of their own id, so the window
    * never concentrates them into one null partition. Cost: one extra
    * exchange per such side. `monotonically_increasing_id` is stable
    * only within ONE evaluation: ids are stamped and consumed inside
    * this single linear plan and must never cross a plan-reuse boundary
    * (a self-join re-evaluating an input could re-stamp different ids —
    * localCheckpoint the input first if this core ever feeds plan reuse).
    *
    * Hot-bin guard (`maxBinSize`, same contract as
    * `Dedup.minhashNearDuplicates`'s `maxBucketSize`). A hot (key, bins…)
    * cohort — epoch-zero default timestamps, a flash-sale hour — makes
    * B_l × B_r candidates in one bin, the binned join's only quadratic
    * failure mode. A non-preserved side drops every row of a cohort
    * larger than the cap before the join ([[GuardMetrics.capCohorts]],
    * counted under `guardTag`), bounding per-bin work by `maxBinSize²`.
    * This trades results for survival: matches involving a dropped
    * cohort are lost, so the cap is sized (10 000) to engage only on
    * pathological cohorts — `10000²` pairs in ONE bin is already a data
    * bug to investigate, not a query to answer. A preserved side never
    * loses rows: opposite a non-preserved side it is simply not capped
    * (its rows emit as unmatched), and with both sides preserved each
    * side's cohort count rides the join condition, so over-cap cohorts
    * match nothing and surface as unmatched. `maxBinSize <= 0` is the
    * sentinel for "no guard": exact results whatever the skew, at the
    * risk of a quadratic bin. The count windows partition by the join's
    * own (key, bins…) keys, so their exchange (and sort) is the one the
    * sort-merge join needs anyway — at scale the guard costs no extra
    * shuffle. At broadcast-size inputs it does force the exchange the
    * broadcast join would have skipped (~0.2 s on the sf0.1 bench
    * queries); set the sentinel where inputs are known tiny AND
    * skew-free.
    *
    * Names. Every internal name rides the joined row, which carries both
    * inputs' columns, so each input is checked against the whole set;
    * bound names must differ across the sides for the same reason.
    */
  private def binnedJoin(left: DataFrame, right: DataFrame,
      keyCols: Seq[String], dims: Seq[Dim], maxBinSize: Long)(
      op: String, joinType: String, guardTag: String = ""): DataFrame = {
    require(dims.nonEmpty, s"$op needs at least one dimension")
    dims.foreach(d => require(d.binWidth > 0,
      s"binWidth must be > 0 for ${d.shown}"))
    require(dims.flatMap(_.l.cols).toSet
        .intersect(dims.flatMap(_.r.cols).toSet).isEmpty,
      "boundary column names must differ between the two sides")
    dims.foreach(d => requireSameFamily(
      d.l.cols.map((left, _)) ++ d.r.cols.map((right, _)), s"$op ${d.shown}"))
    require(maxBinSize <= 0 || maxBinSize > 1,
      "maxBinSize must be > 1 (or <= 0 to skip the skew guard)")
    val using = joinType == "inner"
    val l = Side(left, dims.map(_.l), keep = !using, keyCols,
      dims.indices.map(binName), "_graft_lid", "_graft_lm", "_graft_bnl",
      "_graft_mcl")
    val r = Side(
      if (using) right
      else keyCols.foldLeft(right)((df, k) =>
        df.withColumnRenamed(k, rKeyName(k))),
      dims.map(_.r), keep = joinType == "full_outer",
      if (using) keyCols else keyCols.map(rKeyName),
      if (using) l.bins else dims.indices.map(rBinName),
      "_graft_rid", "_graft_m", "_graft_bnr", "_graft_mcr")
    val internal = l.bins ++ dims.indices.map(rBinName) ++
      keyCols.map(rKeyName) ++ l.work ++ r.work ++ GuardMetrics.cohortCols
    Seq(left, right).foreach(Reserved.requireFreeColumns(_, internal, op,
      "it works in _graft_ bin, key, row-id and guard columns"))
    def hasId(s: Side, o: Side): Boolean = s.keep && (s.once || o.once)

    def prepared(s: Side, o: Side): DataFrame = {
      val canContain = s.bounds.zip(o.bounds).collect {
        case (Interval(start, end), Point(_)) => col(end) >= col(start) }
      val valid =
        if (s.keep || canContain.isEmpty) s.df
        else s.df.filter(canContain.reduce(_ && _))
      val ided =
        if (hasId(s, o)) valid.withColumn(s.id, monotonically_increasing_id())
        else valid
      val marked = if (o.once) ided.withColumn(s.mark, lit(1)) else ided
      val binned = dims.zip(s.bounds).zip(s.bins).foldLeft(marked) {
        case (df, ((d, Point(at)), b)) =>
          df.withColumn(b, d.binOf(binSrc(df, at)))
        case (df, ((d, iv: Interval), b)) =>
          val bins = sequence(s.lo(d, iv), s.hi(d, iv))
          df.withColumn(b, if (s.keep) explode_outer(bins) else explode(bins))
      }
      val cohort = (s.keys ++ s.bins).map(col)
      if (maxBinSize <= 0 || (s.keep && !o.keep)) binned
      else if (!s.keep)
        GuardMetrics.capCohorts(binned, cohort, maxBinSize, guardTag)
      else binned.withColumn(s.cohort,
        count(lit(1)).over(Window.partitionBy(cohort: _*)))
    }

    val verify = dims.zipWithIndex.flatMap { case (d, i) =>
      val candidate =
        if (using) Nil else Seq(col(l.bins(i)) === col(r.bins(i)))
      candidate ++ ((d.l, d.r) match {
        case (Point(at), Interval(start, end)) =>
          Seq(col(at) >= col(start) && col(at) < col(end))
        case (Interval(ls, le), Interval(rs, re)) =>
          Seq(col(ls) < col(re), col(rs) < col(le), col(l.bins(i)) ===
            d.binOf(greatest(binSrc(left, ls), binSrc(right, rs))))
      })
    }
    val joined =
      if (using) prepared(l, r).join(prepared(r, l), keyCols ++ l.bins)
        .filter(verify.reduce(_ && _))
      else {
        val guard =
          if (l.keep && r.keep && maxBinSize > 0)
            Seq(l, r).map(s => col(s.cohort) <= maxBinSize)
          else Nil
        prepared(l, r).join(prepared(r, l),
          (keyCols.zip(r.keys).map { case (k, rk) => col(k) === col(rk) } ++
            verify ++ guard).reduce(_ && _), joinType)
      }

    val once = Seq((l, r), (r, l)).filter(_._1.once)
    val emitted =
      if (once.isEmpty) joined
      else once.foldLeft(joined) { case (df, (s, o)) =>
        val rowKey =
          if (hasId(o, s)) coalesce(col(s.id), -col(o.id) - 1) else col(s.id)
        df.withColumn(s.matches,
          count(col(o.mark)).over(Window.partitionBy(rowKey)))
      }.filter(once.map { case (s, o) =>
        val atHome = dims.zip(s.bounds).zip(s.bins).collect {
          case ((d, iv: Interval), b) => col(b) <=> s.lo(d, iv) }
        col(o.mark).isNotNull ||
          (col(s.matches) === 0 && atHome.reduce(_ && _))
      }.reduce(_ && _))
    val keyed =
      if (!r.keep) emitted
      else keyCols.zip(r.keys).foldLeft(emitted) { case (df, (k, rk)) =>
        df.withColumn(k, coalesce(col(k), col(rk))) }
    keyed.drop(internal: _*)
  }
}
