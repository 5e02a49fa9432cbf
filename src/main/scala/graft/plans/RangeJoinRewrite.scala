package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{ExistenceJoin, Inner, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite point-in-interval theta-joins to the binned
  * equi-join form of [[graft.operators.Joins.rangeJoin]].
  *
  * A plain-SQL inner join whose only cross-side predicate is
  * `p.at >= i.start AND p.at < i.end` has no equi-join key, so Spark plans
  * it as a BroadcastNestedLoopJoin — O(|L|·|R|) and a guaranteed
  * scale-killer. The engine's `rangeJoin` operator avoids that by binning,
  * but a user writing raw SQL/DataFrame predicates never sees it. This rule
  * makes the scale-safe plan the DEFAULT: it detects the containment
  * pattern in an inner-join condition and rewrites
  *
  * {{{
  *   Join(cond = at >= start AND at < end AND rest)
  * }}}
  * into
  * {{{
  *   Project(original output,
  *     Filter(at >= start AND at < end,            // exact containment
  *       Join(cond = bin(at) = bin AND rest,
  *         Project(point side + bin(at)),
  *         Generate(explode(sequence(bin(start), bin(end))),
  *           Filter(end >= start, interval side)))))
  * }}}
  *
  * so the join carries an equi key (the bin) and candidate pairs are
  * bounded by bin co-residency, not |L|·|R|. Works whether the point is on
  * the left or the right side, accepts `>=`/`>` lower and `<`/`<=` upper
  * bounds (the exact predicate is re-applied above the join, so bins only
  * need to be a superset), and composes with existing equi keys (they stay
  * in the join condition; the bin key is appended).
  *
  * Interval-OVERLAP theta-joins (`a.start < b.end AND b.start < a.end` —
  * two intervals, one bound pair pointing each way across the join) get
  * the same treatment via the symmetric form: both sides explode to their
  * covered bins, the join carries the bin equi-key, and a canonical-bin
  * filter (the bin of `greatest(a.start, b.start)`) emits each
  * overlapping pair exactly once with no dedup shuffle. The overlap width
  * is inferred only when BOTH sides are sliding windows (`end = start +
  * C`), taking the larger C; otherwise the explicit conf width applies.
  * Containment is tried first — it is the cheaper plan (one exploding
  * side, no canonical filter) and every containment also parses as a
  * degenerate overlap.
  *
  * Two range dimensions (e.g. a time window AND a value band) bin
  * together: the second containment — detected on the same point side —
  * contributes its own bin pair (`_graft_bin_pt2` = `_graft_bin2`), the
  * interval side explodes the cross product of the two (≤2-bin) ranges,
  * and the join carries both equi keys, so candidates must co-reside in
  * BOTH dimensions — the pruning a residual predicate can't give. The
  * second dimension is binned ONLY when its width is inferable from its
  * own `< start + C` literal (the conf width below is a single value in
  * one dimension's units and would be wrong for the other); a second
  * containment without an inferable width stays a residual predicate, as
  * does any third dimension.
  *
  * Bin width — and when the rule fires at all: when both bounds are
  * literal offsets of one base expression — `[x, x + C)`, the backward
  * `BETWEEN x - C AND x`, or the two-sided `BETWEEN x - C1 AND x + C2`
  * (see `slideWidth`) — the offset difference is used directly, giving at
  * most two bins per interval, and the rewrite is always safe. For arbitrary `[start, end)` columns the interval length
  * is data, not plan, so NO default width can be right — a blind guess in
  * the wrong unit would explode each interval into thousands of bin rows
  * (or overflow `sequence()`'s array cap) and break a query that vanilla
  * Spark executed fine. So without an inferable C the rule fires ONLY when
  * the user has explicitly set `spark.graft.rangeJoin.binWidth` (in the
  * units of the bound columns, sized near the typical interval length).
  * `spark.graft.rangeJoin.enabled=false` disables the rule entirely.
  *
  * TIMESTAMP bounds work too — `e.ts >= w.ts AND e.ts < w.ts + INTERVAL
  * '1' HOUR` rewrites with no unit juggling: the bin image is epoch
  * micros (`UnixMicros`; NTZ via the session zone) and the width is the
  * interval literal's micros (year-month intervals decline — they have no
  * fixed length). DATE bounds likewise — `d >= start AND d < start +
  * INTERVAL '30' DAY` (which the analyzer resolves to `date_add`) bins on
  * epoch days (`UnixDate`) with the day count as the width. Both rewrite
  * ONLY on this inferred sliding-window path: the conf width's unit is
  * defined for numeric columns, and guessing micros-vs-seconds on a
  * timestamp would be exactly the blind bet the conf exists to avoid.
  *
  * Width scope: prefer the statement-scoped `RANGE_BIN` hint —
  * `df.hint("range_bin", w)` / `SELECT /&#42;+ RANGE_BIN(w) &#42;/ …`, resolved
  * to a [[RangeBinHint]] marker this rule consumes — whose width applies
  * only to the joins beneath it (innermost hint wins) and beats both the
  * inferred literal and the conf. Because a hint names one statement,
  * timestamp/date bounds with no interval literal are hintable (width in
  * epoch micros/days) where the conf must decline. The conf remains for
  * session-wide defaults, with its caveat: it is session-global, and the
  * overlap detector matches ANY inner join carrying a pair of
  * opposite-direction cross-side inequalities — not just ones the user
  * thinks of as interval overlaps. While the conf width is set, every
  * such join in the session is rewritten with that width; a width in the
  * wrong unit for one of them trades the nested-loop for a large bin
  * explode (results stay correct — the exact predicate is re-applied
  * above the join — but the plan can be worse). Set the conf around the
  * statement that needs it and unset it after, or use the hint / the
  * explicit `Joins.rangeJoin` / `Joins.intervalOverlapJoin` operators,
  * whose width is per-call.
  *
  * Join types: the containment form also rewrites LEFT OUTER, LEFT SEMI,
  * LEFT ANTI, EXISTENCE (the join type `RewriteSubquery` bears for an
  * EXISTS/IN living inside a disjunction — left rows emit exactly once
  * with a boolean, so bin copies on the right are multiplicity-free)
  * (point on the left) and RIGHT OUTER (point on the right) —
  * exactly the types whose PRESERVED/probe side is the point side, which
  * is never exploded, so unmatched preserved rows surface exactly once
  * with no dedup pass. Two shape differences from the inner form: the
  * exact bound predicate stays IN the join condition (a Filter above an
  * outer join would eat the unmatched rows' nulls — for inner joins the
  * optimizer pushes it back into the condition anyway), and match sets
  * are provably identical to vanilla's because a right row satisfying the
  * bounds matches exactly one of its exploded bin copies (the point's own
  * bin). Types whose non-preserved side would have to explode (LEFT
  * OUTER with the point on the right, FULL OUTER, and every outer
  * overlap) are left alone — exploding a preserved side duplicates its
  * unmatched rows, and deduplicating them back needs the once-per-row
  * count-window emission of the operators' binned-join core
  * (`Joins.binnedJoin`), a cost a silent rule should not impose.
  *
  * Guards: deterministic numeric bounds, and the
  * containment form filters inverted intervals (`end >= start` — safe
  * there because containment implies `start <= point < end` and, for the
  * outer types, a row that can contain no point changes no match set; the
  * overlap form instead bins `[least, greatest]`, see `buildOverlap`).
  *
  * Hot-bin skew: the operators (`Joins.rangeJoin` /
  * `Joins.intervalOverlapJoin`) expose a `maxBinSize` cap that DROPS
  * over-cap (key, bin) cohorts — an explicit, documented trade a caller
  * opts into. This rule deliberately carries no such cap: it rewrites
  * queries the user wrote as plain SQL, whose results must match vanilla
  * Spark row-for-row (silently dropping rows from an optimizer rule is a
  * correctness bug, not a guard). A hot (key, bin) under the rewrite
  * means the QUERY's result is quadratic in that cohort — vanilla's
  * nested-loop would compute the same pairs, only slower — and the
  * execution-side skew (one oversized shuffle partition) is what AQE's
  * skew-join splitting handles at runtime (`spark.sql.adaptive.*`, on by
  * default in `GraftSession`). Callers who want the cap semantics should
  * call the operators.
  */
object RangeJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  val EnabledKey = "spark.graft.rangeJoin.enabled"
  val BinWidthKey = "spark.graft.rangeJoin.binWidth"

  override def apply(plan: LogicalPlan): LogicalPlan =
    run(plan, finalPass = false)

  /** Shared body for the early (operator-optimization) and final
    * (extraOptimizations, after `RewriteSubquery`) registrations — see
    * [[RangeJoinRewriteFinal]] for why there are two.
    */
  private[plans] def run(plan: LogicalPlan, finalPass: Boolean): LogicalPlan = {
    val enabled = conf.getConfString(EnabledKey, "true")
      .toLowerCase(java.util.Locale.ROOT) == "true"
    walk(plan, None, enabled, finalPass = finalPass)._1
  }

  /** True when some expression beneath still holds an EXISTS / IN
    * subquery — i.e. a join this pass cannot see yet may be born from it
    * in `RewriteSubquery`.
    */
  private def hasPredicateSubquery(plan: LogicalPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists {
      case _: Exists | _: ListQuery => true
      case _ => false
    }))

  /** Bottom-up rewrite pass, hand-rolled instead of `transformUp` so a
    * [[RangeBinHint]]'s width can reach its joins in BOTH placements:
    * a hint above a join (`SELECT /&#42;+ RANGE_BIN(w) &#42;/ … JOIN …`,
    * `joined.hint(…)`) flows DOWN as the inherited width, and a hint on a
    * join INPUT (`df.hint(…).join(other, cond)` — the broadcast-hint
    * idiom) BUBBLES UP to the first join that consumes the marked subtree
    * (even if an optimizer-inserted Project sits between), where it is
    * consumed. The left input's bubble wins if both inputs carry one.
    *
    * Marker lifetime: a marker is stripped on sight — even when the rule
    * is disabled — UNLESS a join that does not exist yet may still need
    * its width: in the early pass, an EXISTS/IN predicate beneath the
    * marker becomes a semi/anti join only later, in `RewriteSubquery`,
    * so the marker is kept alive across it. (Markers never sit INSIDE a
    * subquery plan by this point — [[ResolveRangeBinHint]] hoists those
    * into the outer plan at analysis.) The final pass (`finalPass`,
    * registered after `RewriteSubquery` — see [[RangeJoinRewriteFinal]])
    * strips unconditionally, so markers never reach physical planning.
    *
    * Returns (rewritten plan, width bubbling up to the nearest join
    * above, if any).
    */
  private def walk(plan: LogicalPlan, inherited: Option[Long],
      enabled: Boolean, finalPass: Boolean): (LogicalPlan, Option[Long]) =
    plan match {
    case RangeBinHint(w, child) =>
      // the marked subtree's joins see w as their inherited width; the
      // marker itself bubbles w up to the join consuming this subtree
      val stripped = walk(child, Some(w), enabled, finalPass)._1
      val keep = !finalPass && hasPredicateSubquery(stripped)
      (if (keep) RangeBinHint(w, stripped) else stripped, Some(w))
    // streaming joins are excluded: Spark's stream-stream interval join
    // already consumes the time-range conjuncts as a state-retention
    // bound (that IS its pruning mechanism — see Streams.rangeJoinStream);
    // binning there would explode the state store's rows per bin copy
    // for zero pruning gain
    case j @ Join(left, right, Inner | LeftOuter | RightOuter | LeftSemi |
        LeftAnti | ExistenceJoin(_), Some(_), _)
        if enabled && j.resolved && !left.isStreaming && !right.isStreaming =>
      val (l, lw) = walk(j.left, inherited, enabled, finalPass)
      val (r, rw) = walk(j.right, inherited, enabled, finalPass)
      val rebuilt = j.withNewChildren(Seq(l, r)).asInstanceOf[Join]
      val width = lw.orElse(rw).orElse(inherited)
      (rewrite(rebuilt, width).getOrElse(rebuilt), None)
    case other =>
      var bubble: Option[Long] = None
      val newPlan = other.mapChildren { c =>
        val (p, b) = walk(c, inherited, enabled, finalPass)
        if (bubble.isEmpty) bubble = b
        p
      }
      (newPlan, bubble)
  }

  /** A detected `point in [start, end)` bound pair inside a join cond. */
  private final case class Containment(point: Expression, start: Expression,
      end: Expression, lower: Expression, upper: Expression,
      pointOnLeft: Boolean, inferredWidth: Option[Long])

  private def rewrite(j: Join,
      hintWidth: Option[Long]): Option[LogicalPlan] = {
    val cond = j.condition.get
    val conjuncts = splitConjunctivePredicates(cond)
    // Re-entry guard: this rule shares the operator-optimization fixpoint
    // with PushPredicateThroughJoin, which pushes the containment Filter we
    // emit back into the join condition — without this check the pair
    // ping-pongs forever. A join whose condition already references a bin
    // attribute IS our output (the pushed-back exact predicate is the
    // correct residual of the binned hash join); one rewrite per join.
    val alreadyBinned = conjuncts.exists(
      _.references.exists(_.name.startsWith("_graft_bin")))
    if (alreadyBinned) return None
    // no sliding-window literal and no explicit user width → leave the
    // plan alone (see the class doc: a guessed width in the wrong unit
    // is worse than the nested-loop it replaces). An EXPLICIT conf value
    // that is malformed or non-positive fails loudly — the user opted in
    // and silently declining would be undiagnosable. Lazy: a join with no
    // range pattern at all must not trip over a malformed conf.
    lazy val confWidth = Option(conf.getConfString(BinWidthKey, null)).map {
      s =>
        val w =
          try s.toLong
          catch {
            case _: NumberFormatException =>
              throw new IllegalArgumentException(
                s"$BinWidthKey must be a positive integer in the units of " +
                  s"the range-join bound columns, got '$s'")
          }
        require(w > 0, s"$BinWidthKey must be > 0, got $w")
        w
    }
    // containment (point-in-interval) first: only one side explodes and no
    // canonical-bin filter is needed; the symmetric overlap form is the
    // fallback for genuinely two-interval conditions (and, exploding BOTH
    // sides, is inner-only — see the class doc on join types)
    rewriteContainment(j, conjuncts, hintWidth, confWidth)
      .orElse(if (j.joinType == Inner)
        rewriteOverlap(j, conjuncts, hintWidth, confWidth) else None)
  }

  private def rewriteContainment(j: Join, conjuncts: Seq[Expression],
      hintWidth: Option[Long],
      confWidth: => Option[Long]): Option[LogicalPlan] = {
    // non-inner types rewrite only when the point sits on the side the
    // join preserves (left for LEFT OUTER/SEMI/ANTI, right for RIGHT
    // OUTER): the point side is never exploded, so preserved-row
    // multiplicity is untouched; the exploding interval side is exactly
    // the side those types do NOT preserve
    val requiredPointSide: Option[Boolean] = j.joinType match {
      case Inner => None
      case LeftOuter | LeftSemi | LeftAnti => Some(true)
      // ExistenceJoin (EXISTS/IN inside a disjunction, born in
      // RewriteSubquery): left rows are preserved and emitted exactly
      // once with a boolean, regardless of how many exploded bin copies
      // match — so binning the right side is multiplicity-safe as long
      // as the point stays on the preserved left
      case ExistenceJoin(_) => Some(true)
      case RightOuter => Some(false)
      case _ => return None
    }
    val candidates = detect(conjuncts, j.left, j.right)
      .filter(c => requiredPointSide.forall(_ == c.pointOnLeft))
    if (candidates.isEmpty) return None
    // width for a candidate: an explicit RANGE_BIN hint wins (the user
    // named this statement, and the hint's documented unit is the bin
    // image — so timestamp/date containments with raw bound columns ARE
    // hintable), then the candidate's own inferred sliding-window
    // literal, then the conf — whose unit is defined only for NUMERIC
    // bound columns; a timestamp/date containment without an interval
    // literal has no conf-expressible width (micros/days vs the conf's
    // unknown unit), so those only rewrite hinted or inferred.
    def widthOf(c: Containment): Option[Long] =
      hintWidth.orElse(c.inferredWidth).orElse(
        if (c.point.dataType.isInstanceOf[NumericType]) confWidth else None)
    // primary dimension: prefer a containment whose width is inferable
    // from its own literal (stable across hint/conf settings), else the
    // first candidate a width source covers
    val primary = candidates.find(_.inferredWidth.isDefined)
      .orElse(candidates.find(c => widthOf(c).isDefined))
      .getOrElse(return None)
    widthOf(primary).map { primaryWidth =>
      // second dimension: another containment on the SAME point side, a
      // DIFFERENT point expression, sharing no conjunct with the primary
      // (one conjunct can read as a lower bound of one point and an upper
      // bound of another — it must only be consumed once), and with its
      // own inferable width (the conf width is in the primary's units)
      val secondary = candidates.find { c =>
        c.inferredWidth.isDefined &&
        c.pointOnLeft == primary.pointOnLeft &&
        !c.point.semanticEquals(primary.point) &&
        Seq(c.lower, c.upper).forall(e =>
          !e.fastEquals(primary.lower) && !e.fastEquals(primary.upper))
      }
      val dims = (primary, primaryWidth) +:
        secondary.map(c => (c, c.inferredWidth.get)).toSeq
      rewriteWith(j, conjuncts, dims)
    }
  }

  /** Build the binned plan for one or two (containment, binWidth)
    * dimensions — all on the same point side.
    */
  private def rewriteWith(j: Join, conjuncts: Seq[Expression],
      dims: Seq[(Containment, Long)]): LogicalPlan = {
      def bin(e: Expression, width: Long): Expression =
        Floor(Divide(binnable(e), Literal(width.toDouble)))
      def suffix(i: Int): String = if (i == 0) "" else (i + 1).toString

      val pointOnLeft = dims.head._1.pointOnLeft
      val (pointChild, intervalChild) =
        if (pointOnLeft) (j.left, j.right) else (j.right, j.left)
      // point side: one bin per row per dimension, projected alongside
      // every column
      val pointBins = dims.zipWithIndex.map { case ((c, w), i) =>
        Alias(bin(c.point, w), "_graft_bin_pt" + suffix(i))()
      }
      val pointBinned = Project(pointChild.output ++ pointBins, pointChild)
      // interval side: explode the covered bin range of each dimension
      // (the cross product — each sliding window covers ≤2 bins, so ≤4
      // rows per interval in 2-D); drop intervals inverted in ANY binned
      // dimension FIRST (they contain no point, and sequence() would step
      // backwards through them)
      val inverted = dims.map { case (c, _) =>
        GreaterThanOrEqual(c.end, c.start): Expression }.reduce(And)
      var intervalSide: LogicalPlan = Filter(inverted, intervalChild)
      val intervalBins = dims.zipWithIndex.map { case ((c, w), i) =>
        val attr = AttributeReference("_graft_bin" + suffix(i), LongType,
          nullable = false)()
        // Sequence is TimeZoneAwareExpression: it is only `resolved` with a
        // timezone id set, even over plain longs — without one the optimizer
        // rejects the rewritten plan as newly-unresolved
        intervalSide = Generate(
          Explode(new Sequence(bin(c.start, w), bin(c.end, w), None,
            Some(conf.sessionLocalTimeZone))),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Seq(attr), child = intervalSide)
        attr
      }
      val (newLeft, newRight) =
        if (pointOnLeft) (pointBinned, intervalSide)
        else (intervalSide, pointBinned)
      // inner: bound pairs move ABOVE the join (exact containment
      // re-check; the optimizer pushes them back into the condition as
      // the hash join's residual); every other conjunct — equi keys
      // included — stays in the join condition. Non-inner: the bounds
      // must stay IN the condition — a Filter above a left-outer join
      // would drop the unmatched rows it exists to keep, and semi/anti
      // decide row survival from the condition itself.
      val bounds = dims.flatMap { case (c, _) => Seq(c.lower, c.upper) }
      val others = conjuncts.filterNot(e => bounds.exists(e.fastEquals))
      val binEqs = pointBins.zip(intervalBins).map {
        case (pb, ib) => EqualTo(pb.toAttribute, ib): Expression }
      val joined =
        if (j.joinType == Inner)
          Filter(bounds.reduce(And),
            Join(newLeft, newRight, Inner,
              Some((others ++ binEqs).reduce(And)), j.hint))
        else
          Join(newLeft, newRight, j.joinType,
            Some((others ++ binEqs ++ bounds).reduce(And)), j.hint)
      Project(j.output, joined)
  }

  /** A detected interval-overlap pattern `lStart < rEnd AND rStart < lEnd`
    * (either or both bounds possibly non-strict), with the l-bounds
    * evaluable on the join's left side. `inferredWidth` is the max of the
    * two sides' sliding-window lengths when BOTH are inferable — with a
    * bin width ≥ both interval lengths, each side explodes to ≤2 bins.
    */
  private final case class Overlap(lStart: Expression, lEnd: Expression,
      rStart: Expression, rEnd: Expression, c1: Expression, c2: Expression,
      inferredWidth: Option[Long])

  /** Rewrite a two-interval overlap theta-join (`a.start < b.end AND
    * b.start < a.end`) into the binned equi-join of
    * [[graft.operators.Joins.intervalOverlapJoin]]: BOTH sides explode to
    * the bins their interval covers, the join carries the bin equi-key,
    * and each pair is emitted from exactly one canonical bin — the bin of
    * `greatest(lStart, rStart)`, which lies inside both sides' covered
    * ranges whenever the overlap predicate holds — so multi-bin overlaps
    * do not duplicate and no dedup shuffle is needed. The exact overlap
    * predicate is re-applied above the join, so bins only need to be a
    * superset.
    *
    * Inverted rows (a row's own `end < start`) must NOT be filtered here,
    * unlike the containment form: the raw overlap predicate is satisfiable
    * by a row whose own interval is inverted — left (10, 5) matches right
    * (3, 20) because 10 < 20 AND 3 < 5 — so dropping such rows would lose
    * results vs vanilla Spark. Each side instead explodes the bins of
    * `[least(start, end), greatest(start, end)]` (so `sequence()` never
    * steps backwards), and the canonical bin still lies in both sides'
    * covered ranges: with g = max(lStart, rStart) and the predicate held,
    * g ≥ lStart and g ≥ rStart bound it below on both sides; above,
    * either a side is not inverted (then g ≤ that side's end via
    * `rStart < lEnd` / `lStart < rEnd`) or it is inverted (then its start
    * IS its greatest bound and the other side's start falls under it via
    * the same predicate); both sides inverted is unsatisfiable
    * (`lEnd < lStart < rEnd < rStart < lEnd` is a cycle).
    */
  private def rewriteOverlap(j: Join, conjuncts: Seq[Expression],
      hintWidth: Option[Long],
      confWidth: => Option[Long]): Option[LogicalPlan] = {
    val candidates = detectOverlap(conjuncts, j.left, j.right)
    if (candidates.isEmpty) return None
    // width preference mirrors rewriteContainment: hint > inferred >
    // conf; timestamp/date overlaps rewrite only hinted or inferred
    // (both-sides-sliding) — the conf width's unit is for numeric columns
    def widthOf(o: Overlap): Option[Long] =
      hintWidth.orElse(o.inferredWidth).orElse(
        if (o.lStart.dataType.isInstanceOf[NumericType]) confWidth
        else None)
    val primary = candidates.find(_.inferredWidth.isDefined)
      .orElse(candidates.find(o => widthOf(o).isDefined))
      .getOrElse(return None)
    widthOf(primary).map { width =>
      buildOverlap(j, conjuncts, primary, width)
    }
  }

  private def buildOverlap(j: Join, conjuncts: Seq[Expression], o: Overlap,
      width: Long): LogicalPlan = {
    // [[binnable]] maps timestamps to epoch micros (width is then in
    // micros, from the interval literal) and numerics to themselves
    def bin(e: Expression): Expression =
      Floor(Divide(e, Literal(width.toDouble)))
    // explode each side over the bins of [least(start, end),
    // greatest(start, end)]: sequence() never steps backwards, and rows
    // whose own interval is inverted keep their matches (see the method
    // doc — filtering them here would change raw-SQL semantics). Null
    // bounds survive the explode (least/greatest skip nulls) but the
    // exact predicate above the join nulls them out, same as vanilla.
    def explodeBins(child: LogicalPlan, start: Expression, end: Expression,
        name: String): (LogicalPlan, Attribute) = {
      val attr = AttributeReference(name, LongType, nullable = false)()
      val bounds = Seq(binnable(start), binnable(end))
      val g = Generate(
        Explode(new Sequence(bin(Least(bounds)), bin(Greatest(bounds)),
          None, Some(conf.sessionLocalTimeZone))),
        unrequiredChildIndex = Nil, outer = false, qualifier = None,
        generatorOutput = Seq(attr), child = child)
      (g, attr)
    }
    val (newLeft, binL) = explodeBins(j.left, o.lStart, o.lEnd,
      "_graft_bin_l")
    val (newRight, binR) = explodeBins(j.right, o.rStart, o.rEnd,
      "_graft_bin")
    val others = conjuncts.filterNot(e =>
      e.fastEquals(o.c1) || e.fastEquals(o.c2))
    val newCond = (others :+ (EqualTo(binL, binR): Expression)).reduce(And)
    // canonical-bin emission (see the method doc) plus the exact overlap
    // predicate; both sit above the join, and their push-back into the
    // join condition is stopped by the _graft_bin re-entry guard
    val canonical = EqualTo(binL, bin(Greatest(Seq(
      binnable(o.lStart), binnable(o.rStart)))))
    Project(j.output,
      Filter(Seq(o.c1, o.c2, canonical).reduce(And),
        Join(newLeft, newRight, Inner, Some(newCond), j.hint)))
  }

  /** Find conjunct pairs forming `x < y AND z < w` with x,w on one side
    * and y,z on the other — the overlap of intervals [x, w) and [z, y).
    * Containment reads as a degenerate overlap (a zero-length interval),
    * which is why the containment branch must run first.
    */
  private def detectOverlap(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Seq[Overlap] = {
    // normalized strictly/non-strictly-less view: e says "small ≲ big"
    def asLess(e: Expression): Option[(Expression, Expression)] = e match {
      case LessThan(a, b) => Some((a, b))
      case LessThanOrEqual(a, b) => Some((a, b))
      case GreaterThan(b, a) => Some((a, b))
      case GreaterThanOrEqual(b, a) => Some((a, b))
      case _ => None
    }
    val found = for {
      c1 <- conjuncts.iterator
      (x, y) <- asLess(c1).iterator
      if usable(x) && usable(y)
      xSide <- sideIn(x, left, right).iterator
      ySide <- sideIn(y, left, right).iterator
      if xSide != ySide
      c2 <- conjuncts.iterator
      if !c2.fastEquals(c1)
      (z, w) <- asLess(c2).iterator
      if usable(z) && usable(w)
      zSide <- sideIn(z, left, right).iterator
      if zSide == ySide
      wSide <- sideIn(w, left, right).iterator
      if wSide == xSide
    } yield {
      // x's side holds interval [x, w); the other side holds [z, y)
      val (lS, lE, rS, rE) =
        if (xSide) (x, w, z, y) else (z, y, x, w)
      val inferred = for {
        a <- slideWidth(x, w); b <- slideWidth(z, y)
      } yield math.max(a, b)
      Overlap(lS, lE, rS, rE, c1, c2, inferred)
    }
    found.toSeq
  }

  /** Which join side can evaluate `e`: Some(true)=left, Some(false)=right,
    * None for constants (bound to neither) and cross-side expressions.
    */
  private def sideIn(e: Expression, left: LogicalPlan,
      right: LogicalPlan): Option[Boolean] =
    if (e.references.isEmpty) None // constants bound neither side
    else if (e.references.subsetOf(left.outputSet)) Some(true)
    else if (e.references.subsetOf(right.outputSet)) Some(false)
    else None

  private def usable(e: Expression): Boolean =
    e.deterministic &&
      (e.dataType.isInstanceOf[NumericType] || isTimestamp(e.dataType) ||
        e.dataType == DateType)

  private def isTimestamp(dt: DataType): Boolean =
    dt == TimestampType || dt == TimestampNTZType

  /** The numeric image an expression bins on: timestamps map to epoch
    * micros (`UnixMicros`; NTZ goes through the session zone first — the
    * same monotone mapping on both join sides, which is all binning
    * needs), dates to epoch days (`UnixDate` — matching `date_add`'s
    * day-count width), numerics to their own value. Monotone +
    * deterministic, so `bin(start) <= bin(point) <= bin(end)` survives
    * the mapping and the exact predicate — re-applied on the ORIGINAL
    * columns — still decides membership.
    */
  private def binnable(e: Expression): Expression = e.dataType match {
    case TimestampType => Cast(UnixMicros(e), DoubleType)
    case TimestampNTZType =>
      Cast(UnixMicros(
        Cast(e, TimestampType, Some(conf.sessionLocalTimeZone))), DoubleType)
    case DateType => Cast(UnixDate(e), DoubleType)
    case _ => Cast(e, DoubleType)
  }

  /** Find every conjunct pair bounding one point expression inside one
    * interval, with the point evaluable on one side and both bounds on the
    * other — in conjunct order, so callers picking the head preserve the
    * single-dimension behavior.
    */
  private def detect(conjuncts: Seq[Expression], left: LogicalPlan,
      right: LogicalPlan): Seq[Containment] = {
    def sideOf(e: Expression): Option[Boolean] = sideIn(e, left, right)
    // normalized (point, bound, original) views of each conjunct
    def asLower(e: Expression): Option[(Expression, Expression)] = e match {
      case GreaterThanOrEqual(p, s) => Some((p, s))
      case GreaterThan(p, s) => Some((p, s))
      case LessThanOrEqual(s, p) => Some((p, s))
      case LessThan(s, p) => Some((p, s))
      case _ => None
    }
    def asUpper(e: Expression): Option[(Expression, Expression)] = e match {
      case LessThan(p, en) => Some((p, en))
      case LessThanOrEqual(p, en) => Some((p, en))
      case GreaterThan(en, p) => Some((p, en))
      case GreaterThanOrEqual(en, p) => Some((p, en))
      case _ => None
    }
    val candidates = for {
      lo <- conjuncts.iterator
      (point, start) <- asLower(lo).iterator
      if usable(point) && usable(start)
      pointSide <- sideOf(point).iterator
      startSide <- sideOf(start).iterator
      if pointSide != startSide
      up <- conjuncts.iterator
      if !up.fastEquals(lo)
      (point2, end) <- asUpper(up).iterator
      if point2.semanticEquals(point) && usable(end)
      endSide <- sideOf(end).iterator
      if endSide == startSide
    } yield Containment(point, start, end, lower = lo, upper = up,
      pointOnLeft = pointSide, inferredWidth = slideWidth(start, end))
    candidates.toSeq
  }

  /** Sliding-window width inference, generalized: decompose each bound
    * into (base, literal offset) and, when both bounds share the SAME
    * base, the interval length is the offset difference — the ideal bin
    * width (each interval covers ≤2 bins). One rule covers every sliding
    * shape users write:
    *   - `[x, x + C)` — the forward window (width C),
    *   - `[x − C, x]` — "within C BEFORE x", i.e. `BETWEEN x − C AND x`
    *     (width C),
    *   - `[x − C1, x + C2]` — the two-sided band (width C1 + C2).
    * Offsets are read from `+`/`−` literals (numeric columns, native
    * units), `TimestampAddInterval` literals (timestamps, MICROS — the
    * [[binnable]] image; year-month intervals carry no fixed length and
    * yield no offset, so such bounds never share a base and decline;
    * month-free calendar intervals count days at 24 h — at worst a DST
    * shift costs one extra candidate bin, never correctness), and
    * `date_add` day counts (dates, DAYS).
    */
  private def slideWidth(start: Expression,
      end: Expression): Option[Long] = {
    val (bs, os) = baseOffset(start)
    val (be, oe) = baseOffset(end)
    // ceil the EXACT offset difference once — ceiling each fractional
    // offset independently (e.g. BETWEEN x - 1.5 AND x - 0.2) could
    // understate the true interval length (ceil(-1.5)..ceil(-0.2) → 1 <
    // 1.3) and break the documented ≤2-bins-per-interval envelope;
    // ceil(1.3) = 2 restores it (results were never affected — bins come
    // from the actual bound expressions)
    if (bs.semanticEquals(be)) {
      val w = math.ceil(oe - os).toLong
      if (w > 0) Some(w) else None
    } else None
  }

  /** `e` as (base, exact literal offset) in the base's bin-image units —
    * exact as a Double so fractional offsets survive to [[slideWidth]]'s
    * single ceil (micros offsets lose sub-micro precision past ~285
    * years, far beyond any sane window). An expression that is not a
    * literal offset from anything returns itself with offset 0 (so only
    * bounds sharing a literal-offset base ever infer a width).
    */
  private def baseOffset(e: Expression): (Expression, Double) = e match {
    case Add(b, Literal(v, _), _) =>
      literalNum(v).map((b, _)).getOrElse((e, 0d))
    case Add(Literal(v, _), b, _) =>
      literalNum(v).map((b, _)).getOrElse((e, 0d))
    case Subtract(b, Literal(v, _), _) =>
      literalNum(v).map(o => (b, -o)).getOrElse((e, 0d))
    case TimestampAddInterval(b, Literal(v: Long, _: DayTimeIntervalType),
        _) => (b, v.toDouble)
    case TimestampAddInterval(b,
        Literal(iv: org.apache.spark.unsafe.types.CalendarInterval,
          CalendarIntervalType), _) if iv.months == 0 =>
      (b, iv.days * 86400000000d + iv.microseconds)
    case DateAdd(b, Literal(v, _)) =>
      literalNum(v).map((b, _)).getOrElse((e, 0d))
    // date_sub(d, n); `d - INTERVAL 'n' DAY` needs no case of its own —
    // it constant-folds to DateAdd(d, -n)
    case DateSub(b, Literal(v, _)) =>
      literalNum(v).map(o => (b, -o)).getOrElse((e, 0d))
    case _ => (e, 0d)
  }

  private def literalNum(v: Any): Option[Double] = v match {
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case s: Short => Some(s.toDouble)
    case b: Byte => Some(b.toDouble)
    case f: Float => Some(f.toDouble)
    case d: Double => Some(d)
    case d: Decimal => Some(d.toDouble)
    case _ => None
  }
}

/** The late-batch ("User Provided Optimizers", via
  * `ExperimentalMethods.extraOptimizations` — see
  * `GraftExtensions.registerLateRule`) registration of
  * [[RangeJoinRewrite]]. It runs AFTER `RewriteSubquery`, so it is the
  * pass that sees EXISTS/IN-born semi/anti joins — including ones whose
  * width arrives from a `RANGE_BIN` hint: the early pass KEEPS the
  * [[RangeBinHint]] marker alive when a predicate subquery sits beneath
  * it (and inside `OptimizeSubqueries` always), precisely so the width
  * survives to this pass; this pass then consumes the width and strips
  * the marker unconditionally, so it never reaches physical planning.
  * A separate object (not a second registration of the same one) because
  * the two passes differ in exactly that marker lifetime.
  */
object RangeJoinRewriteFinal extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan =
    RangeJoinRewrite.run(plan, finalPass = true)
}
