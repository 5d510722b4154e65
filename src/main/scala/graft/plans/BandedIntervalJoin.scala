package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Custom optimizer rule: automatic BANDING of naive interval-containment
  * joins — the engine-side version of the manual rewrite in
  * `WarehouseOps.rangeJoin` (j3).
  *
  * Problem: a point-in-interval join with no equi-key,
  *
  *   facts.join(intervals, $"ts" >= $"lo" && $"ts" < $"hi")
  *
  * has no hashable key, so Spark plans BroadcastNestedLoopJoin —
  * O(|facts| · |intervals|) probe work, the first thing that dies at
  * 100 TB (and the reason commercial engines ship range-join
  * optimizations behind hints). Users should be able to WRITE the
  * declarative form and still get a scalable plan.
  *
  * Rewrite: pick a fixed band width B (1 day — event-time intervals in
  * this engine are hour-to-day scale). Each interval explodes to the
  * bands it covers (`sequence(floor(lo/B), band_of_last_covered_us)`),
  * each point computes its single band, and the join becomes an
  * EQUI-join on the band with the ORIGINAL predicate kept as residual:
  *
  *   points:     band = unix_micros(ts) div B              (1 row/point)
  *   intervals:  band ∈ [lo div B .. last_us div B]        (explode)
  *   join:       point.band = interval.band AND <original condition>
  *
  * Each point lands in exactly ONE band, so no post-join dedup is needed
  * (an interval may span several bands, but a given point matches it in
  * the point's own band only). Null semantics are preserved: a NULL
  * point or bound makes the original condition false; its band is NULL,
  * which an equi-join drops — same rows out.
  *
  * Firing conditions (deliberately narrow — a rewrite that misfires is
  * worse than no rewrite):
  *   - INNER join whose condition's conjuncts include a lower bound
  *     (`pt >= lo` / `pt > lo`) and an upper bound (`pt < hi` /
  *     `pt <= hi`) on the SAME timestamp-typed point expression;
  *   - the point side and the bounds side are different join children
  *     (either orientation);
  *   - NO equi-conjunct already joins the two sides (if one exists,
  *     Spark already hash-joins on it and banding would only add an
  *     Expand);
  *   - every other conjunct stays in the residual untouched.
  *
  * The band width trades fan-out for selectivity: explode factor is
  * ⌈interval/B⌉ + 1 (wants B large), band selectivity is ~B worth of
  * intervals per probe (wants B small); the balance point is B ≈ the
  * interval-length P90, where explode stays ≤ 2 for the typical row
  * while a band holds only co-temporal intervals. The width is read
  * per-plan from the session conf [[BandUsKey]] (default 1 day — right
  * for the hour-to-day intervals this engine's sources carry), and
  * [[tuneBandWidth]] sets it FROM STATS: one cheap aggregate over the
  * interval side (at 100 TB, run it on the dimension — interval sides
  * are dimension-sized — or a sample) takes the approximate P90 length
  * and snaps UP to a coarse ladder (minute → hour → day → week), so
  * near-identical workloads can't flip-flop widths and cached banded
  * layouts stay reusable. Any width is CORRECT (the original predicate
  * always rides along as residual — the fuzz spec runs the ladder);
  * tuning only moves the fan-out/selectivity balance. Installed
  * per-session by [[graft.GraftSession.install]] and for
  * extension-configured sessions via `GraftExtensions`.
  *
  * Reference tie-in: the reference joins billing rows to run windows in
  * Python dict lookups (billing_etl.py:270-298, one window at a time);
  * declarative interval joins are the set-based generalization.
  */
object BandedIntervalJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** Session conf holding the band width in microseconds. */
  val BandUsKey = "spark.graft.bandedJoin.bandUs"

  /** Default band width: 1 day in microseconds. */
  val DefaultBandUs: Long = 86400L * 1000000

  /** The coarse width ladder [[tuneBandWidth]] snaps to: 1 min, 5 min,
    * 15 min, 1 h, 6 h, 1 d, 7 d (µs). Coarse on purpose — stable widths
    * across near-identical workloads beat per-query-optimal ones.
    */
  val WidthLadderUs: Seq[Long] =
    Seq(60L, 300L, 900L, 3600L, 6 * 3600L, 86400L, 7 * 86400L).map(_ * 1000000)

  private def bandUs: Long = {
    val v = conf.getConfString(BandUsKey, DefaultBandUs.toString).toLong
    require(v > 0, s"$BandUsKey must be positive, got $v")
    v
  }

  /** Pick the band width from the interval side's length statistics and
    * set it on the session: approximate P90 of (hi − lo), snapped UP to
    * the first ladder rung that covers it (explode factor for a P90 row
    * is then ≤ 2). Degenerate inputs (empty side, all-null bounds) keep
    * the 1-day default. Returns the chosen width in µs.
    */
  def tuneBandWidth(intervals: org.apache.spark.sql.DataFrame,
                    lo: String, hi: String): Long = {
    import org.apache.spark.sql.functions.{col, expr, unix_micros}
    val spark = intervals.sparkSession
    val p90 = intervals
      .select((unix_micros(col(hi)) - unix_micros(col(lo))).as("len"))
      .where(col("len").isNotNull && col("len") > 0)
      .agg(expr("approx_percentile(len, 0.9)"))
      .head.get(0)
    val width = p90 match {
      case null => DefaultBandUs
      case l: Long => WidthLadderUs.find(_ >= l).getOrElse(WidthLadderUs.last)
      case other => throw new IllegalStateException(s"unexpected percentile type: $other")
    }
    spark.conf.set(BandUsKey, width.toString)
    width
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val b = bandUs
    plan.transformUp {
      case j @ Join(left, right, Inner, Some(cond), hint) =>
        rewrite(j, left, right, cond, hint, b).getOrElse(j)
    }
  }

  private case class Bounds(pt: Expression, lo: Expression, loStrict: Boolean,
                            hi: Expression, hiStrict: Boolean,
                            others: Seq[Expression])

  private def sideOf(e: Expression, left: LogicalPlan, right: LogicalPlan): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(left.outputSet)) Some(true)
    else if (refs.subsetOf(right.outputSet)) Some(false)
    else None
  }

  /** Find (point, lower, upper) among the conjuncts: point on one child,
    * both bounds on the other, all TimestampType, no pre-existing
    * equi-conjunct between the children.
    */
  private def analyze(conjuncts: Seq[Expression], left: LogicalPlan,
                      right: LogicalPlan): Option[(Bounds, Boolean)] = {
    val hasEqui = conjuncts.exists {
      case EqualTo(a, b) =>
        (for (sa <- sideOf(a, left, right); sb <- sideOf(b, left, right))
          yield sa != sb).getOrElse(false)
      case EqualNullSafe(a, b) =>
        (for (sa <- sideOf(a, left, right); sb <- sideOf(b, left, right))
          yield sa != sb).getOrElse(false)
      case _ => false
    }
    if (hasEqui) return None
    // normalize each comparison to (pt, bound, isLower, strict) candidates
    def cands(c: Expression): Seq[(Expression, Expression, Boolean, Boolean)] = c match {
      case GreaterThan(a, b) => Seq((a, b, true, true), (b, a, false, true))
      case GreaterThanOrEqual(a, b) => Seq((a, b, true, false), (b, a, false, false))
      case LessThan(a, b) => Seq((a, b, false, true), (b, a, true, true))
      case LessThanOrEqual(a, b) => Seq((a, b, false, false), (b, a, true, false))
      case _ => Seq.empty
    }
    val typed = conjuncts.map(c => c -> cands(c).filter { case (pt, bound, _, _) =>
      pt.dataType == TimestampType && bound.dataType == TimestampType &&
        (for (sp <- sideOf(pt, left, right); sb <- sideOf(bound, left, right))
          yield sp != sb).getOrElse(false)
    })
    // try every (lower, upper) pair over the same point expression
    val lowers = typed.flatMap { case (c, cs) =>
      cs.collect { case (pt, b, true, s) => (c, pt, b, s) } }
    val uppers = typed.flatMap { case (c, cs) =>
      cs.collect { case (pt, b, false, s) => (c, pt, b, s) } }
    (for {
      (lc, lpt, lo, ls) <- lowers
      (uc, upt, hi, us) <- uppers
      if lc ne uc
      if lpt.semanticEquals(upt)
      ptOnLeft <- sideOf(lpt, left, right)
      boundSide <- sideOf(lo, left, right)
      if boundSide != ptOnLeft && sideOf(hi, left, right).contains(boundSide)
    } yield {
      val others = conjuncts.filterNot(c => (c eq lc) || (c eq uc))
      (Bounds(lpt, lo, ls, hi, us, others :+ lc :+ uc), ptOnLeft)
    }).headOption
  }

  /** FLOOR division of a micros expression by the band width — NOT
    * IntegralDivide alone (which truncates toward zero and would misband
    * pre-1970 points relative to their covering intervals).
    */
  private def floorDiv(us: Expression, bandUs: Long): Expression =
    IntegralDivide(Subtract(us, Pmod(us, Literal(bandUs))), Literal(bandUs))

  private def bandOf(e: Expression, bandUs: Long): Expression =
    floorDiv(UnixMicros(e), bandUs)

  private def rewrite(j: Join, left: LogicalPlan, right: LogicalPlan,
                      cond: Expression, hint: JoinHint, bandUs: Long): Option[LogicalPlan] = {
    analyze(splitConjunctivePredicates(cond), left, right).map {
      case (b, ptOnLeft) =>
        val (ptPlan, boundPlan) = if (ptOnLeft) (left, right) else (right, left)
        // point side: one band per row
        val ptBand = Alias(bandOf(b.pt, bandUs), "__graft_band")()
        val ptProj = Project(ptPlan.output :+ ptBand, ptPlan)
        // interval side: one band per covered band. Last covered µs is
        // hi (inclusive) or hi − 1 µs (strict <); a strict lower bound
        // still starts in lo's band.
        val lastUs = if (b.hiStrict) Subtract(UnixMicros(b.hi), Literal(1L))
          else UnixMicros(b.hi)
        // Sequence is TimeZoneAwareExpression: stays UNRESOLVED until a
        // zone is bound, even for integral sequences
        val loBand = floorDiv(UnixMicros(b.lo), bandUs)
        val hiBand = floorDiv(lastUs, bandUs)
        val seq = new Sequence(loBand, hiBand, Literal(1L))
          .withTimeZone(conf.sessionLocalTimeZone)
        // DEGENERATE-INTERVAL GUARD: an inverted (hi < lo) or empty
        // ([x, x) with x on a band boundary) interval row matched nothing
        // pre-rewrite, but hands Sequence inverted bounds — a runtime
        // crash. Emit zero bands for it instead (non-outer Explode drops
        // the row); NULL bounds keep flowing to Sequence, which returns
        // NULL ⇒ Explode emits nothing — same rows out as the original
        // NULL-rejecting condition.
        val guarded = If(
          And(IsNotNull(hiBand), And(IsNotNull(loBand), LessThan(hiBand, loBand))),
          Literal.create(Array.empty[Long], org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)),
          seq)
        val bandAttr = AttributeReference("__graft_band", LongType)()
        val gen = Generate(Explode(guarded), unrequiredChildIndex = Nil,
          outer = false, qualifier = None, generatorOutput = Seq(bandAttr),
          child = boundPlan)
        val newCond = (EqualTo(ptProj.output.last.toAttribute, bandAttr) +:
          b.others).reduce(And(_, _))
        val (nl, nr) = if (ptOnLeft) (ptProj, gen) else (gen, ptProj)
        // restore the ORIGINAL output (band columns are internal)
        Project(j.output, Join(nl, nr, Inner, Some(newCond), hint))
    }
  }
}
