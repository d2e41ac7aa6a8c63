package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DoubleType, LongType, TimestampType}

/** Optimizer rule: rewrite a pure TIME-BAND inner join — an inner join
  * whose only cross-side predicates are `P >= LO AND P <= HI` on
  * timestamps, with NO equality conjunct — into the binned EQUI-join
  * [[graft.ops.TableJoins.rangeJoin]] builds by hand:
  *
  *   - the point side gains a bin column `floor(unix_micros(P) / W)`;
  *   - the bounds side explodes into the bins `[floor(LO/W) .. floor(HI/W)]`
  *     its interval covers (a `Generate(Explode(Sequence(..)))` node);
  *   - the join becomes an equi-join on the bin with the original band
  *     predicates re-checked, and a final `Project` restores the
  *     original output schema.
  *
  * Without this rule Spark plans the pattern as
  * BroadcastNestedLoopJoin — or a full CartesianProduct once both sides
  * outgrow the broadcast threshold: the quadratic cliff a declarative
  * SQL user hits with `point BETWEEN lo AND hi` conditions. With it, the
  * same SQL runs as a shuffle equi-join (plan-pinned). Each (point,
  * interval) pair still meets in exactly ONE bin — the point's — so no
  * dedup is needed and the rewrite is row-exact (law-tested against the
  * unrewritten join).
  *
  * Correct for ANY bin width by monotonicity of `floor(x / W)`
  * (P ∈ [LO, HI] ⇒ bin(P) ∈ [bin(LO), bin(HI)]); W tunes only the
  * explode factor vs join selectivity. Configure with
  * `spark.graft.bandJoin.binMicros` (default 1 hour). Registration:
  * sessions built with [[graft.GraftExtensions]] get it via
  * `injectOptimizerRule`.
  *
  * Two guards keep the session-wide rewrite from regressing plans it
  * shouldn't touch:
  *
  *   - '''tiny bounds side''': when broadcasting is enabled
  *     (`autoBroadcastJoinThreshold` >= 0) and the bounds side's
  *     size estimate is under `spark.graft.bandJoin.broadcastSkipBytes`
  *     (default 64 KB, additionally capped by the broadcast threshold
  *     itself), the join is left alone — Spark's
  *     BroadcastNestedLoopJoin over a handful of interval rows beats
  *     paying the explode + shuffle. The default is deliberately far
  *     below the 10 MB broadcast threshold: BNL is compute-quadratic
  *     (every point row probes every bounds row), so "fits in a
  *     broadcast" does not mean "cheap" once the bounds side reaches
  *     thousands of rows; raise the conf to widen the skip if probing
  *     is known-cheap.
  *   - '''explode bound''': each bounds row expands into
  *     `(bin(HI) - bin(LO) + 1)` rows, unbounded by anything in the
  *     query — an interval spanning months at the default 1-hour bin
  *     inflates ~10^3x. `spark.graft.bandJoin.maxBins` (default 10000)
  *     bounds the factor with a RUNTIME check compiled into the
  *     sequence bound: a row whose interval covers more bins fails
  *     loudly (raise_error naming both knobs) instead of silently
  *     materializing an unbounded explode. Loud-fail is the right
  *     default for an optimizer rewrite: the fix (raise `binMicros`,
  *     which shrinks bins-per-interval proportionally) changes no
  *     semantics, and the alternative — silently keeping the quadratic
  *     nested loop — is the cliff this rule exists to remove.
  *
  * Scope guards (all must hold, else the join is left untouched):
  * inner join; every cross-side conjunct is one of the two band bounds
  * (>=/>, <=/<, either operand order); both bounds constrain the SAME
  * point expression from one side against bounds evaluable on the other
  * side alone; all three are TimestampType. The rewritten join carries
  * an equality conjunct, so the rule is idempotent by construction. */
object BandJoinRule extends Rule[LogicalPlan] with PredicateHelper {

  private val BinConfKey = "spark.graft.bandJoin.binMicros"
  private val DefaultBinMicros = 3600L * 1000000L
  private val MaxBinsConfKey = "spark.graft.bandJoin.maxBins"
  private val DefaultMaxBins = 10000L
  private val SkipBytesConfKey = "spark.graft.bandJoin.broadcastSkipBytes"
  private val DefaultSkipBytes = 65536L

  private def confLong(key: String, dflt: Long): Long =
    try conf.getConfString(key, dflt.toString).toLong
    catch { case _: Exception => dflt }

  /** (point, bound, pointOnLeft) for a `point >= bound`-shaped conjunct
    * (lower) — callers pass the comparison already oriented. */
  private def crossSides(a: Expression, b: Expression,
      left: LogicalPlan, right: LogicalPlan): Option[Boolean] =
    if (canEvaluate(a, left) && canEvaluate(b, right)) Some(true)
    else if (canEvaluate(a, right) && canEvaluate(b, left)) Some(false)
    else None

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case j @ Join(left, right, Inner, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val cross = conjuncts.filter(c =>
        !canEvaluate(c, left) && !canEvaluate(c, right))
      // each comparison is orientation-ambiguous in isolation (`a >= b`
      // is a lower bound on `a` AND an upper bound on `b`), so collect
      // BOTH readings per conjunct and let the pairing disambiguate:
      // the point is the expression that carries a lower AND an upper
      // bound. Any resulting triple is literally implied by the two
      // conjuncts (which all survive in the rewritten condition), so
      // the added bin equality is always a sound necessary condition.
      val lowerCands = cross.flatMap {
        case GreaterThanOrEqual(a, b) => Seq((a, b))
        case GreaterThan(a, b) => Seq((a, b))
        case LessThanOrEqual(a, b) => Seq((b, a))
        case LessThan(a, b) => Seq((b, a))
        case _ => Nil
      }
      val upperCands = cross.flatMap {
        case LessThanOrEqual(a, b) => Seq((a, b))
        case LessThan(a, b) => Seq((a, b))
        case GreaterThanOrEqual(a, b) => Seq((b, a))
        case GreaterThan(a, b) => Seq((b, a))
        case _ => Nil
      }
      val band =
        // exactly the two band conjuncts cross sides — an equality (or
        // a third cross predicate) means Spark already has an equi-join
        // key (or semantics we don't model); leave those joins alone
        if (cross.length != 2 || lowerCands.length != 2) None
        else (for {
          (pLo, lo) <- lowerCands.iterator
          (pHi, hi) <- upperCands.iterator
          if pHi.semanticEquals(pLo)
          if pLo.dataType == TimestampType && lo.dataType == TimestampType &&
            hi.dataType == TimestampType
          ptOnLeft <- crossSides(pLo, lo, left, right).iterator
          if crossSides(pHi, hi, left, right).contains(ptOnLeft)
        } yield (pLo, lo, hi, ptOnLeft)).nextOption()

      // tiny-bounds skip: Spark will broadcast the bounds side and
      // nested-loop it — cheaper than explode + shuffle at this size
      def tinyBounds(boundsPlan: LogicalPlan): Boolean = {
        val bcThreshold = conf.autoBroadcastJoinThreshold
        val skipBytes = math.min(
          confLong(SkipBytesConfKey, DefaultSkipBytes),
          if (bcThreshold >= 0) bcThreshold else Long.MaxValue)
        bcThreshold >= 0 && boundsPlan.stats.sizeInBytes <= skipBytes
      }

      band match {
        case None => j
        case Some((_, _, _, ptOnLeft))
            if tinyBounds(if (ptOnLeft) right else left) => j
        case Some((pt, lo, hi, ptOnLeft)) =>
          val (ptPlan, boundsPlan) =
            if (ptOnLeft) (left, right) else (right, left)
          val w = confLong(BinConfKey, DefaultBinMicros)
          val maxBins = confLong(MaxBinsConfKey, DefaultMaxBins)
          def bin(e: Expression): Expression =
            Floor(Divide(Cast(UnixMicros(e), DoubleType),
              Literal(w.toDouble)))
          val ptAlias = Alias(bin(pt), "_graft_band_bin")()
          val binAttr = AttributeReference("_graft_band_bin_g", LongType,
            nullable = false)()
          val newPtPlan = Project(ptPlan.output :+ ptAlias, ptPlan)
          // explode bound compiled into the sequence's upper end: a row
          // spanning more than maxBins bins raises instead of silently
          // inflating the join input by an unbounded factor
          val binLo = bin(lo)
          val binHi = bin(hi)
          // null-safe: a NULL lo/hi makes LessThan evaluate to null and
          // a bare If would take the else branch, firing raise_error on
          // a row the inner join is about to drop anyway (Sequence(null)
          // explodes to zero rows — the correct outcome). Let null bounds
          // fall through to the null Sequence.
          val guardedHi = If(
            Or(IsNull(binHi), Or(IsNull(binLo),
              LessThan(Subtract(binHi, binLo), Literal(maxBins)))),
            binHi,
            Cast(RaiseError(Literal(
              s"graft band-join rewrite: interval spans >= $maxBins bins " +
                s"of $w micros; raise $BinConfKey or $MaxBinsConfKey")),
              LongType))
          val gen = Generate(
            // Sequence is TimeZoneAwareExpression — an unset timeZoneId
            // leaves the rewritten plan UNRESOLVED and the optimizer's
            // plan-validation rejects the rule's output
            Explode(Sequence(binLo, guardedHi, None,
              Some(conf.sessionLocalTimeZone))),
            unrequiredChildIndex = Nil, outer = false, qualifier = None,
            generatorOutput = Seq(binAttr), child = boundsPlan)
          val eq = EqualTo(ptAlias.toAttribute, binAttr)
          val newCond = (conjuncts :+ (eq: Expression)).reduce(And)
          val newJoin =
            if (ptOnLeft) Join(newPtPlan, gen, Inner, Some(newCond), hint)
            else Join(gen, newPtPlan, Inner, Some(newCond), hint)
          Project(j.output, newJoin)
      }
  }
}
