package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Shared band-predicate pattern matchers for [[RangeBinJoin]] and
  * [[BandAggPushdown]]: recognize `x >= y − w AND x < y` (any conjunct
  * orientation, strict or inclusive bounds) across the two sides of a
  * join, with `x`/`y` deterministic LongType expressions and `w` a
  * positive integral literal. */
private[plans] object BandPatterns {

  /** Band `x ∈ [y−w, y)`-ish with exact bound strictness captured:
    * canonical half-open integer window is [lo, hi) where
    * lo = y − w + (loStrict ? 1 : 0) and hi = y + (hiInclusive ? 1 : 0). */
  final case class Band(x: Expression, y: Expression, width: Long,
                        loStrict: Boolean, hiInclusive: Boolean)

  /** A positive integral literal (int or long). */
  def widthOf(e: Expression): Option[Long] = e match {
    case Literal(v: Long, LongType) if v > 0 => Some(v)
    case Literal(v: Int, IntegerType) if v > 0 => Some(v.toLong)
    case _ => None
  }

  /** Some(true) = expression only references the left side. */
  def sideOf(e: Expression, j: Join): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty || !e.deterministic || e.dataType != LongType) None
    else if (refs.subsetOf(j.left.outputSet)) Some(true)
    else if (refs.subsetOf(j.right.outputSet)) Some(false)
    else None
  }

  /** Like sideOf but type-agnostic (equality keys can be any type). */
  def sideOfAny(e: Expression, j: Join): Option[Boolean] = {
    val refs = e.references
    if (refs.isEmpty) None
    else if (refs.subsetOf(j.left.outputSet)) Some(true)
    else if (refs.subsetOf(j.right.outputSet)) Some(false)
    else None
  }

  /** Lower conjunct: x >= y − w (loStrict=false) or x > y − w (true), in
    * any orientation. Returns (x, y, w, loStrict). */
  def asLower(c: Expression, j: Join): Option[(Expression, Expression, Long, Boolean)] = {
    def split(x: Expression, ymw: Expression, strict: Boolean)
        : Option[(Expression, Expression, Long, Boolean)] =
      ymw match {
        case Subtract(y, wl, _) =>
          for {
            w <- widthOf(wl)
            sx <- sideOf(x, j); sy <- sideOf(y, j)
            if sx != sy
          } yield (x, y, w, strict)
        case _ => None
      }
    c match {
      case GreaterThanOrEqual(x, ymw) => split(x, ymw, strict = false)
      case GreaterThan(x, ymw) => split(x, ymw, strict = true)
      case LessThanOrEqual(ymw, x) => split(x, ymw, strict = false)
      case LessThan(ymw, x) => split(x, ymw, strict = true)
      case _ => None
    }
  }

  /** Upper conjunct for the SAME (x, y): Some(false) for x < y,
    * Some(true) for x <= y, None if not an upper bound on this pair. */
  def asUpper(c: Expression, x: Expression, y: Expression): Option[Boolean] = c match {
    case LessThan(a, b) if a.semanticEquals(x) && b.semanticEquals(y) => Some(false)
    case LessThanOrEqual(a, b) if a.semanticEquals(x) && b.semanticEquals(y) => Some(true)
    case GreaterThan(b, a) if a.semanticEquals(x) && b.semanticEquals(y) => Some(false)
    case GreaterThanOrEqual(b, a) if a.semanticEquals(x) && b.semanticEquals(y) => Some(true)
    case _ => None
  }

  /** A cross-side equality conjunct means Spark already has an equi-key. */
  def hasEquiKey(conjuncts: Seq[Expression], j: Join): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (for (sa <- sideOfAny(a, j); sb <- sideOfAny(b, j)) yield sa != sb).getOrElse(false)
      case EqualNullSafe(a, b) =>
        (for (sa <- sideOfAny(a, j); sb <- sideOfAny(b, j)) yield sa != sb).getOrElse(false)
      case _ => false
    }

  /** Exact floor(e / w) for any sign: (e − pmod(e, w)) div w. */
  def floorDiv(e: Expression, w: Long): Expression = {
    val wl = Literal(w, LongType)
    IntegralDivide(Subtract(e, Pmod(e, wl)), wl)
  }
}

/** Optimizer rule: push decomposable aggregation THROUGH a band join.
  *
  * [[RangeBinJoin]] gives the naive band join a linear SHUFFLE, but the
  * join still enumerates every matched pair — and on a densifying axis the
  * matched-pair count grows quadratically with scale (rows × rows-per-
  * window). Measured on the 10× events replica: 2.75 M → 275 M exact
  * pairs at 10× rows, so candidate-bin tuning alone cannot hold the
  * runtime (the r5 plan's candidate slop was already ≤ 1.2×; the pairs
  * themselves were the cost). When the band join only feeds a
  * decomposable aggregate — `COUNT`/`SUM`/`MIN`/`MAX` of probe-side (x)
  * columns grouped by build-side (y) columns, the i02 "how many events in
  * the hour before each error" shape — the pairs never need to exist:
  *
  *   sub-bin the x axis at width b = ceil(w/k); for each y row the window
  *   [lo, hi) covers some bins FULLY — those contribute their per-bin
  *   pre-aggregates (k+1 lookup rows per y row against a bin-count table
  *   of ≤ axis-span/b rows) — and at most TWO boundary bins row-level,
  *   with the exact band predicate (≈ 2·w/k matched x rows per y row).
  *
  * Work drops from O(|pairs|) to O(|Y|·k + |Y|·rowsPerWindow/k + |X|),
  * minimized at k ≈ √(2·rowsPerWindow) — measured 275 M → ~12 M processed
  * rows on the 10× replica. Both legs are equi-joins on the bin key; the
  * bin-count build side is bounded by the axis span so it broadcasts.
  *
  * Rewrite (x side X, y side Y, window [lo, hi), bin width b):
  *
  *   Aggregate(g⊆Y, aggs(X), Join(X, Y, band))
  *     ⇒ Aggregate(g, merge(aggs),
  *         Union(
  *           Project(g, partials,
  *             Join(Generate(explode(fullBins(y)), Y),
  *                  Aggregate(bin(x), partialAggs, X), fullBin = bin)),
  *           Project(g, rowPartials,
  *             Join(Generate(explode(boundaryBins(y)), Y),
  *                  Project(X, bin(x)),
  *                  bBin = bin ∧ x ≥ lo ∧ x < hi ∧ bin ∉ fullRange))))
  *
  * where merge(COUNT) = SUM of partial counts, merge(SUM|MIN|MAX) =
  * SUM|MIN|MAX of partials. Every matched x row lands in exactly one full
  * OR boundary bin (the boundary legs exclude the full range), so no
  * dedup is needed and the result is exactly the original aggregate.
  *
  * Guard rails (deliberately narrow — rewrite only what is provably safe):
  *  - inner/cross join whose condition is EXACTLY the two band conjuncts;
  *  - aggregates: non-distinct, unfiltered COUNT / SUM / MIN / MAX whose
  *    inputs reference only the x side (or are literals); SUM over
  *    decimals is excluded (re-summing partials widens the result type);
  *  - grouping expressions reference only the y side;
  *  - both join subtrees are deterministic (each is evaluated twice —
  *    once per leg);
  *  - output attribute ids are preserved, so parent plans are untouched.
  *
  * k comes from the MEASURED size-biased rows-per-window (Σc²/Σc over
  * w-wide bins: the expected window population seen by a random probe,
  * robust to clustering where a uniform-density estimate undercounts) —
  * via k = √(2·rpw) clamped to [[MinSubdivisions]]..[[MaxSubdivisions]].
  * The measurement is taken LAZILY at planning time on the join's own x
  * side by [[BandTuning.density]], the only source of band tuning — the
  * naive band join tunes itself. With sampling disabled (density
  * unknown), [[DefaultSubdivisions]] (cost within 2× of optimal for
  * rpw ≲ 10⁵).
  *
  * Registered BEFORE [[RangeBinJoin]] in the same batch: when this rule
  * fires, the boundary join carries a bin equi-key, so RangeBinJoin
  * skips it (idempotent composition); when it does not, RangeBinJoin
  * still linearizes the plain pair-enumerating join.
  */
object BandAggPushdown extends Rule[LogicalPlan] with PredicateHelper {
  import BandPatterns._

  val DefaultSubdivisions = 64
  val MinSubdivisions = 8
  val MaxSubdivisions = 1024

  /** Largest double-exact integer magnitude: window sums at or above this
    * make the original AVG's double accumulation lossy, so the rewrite's
    * exact long sums could produce a DIFFERENT double — the AVG guard in
    * rewriteMatch rejects the pushdown there. */
  val TwoPow53 = 9007199254740992.0

  /** Cost crossover: below this MEASURED rows-per-window the plain
    * pair-enumerating band join (RangeBinJoin's linear shuffle) is
    * cheaper than the decomposition's extra stages (two scans per side +
    * the bin-table shuffle) — measured at the 10× events replica: rpw 139
    * → enumeration 0.6 s vs decomposition 1.1 s; rpw 1399 → enumeration
    * 4.1 s vs decomposition 2.3 s. When rows-per-window is UNKNOWN
    * (sampling off) the rule decomposes: at 100 TB the quadratic-pair
    * risk dominates the fixed overhead. */
  val MinRowsPerWindowKey = "spark.graft.rangebin.aggPushdownMinRpw"
  val DefaultMinRowsPerWindow = 512.0

  def chooseSubdivisions(rowsPerWindow: Double): Int =
    math.min(MaxSubdivisions.toLong, math.max(MinSubdivisions.toLong,
      math.ceil(math.sqrt(2.0 * math.max(rowsPerWindow, 0.0))).toLong)).toInt

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case agg @ Aggregate(_, _, _, _) if agg.resolved =>
      rewriteMatch(agg).getOrElse(agg)
  }

  /** Inline a trivial Project (attrs + deterministic aliases) into the
    * aggregate's expressions so the Aggregate sits directly on the Join. */
  private def inlined(agg: Aggregate): Option[(Seq[Expression], Seq[NamedExpression], Join)] =
    agg.child match {
      case j: Join => Some((agg.groupingExpressions, agg.aggregateExpressions, j))
      case Project(projList, j: Join) if projList.forall(_.deterministic) =>
        val sub = AttributeMap(projList.collect { case a: Alias => (a.toAttribute, a.child) })
        def substitute(e: Expression): Expression = e.transformUp {
          case ar: AttributeReference => sub.getOrElse(ar, ar)
        }
        // keep the result NAMED: a top-level attr that maps to an aliased
        // expr is re-wrapped under the original name + exprId
        def substituteNamed(ne: NamedExpression): NamedExpression = ne match {
          case ar: AttributeReference if sub.contains(ar) =>
            Alias(sub(ar), ar.name)(exprId = ar.exprId)
          case a: Alias => a.withNewChildren(Seq(substitute(a.child))).asInstanceOf[Alias]
          case other => other
        }
        // the substituted expressions must resolve against the join alone
        val g2 = agg.groupingExpressions.map(substitute)
        val a2 = agg.aggregateExpressions.map(substituteNamed)
        if ((g2 ++ a2).forall(_.references.subsetOf(j.outputSet))) Some((g2, a2, j))
        else None
      case _ => None
    }

  private def rewriteMatch(agg: Aggregate): Option[LogicalPlan] = {
    val (grouping, aggExprs, j) = inlined(agg).getOrElse(return None)
    if (!(j.joinType == Inner || j.joinType == Cross)) return None
    val cond = j.condition.getOrElse(return None)
    val conjuncts = splitConjunctivePredicates(cond)
    // condition must be EXACTLY one lower + one upper band conjunct
    if (conjuncts.length != 2) return None
    val lower = conjuncts.iterator.flatMap(asLower(_, j).iterator).toSeq.headOption
      .getOrElse(return None)
    val (x, y, w, loStrict) = lower
    val hiInclusive = conjuncts.filterNot(asLower(_, j).contains(lower))
      .flatMap(asUpper(_, x, y)).headOption.getOrElse(return None)
    val band = Band(x, y, w, loStrict, hiInclusive)

    val xOnLeft = band.x.references.subsetOf(j.left.outputSet)
    val (xSide, ySide) = if (xOnLeft) (j.left, j.right) else (j.right, j.left)

    // grouping on y only; every output either echoes a grouping expr or is
    // a decomposable aggregate over x-side inputs
    if (grouping.exists(g => !g.deterministic || !g.references.subsetOf(ySide.outputSet)))
      return None

    val outs: Seq[Out] = aggExprs.map {
      case ne if ne.collectFirst { case _: AggregateExpression => () }.isEmpty =>
        // any deterministic expression OVER the grouping exprs (Spark
        // collapses a trailing select into the Aggregate, e.g.
        // date_format(err_ts, ...) over grouping expr err_ts): masking
        // every grouping-expr occurrence must leave no free references
        val masked = ne.transformDown {
          case sub if grouping.exists(_.semanticEquals(sub)) =>
            Literal.default(sub.dataType)
        }
        if (!ne.deterministic || masked.references.nonEmpty) return None
        GroupOut(ne)
      case a @ Alias(AggregateExpression(fn, _, false, None, _), _) =>
        val okFn = fn match {
          case _: Count => true
          case s: Sum => !s.child.dataType.isInstanceOf[DecimalType]
          case _: Min | _: Max => true
          // AVG decomposes as (sum, count) pairs; restricted to INTEGRAL
          // children so both the original plan (double accumulation of
          // exact integers) and the decomposition (exact long partial
          // sums, one final divide) produce identical doubles
          case a: Average => Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(a.child.dataType)
          case _ => false
        }
        if (!okFn || !fn.deterministic ||
            !fn.references.subsetOf(xSide.outputSet)) return None
        AggOut(a, fn)
      case _ => return None
    }
    if (!outs.exists(_.isInstanceOf[AggOut])) return None
    // each subtree is evaluated twice (one per leg): require determinism
    def planDeterministic(p: LogicalPlan): Boolean =
      p.find(_.expressions.exists(!_.deterministic)).isEmpty
    if (!planDeterministic(xSide) || !planDeterministic(ySide)) return None

    // measured density of THIS x side, sampled lazily at planning time
    // (BandTuning): the crossover, k and the AVG guard below all read a
    // fresh measurement of the plan being rewritten
    val density = BandTuning.density(xSide, band.x, band.width)
    val rpw = density.map(_.rowsPerWindow)
    val maxWin = density.map(_.maxWindowRows)
    // cost crossover on the measured density (see MinRowsPerWindowKey);
    // UNKNOWN density still decomposes — at 100 TB the quadratic-pair
    // risk dominates the decomposition's fixed overhead
    val minRpw = conf.getConfString(MinRowsPerWindowKey,
      DefaultMinRowsPerWindow.toString).toDouble
    if (rpw.exists(_ < minRpw)) return None

    // AVG exactness guard (r7, VERDICT r6 task 7): the decomposition's
    // exact long partial sums and the original plan's double accumulation
    // are bit-identical ONLY while every window's sum stays within 2⁵³.
    // Enforce max|value| × maxWindowRows < 2⁵³ — the value bound static by
    // type for byte/short/int, MEASURED (max/min probe over the x side)
    // for long, whose range no static bound covers; either bound
    // unavailable → fall back to enumeration rather than silently drift.
    val avgChildren = outs.collect { case AggOut(_, a: Average) => a.child }
    if (avgChildren.nonEmpty) {
      val safe = maxWin.exists(mw => avgChildren.forall { ch =>
        val maxAbs: Option[Double] = ch.dataType match {
          case ByteType => Some(128.0)              // 2⁷
          case ShortType => Some(32768.0)           // 2¹⁵
          case IntegerType => Some(2147483648.0)    // 2³¹
          case LongType => BandTuning.maxAbs(xSide, ch)
          case _ => None
        }
        maxAbs.exists(ma => ma * mw < TwoPow53)
      })
      if (!safe) return None
    }

    Some(rewrite(grouping, outs, band, xSide, ySide, rpw))
  }

  private sealed trait Out
  private final case class GroupOut(ne: NamedExpression) extends Out
  private final case class AggOut(ne: NamedExpression, fn: AggregateFunction) extends Out

  private def rewrite(grouping: Seq[Expression], outs: Seq[Out],
                      band: Band, xSide: LogicalPlan, ySide: LogicalPlan,
                      rpw: Option[Double]): LogicalPlan = {
    val w = band.width
    val k = rpw.map(chooseSubdivisions).getOrElse(DefaultSubdivisions)
    val b = math.max(1L, (w + k - 1) / k)
    def lit(v: Long) = Literal(v, LongType)

    // canonical half-open integer window [lo, hi)
    val lo0 = Subtract(band.y, lit(w))
    val lo = if (band.loStrict) Add(lo0, lit(1L)) else lo0
    val hi = if (band.hiInclusive) Add(band.y, lit(1L)) else band.y
    // full bins: [ceilDiv(lo,b), floorDiv(hi,b) − 1]; ceilDiv via
    // floorDiv(lo + b − 1, b) (exact for any sign with floorDiv)
    val flo = floorDiv(Add(lo, lit(b - 1)), b)
    val fhi = Subtract(floorDiv(hi, b), lit(1L))
    val binX = floorDiv(band.x, b)
    val aggFns = outs.collect { case AggOut(_, fn) => fn }
    def cexpr(fn: AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false)
    /** Per original aggregate: the per-bin partial functions (full leg),
      * the per-row partial expressions (boundary leg, positionally
      * aligned), and the merge over the union's partial attrs. */
    final case class Decomp(partialFns: Seq[AggregateFunction],
                            rowExprs: Seq[Expression],
                            merge: Seq[Attribute] => Expression)
    def nonNullOf(children: Seq[Expression]): Expression =
      children.map(IsNotNull(_): Expression).reduceOption(And).getOrElse(Literal.TrueLiteral)
    def decompose(fn: AggregateFunction): Decomp = fn match {
      case c: Count => Decomp(Seq(c),
        Seq(If(nonNullOf(c.children), lit(1L), lit(0L))),
        ps => cexpr(Sum(ps.head)))
      case sm: Sum => Decomp(Seq(sm), Seq(Cast(sm.child, sm.dataType)),
        ps => cexpr(Sum(ps.head)))
      case m: Min => Decomp(Seq(m), Seq(m.child), ps => cexpr(Min(ps.head)))
      case m: Max => Decomp(Seq(m), Seq(m.child), ps => cexpr(Max(ps.head)))
      case a: Average =>
        val sumFn = Sum(a.child)
        Decomp(Seq(sumFn, Count(Seq(a.child))),
          Seq(Cast(a.child, sumFn.dataType),
            If(IsNotNull(a.child), lit(1L), lit(0L))),
          ps => Divide(Cast(cexpr(Sum(ps(0))), DoubleType),
            Cast(cexpr(Sum(ps(1))), DoubleType)))
      case other => throw new IllegalStateException(s"unguarded aggregate $other")
    }
    val decomps = aggFns.map(decompose)

    // ---- full-bin leg: y × explode(fullBins) ⨝ per-bin pre-aggregates
    // Sequence is TimeZoneAwareExpression: resolution requires a zone id
    // even for pure integer sequences
    val fullBins = If(LessThanOrEqual(flo, fhi),
      new Sequence(flo, fhi, Some(lit(1L)), Some(conf.sessionLocalTimeZone)),
      Literal.create(Array.empty[Long], ArrayType(LongType, containsNull = false)))
    val fullBinAttr = AttributeReference("graft_full_bin", LongType, nullable = true)()
    val yFull = Generate(Explode(fullBins), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(fullBinAttr), child = ySide)
    val binAlias = Alias(binX, "graft_bin")()
    val partials = decomps.flatMap(_.partialFns).zipWithIndex.map { case (fn, i) =>
      Alias(AggregateExpression(fn, Complete, isDistinct = false), s"graft_p$i")()
    }
    val binnedX = Aggregate(Seq(binX), binAlias +: partials, xSide)
    // NEVER broadcast the exploded y side: its row count is |Y|·k but
    // stats still see |Y| (Generate fan-out is invisible to size
    // estimation — AQE measured-broadcast of the 10× replica's exploded
    // errors cost 10 s); the pre-aggregated bin table is the natural
    // build side and stays eligible
    val noBcast = JoinHint(Some(HintInfo(strategy = Some(NO_BROADCAST_HASH))), None)
    val joinFull = Join(yFull, binnedX, Inner,
      Some(EqualTo(fullBinAttr, binAlias.toAttribute)), noBcast)
    val gkFull = grouping.zipWithIndex.map { case (g, i) => Alias(g, s"graft_g$i")() }
    val projFull = Project(gkFull ++ partials.map(p => Alias(p.toAttribute, p.name)()), joinFull)

    // ---- boundary leg: y × explode(distinct boundary bins) ⨝ raw x rows
    val boundaryBins = ArrayDistinct(CreateArray(Seq(
      floorDiv(lo, b), floorDiv(Subtract(hi, lit(1L)), b))))
    val bBinAttr = AttributeReference("graft_bnd_bin", LongType, nullable = true)()
    val yBnd = Generate(Explode(boundaryBins), unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(bBinAttr), child = ySide)
    val binXAlias = Alias(binX, "graft_bin_x")()
    val xBnd = Project(xSide.output :+ binXAlias, xSide)
    val outsideFull = Or(LessThan(binXAlias.toAttribute, flo),
      GreaterThan(binXAlias.toAttribute, fhi))
    val bndCond = And(EqualTo(bBinAttr, binXAlias.toAttribute),
      And(And(GreaterThanOrEqual(band.x, lo), LessThan(band.x, hi)), outsideFull))
    val joinBnd = Join(yBnd, xBnd, Inner, Some(bndCond), noBcast)
    val gkBnd = grouping.zipWithIndex.map { case (g, i) => Alias(g, s"graft_g$i")() }
    val rowPartials = decomps.flatMap(_.rowExprs).zipWithIndex.map { case (e, i) =>
      Alias(e, s"graft_p$i")()
    }
    val projBnd = Project(gkBnd ++ rowPartials, joinBnd)

    // ---- merge: group by the echoed keys, re-aggregate the partials
    val union = Union(Seq(projFull, projBnd))
    // positional: union output = gk_0..gk_{n−1}, p_0..p_{m−1} (first child's attrs)
    val unionOut = union.output
    val nGroup = grouping.length
    val gkAttrs = unionOut.take(nGroup)
    val pAttrs = unionOut.drop(nGroup)
    var pOffset = 0
    var aggIdx = -1
    val finalExprs: Seq[NamedExpression] = outs.map {
      case GroupOut(ne) =>
        // re-express the output over the echoed group-key attrs: every
        // grouping-expr occurrence becomes its gk attr (the masked-refs
        // guard in rewriteMatch proved nothing else is referenced)
        val child = ne match { case a: Alias => a.child; case other => other }
        val over = child.transformDown {
          case sub =>
            val i = grouping.indexWhere(_.semanticEquals(sub))
            if (i >= 0) gkAttrs(i) else sub
        }
        Alias(over, ne.name)(exprId = ne.exprId)
      case AggOut(ne, _) =>
        aggIdx += 1
        val dec = decomps(aggIdx)
        val ps = pAttrs.slice(pOffset, pOffset + dec.partialFns.length)
        pOffset += dec.partialFns.length
        Alias(dec.merge(ps), ne.name)(exprId = ne.exprId)
    }
    Aggregate(gkAttrs, finalExprs, union)
  }
}
