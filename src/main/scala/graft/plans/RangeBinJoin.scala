package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: rewrite band-predicate joins into binned equi-joins.
  *
  * A join whose only cross-side predicate is a band
  * `x >= y - w AND x < y` (with `x` and `y` long-typed expressions from
  * opposite sides and `w` a positive literal) has no equi-key, so Spark
  * plans it as BroadcastNestedLoopJoin — O(|L|·|R|) comparisons, the
  * classic scale-killer for "events within the preceding window" interval
  * joins. The i01 query avoids it by hand: bin the time axis at the window
  * width so membership in the band implies the bins match or are adjacent,
  * then join on the bin as a plain equi-key with the exact band as a
  * post-filter (`RelationalQueries.i01IntervalJoin`).
  *
  * This rule performs that rewrite automatically, so the NAIVE formulation
  * — the one every user writes first — gets the scale-correct plan:
  *
  *   x ∈ [y−w, y)  ⟹  floor(x/w) ∈ { floor(y/w)−1, floor(y/w) }
  *
  *   Join(L, R, x >= y − w && x < y && rest)
  *     ⇒ Project(originalOutput,
  *         Join(Project(L* + bin(x)),
  *              Generate(explode([bin(y)−1, bin(y)]), R*),
  *              binX = binY && <original condition>))
  *
  * Every matching pair lands in exactly one of the two generated bins
  * (consecutive integers are distinct), so no dedup pass is needed; the
  * original band conjuncts stay in the join condition as the exact filter.
  * The equality turns the plan into a shuffled hash/sort-merge join keyed
  * on the bin — linear shuffle, no quadratic probe.
  *
  * Guard rails (deliberately narrow — rewrite only what is provably safe):
  *  - inner/cross joins only (outer semantics would need the generated
  *    duplicates collapsed before null-extension);
  *  - fires only when the join has NO cross-side equality conjunct: with an
  *    equi-key present Spark already hash-joins and the band is a cheap
  *    post-filter; this also makes the rule idempotent (the rewrite itself
  *    introduces an equality, so the output never re-matches);
  *  - `x`/`y` must be deterministic LongType expressions each referencing
  *    exactly one side; `w` a foldable positive integral literal;
  *  - bin arithmetic is floor division built from `pmod` so negative
  *    axis values bin correctly (integral `div` truncates toward zero).
  *
  * Registered via [[GraftExtensions]] (`spark.sql.extensions`) and
  * [[GraftFunctions.register]] (`spark.experimental.extraOptimizations`
  * for sessions built without extensions, e.g. the driver's Verify/Bench).
  * Reference capability anchor: the fetch-path range lookups this
  * generalizes are `core/.../fetch/RemoteStorageManager` ranged reads; the
  * analytic shape is SURVEY §2.6 "interval/range join".
  */
object RangeBinJoin extends Rule[LogicalPlan] with PredicateHelper {

  /** Sub-binning: bins of width ceil(w/k) instead of w. At high axis
    * density, w-wide bins admit ~2× the true pairs as candidates (the
    * adjacent-bin slop spans a full extra window); k sub-bins shrink the
    * slop to ~w/k at the cost of exploding the y side to ceil(w/b)+1 rows
    * — cheap when y is the SMALLER side (the band-probe norm). The r4 10×
    * scale probe showed fixed-width bins degrading as values densify
    * (ratio 6.7× at 10×), so k follows the x side's measured density
    * ([[BandTuning.density]]): k = ceil(rowsPerWindow / TargetRowsPerBin),
    * clamped to [1, 64]. The y side explodes to just k+1 rows, so
    * sub-binning is nearly free; candidate slop over the true band pairs
    * is (1 + 1/k)/2 of the k=1 plan, so k only needs to be modestly above 1
    * to reclaim most of it — 256 engages once a window holds more than a
    * few bin-loads while leaving sparse axes (and the sf0.1 bench) on the
    * classic plan. */
  val TargetRowsPerBin = 256L

  def chooseSubdivisions(rowsPerWindow: Double): Int =
    math.min(64L, math.max(1L, math.ceil(rowsPerWindow / TargetRowsPerBin).toLong)).toInt

  /** Pattern matchers shared with [[BandAggPushdown]] live in
    * [[BandPatterns]]; this rule only needs the (x, y, w) triple. */
  private type Band = BandPatterns.Band

  override def apply(plan: LogicalPlan): LogicalPlan = binBands(plan, None)

  /** Rewrite every band join of `plan` at a FIXED sub-bin count — the entry
    * tests use to reach any k without shaping an axis of that density. */
  private[plans] def withSubdivisions(plan: LogicalPlan, k: Int): LogicalPlan =
    binBands(plan, Some(k))

  private def binBands(plan: LogicalPlan, fixedK: Option[Int]): LogicalPlan =
    plan.transformUp {
      case j @ Join(_, _, Inner | Cross, Some(cond), _) if j.resolved =>
        findBand(j, cond).map(rewrite(j, _, fixedK)).getOrElse(j)
    }

  private def findBand(j: Join, cond: Expression): Option[Band] = {
    val conjuncts = splitConjunctivePredicates(cond)
    if (BandPatterns.hasEquiKey(conjuncts, j)) return None
    // already rewritten plans carry the bin equality and are excluded above
    conjuncts.iterator.flatMap(BandPatterns.asLower(_, j)).collectFirst {
      case (x, y, w, loStrict)
          if conjuncts.exists(BandPatterns.asUpper(_, x, y).isDefined) =>
        BandPatterns.Band(x, y, w, loStrict,
          hiInclusive = conjuncts.flatMap(BandPatterns.asUpper(_, x, y)).headOption.getOrElse(false))
    }
  }

  private def floorDiv(e: Expression, w: Long): Expression =
    BandPatterns.floorDiv(e, w)

  private def rewrite(j: Join, band: Band, fixedK: Option[Int]): LogicalPlan = {
    val xOnLeft = band.x.references.subsetOf(j.left.outputSet)
    val (xSide, ySide) = if (xOnLeft) (j.left, j.right) else (j.right, j.left)

    // bin width b = ceil(w/k), k from the x side's density sampled lazily
    // at planning time (BandTuning); no session and sampling off → k=1,
    // the classic two-bin plan
    val k = fixedK.getOrElse(BandTuning.density(xSide, band.x, band.width)
      .map(d => chooseSubdivisions(d.rowsPerWindow)).getOrElse(1))
    val b = math.max(1L, (band.width + k - 1) / k)
    // x ∈ [y−w, y) ⟹ floor(x/b) ∈ [floor((y−w)/b), floor(y/b)] ⊇-safely
    // [floor(y/b)−m, floor(y/b)] with m = ceil(w/b); each matching pair
    // still lands in exactly ONE x-bin, so no dedup is needed
    val m = ((band.width + b - 1) / b).toInt

    // x side: one bin column
    val binX = Alias(floorDiv(band.x, b), "graft_bin")()
    val newXSide = Project(xSide.output :+ binX, xSide)

    // y side: explode to the m+1 bins a matching x can fall in
    val binY = floorDiv(band.y, b)
    val gen = Explode(CreateArray(
      (m to 0 by -1).map(d => Subtract(binY, Literal(d.toLong, LongType)): Expression)))
    // nullable: y itself may be nullable (null axis → null bin → the null
    // band predicate already excludes the row under inner-join semantics)
    val binYOut = AttributeReference("graft_bin_y", LongType, nullable = true)()
    val newYSide = Generate(gen, unrequiredChildIndex = Nil, outer = false,
      qualifier = None, generatorOutput = Seq(binYOut), child = ySide)

    val (newLeft, newRight) =
      if (xOnLeft) (newXSide, newYSide) else (newYSide, newXSide)
    val newCond = And(EqualTo(binX.toAttribute, binYOut), j.condition.get)
    val joined = j.copy(left = newLeft, right = newRight, condition = Some(newCond))
    Project(j.output, joined)
  }
}
