package graft.plans

import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import org.apache.spark.sql.{GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical._

/** Lazy, planning-time band-axis sampling: the ONE source of the band-join
  * tuning parameters. [[RangeBinJoin]] takes its sub-bin count from it,
  * [[BandAggPushdown]] its cost crossover, its sub-bin count and the AVG
  * exactness guard's window bound — so a user-written naive band join gets
  * measured sub-binning and the decomposition crossover without any
  * pre-flight call, and every parameter is a measurement of the very plan
  * the rule rewrites. There are no per-axis tuning session confs.
  *
  * On first sight of a band predicate per (x-side plan, axis expression,
  * window width) in a session, [[RangeBinJoin]] / [[BandAggPushdown]] call
  * [[density]], which runs ONE nested aggregate over the x side:
  * per-w-bin counts → (Σc², Σc, max c). From it:
  *
  *  - `rowsPerWindow` = Σc²/Σc — the size-biased mean window population
  *    (the window a uniformly-random probe sees; robust to clustering);
  *  - `maxWindowRows` = 2·max(c) — a sound upper bound on ANY window's
  *    population (a width-w window intersects at most two w-wide bins),
  *    which [[BandAggPushdown]]'s AVG exactness guard needs (a window
  *    SUM must stay below 2⁵³ for the decomposed long-sum average to be
  *    bit-identical to the original double accumulation).
  *
  * Results are cached per (session, canonicalized plan, canonicalized
  * expression, width), so fixed-point optimizer iterations and repeated
  * runs of the same query sample once.
  *
  * The nested sample executes a real (tiny-output) Spark job from inside
  * an optimizer rule; [[inSample]] makes that re-entrancy-safe: while a
  * sample runs, further sampling requests on the same thread return None
  * and the rules use their static defaults. Disable globally with
  * `spark.graft.rangebin.autoSample=false`.
  */
object BandTuning {

  /** Kill-switch for lazy planning-time sampling (default on). */
  val AutoSampleKey = "spark.graft.rangebin.autoSample"

  /** Stable per-session id via WEAK keys: a closed session's entries
    * become unreachable with it (no eviction hook needed), and unlike
    * identityHashCode a minted UUID can never alias a dead session's
    * cache rows into a new session that reused its hash. */
  private val sessionIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())
  private def sessionId(s: SparkSession): String =
    sessionIds.computeIfAbsent(s, _ => java.util.UUID.randomUUID().toString)

  /** One axis sample: size-biased mean + sound max window population. */
  final case class Density(rowsPerWindow: Double, maxWindowRows: Double)

  /** Structural cache key (r8, advisor): the CANONICALIZED plan and
    * expression objects themselves, compared by Catalyst's case-class
    * structural equality (the `sameResult` contract) — not their hash
    * values, whose collision would silently return another axis's
    * measured density into a correctness-relevant path (the AVG 2⁵³
    * guard). */
  private final case class Key(sessionId: String, plan: LogicalPlan,
                               e: Expression, tag: String)

  /** Bounded (r9, advisor): the caches retain canonicalized plan trees, so
    * a long-lived multi-session process must not accumulate them forever —
    * past [[MaxCacheEntries]] the cache clears and axes resample (a few
    * tiny aggregate jobs, never a correctness event). Session identity is
    * the session UUID, not identityHashCode — a GC'd session's hash can be
    * reused by a new one, aliasing dead entries into it. */
  private val MaxCacheEntries = 4096
  private val densityCache = new ConcurrentHashMap[Key, Option[Density]]()
  private val maxAbsCache = new ConcurrentHashMap[Key, Option[Double]]()

  private val inSample = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** Test hook: forget all samples (a fresh session UUID also isolates). */
  def clearCache(): Unit = {
    densityCache.clear(); maxAbsCache.clear()
  }

  private def cacheKey(s: SparkSession, plan: LogicalPlan, e: Expression,
                       tag: String): Key =
    Key(sessionId(s), plan.canonicalized, e.canonicalized, tag)

  /** Run `body` once per cache key with the re-entrancy latch held;
    * None when sampling is disabled, re-entrant, or fails. The sampling
    * job runs OUTSIDE any map lock (r8, advisor: a blocking Spark job
    * inside `computeIfAbsent` stalls unrelated planner threads whose keys
    * hash to the same bin): racing planners may rarely sample the same
    * axis twice; first write wins and both see one consistent value. */
  private def sampled[A](cache: ConcurrentHashMap[Key, Option[A]],
                         plan: LogicalPlan, e: Expression, tag: String)
                        (body: SparkSession => Option[A]): Option[A] = {
    if (inSample.get()) return None
    val s = SparkSession.getActiveSession.getOrElse(return None)
    if (!java.lang.Boolean.parseBoolean(
        s.conf.get(AutoSampleKey, "true"))) return None
    val key = cacheKey(s, plan, e, tag)
    val cached = cache.get(key)
    if (cached != null) return cached
    inSample.set(java.lang.Boolean.TRUE)
    val v =
      try body(s)
      catch { case NonFatal(_) => None }
      finally inSample.set(java.lang.Boolean.FALSE)
    if (cache.size > MaxCacheEntries) cache.clear()
    val prev = cache.putIfAbsent(key, v)
    if (prev != null) prev else v
  }

  private def agg(fn: AggregateFunction, name: String): NamedExpression =
    Alias(AggregateExpression(fn, Complete, isDistinct = false), name)()

  /** Measure the x-axis density under w-wide bins (see class doc). */
  def density(xSide: LogicalPlan, x: Expression, w: Long): Option[Density] =
    sampled(densityCache, xSide, x, s"w=$w") { s =>
      val bin = BandPatterns.floorDiv(x, w)
      val c = agg(Count(Seq(Literal(1))), "graft_c")
      val perBin = Aggregate(Seq(bin), Seq(c), xSide)
      val ca = c.toAttribute
      val stats = Aggregate(Nil, Seq(
        agg(Sum(Multiply(ca, ca)), "graft_s2"),
        agg(Sum(ca), "graft_s1"),
        agg(Max(ca), "graft_mx")), perBin)
      val row = GraftSqlBridge.ofRows(s, stats).head()
      if (row.isNullAt(1) || row.getLong(1) == 0L) Some(Density(0.0, 0.0))
      else Some(Density(
        row.getLong(0).toDouble / row.getLong(1),
        2.0 * row.getLong(2)))
    }

  /** Max |e| over `side` — the value-magnitude half of the AVG 2⁵³ guard
    * for LongType children, whose range no static type bound covers.
    * Empty input → 0 (no window can sum past anything). */
  def maxAbs(side: LogicalPlan, e: Expression): Option[Double] =
    sampled(maxAbsCache, side, e, "maxabs") { s =>
      val stats = Aggregate(Nil,
        Seq(agg(Max(e), "graft_mx"), agg(Min(e), "graft_mn")), side)
      val row = GraftSqlBridge.ofRows(s, stats).head()
      def at(i: Int): Double =
        if (row.isNullAt(i)) 0.0 else math.abs(row.getLong(i).toDouble)
      Some(math.max(at(0), at(1)))
    }
}
