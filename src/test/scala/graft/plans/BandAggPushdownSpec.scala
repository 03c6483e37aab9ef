package graft.plans

import graft.testkit.SparkSpec
import graft.testkit.Props.forAllN
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen

/** BandAggPushdown: aggregation pushed through band joins — the rewrite
  * must be invisible (same rows, same schema, same attribute ids for
  * parents) while never enumerating the matched pairs; guards must leave
  * every non-matching shape untouched. */
class BandAggPushdownSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Run `f` with BOTH band rules uninstalled (the plain nested-loop
    * reference semantics). */
  private def withoutRules[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(r => (r eq RangeBinJoin) || (r eq BandAggPushdown))
    try f
    finally spark.experimental.extraOptimizations = saved
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  import spark.implicits._

  private def forceOn(): Unit = {
    GraftFunctions.register(spark)
    spark.conf.set(BandAggPushdown.MinRowsPerWindowKey, "0")
  }

  private def probe = (0L until 150L).map(i => (i, i * 7 % 97)).toDF("pid", "px")
  private def build = (0L until 400L).map(i => (i, i * 11 % 103, i % 5)).toDF("bid", "bx", "bv")

  test("count over band join is decomposed: union of bin-table + boundary legs, same rows") {
    forceOn()
    def q = probe.join(build, $"bx" >= $"px" - 10L && $"bx" < $"px")
      .groupBy($"pid").agg(count($"bid").as("n"))
    val plan = physical(q)
    assert(plan.contains("Union"), s"expected decomposed union plan:\n$plan")
    assert(plan.contains("graft_full_bin") && plan.contains("graft_bnd_bin"),
      s"expected both legs:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"))
    val expected = withoutRules(sortedRows(
      probe.join(build, $"bx" >= $"px" - 10L && $"bx" < $"px")
        .groupBy($"pid").agg(count($"bid").as("n"))))
    assert(sortedRows(q) == expected)
  }

  test("sum/min/max decompose too; count(*) and literal counts work") {
    forceOn()
    def agg(df: DataFrame) = df.groupBy($"pid")
      .agg(count(lit(1)).as("n"), sum($"bv").as("s"),
        min($"bx").as("mn"), max($"bx").as("mx"),
        // integral AVG decomposes exactly: long partial sums + one divide
        avg($"bv").as("av"))
    def q = agg(probe.join(build, $"bx" >= $"px" - 7L && $"bx" < $"px"))
    assert(physical(q).contains("graft_full_bin"), physical(q).take(2000))
    val expected = withoutRules(sortedRows(
      agg(probe.join(build, $"bx" >= $"px" - 7L && $"bx" < $"px"))))
    assert(sortedRows(q) == expected)
  }

  test("expressions over grouping keys survive (collapsed trailing select)") {
    forceOn()
    def q = probe.join(build, $"bx" >= $"px" - 9L && $"bx" < $"px")
      .groupBy($"pid", $"px").agg(count($"bid").as("n"))
      .select(($"pid" * 2).as("pid2"), concat(lit("k"), $"px").as("label"), $"n")
    assert(physical(q).contains("graft_full_bin"), physical(q).take(2000))
    val expected = withoutRules(sortedRows(
      probe.join(build, $"bx" >= $"px" - 9L && $"bx" < $"px")
        .groupBy($"pid", $"px").agg(count($"bid").as("n"))
        .select(($"pid" * 2).as("pid2"), concat(lit("k"), $"px").as("label"), $"n")))
    assert(sortedRows(q) == expected)
  }

  test("guards: distinct aggs, y-side agg inputs, avg, extra conjuncts → untouched") {
    forceOn()
    val band = $"bx" >= $"px" - 10L && $"bx" < $"px"
    // countDistinct is not decomposable
    val p1 = physical(probe.join(build, band).groupBy($"pid")
      .agg(countDistinct($"bid").as("n")))
    assert(!p1.contains("graft_full_bin"), p1.take(2000))
    // aggregate input from the y side — NULLABLE, so Catalyst cannot fold
    // count(col) to count(1) first (non-nullable y inputs legitimately
    // fold and then decompose, which is semantics-preserving)
    val probeN = Seq((1L, Option(10L), Option(7L)), (2L, Option(30L), None))
      .toDF("pid", "px", "ptag")
    val p2 = physical(probeN.join(build, band).groupBy($"pid")
      .agg(count($"ptag").as("n")))
    assert(!p2.contains("graft_full_bin"), p2.take(2000))
    // avg over a FLOATING column must not decompose (fp-associativity
    // differs between per-bin partial sums and the original accumulation)
    val buildD = build.withColumn("bd", $"bv".cast("double") / 3.0)
    val p3 = physical(probe.join(buildD, band).groupBy($"pid")
      .agg(avg($"bd").as("a")))
    assert(!p3.contains("graft_full_bin"), p3.take(2000))
    // an extra conjunct beyond the band disables the count decomposition
    val p4 = physical(probe.join(build,
        band && $"bid" =!= $"pid").groupBy($"pid").agg(count($"bid").as("n")))
    assert(!p4.contains("graft_full_bin"), p4.take(2000))
  }

  private def countBand(w: Long) = probe.join(build, $"bx" >= $"px" - w && $"bx" < $"px")
    .groupBy($"pid").agg(count($"bid").as("n"))

  private def defaultCrossover(): Unit = {
    GraftFunctions.register(spark)
    spark.conf.set(BandAggPushdown.MinRowsPerWindowKey,
      BandAggPushdown.DefaultMinRowsPerWindow.toString)
  }

  test("cost crossover: measured density below the threshold keeps the enumeration plan") {
    // the build axis holds ~40 rows per 10-wide window, well below 512
    defaultCrossover()
    val p = physical(countBand(10L))
    assert(!p.contains("graft_full_bin"), p.take(2000))
    assert(p.contains("graft_bin"), "RangeBinJoin must still linearize:\n" + p.take(2000))
  }

  test("leftover band-tuning session confs are ignored: the measured density decides") {
    // confs a removed pre-flight used to write, set by hand: claiming a
    // dense axis they would push the aggregate past the crossover; the
    // rules read only the density they measure on this plan
    defaultCrossover()
    val stale = Seq("spark.graft.rangebin.rowsPerWindow", "spark.graft.rangebin.maxRowsPerWindow")
    stale.foreach(spark.conf.set(_, "1e6"))
    try {
      BandTuning.clearCache()
      val p = physical(countBand(10L))
      assert(!p.contains("graft_full_bin"),
        "a hand-set rowsPerWindow must not override the measured density:\n" + p.take(2000))
      assert(p.contains("graft_bin"), p.take(2000))
      assert(sortedRows(countBand(10L)) == withoutRules(sortedRows(countBand(10L))))
    } finally stale.foreach(spark.conf.unset)
  }

  test("unknown density (sampling off): count decomposes at the default k, long AVG enumerates") {
    forceOn()
    spark.conf.set(BandTuning.AutoSampleKey, "false")
    try {
      BandTuning.clearCache()
      // w = 1000: a measured k (rpw 400 → k = 29 → b = 35) and the default
      // k (64 → b = 16) give different bin widths, so the plan shows which
      val w = 1000L
      val q = countBand(w)
      val widths = q.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
        case Pmod(_, Literal(b: Long, _), _) => b
      })).toSet
      val defaultB = (w + BandAggPushdown.DefaultSubdivisions - 1) / BandAggPushdown.DefaultSubdivisions
      assert(physical(q).contains("graft_full_bin"), physical(q).take(2000))
      assert(widths == Set(defaultB), s"bin widths $widths, expected only $defaultB")
      assert(sortedRows(q) == withoutRules(sortedRows(countBand(w))))
      // AVG over a LONG column needs a measured max-window-rows for its
      // 2⁵³ guard: none without sampling, so the rule keeps enumeration
      def avgQ = probe.join(build, $"bx" >= $"px" - 10L && $"bx" < $"px")
        .groupBy($"pid").agg(avg($"bv").as("a"))
      assert(build.schema("bv").dataType == org.apache.spark.sql.types.LongType)
      assert(!physical(avgQ).contains("graft_full_bin"), physical(avgQ).take(2000))
      assert(sortedRows(avgQ) == withoutRules(sortedRows(avgQ)))
    } finally {
      spark.conf.unset(BandTuning.AutoSampleKey)
      BandTuning.clearCache()
    }
  }

  test("property: random widths/bounds styles — decomposition ≡ nested-loop for count+sum+min+max") {
    forceOn()
    val gen = for {
      w <- Gen.chooseNum(1L, 40L)
      strictLo <- Gen.oneOf(true, false)
      inclHi <- Gen.oneOf(true, false)
      shift <- Gen.chooseNum(-50L, 50L)
    } yield (w, strictLo, inclHi, shift)
    forAllN(gen, n = 12) { case (w, strictLo, inclHi, shift) =>
      val p = probe.select($"pid", ($"px" + shift).as("px"))
      def cond = {
        val lo = if (strictLo) $"bx" > $"px" - w else $"bx" >= $"px" - w
        val hi = if (inclHi) $"bx" <= $"px" else $"bx" < $"px"
        lo && hi
      }
      // every decomposable aggregate kind in one Aggregate — avg expands
      // to a (sum, count) pair, so the legs carry SIX positionally-
      // aligned partials
      def agg(df: DataFrame) = df.groupBy($"pid")
        .agg(count($"bid").as("n"), sum($"bv").as("s"),
          min($"bx").as("mn"), max($"bx").as("mx"), avg($"bv").as("av"))
      def q = agg(p.join(build, cond))
      assert(physical(q).contains("graft_full_bin"),
        s"rule must fire for w=$w strictLo=$strictLo inclHi=$inclHi")
      val expected = withoutRules(sortedRows(agg(p.join(build, cond))))
      assert(sortedRows(q) == expected,
        s"w=$w strictLo=$strictLo inclHi=$inclHi shift=$shift")
    }
  }

  test("property: AVG 2^53 guard — decomposes iff max|v|·maxWindowRows < 2^53, rows always exact") {
    forceOn()
    // deterministic density: bx = i%30 over 120 rows → three width-10
    // bins of 40 rows each → measured maxWindowRows = 2·40 = 80;
    // bv ≈ 2^e, so the guard's product is (2^e + 6) · 80
    val p = (0L until 50L).map(i => (i, 5 + i % 25)).toDF("pid", "px")
    forAllN(Gen.chooseNum(40, 56), n = 8) { e =>
      val base = 1L << e
      val b = (0L until 120L).map(i => (i, i % 30, base + i % 7))
        .toDF("bid", "bx", "bv")
      def q = p.join(b, $"bx" >= $"px" - 10L && $"bx" < $"px")
        .groupBy($"pid").agg(avg($"bv").as("av"), count($"bid").as("n"))
      val shouldFire = (base + 6).toDouble * 80.0 < BandAggPushdown.TwoPow53
      val fired = physical(q).contains("graft_full_bin")
      assert(fired == shouldFire,
        s"e=$e base=$base: guard expected fire=$shouldFire got $fired")
      // either plan must reproduce the nested-loop reference exactly —
      // the fallback IS the original enumeration, so no drift is possible
      val expected = withoutRules(sortedRows(
        p.join(b, $"bx" >= $"px" - 10L && $"bx" < $"px")
          .groupBy($"pid").agg(avg($"bv").as("av"), count($"bid").as("n"))))
      assert(sortedRows(q) == expected, s"e=$e rows drifted")
    }
  }

  test("null axis values: null probe windows and null build bins drop like the inner join") {
    forceOn()
    val p = Seq((1L, Option(10L)), (2L, None), (3L, Option(25L)))
      .toDF("pid", "px")
    val b = Seq((1L, Option(8L)), (2L, Option(9L)), (3L, None), (4L, Option(24L)))
      .toDF("bid", "bx")
    def q = p.join(b, $"bx" >= $"px" - 5L && $"bx" < $"px")
      .groupBy($"pid").agg(count($"bid").as("n"))
    assert(physical(q).contains("graft_full_bin"), physical(q).take(2000))
    val expected = withoutRules(sortedRows(
      p.join(b, $"bx" >= $"px" - 5L && $"bx" < $"px")
        .groupBy($"pid").agg(count($"bid").as("n"))))
    assert(sortedRows(q) == expected)
  }
}
