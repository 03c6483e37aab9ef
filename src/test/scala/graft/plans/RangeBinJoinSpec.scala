package graft.plans

import graft.testkit.SparkSpec
import org.apache.spark.sql.{DataFrame, GraftSqlBridge}
import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod}
import org.apache.spark.sql.functions._

/** RangeBinJoin: band joins auto-binned to equi-joins; guarded rewrites. */
class RangeBinJoinSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Run `f` with the rule uninstalled to get the unrewritten reference. */
  private def withoutRule[A](f: => A): A = {
    val saved = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations =
      saved.filterNot(_ eq RangeBinJoin)
    try f
    finally spark.experimental.extraOptimizations = saved
  }

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  import spark.implicits._

  private def probe = (0L until 200L).map(i => (i, i * 7 % 97)).toDF("pid", "px")
  private def build = (0L until 300L).map(i => (i, i * 11 % 103)).toDF("bid", "bx")

  test("band join is rewritten: no nested-loop join, results identical") {
    GraftFunctions.register(spark)
    def q = probe.join(build, $"bx" >= $"px" - 10L && $"bx" < $"px")
    val plan = physical(q)
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"expected binned equi-join, got:\n$plan")
    assert(plan.contains("graft_bin"), s"bin columns missing from:\n$plan")
    val expected = withoutRule(sortedRows(
      probe.join(build, $"bx" >= $"px" - 10L && $"bx" < $"px")))
    assert(sortedRows(q) == expected)
  }

  test("negative axis values bin correctly (floor, not truncate-toward-zero)") {
    GraftFunctions.register(spark)
    val l = Seq(-25L, -10L, -1L, 0L, 3L, 14L).toDF("px")
    val r = Seq(-30L, -26L, -24L, -11L, -2L, 1L, 13L).toDF("bx")
    def q = l.join(r, $"bx" >= $"px" - 5L && $"bx" <= $"px")
    assert(!physical(q).contains("BroadcastNestedLoopJoin"))
    val expected = withoutRule(sortedRows(
      l.join(r, $"bx" >= $"px" - 5L && $"bx" <= $"px")))
    assert(sortedRows(q) == expected)
  }

  test("stats-driven sub-binning (k>1): same results, still no nested loop") {
    GraftFunctions.register(spark)
    def q = probe.join(build, $"bx" >= $"px" - 10L && $"bx" < $"px")
    val expected = withoutRule(sortedRows(q))
    val naive = withoutRule(q.queryExecution.optimizedPlan)
    // widths that divide evenly and widths that don't; k past the width
    for (k <- Seq(2, 3, 4, 7, 64)) {
      val rewritten = RangeBinJoin.withSubdivisions(naive, k)
      val widths = rewritten.flatMap(_.expressions.flatMap(_.collect {
        case Pmod(_, Literal(b: Long, _), _) => b
      })).toSet
      assert(widths == Set((10L + k - 1) / k), s"k=$k binned at widths $widths")
      val df = GraftSqlBridge.ofRows(spark, rewritten)
      val plan = physical(df)
      assert(!plan.contains("BroadcastNestedLoopJoin") && plan.contains("graft_bin"),
        s"k=$k lost the rewrite:\n$plan")
      assert(sortedRows(df) == expected, s"k=$k changed the results")
    }
  }

  test("chooseSubdivisions: density below target stays at the classic k=1") {
    assert(RangeBinJoin.chooseSubdivisions(0.0) == 1)
    assert(RangeBinJoin.chooseSubdivisions(RangeBinJoin.TargetRowsPerBin.toDouble) == 1)
    assert(RangeBinJoin.chooseSubdivisions(RangeBinJoin.TargetRowsPerBin * 3.5) == 4)
    assert(RangeBinJoin.chooseSubdivisions(1e12) == 64) // clamped
  }

  test("join with an equi-key keeps its hash join (no rewrite)") {
    GraftFunctions.register(spark)
    val l = probe.withColumn("k", $"pid" % 5)
    val r = build.withColumn("k2", $"bid" % 5)
    val q = l.join(r, $"k" === $"k2" && $"bx" >= $"px" - 10L && $"bx" < $"px")
    assert(!physical(q).contains("graft_bin"))
  }

  test("outer band joins are not rewritten") {
    GraftFunctions.register(spark)
    val q = probe.join(build, $"bx" >= $"px" - 10L && $"bx" < $"px", "left")
    assert(!physical(q).contains("graft_bin"))
  }

  test("strict lower bound and reversed orientations still match the rule") {
    GraftFunctions.register(spark)
    // y - w <= x  AND  y > x   (same band, flipped comparison sides)
    def q = probe.join(build, ($"px" - 10L) <= $"bx" && $"px" > $"bx")
    assert(physical(q).contains("graft_bin"))
    val expected = withoutRule(sortedRows(
      probe.join(build, ($"px" - 10L) <= $"bx" && $"px" > $"bx")))
    assert(sortedRows(q) == expected)
  }

  test("property: random axes/widths — rewrite ≡ nested-loop on both bound styles") {
    GraftFunctions.register(spark)
    val gen = for {
      w <- org.scalacheck.Gen.choose(1L, 50L)
      n <- org.scalacheck.Gen.choose(5, 60)
      m <- org.scalacheck.Gen.choose(5, 60)
      xs <- org.scalacheck.Gen.listOfN(n, org.scalacheck.Gen.choose(-300L, 300L))
      ys <- org.scalacheck.Gen.listOfN(m, org.scalacheck.Gen.choose(-300L, 300L))
      inclusive <- org.scalacheck.Gen.oneOf(true, false)
    } yield (w, xs, ys, inclusive)
    graft.testkit.Props.forAllN(gen, n = 12) { case (w, xs, ys, inclusive) =>
      val l = xs.toDF("px")
      val r = ys.toDF("bx")
      def cond = if (inclusive) $"bx" >= $"px" - w && $"bx" <= $"px"
                 else $"bx" >= $"px" - w && $"bx" < $"px"
      val q = l.join(r, cond)
      assert(physical(q).contains("graft_bin"))
      val expected = withoutRule(sortedRows(l.join(r, cond)))
      assert(sortedRows(q) == expected,
        s"mismatch for w=$w inclusive=$inclusive xs=$xs ys=$ys")
    }
  }

  test("extra non-equi conjuncts are preserved through the rewrite") {
    GraftFunctions.register(spark)
    def q = probe.join(build,
      $"bx" >= $"px" - 10L && $"bx" < $"px" && ($"bid" + $"pid") % 3 =!= 0L)
    assert(physical(q).contains("graft_bin"))
    val expected = withoutRule(sortedRows(probe.join(build,
      $"bx" >= $"px" - 10L && $"bx" < $"px" && ($"bid" + $"pid") % 3 =!= 0L)))
    assert(sortedRows(q) == expected)
  }
}
