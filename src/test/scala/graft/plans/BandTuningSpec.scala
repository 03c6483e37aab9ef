package graft.plans

import graft.testkit.SparkSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** BandTuning: the planning-time axis sampler the band-join rules take
  * every tuning parameter from. */
class BandTuningSpec extends SparkSpec {

  import spark.implicits._

  /** Reference Σc²/Σc and 2·max c over w-wide bins of column `t`, as plain
    * DataFrame aggregates. */
  private def reference(df: DataFrame, w: Long): BandTuning.Density = {
    val perBin = df.groupBy((col("t") - pmod(col("t"), lit(w)))
        .divide(lit(w)).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    val st = perBin.agg(sum(col("c") * col("c")), sum(col("c")), max(col("c"))).head()
    if (st.isNullAt(1) || st.getLong(1) == 0L) BandTuning.Density(0.0, 0.0)
    else BandTuning.Density(st.getLong(0).toDouble / st.getLong(1), 2.0 * st.getLong(2))
  }

  private def measured(df: DataFrame, w: Long): BandTuning.Density = {
    val plan = df.queryExecution.optimizedPlan
    BandTuning.density(plan, plan.output.find(_.name == "t").get, w)
      .getOrElse(fail("sampling returned no density"))
  }

  test("density: size-biased rows-per-window and window bound equal the DataFrame reference") {
    SparkSession.setActiveSession(spark)
    BandTuning.clearCache()
    // 100k rows uniform over a 100k span, window 10k → every w-bin holds
    // exactly 10000 rows → size-biased mean Σc²/Σc = 10000
    val dense = spark.range(100000L).toDF("t")
    // CLUSTERED axis: same row count and span, all rows in one window —
    // the uniform estimate would say ~100 rows/window, the size-biased
    // sample sees the real 100k-deep hot window
    val clustered = spark.range(100000L).selectExpr("id % 10000 AS t")
      .union(Seq(10000000L).toDF("t"))
    // (name, axis, w, Σc²/Σc, RangeBinJoin k): dense axes sub-bin, sparse
    // and empty ones keep the classic two-bin plan
    val cases = Seq(
      ("uniform", dense, 10000L, 10000.0, 40),
      ("clustered", clustered, 10000L, (1e10 + 1.0) / 100001.0, 64),
      ("sparse", Seq(0L, 1000000L).toDF("t"), 10L, 1.0, 1),
      ("empty", dense.limit(0), 10L, 0.0, 1))
    for ((name, df, w, rpw, k) <- cases) {
      val m = measured(df, w)
      assert(m == reference(df, w), name)
      assert(m.rowsPerWindow == rpw, name)
      assert(RangeBinJoin.chooseSubdivisions(m.rowsPerWindow) == k, name)
    }
  }
}
