package graft.tools

import graft.core.LocalSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** 100×-scale correctness gate for the band-aggregate decomposition
  * (r7, VERDICT r6 task 1): at /tmp/sf10 the i04/i05 band join matches
  * ~2.8×10¹¹ pairs — no enumerating plan (and no DuckDB IEJoin oracle)
  * can exist, which is exactly the regime [[graft.plans.BandAggPushdown]]
  * is FOR. So the gate recomputes the same aggregates by an INDEPENDENT
  * exact algorithm — prefix ranks, not per-window bin unions:
  *
  *   F(t)  = #events with us < t,   S(t) = Σ cents over us < t
  *   n_window(err)  = F(err_us) − F(err_us − w)
  *   sum_cents(err) = S(err_us) − S(err_us − w)
  *
  * computed distributively: fine-bin counts/sums → one small-table
  * cumulative window (bins only, never events) → per-threshold residual
  * count over ONLY the threshold's own fine bin (an equi-join on the bin
  * key; ~rpw/k candidate rows per threshold). Different code path,
  * different shuffle structure, same exact integers — a disagreement
  * would catch any boundary/strictness/merge bug in the rewrite at the
  * scale the rewrite exists for.
  *
  * MIN/MAX are not prefix-decomposable (eviction needs window contents),
  * so they get their OWN independent leg (r7): the classic
  * monotonic-deque sliding-window-extrema sweep — axis bucketed at the
  * window width (each event duplicated into the next bucket, factor
  * exactly 2), each bucket's rows sorted in one task and swept with two
  * deques in O(n) — a sequential textbook algorithm sharing nothing with
  * the engine's distributed bin decomposition, linear at any density.
  *
  * `runMain graft.tools.ScaleGate <sfDir>` → one JSON line:
  * rows compared, mismatches (count, sum, avg, min, max), verdict.
  */
object ScaleGate {

  /** One bucket of the MIN/MAX deque sweep: rows are
    * (bucket, us, cents, isErr 0/1, err_id) — events AND the bucket's
    * errors, in any order. Sorts by (us, errors-first-at-ties) so an
    * event at us == err_us stays outside the error's [t−w, t) window,
    * then runs the textbook two-deque sliding-window-extrema scan.
    * Emits (err_id, windowMin, windowMax) for every error whose window
    * is non-empty. Property-tested against brute force in ScaleGateSpec. */
  private[tools] def sweepBucket(rows: Array[(Long, Long, Long, Long, Long)],
                                 winUs: Long): Iterator[(Long, Long, Long)] = {
    java.util.Arrays.sort(rows,
      Ordering.by[(Long, Long, Long, Long, Long), (Long, Long)](r => (r._2, -r._4)))
    val loUs = new java.util.ArrayDeque[Long]; val loC = new java.util.ArrayDeque[Long]
    val hiUs = new java.util.ArrayDeque[Long]; val hiC = new java.util.ArrayDeque[Long]
    val out = Vector.newBuilder[(Long, Long, Long)]
    rows.foreach { case (_, us, cents, isErr, id) =>
      if (isErr == 0L) {
        while (!loC.isEmpty && loC.peekLast >= cents) { loC.pollLast(); loUs.pollLast() }
        loC.addLast(cents); loUs.addLast(us)
        while (!hiC.isEmpty && hiC.peekLast <= cents) { hiC.pollLast(); hiUs.pollLast() }
        hiC.addLast(cents); hiUs.addLast(us)
      } else {
        val from = us - winUs
        while (!loUs.isEmpty && loUs.peekFirst < from) { loUs.pollFirst(); loC.pollFirst() }
        while (!hiUs.isEmpty && hiUs.peekFirst < from) { hiUs.pollFirst(); hiC.pollFirst() }
        if (!loC.isEmpty) out += ((id, loC.peekFirst, hiC.peekFirst))
      }
    }
    out.result().iterator
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: ScaleGate <sfDir>")
    val dir = args.head
    val spark = LocalSession.session(LocalSession.envCpus)

    val winUs = 3600L * 1000000
    // fine bins: ~2048 per window → residual candidates ≈ rpw/2048 per
    // threshold; the cumulative window runs over the BIN table only
    val b = math.max(1L, winUs / 2048)

    val events = graft.queries.Tables.events(spark, dir)
      .select(unix_micros(col("ts")).as("us"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
      .withColumn("bin", expr(s"CAST(floor(us / $b) AS BIGINT)"))

    val perBin = events.groupBy("bin")
      .agg(count(lit(1)).as("c"), sum("cents").as("s"))
    // DENSE bin range (a threshold can land in an empty bin and still
    // needs the prefix of everything before it), exclusive prefix over
    // the bin table only (axis-span / b rows, never events)
    val bounds = perBin.agg(min("bin"), max("bin")).head()
    val (minBin, maxBin) = (bounds.getLong(0), bounds.getLong(1))
    val cum = spark.range(minBin, maxBin + 1).toDF("bin")
      .join(perBin, Seq("bin"), "left")
      .withColumn("cumC", coalesce(sum("c").over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cumS", coalesce(sum("s").over(
        Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bin", "cumC", "cumS")

    val errors = graft.queries.Tables.events(spark, dir)
      .filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), unix_micros(col("ts")).as("err_us"))
    // two thresholds per error: F/S at err_us (hi) and err_us − w (lo)
    val thresholds = errors.select(col("err_id"), col("err_us").as("t"), lit(1).as("side"))
      .unionAll(errors.select(col("err_id"), (col("err_us") - winUs).as("t"), lit(0).as("side")))
      // clamp into the dense range: below-min bins see prefix 0 and an
      // empty residual; above-max bins see the full prefix + whole-last-bin
      // residual — both exactly F(t)
      .withColumn("bin", greatest(least(
        expr(s"CAST(floor(t / $b) AS BIGINT)"), lit(maxBin)), lit(minBin)))

    // residual: events of the SAME fine bin strictly below t
    val residual = thresholds.join(events.select(col("bin"), col("us"), col("cents")), Seq("bin"), "left")
      .groupBy("err_id", "t", "side", "bin")
      .agg(sum(when(col("us") < col("t"), 1L).otherwise(0L)).as("rc"),
        sum(when(col("us") < col("t"), col("cents")).otherwise(0L)).as("rs"))
    val ranks = residual.join(cum, Seq("bin"), "left")
      .select(col("err_id"), col("side"),
        (coalesce(col("cumC"), lit(0L)) + col("rc")).as("f"),
        (coalesce(col("cumS"), lit(0L)) + col("rs")).as("sSum"))
    val recomputed = ranks.groupBy("err_id")
      .agg(
        (sum(when(col("side") === 1, col("f")).otherwise(0L)) -
          sum(when(col("side") === 0, col("f")).otherwise(0L))).as("n_window"),
        (sum(when(col("side") === 1, col("sSum")).otherwise(0L)) -
          sum(when(col("side") === 0, col("sSum")).otherwise(0L))).as("sum_cents"))
      .filter(col("n_window") > 0) // inner-join semantics: empty windows absent

    val t0 = System.nanoTime()
    val recomputedP = recomputed.persist() // reused by three query legs
    val i05 = graft.queries.RelationalQueries.i05BandStats(spark, dir)
      .select(col("event_id").as("err_id"), col("n_window"), col("sum_cents"),
        col("avg_cents"), col("min_cents"), col("max_cents"))
    val joined = i05.join(recomputedP.withColumnRenamed("n_window", "n2")
        .withColumnRenamed("sum_cents", "s2"), Seq("err_id"), "full")
    val agg = joined.agg(
      count(lit(1)).as("rows"),
      sum(when(col("n_window").isNull || col("n2").isNull, 1L).otherwise(0L)).as("missing"),
      sum(when(col("n_window") =!= col("n2"), 1L).otherwise(0L)).as("nMism"),
      sum(when(col("sum_cents") =!= col("s2"), 1L).otherwise(0L)).as("sMism"),
      sum(when(abs(col("avg_cents") - col("s2").cast("double") / col("n2").cast("double")) > 0.0, 1L)
        .otherwise(0L)).as("aMism")).head()
    val sec = (System.nanoTime() - t0) / 1e9
    val (rows, missing, nM, sM, aM) =
      (agg.getLong(0), agg.getLong(1), agg.getLong(2), agg.getLong(3), agg.getLong(4))

    // ===== MIN/MAX leg: monotonic-deque sliding-window sweep =====
    val t1 = System.nanoTime()
    import spark.implicits._
    // (bucket, us, cents, isError(0/1), err_id); B = window width, every
    // event rides its own bucket AND the next (an error at t ∈ bucket b
    // has [t−w, t) ⊆ buckets {b−1, b} exactly when B = w)
    val evRows = events.select(
      expr(s"CAST(floor(us / $winUs) AS BIGINT)").as("bucket"),
      col("us"), col("cents"), lit(0L).as("isErr"), lit(0L).as("id"))
    val evNext = evRows.withColumn("bucket", col("bucket") + 1)
    val errRows = errors.select(
      expr(s"CAST(floor(err_us / $winUs) AS BIGINT)").as("bucket"),
      col("err_us").as("us"), lit(0L).as("cents"), lit(1L).as("isErr"),
      col("err_id").as("id"))
    val sweep = evRows.unionAll(evNext).unionAll(errRows)
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroups((_, it) => sweepBucket(it.toArray, winUs))
      .toDF("err_id", "min2", "max2")
    val jm = i05.select(col("err_id"), col("min_cents"), col("max_cents"))
      .join(sweep, Seq("err_id"), "full")
      .agg(
        count(lit(1)).as("rows"),
        sum(when(col("min_cents").isNull || col("min2").isNull, 1L).otherwise(0L)).as("missing"),
        sum(when(col("min_cents") =!= col("min2"), 1L).otherwise(0L)).as("minM"),
        sum(when(col("max_cents") =!= col("max2"), 1L).otherwise(0L)).as("maxM")).head()
    val mmSec = (System.nanoTime() - t1) / 1e9
    val (mmRows, mmMissing, minM, maxM) =
      (jm.getLong(0), jm.getLong(1), jm.getLong(2), jm.getLong(3))

    // ===== i02/i04 legs: the same prefix-rank counts pin BOTH the
    // adaptive-crossover plan (i02) and the forced decomposition (i04) —
    // at high density they take different physical paths; each must agree
    // with the independent recomputation row-for-row =====
    def countLeg(df: DataFrame): (Long, Long, Long, Double) = {
      val t = System.nanoTime()
      val a = df.select(col("event_id").as("err_id"), col("n_window").as("nq"))
        .join(recomputedP.select(col("err_id"), col("n_window").as("n2")), Seq("err_id"), "full")
        .agg(count(lit(1)).as("r"),
          sum(when(col("nq").isNull || col("n2").isNull, 1L).otherwise(0L)).as("m"),
          sum(when(col("nq") =!= col("n2"), 1L).otherwise(0L)).as("x")).head()
      (a.getLong(0), a.getLong(1), a.getLong(2), (System.nanoTime() - t) / 1e9)
    }
    val (r02, m02, x02, s02) =
      countLeg(graft.queries.RelationalQueries.i02BandJoinAuto(spark, dir))
    val (r04, m04, x04, s04) =
      countLeg(graft.queries.RelationalQueries.i04BandAggPushdown(spark, dir))

    val ok = missing == 0 && nM == 0 && sM == 0 && aM == 0 &&
      mmMissing == 0 && minM == 0 && maxM == 0 &&
      m02 == 0 && x02 == 0 && m04 == 0 && x04 == 0
    println(s"""{"gate":"i05_vs_prefix_ranks","sf_dir":"$dir","rows":$rows,""" +
      s""""missing":$missing,"count_mismatch":$nM,"sum_mismatch":$sM,"avg_mismatch":$aM,""" +
      s""""sec":${f"$sec%.1f"},""" +
      s""""minmax_gate":"deque_sweep","minmax_rows":$mmRows,"minmax_missing":$mmMissing,""" +
      s""""min_mismatch":$minM,"max_mismatch":$maxM,"minmax_sec":${f"$mmSec%.1f"},""" +
      s""""i02_rows":$r02,"i02_missing":$m02,"i02_count_mismatch":$x02,"i02_sec":${f"$s02%.1f"},""" +
      s""""i04_rows":$r04,"i04_missing":$m04,"i04_count_mismatch":$x04,"i04_sec":${f"$s04%.1f"},""" +
      s""""pass":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
