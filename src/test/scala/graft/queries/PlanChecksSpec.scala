package graft.queries

import graft.testkit.SparkSpec

/** Physical-plan audits: the scale properties claimed in Scaladoc must be
  * visible in `explain` — pushed filters, broadcast joins, partial
  * aggregation, whole-stage codegen. A correct result from a wrong-shaped
  * plan fails here. */
class PlanChecksSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("scan-spread size probe: a failed probe is not memoized") {
    // a path that does not exist yet answers "unknown" (never spread); once
    // it exists the next probe must see its real size, not the sentinel
    val dir = java.nio.file.Files.createTempDirectory("spread-probe")
    val path = dir.resolve("late.parquet")
    assert(Tables.inputBytes(spark, path.toString) == Long.MaxValue)
    java.nio.file.Files.write(path, new Array[Byte](1234))
    assert(Tables.inputBytes(spark, path.toString) == 1234L)
  }

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q02: filters reach the parquet scan (PushedFilters)") {
    val p = plan(RelationalQueries.q02Revenue(spark, d))
    assert(p.contains("PushedFilters"), p.take(2000))
    assert(p.contains("l_discount") && p.contains("l_quantity"))
    // column pruning: only needed columns in ReadSchema
    assert(p.contains("ReadSchema"))
    assert(!p.split("ReadSchema")(1).takeWhile(_ != '\n').contains("l_orderkey"))
  }

  test("q03/q04: dimension joins broadcast, no sort-merge") {
    val p3 = plan(RelationalQueries.q03TopCustomers(spark, d))
    assert(p3.contains("BroadcastHashJoin"), p3.take(2000))
    val p4 = plan(RelationalQueries.q04RegionRevenue(spark, d))
    assert(p4.contains("BroadcastHashJoin"))
    assert(!p4.contains("SortMergeJoin"), "dimension chain must not sort-merge:\n" + p4.take(3000))
  }

  test("q01: map-side partial aggregation + whole-stage codegen") {
    val df = RelationalQueries.q01PricingSummary(spark, d)
    assert(plan(df).contains("partial_"), "expected partial aggregation (map-side combine)")
    // codegen spans only appear once AQE finalizes — execute THIS plan
    // (a write would spawn a fresh QueryExecution), then inspect
    df.collect()
    val finalPlan = df.queryExecution.executedPlan.toString
    assert(finalPlan.contains("WholeStageCodegen") || finalPlan.contains("*("),
      "expected whole-stage codegen in final plan:\n" + finalPlan.take(2000))
  }

  test("q05: single window over pre-partitioned sort, no extra shuffle") {
    val p = plan(RelationalQueries.q05RunningTotal(spark, d))
    assert(p.contains("Window"))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 2,
      "running-sum window should shuffle at most once:\n" + p.take(3000))
  }

  test("d01: dedup is a hash aggregate on the content hash, not a join") {
    val p = plan(TextQueries.d01DedupGroups(spark, d))
    assert(p.contains("HashAggregate"))
    assert(!p.contains("Join"))
  }

  test("s01: query set is broadcast against the corpus") {
    val p = plan(SimilarityQueries.s01AnnTopK(spark, d))
    assert(p.contains("Broadcast"), p.take(2000))
  }

  test("q15: EXISTS/NOT EXISTS plan as semi/anti joins") {
    val p = plan(RelationalQueries.q15SemiAnti(spark, d))
    assert(p.contains("LeftSemi"), p.take(2000))
    assert(p.contains("LeftAnti"))
  }

  test("i01: interval join is binned equi-join, never nested-loop") {
    val p = plan(RelationalQueries.i01IntervalJoin(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "range join must bin to an equi-join:\n" + p.take(3000))
  }

  test("i04/i05: band aggregates are decomposed — no pair enumeration in the plan") {
    for ((df, nm) <- Seq(RelationalQueries.i04BandAggPushdown(spark, d) -> "i04",
                         RelationalQueries.i05BandStats(spark, d) -> "i05")) {
      val p = plan(df)
      assert(p.contains("graft_full_bin") && p.contains("graft_bnd_bin"),
        s"$nm must run the BandAggPushdown decomposition:\n" + p.take(3000))
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
    }
  }

  test("i02: NAIVE band join is auto-binned by RangeBinJoin, never nested-loop") {
    val p = plan(RelationalQueries.i02BandJoinAuto(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "RangeBinJoin must rewrite the naive band join:\n" + p.take(3000))
    assert(p.contains("graft_bin"), "expected the rule's bin columns:\n" + p.take(3000))
  }

  test("i02 plans identically to the bare naive shape") {
    import org.apache.spark.sql.functions._
    graft.plans.GraftFunctions.register(spark)
    val winUs = 3600L * 1000000
    // the i02 body without its preamble — how a naive user writes it
    def shape(): org.apache.spark.sql.DataFrame = {
      val acts = Tables.events(spark, d)
        .select(unix_micros(col("ts")).as("us"), col("event_id").as("act_id"))
      val errors = Tables.events(spark, d).filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"), col("user_id"),
          col("ts").as("err_ts"), unix_micros(col("ts")).as("err_us"))
      errors.join(acts, col("us") >= col("err_us") - winUs && col("us") < col("err_us"))
        .groupBy(col("err_id"), col("user_id"), col("err_ts"))
        .agg(count(col("act_id")).as("n_window"))
    }
    def norm(p: String): String =
      p.replaceAll("#\\d+L?", "#x").replaceAll("\\*\\(\\d+\\)", "*")
        .replaceAll("plan_id=\\d+", "plan_id=x")
    // the production query (its preamble pins the crossover conf), then
    // the bare shape against a cleared sample cache, so it measures anew
    val i02 = norm(plan(RelationalQueries.i02BandJoinAuto(spark, d)
      .select(col("n_window"))))
    graft.plans.BandTuning.clearCache()
    val bare = norm(plan(shape().select(col("n_window"))))
    assert(bare.contains("graft_bin"), "lazy sampling must still linearize:\n" + bare.take(3000))
    assert(bare == i02,
      s"bare-shape plan differs from i02's:\n--- i02:\n${i02.take(3000)}\n--- bare:\n${bare.take(3000)}")
  }

  test("w01: as-of join is one window pass, one shuffle") {
    val p = plan(RelationalQueries.w01AsofFunnel(spark, d))
    assert(p.contains("Window"))
    assert(!p.contains("Join"), "as-of must not plan a join:\n" + p.take(3000))
    assert(p.sliding("Exchange".length).count(_ == "Exchange") <= 1,
      "as-of window should shuffle exactly once:\n" + p.take(3000))
  }

  test("q16: rollup expands grouping sets before a single aggregate exchange") {
    val p = plan(RelationalQueries.q16Rollup(spark, d))
    assert(p.contains("Expand"), p.take(2000))
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  // the one shuffle-counting rule, shared with the PLANS.md generator
  private def shuffles(p: String): Int = graft.tools.PlanAudit.countShuffles(p)

  test("q24: cube expands PRE-AGGREGATED partials, never the fact table") {
    val p = plan(RelationalQueries.q24Cube(spark, d))
    assert(p.contains("Expand") && p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
    // Expand must sit ABOVE the first (partial) aggregate of the base
    // query — i.e. the plan string shows an aggregate below it
    val expandIdx = p.indexOf("Expand")
    assert(p.indexOf("HashAggregate", expandIdx) >= 0,
      "no aggregate below Expand — cube is multiplying raw fact rows:\n" + p.take(3000))
  }

  test("q25: sliding-window explode collapses by partial agg before the exchange") {
    val p = plan(RelationalQueries.q25SlidingWindows(spark, d))
    assert(shuffles(p) == 1, "one aggregate exchange expected:\n" + p.take(3000))
    // partial aggregation below the shuffle: first HashAggregate in
    // bottom-up order carries partial_ functions
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "no map-side partials — exploded rows would cross the exchange:\n" + p.take(3000))
  }

  test("w03: RANGE frame is one window pass, one shuffle") {
    val p = plan(RelationalQueries.w03TrailingWindow(spark, d))
    assert(p.contains("Window"))
    assert(shuffles(p) == 1, "trailing window should shuffle once:\n" + p.take(3000))
    assert(!p.contains("Join"), "RANGE frame must not plan a join:\n" + p.take(3000))
  }

  test("s09: multi-probe fan-out stays on the broadcast query side; no sort window") {
    val p = plan(SimilarityQueries.s09AnnMultiprobe(spark, d))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"))
    // aggregate argmax, not a per-query row_number window
    assert(!p.contains("Window"), "s09 must re-rank via aggregate, not a sort window:\n" + p.take(3000))
  }

  test("q26: correlated subqueries decorrelate into aggregate + join (no per-row subquery)") {
    val p = plan(RelationalQueries.q26CorrelatedSubquery(spark, d))
    assert(!p.contains("Subquery"), "subquery survived decorrelation:\n" + p.take(3000))
    assert(p.contains("HashAggregate") && p.contains("Join"), p.take(3000))
  }

  test("d09: band join moves signatures only, never document text") {
    val p = plan(graft.queries.TextQueries.d09SimhashPairs(spark, d))
    assert(!p.toLowerCase.contains("text"),
      "document text column crossed into the pair join plan:\n" + p.take(3000))
  }

  test("r3 scale fixes stay locked: s03 assigns buckets narrowly (no corpus shuffle)") {
    val p = plan(SimilarityQueries.s03AnnLsh(spark, d))
    // anchors meet the corpus via a 1-row broadcast nested-loop, the query
    // set via a broadcast hash join — the corpus itself is never hashed
    // into an exchange; only the 8-row anchor agg and the per-query
    // candidate window shuffle
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    // r12: +4 — the adaptive scan spread (Tables.spread) adds one round-robin exchange per sub-split table reference; it self-disables above one split size, so the scale shape is unchanged
    assert(shuffles(p) <= 7, s"s03 grew shuffles (${shuffles(p)}):\n" + p.take(3000))
  }

  test("r3 scale fixes stay locked: s02/d05 block-pair joins shuffle exactly once") {
    val p2 = plan(SimilarityQueries.s02EmbedNearDup(spark, d))
    // r12: +1 each — the adaptive scan spread (Tables.spread) adds one round-robin exchange per sub-split table reference; it self-disables above one split size, so the scale shape is unchanged
    assert(shuffles(p2) == 2, s"s02 must shuffle only for the block-pair groupByKey (+ the scan spread):\n" + p2.take(3000))
    val p5 = plan(TextQueries.d05JaccardPairs(spark, d))
    assert(shuffles(p5) == 2, s"d05 must shuffle only for the block-pair groupByKey (+ the scan spread):\n" + p5.take(3000))
    assert(!p2.contains("CartesianProduct") && !p5.contains("CartesianProduct"))
  }

  test("r3 scale fixes stay locked: x02 windows stay shard-bounded") {
    val p = plan(TextQueries.x02PackBins(spark, d))
    assert(p.contains("Window"))
    // within-shard window + shard-offset window + join alignment
    // r12: +1 — the adaptive scan spread (Tables.spread) adds one round-robin exchange per sub-split table reference; it self-disables above one split size, so the scale shape is unchanged
    assert(shuffles(p) <= 5, s"x02 grew shuffles (${shuffles(p)}):\n" + p.take(3000))
    assert(p.contains("shard"), "two-level prefix sum must partition by shard")
  }

  test("d13: semantic dedup — no pair explosion, equi-join on the cell key") {
    // the narrow (no-corpus-shuffle) cell assignment is the same broadcast
    // anchor pattern s03/s04 lock above; it sits behind d13's checkpoint
    // here, so this test audits the post-assignment plan: the within-cell
    // pair scan must be a true equi-join on the cell key — never a
    // cartesian pair explosion — and the shuffle budget stays fixed
    // (pair join both sides + pruner agg + final align)
    val p = plan(SimilarityQueries.d13SemanticDedup(spark, d))
    assert(!p.contains("CartesianProduct"),
      "within-cell pairs must hash-join on the cell key:\n" + p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "pair scan must not degrade to a nested loop:\n" + p.take(3000))
    assert(p.contains("cell"), p.take(3000))
    assert(shuffles(p) <= 5, s"d13 grew shuffles (${shuffles(p)}):\n" + p.take(3000))
  }

  test("a06: the MG sketch partial-aggregates map-side (O(k) bytes per partition move)") {
    val p = plan(TextQueries.a06HeavyHitters(spark, d))
    // the sketch is a TypedImperativeAggregate → ObjectHashAggregate with
    // a partial stage; if it ever degraded to a final-only aggregate the
    // exchange would move raw items instead of k counters
    assert(p.contains("ObjectHashAggregate"), p.take(3000))
    assert(p.contains("partial_mg_sketch"),
      "mg_sketch must reduce map-side:\n" + p.take(3000))
  }

  test("ts01/ts02: series search — broadcast queries, word-keyed candidates") {
    // ts01: the query set broadcasts against the series scan; top-1 is an
    // aggregate argmax with map-side partials, never a global sort
    val p1 = plan(TimeSeriesQueries.ts01SeriesKnn(spark, d))
    assert(p1.contains("Broadcast"), p1.take(3000))
    assert(p1.contains("partial_"), "ts01 argmax must partial-aggregate:\n" + p1.take(3000))
    // positive form (r6, ADVICE r5): the old `!GlobalLimit || !Sort`
    // disjunction passed whenever either token was merely absent. Assert
    // each top-k-regression shape independently: no TakeOrdered, no
    // limit-based top-1. (A bare `Sort` token can appear legitimately —
    // min(struct) plans as SortAggregate with per-partition sorts — so
    // the partial_ assertion above plus these two is the real lock.)
    assert(!p1.contains("TakeOrderedAndProject"),
      "top-1 must be an aggregate, not TakeOrdered:\n" + p1.take(3000))
    assert(!p1.contains("GlobalLimit"),
      "top-1 must be an aggregate, not sort+limit:\n" + p1.take(3000))
    // ts06: same candidate discipline as ts02 — word equi-join, no
    // cartesian; the lag fan-out is projection-side only
    val p6 = plan(TimeSeriesQueries.ts06LeadLag(spark, d))
    assert(!p6.contains("CartesianProduct") && !p6.contains("BroadcastNestedLoopJoin"),
      "ts06 must equi-join on the word key:\n" + p6.take(3000))
    assert(p6.contains("partial_"), "ts06 argmax must partial-aggregate:\n" + p6.take(3000))
    // ts02: candidates come from a true equi-join on the PAA word — the
    // SAX analogue of d03's band join; never a cartesian pair scan
    val p2 = plan(TimeSeriesQueries.ts02PaaCandidates(spark, d))
    assert(!p2.contains("CartesianProduct") && !p2.contains("BroadcastNestedLoopJoin"),
      "ts02 must equi-join on the word key:\n" + p2.take(3000))
    assert(shuffles(p2) <= 4, s"ts02 grew shuffles (${shuffles(p2)}):\n" + p2.take(3000))
    // ts03/ts04: after the one series groupBy the window/lag scans are
    // per-user LOCAL kernels — exactly one exchange, no join of any kind
    Seq(TimeSeriesQueries.ts03Motif(spark, d) -> "ts03",
        TimeSeriesQueries.ts04Seasonality(spark, d) -> "ts04",
        TimeSeriesQueries.ts05ChangePoint(spark, d) -> "ts05").foreach { case (df, nm) =>
      val p = plan(df)
      assert(shuffles(p) == 1, s"$nm must shuffle only for the series groupBy:\n" + p.take(3000))
      assert(!p.contains("Join"), s"$nm kernels are per-user local:\n" + p.take(3000))
    }
  }

  test("m07: phash near-dup joins bands only; x04 windows stay sub-bounded") {
    val p7 = plan(MultimodalQueries.m07PhashNearDup(spark, d))
    assert(!p7.contains("CartesianProduct") && !p7.contains("BroadcastNestedLoopJoin"),
      "m07 candidates must come from the band equi-join:\n" + p7.take(3000))
    val p4 = plan(TextQueries.x04Curriculum(spark, d))
    // the global curriculum position must NOT be one corpus-wide window:
    // the row_number window (the only corpus-sized one) must partition by
    // (stage, sub). The tiny stage/sub OFFSET windows run over ≤ 768
    // aggregate rows — those may be narrowly partitioned or not.
    val rnWindows = p4.linesIterator.filter(l =>
      l.contains("Window") && l.contains("row_number()")).toVector
    assert(rnWindows.nonEmpty, "expected a row_number window:\n" + p4.take(3000))
    rnWindows.foreach { l =>
      assert(l.contains("stage") && l.contains("sub"),
        "x04's corpus row_number window must partition by (stage, sub):\n" + l)
    }
  }

  test("s05: quantization is a pure narrow projection (+ the scan spread)") {
    // r12: +1 — the adaptive scan spread (Tables.spread) adds one round-robin exchange per sub-split table reference; it self-disables above one split size, so the scale shape is unchanged
    val p = plan(SimilarityQueries.s05Quantize(spark, d))
    assert(shuffles(p) == 1, p.take(3000))
    assert(!p.contains("Join"))
  }

  test("bucketed tables co-locate the join: no Exchange on either side") {
    import org.apache.spark.sql.functions._
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1) // force the issue
    try {
      Tables.orders(spark, d).write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("orders_bkt")
      Tables.customer(spark, d).write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("customer_bkt")
      val joined = spark.table("orders_bkt")
        .join(spark.table("customer_bkt"), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey")).agg(count(lit(1)).as("n"))
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(!p.contains("Exchange hashpartitioning(o_custkey"),
        "bucketed join must not reshuffle the fact side:\n" + p.take(3000))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", 10485760L)
      spark.sql("DROP TABLE IF EXISTS orders_bkt")
      spark.sql("DROP TABLE IF EXISTS customer_bkt")
    }
  }

  test("w05: SCD2 interval test rides the custkey EQUI-join as residual, never nested-loop") {
    val p = plan(RelationalQueries.w05Scd2Join(spark, d))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "SCD2 must join on the dimension key, interval as residual:\n" + p.take(3000))
    assert(p.contains("Join") || p.contains("HashJoin"), p.take(1000))
  }

  test("q21: bloom probe is Spark's codegen'd expression, no Scala UDF; filter is selective") {
    val df = RelationalQueries.q21BloomJoin(spark, d)
    val p = plan(df)
    assert(p.contains("might_contain"), p.take(2000))
    assert(!p.contains("UDF"), "bloom probe must not be a boxed Scala UDF:\n" + p.take(2000))
    // the filter must actually DROP rows (a bloom that deserialized to
    // always-true would still match the oracle — the join re-checks)
    graft.plans.GraftFunctions.register(spark)
    val build = graft.queries.Tables.orders(spark, d)
      .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
    val bloom = build.stat.bloomFilter("o_orderkey",
      RelationalQueries.BloomExpectedKeys, RelationalQueries.BloomFpp)
    val bytes = { val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray }
    val li = graft.queries.Tables.lineitem(spark, d)
    val total = li.count()
    val kept = li.filter(org.apache.spark.sql.functions.call_function("graft_might_contain",
      org.apache.spark.sql.functions.lit(bytes),
      org.apache.spark.sql.functions.col("l_orderkey"))).count()
    assert(kept < total * 0.5, s"bloom kept $kept of $total - not filtering")
    assert(kept > 0)
  }

  test("d10: bloom pre-filter guards the decontamination join; result == d08") {
    val df = TextQueries.d10BloomDecontaminate(spark, d)
    val p = plan(df)
    assert(p.contains("might_contain"), p.take(2000))
    assert(!p.contains("UDF"), "bloom probe must not be a boxed Scala UDF:\n" + p.take(2000))
    // semantics-free pre-filter: bit-identical to the broadcast-gram form
    val viaBloom = df.collect().map(_.toString).sorted.toSeq
    val viaBroadcast = TextQueries.d08Decontaminate(spark, d)
      .collect().map(_.toString).sorted.toSeq
    assert(viaBloom == viaBroadcast)
  }

  test("q27: partial salting replicates ONLY profiled hot keys; result == plain join") {
    val df = RelationalQueries.q27PartialSaltedJoin(spark, d)
    val p = plan(df)
    // the build generator's sequence bound is CONDITIONAL on the hot flag —
    // non-hot rows produce exactly one replica (sequence(0, 0))
    assert(p.contains("Generate explode"), p.take(3000))
    val gen = p.split("Generate explode")(1).takeWhile(_ != '\n')
    assert(gen.contains("CASE WHEN") && gen.contains((RelationalQueries.SaltR - 1).toString),
      s"generator bound must be hot-conditional: $gen")
    // row-count arithmetic: replicated build = |orders| + |hot ∩ orders|·(R-1)
    val orders = graft.queries.Tables.orders(spark, d)
    val hot = graft.queries.Tables.lineitem(spark, d)
      .groupBy("l_orderkey").count()
      .orderBy(org.apache.spark.sql.functions.col("count").desc,
        org.apache.spark.sql.functions.col("l_orderkey").asc)
      .limit(RelationalQueries.PartialSaltHotN)
      .select("l_orderkey").collect().map(_.getLong(0)).toSet
    val nOrders = orders.count()
    val nHotOrders = orders.filter(org.apache.spark.sql.functions.col("o_orderkey")
      .isin(hot.toSeq.map(Long.box): _*)).count()
    val replicated = orders
      .withColumn("bsalt", org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.expr(
          s"sequence(0, IF(o_orderkey IN (${hot.mkString(",")}), ${RelationalQueries.SaltR - 1}, 0))")))
      .count()
    assert(replicated == nOrders + nHotOrders * (RelationalQueries.SaltR - 1),
      s"expected partial replication, got $replicated of $nOrders orders")
    assert(replicated < nOrders * RelationalQueries.SaltR, "full replication defeats the point")
    // and the salted result is exactly the plain join's
    val plainish = RelationalQueries.q19SaltedJoin(spark, d)
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    val got = df.collect().map(r => (r.getString(0), r.getDouble(1), r.getLong(2))).toSet
    assert(got == plainish)
  }

  test("segment upload plan is shuffle-free (narrow mapPartitions)") {
    val store = java.nio.file.Files.createTempDirectory("plan-store").toString
    val in = java.nio.file.Files.createTempDirectory("plan-in").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(in, "s.bin"), new Array[Byte](1000))
    val cfg = graft.operators.SegmentJobConfig.withGeneratedKeys(store)
    val p = plan(graft.operators.SegmentUploadJob.run(spark, in, cfg))
    assert(!p.contains("Exchange"), "upload must not shuffle:\n" + p)
  }

  test("t12: redaction is a pure narrow projection (zero shuffles, pruned scan)") {
    // r12: +1 — the adaptive scan spread (Tables.spread) adds one round-robin exchange per sub-split table reference; it self-disables above one split size, so the scale shape is unchanged
    val p = plan(TextQueries.t12TermRedact(spark, d))
    assert(shuffles(p) == 1, p.take(3000))
    assert(!p.contains("Join"))
    // scan reads only (doc_id, text) — no lang/source/n_chars
    assert(p.contains("ReadSchema"))
    assert(!p.split("ReadSchema")(1).takeWhile(_ != '\n').contains("n_chars"), p.take(3000))
  }

  test("w06: gap-fill grid joins broadcast; only the hourly agg touches event-sized data") {
    val df = RelationalQueries.w06GapFill(spark, d)
    val p = plan(df)
    // grid side never shuffles: types and the hourly aggregate broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), "model-sized sides must broadcast:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"),
      "the spine x types grid must be a broadcast nested loop over 5 rows, not a cartesian:\n" + p.take(3000))
    // LOCF must never resurrect a value across event types: the first
    // non-gap hour of each type carries its own value, rows before it 0
    val rows = df.collect()
    val byType = rows.groupBy(_.getString(0))
    byType.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getString(1))
      val firstObs = sorted.indexWhere(_.getLong(3) == 0L)
      sorted.take(firstObs).foreach(r => assert(r.getDouble(4) == 0.0,
        s"pre-first-observation hours must LOCF to 0: $r"))
    }
  }

  test("d11: duplicated-span inventory aggregates on uniform hash keys, no nested loop") {
    val df = TextQueries.d11DupSpans(spark, d)
    val p = plan(df)
    assert(p.contains("partial_"), "window-hash aggregates must map-side combine:\n" + p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "span detection must never go quadratic:\n" + p.take(3000))
    // semantics on the real fixture: every duplicated window is a window,
    // distinct spans never exceed duplicated positions, and the corpus's
    // exact-duplicate docs (d01 groups) guarantee at least one shared span
    val rows = df.collect()
    rows.foreach { r =>
      val (n, dupW, dupS) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(dupW <= n && dupS <= dupW, s"inconsistent span counts: $r")
    }
    assert(rows.exists(_.getLong(2) > 0),
      "corpus contains verbatim duplicate docs, so some span must be shared")
  }

  test("t13: bigram rarity pre-aggregates per doc before the corpus-frequency join") {
    val df = TextQueries.t13RareBigrams(spark, d)
    val p = plan(df)
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p.take(3000))
    val rows = df.collect()
    rows.foreach { r =>
      val (n, rare, hapax) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(hapax <= rare && rare <= n, s"rarity counts out of order: $r")
      assert(math.abs(r.getDouble(4) - rare.toDouble / n) == 0.0, s"ratio mismatch: $r")
    }
  }

  test("d03: the band self-join plans as a broadcast hash join") {
    // d03From's lazy localCheckpoint on `bands` relies on this plan: the
    // broadcast build is a blocking job that persists the bands before
    // the probe side reads them
    val p = plan(TextQueries.d03MinHashPairs(spark, d))
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("t14: split assignment is leakage-free (cluster-atomic) and adds no exchange over d07") {
    val df = TextQueries.t14SplitAssign(spark, d)
    val p = plan(df)
    // r12: +1 — the adaptive scan spread (Tables.spread) adds one round-robin exchange per sub-split table reference; it self-disables above one split size, so the scale shape is unchanged
    assert(shuffles(p) == 1,
      "split bucketing must stay a narrow projection over d07's labels (+ the scan spread):\n" + p.take(3000))
    val rows = df.collect()
    // every document assigned exactly once, to a real split
    assert(rows.length == spark.read.parquet(s"$d/documents.parquet").count())
    assert(rows.forall(r => Set("train", "val", "test")(r.getString(3))))
    // the leakage invariant: a cluster never straddles splits
    rows.groupBy(_.getLong(1)).foreach { case (rep, rs) =>
      assert(rs.map(_.getString(3)).distinct.length == 1,
        s"cluster $rep straddles splits")
    }
    // 90/5/5 in expectation — loose bounds at this SF
    val frac = rows.count(_.getString(3) == "train").toDouble / rows.length
    assert(frac > 0.75 && frac < 0.98, s"train fraction $frac out of band")
  }

  test("w07: retention triangle pre-collapses (user, week) map-side; uniform keys only") {
    val df = RelationalQueries.w07Retention(spark, d)
    val p = plan(df)
    assert(p.contains("partial_"), "the (user, week) distinct must map-side combine:\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    val rows = df.collect()
    // offsets are non-negative and cohort sizes are monotone-or-equal at
    // offset 0 vs any later offset (retention can't exceed the cohort)
    val byCohort = rows.groupBy(_.getLong(0))
    byCohort.foreach { case (c, rs) =>
      val base = rs.find(_.getLong(1) == 0L)
      assert(base.isDefined, s"cohort $c lacks its offset-0 row")
      rs.foreach { r =>
        assert(r.getLong(1) >= 0L)
        assert(r.getLong(2) <= base.get.getLong(2), s"cohort $c retention exceeds its base")
      }
    }
  }

  test("s10: range search is broadcast + scan only — zero shuffles") {
    // r12: +2 — the adaptive scan spread (Tables.spread) adds one round-robin exchange per sub-split table reference; it self-disables above one split size, so the scale shape is unchanged
    val p = plan(SimilarityQueries.s10RangeSearch(spark, d))
    assert(shuffles(p) == 2, "radius search must stay narrow (+ the scan spreads):\n" + p.take(3000))
    assert(p.contains("Broadcast"), p.take(2000))
  }

  test("d12: span cut explodes coverage only for DUPLICATED windows; cut docs reassemble") {
    val df = TextQueries.d12SpanCut(spark, d)
    val p = plan(df)
    assert(p.contains("partial_"), p.take(3000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "span cut must never go quadratic:\n" + p.take(3000))
    val rows = df.collect()
    val emptyFp = java.security.MessageDigest.getInstance("MD5")
      .digest(Array.emptyByteArray).map("%02x".format(_)).mkString
    rows.foreach { r =>
      val (n, cut) = (r.getLong(1), r.getLong(2))
      assert(cut <= n, s"removed more tokens than exist: $r")
      if (cut == n) assert(r.getString(3) == emptyFp, s"all-cut doc must fingerprint '' : $r")
    }
    // the corpus has verbatim duplicate docs → their whole text is cut
    assert(rows.exists(r => r.getLong(2) > 0), "some span must be cut on this fixture")
  }

  test("w08: funnel stages co-key on user_id; step counts are monotone non-increasing") {
    val df = RelationalQueries.w08Funnel(spark, d)
    val p = plan(df)
    assert(p.contains("partial_"), "per-user mins must map-side combine:\n" + p.take(3000))
    // the only nested-loop joins allowed are the 1-row scalar-count crossJoins
    assert(!p.contains("SortMergeJoin"), "user_id joins must hash-join:\n" + p.take(3000))
    val rows = df.collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val ns = rows.map(_.getLong(2))
    assert(ns(1) <= ns(0) && ns(2) <= ns(1), s"funnel must narrow: ${ns.toSeq}")
    assert(rows(0).getDouble(3) == 1.0)
  }

  test("i03: sweep-line concurrency — event data aggregated once, spine window is timeline-sized") {
    val df = RelationalQueries.i03ActiveHours(spark, d)
    val p = plan(df)
    assert(!p.contains("CartesianProduct"), "sweep-line must not interval-join:\n" + p.take(3000))
    assert(p.contains("partial_"), "edge bucketing must map-side combine:\n" + p.take(3000))
    val rows = df.collect().sortBy(_.getLong(0))
    // conservation: total starts == total ends, and active ≥ 0 everywhere
    assert(rows.map(_.getLong(1)).sum == rows.map(_.getLong(2)).sum)
    rows.foreach(r => assert(r.getLong(3) >= 0, s"negative concurrency: $r"))
    // cross-check one hour against the naive overlap count
    val iv = Tables.events(spark, d).selectExpr(
      "unix_micros(ts) AS s",
      "unix_micros(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT) AS e").collect()
    val mid = rows(rows.length / 2).getLong(0)
    val (b0, b1) = (mid * 3600000000L, (mid + 1) * 3600000000L)
    val naive = iv.count(r => r.getLong(0) < b1 && r.getLong(1) >= b0)
    assert(rows(rows.length / 2).getLong(3) == naive,
      s"sweep-line disagrees with naive overlap at hour $mid")
  }

  test("q28: grouping sets expand AFTER the pre-aggregate, never the fact table") {
    val df = RelationalQueries.q28GroupingSets(spark, d)
    val p = plan(df)
    assert(p.contains("Expand"), "grouping sets must use Expand:\n" + p.take(3000))
    assert(p.contains("partial_"), "pre-aggregate must map-side combine:\n" + p.take(3000))
    // Expand's input must be the pre-aggregated rows: the expand operator
    // appears ABOVE (before, in top-down plan text) the orders scan AND
    // above at least one aggregate
    val expandIdx = p.indexOf("Expand")
    assert(p.indexOf("HashAggregate", expandIdx) > 0,
      "an aggregate must sit under Expand (pre-aggregation):\n" + p.take(3000))
    val rows = df.collect()
    // exactly the three requested sets: (prio)=1, (yr)=2, ()=3 — the full
    // (prio, yr) set (gid 0) is NOT in the list, unlike cube/rollup
    assert(rows.map(_.getLong(2)).toSet == Set(1L, 2L, 3L),
      s"gids: ${rows.map(_.getLong(2)).toSet}")
  }

  test("b02: phrase search moves posting lists only; intersection co-keys on (doc, anchor)") {
    val df = TextQueries.b02PhraseSearch(spark, d)
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "phrase intersection must equi-join:\n" + p.take(3000))
    assert(p.contains("partial_"), p.take(3000))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(2) >= 1, s"bad match row: $r")
    }
  }

  test("g02: triangle join is equi-only; per-node counts consistent with total") {
    // sf0.01: the r6 full-signature edge set has ≥1 triangle there (sf0.001
    // has none, which would make the mod-3 invariant vacuous)
    val df = TextQueries.g02Triangles(spark, "/root/testdata/sf0.01")
    val p = plan(df)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "triangle enumeration must equi-join:\n" + p.take(3000))
    val rows = df.collect()
    assert(rows.nonEmpty, "expected at least one triangle corner at sf0.01")
    // every triangle credits exactly 3 corners → total participation ≡ 0 mod 3
    assert(rows.map(_.getLong(1)).sum % 3 == 0, "corner credits must be divisible by 3")
    rows.foreach(r => assert(r.getLong(1) >= 1))
  }

  test("a05: exact quantiles pre-aggregate (group, value) map-side; window over distinct values") {
    val df = RelationalQueries.a05ExactQuantiles(spark, d)
    val p = plan(df)
    assert(p.contains("partial_"), "value counting must map-side combine:\n" + p.take(3000))
    val rows = df.collect()
    rows.foreach { r =>
      assert(r.getDouble(2) <= r.getDouble(3), s"median must not exceed p90: $r")
      assert(r.getLong(1) > 0)
    }
    // cross-check one group against a driver-side exact computation
    val vals = Tables.events(spark, d).filter("event_type = 'click'")
      .select("value").collect().map(_.getDouble(0)).sorted
    // percentile_disc(0.5): smallest value whose 1-based rank r satisfies 2r >= n
    val expectMedian = vals(math.ceil(vals.length / 2.0).toInt - 1)
    val got = rows.find(_.getString(0) == "click").get
    assert(got.getDouble(2) == expectMedian, s"median ${got.getDouble(2)} != $expectMedian")
  }

  test("s11: IVF-PQ ADC — corpus stays narrow (no shuffle before the cell join), one final agg") {
    val df = SimilarityQueries.s11IvfPqAdc(spark, d)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"), "queries must broadcast into the cell join:\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(3000))
    assert(p.contains("partial_"), "per-query argmin must partial-agg:\n" + p.take(3000))
    val rows = df.collect()
    assert(rows.length <= SimilarityQueries.QueryCount)
    rows.foreach(r => assert(r.getLong(3) >= 0, s"ADC distance must be non-negative: $r"))
    rows.foreach(r => assert(r.getLong(0) != r.getLong(2), "self-match excluded"))
  }

  test("p03: funnel counts monotone; quota leg rides the top-k operator") {
    val df = TextQueries.p03CurationFunnel(spark, d)
    val p = plan(df)
    assert(p.contains("TopKExec") || p.contains("TopK"),
      "quota stage must run through the top-k operator:\n" + p.take(3000))
    val rows = df.collect().sortBy(_.getLong(0)).map(r => (r.getString(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq == Seq("raw", "lang", "quality", "dedup", "quota"))
    val ns = rows.map(_._2)
    assert(ns.zip(ns.tail).forall { case (a, b) => b <= a },
      s"stage counts must be non-increasing: ${rows.mkString(", ")}")
    assert(ns.head > 0 && ns.last >= 0)
  }

  test("r6 additions: b03 co-keyed postings, t15 partial-agg, d14 top-k node, m08 narrow") {
    // b03: only equi-joins (doc_id co-key); the span predicate is a
    // residual, never a nested loop
    val p1 = plan(TextQueries.b03ProximitySearch(spark, d))
    assert(!p1.contains("CartesianProduct") && !p1.contains("BroadcastNestedLoopJoin"),
      "b03 must equi-join posting lists:\n" + p1.take(3000))
    // t15: both groupBys partial-aggregate; no window function anywhere
    // (a rank-based Zipf plot would need a vocabulary-sized single
    // partition — the shape this query exists to avoid)
    val p2 = plan(TextQueries.t15ZipfHistogram(spark, d))
    assert(p2.contains("partial_"), "t15 must map-side combine:\n" + p2.take(3000))
    assert(!p2.contains("Window"), "t15 must not use a rank window:\n" + p2.take(3000))
    // d14: the custom TopKExec bounds the shuffle before any rank window
    val p3 = plan(TextQueries.d14SourceQuota(spark, d))
    assert(p3.contains("TopKExec") || p3.contains("TopK"),
      "d14 must run through the top-k operator:\n" + p3.take(3000))
    // m08: one mapPartitions kernel + the id-spread exchange, zero joins
    val p4 = plan(MultimodalQueries.m08CorruptQuarantine(spark, d))
    assert(!p4.contains("Join"), "m08 is a narrow audit:\n" + p4.take(3000))
    val rows = MultimodalQueries.m08CorruptQuarantine(spark, d).collect()
    assert(rows.nonEmpty && rows.exists(_.getLong(1) == 0L) && rows.exists(_.getLong(1) == 1L),
      "m08 must emit both healthy and quarantined verdicts")
  }

  test("r7 additions: x05 top-k bounded shuffle, s12 broadcast + partial max, p04 partial aggs") {
    // x05: corpus-side selection rides the TopK heaps; ONE corpus
    // exchange (keyed on source), and the rank window runs over the
    // already-partitioned survivors without its own exchange
    val p1 = plan(TextQueries.x05MixtureSample(spark, d))
    assert(p1.contains("GraftTopKPartial") && p1.contains("GraftTopKFinal"),
      "x05 must bound the shuffle with per-partition heaps:\n" + p1.take(3000))
    // r12: +1 each — the adaptive scan spread (Tables.spread) adds one round-robin exchange per sub-split table reference; it self-disables above one split size, so the scale shape is unchanged
    assert(shuffles(p1) == 2,
      s"x05 should shuffle exactly once + the scan spread (${shuffles(p1)}):\n" + p1.take(3000))
    // s12: anchors broadcast, corpus scanned narrowly, struct-max
    // partial-aggregated map-side; the only exchange carries pre-reduced
    // per-anchor rows
    val p2 = plan(SimilarityQueries.s12TripletMining(spark, d))
    assert(p2.contains("BroadcastNestedLoopJoin"),
      "s12 must broadcast the anchor set:\n" + p2.take(3000))
    assert(p2.contains("partial_max"),
      "s12 must partial-aggregate the struct max map-side:\n" + p2.take(3000))
    // (+2 here: the anchor set and the corpus scan are separate embeddings references)
    assert(shuffles(p2) == 3,
      s"s12 must never shuffle the corpus beyond the scan spread (${shuffles(p2)}):\n" + p2.take(3000))
    assert(!p2.contains("Window"),
      "s12 must not rank through a window:\n" + p2.take(3000))
    // p04: both rollups partial-aggregate; no window anywhere
    val p3 = plan(TextQueries.p04DatasetCard(spark, d))
    assert(p3.contains("partial_"), "p04 must map-side combine:\n" + p3.take(3000))
    assert(!p3.contains("Window"), "p04 is aggregation-only:\n" + p3.take(3000))
    // x05 semantics: every source contributes exactly min(quota, n_s)
    // docs, and ceil-rounding never under-allocates the overall target
    val docs = graft.queries.Tables.documents(spark, d)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = TextQueries.x05MixtureSample(spark, d).collect()
    val bySrc = out.groupBy(_.getString(1))
    assert(bySrc.keySet == docs.keySet, "every source must be represented")
    bySrc.foreach { case (src, rows) =>
      val quota = rows.head.getLong(3)
      assert(rows.length == math.min(quota, docs(src)).toInt,
        s"source $src: got ${rows.length}, quota $quota, available ${docs(src)}")
      assert(rows.map(_.getLong(2)).sorted.toSeq == (1L to rows.length).toSeq,
        s"source $src ranks must be dense 1..k")
    }
    val target = docs.values.sum / 2
    assert(bySrc.values.map(rs => rs.head.getLong(3)).sum >= target,
      "ceil-division quotas must cover the target")
  }

  test("w09/ts07: window families reuse ONE user_id exchange") {
    // w09: the rolling z-score rides a single ROWS-frame window pass —
    // one hash exchange, no join, no second sort of the events
    val p9 = plan(RelationalQueries.w09Anomaly(spark, d))
    assert(p9.contains("Window"), p9.take(2000))
    assert(shuffles(p9) == 1,
      s"w09 must shuffle exactly once (${shuffles(p9)}):\n" + p9.take(3000))
    assert(!p9.contains("Join"), "w09 is a single-pass window, no self-join")
    // ts07: the (user_id, bucket) argmax window's ClusteredDistribution is
    // satisfied by the user_id hash partitioning (subset rule), so the
    // whole three-window chain costs one exchange
    val p7 = plan(TimeSeriesQueries.ts07Downsample(spark, d))
    assert(shuffles(p7) == 1,
      s"ts07 must reuse the user_id exchange (${shuffles(p7)}):\n" + p7.take(3000))
    assert(!p7.contains("Join"), "ts07 never joins")
  }

  test("ts08/d15/x07: bars are pure two-phase aggregates; containment and leakage stay candidate-bounded") {
    // ts08: partial-aggregated rollup, no window, one exchange
    val p8 = plan(TimeSeriesQueries.ts08OhlcBars(spark, d))
    assert(p8.contains("partial_"), "ts08 must map-side combine:\n" + p8.take(3000))
    assert(!p8.contains("Window"), "ts08 is aggregation-only")
    assert(shuffles(p8) == 1,
      s"ts08 must shuffle exactly once (${shuffles(p8)}):\n" + p8.take(3000))
    // d15: pairs come from the banded equi-join — no nested-loop/cartesian
    val p15 = plan(TextQueries.d15Containment(spark, d))
    assert(!p15.contains("CartesianProduct") && !p15.contains("BroadcastNestedLoop"),
      "d15 must never plan an all-pairs join:\n" + p15.take(3000))
    assert(p15.contains("bitset_contain"), "d15 must use the codegen'd kernel")
    // x07: same candidate bound, and the report aggregate partial-aggregates
    val p7 = plan(TextQueries.x07SplitLeakage(spark, d))
    assert(!p7.contains("CartesianProduct") && !p7.contains("BroadcastNestedLoop"),
      "x07 must never plan an all-pairs join:\n" + p7.take(3000))
    assert(p7.contains("partial_"), "x07's rollup must map-side combine")
  }

  test("t16: DSIR scoring broadcasts the 256-cell model; target docs score higher") {
    val df = TextQueries.t16DsirWeights(spark, d)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "gram->bucket-score join must broadcast the model:\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin"), "no corpus-sized shuffle joins:\n" + p.take(3000))
    assert(!p.contains("Window"), "DSIR is aggregation-only")
    assert(p.contains("partial_"), "bucket and doc aggregates must map-side combine")
    // the whole point: documents in the target domain (lang=en) must score
    // higher on average than the rest of the corpus
    val scored = df.join(
      graft.queries.Tables.documents(spark, d).select("doc_id", "lang"), "doc_id")
      .selectExpr("lang = 'en' AS tgt", "dsir_score").collect()
    def mean(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    val en = scored.filter(_.getBoolean(0)).map(_.getLong(1)).toSeq
    val rest = scored.filterNot(_.getBoolean(0)).map(_.getLong(1)).toSeq
    assert(en.nonEmpty && rest.nonEmpty)
    assert(mean(en) > mean(rest),
      s"target-domain mean ${mean(en)} must exceed off-domain mean ${mean(rest)}")
  }

  test("x08: skyline is exactly the non-dominated set, merged from local frontiers") {
    val sky = TextQueries.x08ParetoSkyline(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // recompute the metric space naively from the t08-shaped SQL the
    // oracle uses, then check both skyline directions
    val m = graft.queries.Tables.documents(spark, d)
      .selectExpr("doc_id", "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ') AS toks")
      .selectExpr("doc_id",
        "CAST(size(toks) AS BIGINT) AS nt",
        "CAST(size(array_distinct(toks)) AS BIGINT) AS nd",
        "explode(sequence(1, greatest(size(toks) - 1, 1))) AS pos", "toks")
      .selectExpr("doc_id", "nt", "nd", "array_join(slice(toks, pos, 2), ' ') AS gram")
      .groupBy("doc_id", "nt", "nd", "gram").count()
      .groupBy("doc_id", "nt", "nd").agg(org.apache.spark.sql.functions.max("count").as("g2"))
      .selectExpr("doc_id", "nt",
        "CAST(floor(1000000.0D * (CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE))) AS BIGINT) AS ttr",
        "g2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    def dom(a: (Long, Long, Long, Long), b: (Long, Long, Long, Long)) =
      a._2 >= b._2 && a._3 >= b._3 && a._4 <= b._4 &&
        (a._2 > b._2 || a._3 > b._3 || a._4 < b._4)
    val skySet = sky.map(_._1).toSet
    assert(sky.nonEmpty && sky.length < m.length, "frontier must be a strict subset")
    sky.foreach(p => assert(!m.exists(q => dom(q, p)), s"kept point $p is dominated"))
    m.filterNot(p => skySet(p._1))
      .foreach(p => assert(m.exists(q => dom(q, p)), s"dropped point $p is non-dominated"))
    // plan: the quadratic test never reaches the cluster - no joins beyond
    // the metric build, one repartition(1) exchange for the merge pass
    val p = plan(TextQueries.x08ParetoSkyline(spark, d))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "no all-pairs dominance join:\n" + p.take(3000))
    assert(p.contains("partial_"), "metric aggregates must map-side combine")
  }

  test("ts09: EWMA is one window exchange; weights renormalize exactly") {
    val df = TimeSeriesQueries.ts09EwmaSmooth(spark, d)
    val p = plan(df)
    assert(shuffles(p) == 1, s"one user_id window exchange expected (${shuffles(p)}):\n" + p.take(3000))
    assert(!p.contains("Join"), "EWMA must not join")
    // exactness: first event of each user smooths to itself; den is the
    // full geometric mass once 16 lags are present
    val rows = df.collect()
    val full = (0 until TimeSeriesQueries.EwmaDepth).map(k => 1L << (15 - k)).sum
    rows.foreach { r =>
      val (v, num, den, e) = (r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))
      assert(den <= full && den >= (1L << 15))
      if (den == (1L << 15)) { assert(num == v * (1L << 15)); assert(e == v.toDouble) }
      assert(e == num.toDouble / den.toDouble)
    }
  }

  test("w11: attribution is one carry-forward window pass, never an as-of self-join") {
    val df = RelationalQueries.w11Attribution(spark, d)
    val p = plan(df)
    assert(shuffles(p) == 1, s"one user_id window exchange expected (${shuffles(p)}):\n" + p.take(3000))
    assert(!p.contains("Join"), "carry-forward must replace the as-of self-join")
    // semantics: every credited touch strictly precedes its purchase
    // within the lookback; 'direct' rows carry the sentinel triple
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (tid, ttype, gap) = (r.getLong(4), r.getString(5), r.getLong(6))
      if (ttype == "direct") assert(tid == -1L && gap == -1L)
      else {
        assert(Set("click", "view")(ttype))
        assert(gap >= 0L && gap <= RelationalQueries.AttribLookbackUs)
      }
    }
  }

  test("x09: Hamilton apportionment hits the eval budget exactly, stratum by stratum") {
    val sel = TextQueries.x09EvalApportion(spark, d).collect()
    val docs = graft.queries.Tables.documents(spark, d)
      .groupBy("source", "lang").count().collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val n = docs.values.sum
    val budget = n / TextQueries.EvalDenom
    assert(sel.length.toLong == budget, s"selected ${sel.length}, budget $budget")
    // per-stratum: got == quota, quota within 1 of the exact proportion,
    // and never more than the stratum holds
    val byStratum = sel.groupBy(r => (r.getString(1), r.getString(2)))
    byStratum.foreach { case (k, rows) =>
      val quota = rows.head.getLong(4)
      assert(rows.length.toLong == quota)
      assert(quota <= docs(k))
      val exact = budget.toDouble * docs(k) / n
      assert(quota >= math.floor(exact) && quota <= math.ceil(exact),
        s"stratum $k quota $quota outside [floor, ceil] of $exact")
    }
    // the selection plan rides TopKPerGroup, not a corpus-wide window
    val p = plan(TextQueries.x09EvalApportion(spark, d))
    assert(p.contains("GraftTopK"),
      "selection must use the top-k operator:\n" + p.take(3000))
  }

  test("g03: k-core equals iterate-to-fixpoint peeling on the same edges") {
    // value-level: recompute the 2-core naively (driver-side peeling over
    // the collected full-signature edge set) and compare exactly.
    // sf0.01 — sf0.001's template graph has no cycles (g02's degenerate
    // scale) and an empty core checks nothing.
    val dd = "/root/testdata/sf0.01"
    val got = TextQueries.g03KCore(spark, dd)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sig = TextQueries.d02MinHashSig(spark, dd)
      .select("doc_id", "band0", "band1").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2))))
    val pairs = for {
      (a, sa) <- sig; (b, sb) <- sig if a < b && sa == sb
    } yield (a, b)
    var edges = (pairs ++ pairs.map(p => (p._2, p._1))).toSet
    var changed = true
    while (changed) {
      val deg = edges.groupBy(_._1).map { case (n, es) => n -> es.size }
      val alive = deg.filter(_._2 >= TextQueries.CoreK).keySet
      val next = edges.filter(e => alive(e._1) && alive(e._2))
      changed = next != edges
      edges = next
    }
    val naive = edges.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    assert(got == naive && got.nonEmpty, s"core mismatch: got ${got.size}, naive ${naive.size}")
    got.values.foreach(d => assert(d >= TextQueries.CoreK))
  }

  test("g04: four LPA supersteps equal the naive synchronous recompute") {
    // value-level: run the deterministic synchronous relabeling on the
    // driver over the collected full-signature edge set and compare
    // exactly — sf0.01, where the template graph has real communities.
    val dd = "/root/testdata/sf0.01"
    val got = TextQueries.g04LabelProp(spark, dd)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sig = TextQueries.d02MinHashSig(spark, dd)
      .select("doc_id", "band0", "band1").collect()
      .map(r => (r.getLong(0), (r.getString(1), r.getString(2))))
    val pairs = for {
      (a, sa) <- sig; (b, sb) <- sig if a < b && sa == sb
    } yield (a, b)
    val nbrs = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).map { case (n, es) => n -> es.map(_._2).toSeq }
    var lab: Map[Long, Long] = nbrs.keys.map(n => n -> n).toMap
    (1 to TextQueries.LpaRounds).foreach { _ =>
      lab = nbrs.map { case (n, ns) =>
        val counts = ns.map(lab).groupBy(identity).view.mapValues(_.size)
        n -> counts.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    val szs = lab.values.groupBy(identity).map { case (l, xs) => l -> xs.size.toLong }
    val naive = lab.map { case (n, l) => (n, l, szs(l)) }.toSet
    assert(got == naive && got.nonEmpty,
      s"LPA mismatch: got ${got.size} rows, naive ${naive.size}")
    // communities must REFINE d07-style reachability: merging beyond a
    // component is impossible in any propagation round
    assert(got.exists(_._3 > 1), "sf0.01 template graph should have a real community")
    // plan shape of ONE superstep (the per-round localCheckpoint hides the
    // iteration from the final plan): edge-bounded equi-joins only, argmax
    // as a combinable aggregate — no per-node window sort anywhere
    val edges = spark.createDataFrame(
      pairs.toSeq.flatMap { case (a, b) => Seq((a, b), (b, a)) }).toDF("x", "y")
    val lab0 = edges.select(org.apache.spark.sql.functions.col("x").as("doc_id")).distinct()
      .withColumn("label", org.apache.spark.sql.functions.col("doc_id"))
    val p = plan(TextQueries.lpaSuperstep(edges, lab0))
    assert(!p.contains("CartesianProduct"), "LPA joins must stay equi:\n" + p.take(3000))
    assert(p.contains("partial_max"),
      "superstep argmax must map-side combine:\n" + p.take(3000))
    assert(!p.contains("Window"), "superstep must not window-sort nodes:\n" + p.take(3000))
  }

  test("w10: sliding distinct is two linear passes + calendar-sized tail") {
    val p = plan(RelationalQueries.w10SlidingDistinct(spark, d))
    // events are never window-joined: the only joins are broadcasts of
    // calendar-sized delta aggregates (plus the 1-row bounds leg)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      "w10 joins must broadcast calendar-sized sides:\n" + p.take(3000))
    assert(p.contains("partial_count") || p.contains("partial_"),
      "the (user, day) pass must map-side combine:\n" + p.take(3000))
    // exactly one event-sized window (the per-user lag); the prefix-sum
    // window runs over the day spine
    assert(p.contains("lag("), "per-user lag window expected:\n" + p.take(3000))
    // correctness of the decomposition vs a direct distinct count per
    // window at sf0.001 (value-level spot check, all windows)
    val got = RelationalQueries.w10SlidingDistinct(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sortBy(_._1)
    val W = RelationalQueries.SlideWinDays
    val ev = graft.queries.Tables.events(spark, d)
      .selectExpr("user_id", "unix_micros(ts) DIV 86400000000 AS day").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val days = ev.map(_._2)
    val naive = (days.min to days.max).map { ws =>
      val in = ev.filter(e => e._2 >= ws && e._2 < ws + W)
      (ws, in.map(_._1).distinct.size.toLong, in.size.toLong)
    }
    assert(got == naive, s"delta decomposition must equal naive per-window recount")
  }

  test("s13: MMR picks are relevant-first, diverse, and pool-bounded") {
    // the candidate pool is cut by the TopKPerGroup operator (per-partition
    // heaps), not a corpus-wide window rank
    val sel = SimilarityQueries.s13MmrRerank(spark, d).collect()
    assert(sel.length == SimilarityQueries.MmrQueries * SimilarityQueries.MmrK)
    val byQ = sel.groupBy(_.getLong(0))
    assert(byQ.keySet == (0L until SimilarityQueries.MmrQueries).toSet)
    byQ.foreach { case (q, rows) =>
      val ordered = rows.sortBy(_.getLong(1))
      assert(ordered.map(_.getLong(1)).toSeq == (1L to SimilarityQueries.MmrK),
        s"query $q picks must be dense ranks 1..K")
      val ids = ordered.map(_.getLong(2))
      assert(ids.distinct.length == ids.length, s"query $q picks must be distinct")
      // seed = pure argmax relevance: every later pick's rel cannot exceed it
      assert(ordered.tail.forall(_.getLong(3) <= ordered.head.getLong(3)),
        s"query $q seed must be the most relevant candidate")
      // the seed is scored by pure relevance (no selected set to penalize
      // against yet); later scores are rel − max-sim, which may exceed rel
      // when every selected vector is anti-correlated with the candidate
      assert(ordered.head.getLong(4) == ordered.head.getLong(3),
        s"query $q seed score must equal its relevance")
    }
  }
}
