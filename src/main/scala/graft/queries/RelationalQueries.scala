package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.SpinePrefix

/** The relational operator inventory of SURVEY.md §2.6 expressed over the
  * driver's TPC-H-ish tables: aggregations, broadcast equi-joins,
  * running-sum windows (the T10 index-position window), sorts/limits,
  * set ops, scalar functions (ObjectKey formatting), and the batch-regroup
  * group-by shape (I8).
  *
  * Every query has a DuckDB oracle in [[graft.SparkEntry.oracleSql]]; column
  * names and value types are aligned on both sides.
  */
object RelationalQueries {
  import Tables._

  /** Aggregation with map-side partial agg (TPC-H Q1 shape). Mirrors the
    * reference's per-upload byte-count aggregation semantics
    * (`KafkaRemoteStorageManager.java:265-267`) at relational scale. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        out2(sum(dec2(col("l_quantity")))).as("sum_qty"),
        out2(sum(dec2(col("l_extendedprice")))).as("sum_base_price"),
        out6(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("sum_disc_price"),
        out6(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax")))))
          .as("sum_charge"),
        count(lit(1)).as("count_order"))

  /** Selective filter + global agg: the predicate must reach the parquet
    * scan (PushedFilters) — TPC-H Q6 shape. */
  def q02Revenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(
        col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < 24)
      .agg(out6(sum(dec6(col("l_extendedprice") * col("l_discount")))).as("revenue"))

  /** Broadcast-hash equi-join (customer is the small side) + agg + top-k.
    * The only join kind the engine commits to per SURVEY §2.6. */
  def q03TopCustomers(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(out2(sum(dec2(col("o_totalprice")))).as("revenue"), count(lit(1)).as("order_cnt"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)

  /** Multi-way broadcast join through the dimension chain
    * region -> nation -> customer -> orders -> lineitem (TPC-H Q5 shape). */
  def q04RegionRevenue(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy(col("n_name"))
      .agg(out6(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("revenue"))

  /** Running-sum window — the exact shape of the reference's index-position
    * computation (T10: `sum(size) OVER (ORDER BY ordinal ROWS UNBOUNDED
    * PRECEDING)`, `KafkaRemoteStorageManager.java:296-360`) and chunk
    * `transformedPosition` materialization (`AbstractChunkIndex.java:52-73`). */
  def q05RunningTotal(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders(s, d)
      .filter(col("o_custkey") <= 200)
      .select(
        col("o_custkey"), col("o_orderkey"),
        out2(sum(dec2(col("o_totalprice"))).over(w)).as("running_total"))
  }

  /** Global sort + limit (top-k) with a unique tiebreaker. */
  def q06TopOrders(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(20)
      .select(col("o_orderkey"), col("o_totalprice").as("totalprice"), col("o_orderpriority"))

  /** Set operators: union/intersect/except over generated key sets — the
    * shape of the reference's delete-key-set construction
    * (`KafkaRemoteStorageManager.java:601-606`). */
  def q07KeySets(s: SparkSession, d: String): DataFrame = {
    // one full-outer join over the two distinct key sets answers all three
    // set operations at once — the separate union/intersect/except plans
    // cost 13 exchanges where this costs the two distincts (whose
    // hash-partitioning the join then reuses) plus the final global agg
    val customerNations = customer(s, d).select(col("c_nationkey").cast("int").as("nk"))
      .distinct().withColumn("in_c", lit(1))
    val supplierNations = supplier(s, d).select(col("s_nationkey").cast("int").as("nk"))
      .distinct().withColumn("in_s", lit(1))
    customerNations.join(supplierNations, Seq("nk"), "full_outer")
      .agg(
        count(lit(1)).as("union_count"),
        count(when(col("in_c") === 1 && col("in_s") === 1, 1)).as("intersect_count"),
        count(when(col("in_c") === 1 && col("in_s").isNull, 1)).as("except_count"))
  }

  /** Group-by + HAVING + distinct aggregation. */
  def q08EventTypes(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        out2(sum(dec2(col("value")))).as("total_value"))
      .filter(col("n_events") > 10)

  /** Scalar-function surface: the ObjectKey layout functions
    * (`ObjectKeyFactory.java:117-135`) — zero-padded offsets, path concat —
    * plus hashing/base64 used by the manifest serde. */
  def q09ObjectKeys(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .filter(col("o_orderkey") <= 100)
      .select(
        col("o_orderkey"),
        lpad(col("o_orderkey").cast("string"), 20, "0").as("padded_offset"),
        concat_ws("/", lit("topic"), col("o_custkey").cast("string"),
          lpad(col("o_orderkey").cast("string"), 20, "0")).as("object_key"),
        md5(col("o_orderpriority").cast("binary")).as("priority_md5"),
        base64(col("o_orderstatus").cast("binary")).as("status_b64"),
        substring(col("o_orderpriority"), 1, 1).as("priority_prefix"))

  /** Event-time tumbling-window aggregation (batch form of the streaming
    * windowed agg; Structured Streaming variant in graft.streaming). */
  def q10HourlyEvents(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), out2(sum(dec2(col("value")))).as("hourly_value"))

  /** Semi/anti joins — EXISTS / NOT EXISTS as join strategies (the
    * existence-check shape of the reference's manifest-presence routing,
    * R11): customers partitioned into with-orders / without-orders. */
  def q15SemiAnti(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
    val o = orders(s, d).select(col("o_custkey"))
    val withOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n"), out2(sum(dec2(col("c_acctbal")))).as("bal"))
      .selectExpr("'with_orders' AS segment", "n", "bal")
    val withoutOrders = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"), out2(sum(dec2(col("c_acctbal")))).as("bal"))
      .selectExpr("'without_orders' AS segment", "n", "bal")
    withOrders.union(withoutOrders)
  }

  /** Skew-safe two-phase aggregation: the classic salting pattern — partial
    * aggregate on (key, salt) spreads a hot key over 16 reducers, the final
    * aggregate merges partials. Output is EXACTLY the plain groupBy (decimal
    * addition is associative), which is what the oracle runs. `event_type`
    * has ~5 values over millions of rows — precisely the skew shape that
    * stalls a single reducer at 100 TB. */
  def q14SaltedAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
      .agg(count(lit(1)).as("pn"), sum(dec2(col("value"))).as("pv"))
      .groupBy(col("event_type"))
      .agg(sum(col("pn")).as("n_events"), out2(sum(col("pv"))).as("total_value"))

  /** Salt replication factor for q19. */
  val SaltR = 8

  /** q19: SALT-REPLICATED skewed join — the join-side twin of q14's salted
    * aggregation. When one join key is hot, every matching row lands in ONE
    * shuffle partition and the stage runs at the speed of that straggler;
    * salting splits each build key into [[SaltR]] replicas — the probe side
    * picks a deterministic salt per row (l_linenumber % R), the build side
    * replicates each row R times — so the hot key's rows spread over R
    * partitions. Every probe row still meets its key exactly once, so the
    * result is IDENTICAL to the plain join: the oracle is the unsalted SQL.
    * (Production salts only detected-hot keys rather than the whole build
    * side, and AQE skew-join does this adaptively per-partition; the
    * mechanism — and the correctness argument — is exactly this one.)
    *
    * STATUS — NAIVE BASELINE, kept deliberately (r4 verdict task 5): full
    * salting replicates the ENTIRE build side R× by design, so its cost
    * scales R× worse than needed (4.5× time ratio at the 10× probe, the
    * bench's slowest row). The production form is [[q27PartialSalted]]:
    * a02's profile gates replication to the detected-hot keys only (1.4×
    * at 10×). q19 exists as the reference point that makes q27's win
    * measurable — compare the two rows in any BENCH artifact. */
  def q19SaltedJoin(s: SparkSession, d: String): DataFrame = {
    // salt must COVER 0..R-1: l_linenumber alone is 1..7, which would
    // leave the bsalt=0 replica dead and spread hot keys over R-1
    // partitions only — mix in the orderkey so all R buckets are live
    val probe = lineitem(s, d).select(
      col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
      pmod(col("l_orderkey") + col("l_linenumber"), lit(SaltR)).as("salt"))
    val build = orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("bsalt", explode(sequence(lit(0), lit(SaltR - 1))))
    probe.join(build,
        col("l_orderkey") === col("o_orderkey") && col("salt") === col("bsalt"))
      .groupBy(col("o_orderpriority"))
      .agg(
        out6(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** Profile size for q27's partial salting: how many of the heaviest
    * probe keys get salted (the a02 profiler's top-N, collected — a
    * model-bounded driver value like s06's centroids, NOT data-sized). */
  val PartialSaltHotN = 64

  /** q27: PARTIALLY salted join — q19's mechanism gated by a02's profile.
    * Full salting replicates EVERY build row R× to fix a handful of hot
    * keys — R× build shuffle bytes and R× join hash tables as collateral.
    * The profiled form salts ONLY the [[PartialSaltHotN]] heaviest probe
    * keys (a02's top-N): hot build rows get [[SaltR]] replicas and hot
    * probe rows a deterministic salt; every other row keeps salt 0 and ONE
    * build replica — non-hot keys skip replication entirely (the
    * generator's sequence bound is conditional on the hot flag,
    * plan-locked in PlanChecksSpec). Every probe row still meets its key
    * exactly once, so the result is IDENTICAL to the plain join — the
    * oracle is the unsalted SQL. At 100 TB the build-replication cost
    * drops from R×|build| to R×|hot| ≈ nothing, while hot keys still fan
    * out over R reducers; AQE's skew join is the adaptive form of exactly
    * this rewrite. */
  def q27PartialSaltedJoin(s: SparkSession, d: String): DataFrame = {
    // the a02 profile reduced to its decision set (ties broken on key asc
    // → deterministic); 64 longs ride the plan as IN-list literals.
    // Raw (unspread) scan for the profile pass — scan → partial agg on one
    // key, the same shape a02 measured the spread as pure overhead on; the
    // probe/build sides below keep the spread scan where it pays.
    val hot = Tables.table(s, d, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("l_orderkey").asc).limit(PartialSaltHotN)
      .select(col("l_orderkey")).collect().map(_.getLong(0)).sorted
    val probe = lineitem(s, d).select(
      col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
      when(col("l_orderkey").isin(hot.map(Long.box): _*),
          pmod(col("l_orderkey") + col("l_linenumber"), lit(SaltR)))
        .otherwise(lit(0)).as("salt"))
    val build = orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .withColumn("bsalt", explode(sequence(lit(0),
        when(col("o_orderkey").isin(hot.map(Long.box): _*), lit(SaltR - 1))
          .otherwise(lit(0)))))
    probe.join(build,
        col("l_orderkey") === col("o_orderkey") && col("salt") === col("bsalt"))
      .groupBy(col("o_orderpriority"))
      .agg(
        out6(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** q20: the custom TOP-K OPERATOR on real data — 3 most expensive orders
    * per priority via [[graft.plans.TopKPerGroup]] (custom logical node +
    * planner strategy + partial/final physical execs; the exchange moves
    * only groups×k rows). Total order (totalprice DESC, orderkey ASC) →
    * deterministic; the oracle is the window formulation. */
  def q20TopKOperator(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerGroup(
        orders(s, d).select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
        Seq("o_orderpriority"),
        Seq("o_totalprice" -> true, "o_orderkey" -> false), k = 3)
      .select(col("o_orderpriority"), col("o_orderkey"), out2(dec2(col("o_totalprice"))).as("total"))

  /** Multi-level aggregation (ROLLUP grouping sets) over the dimension
    * chain — per-(region, nation) revenue with nation subtotals and a grand
    * total in ONE pass: Spark expands the grouping sets before the exchange,
    * so the cube costs one shuffle, not three. */
  def q16Rollup(s: SparkSession, d: String): DataFrame = {
    // Pre-aggregate per (r_name, n_name) BEFORE the rollup: Expand otherwise
    // multiplies every fact row by the number of grouping sets ahead of the
    // exchange. SUM/COUNT re-aggregate exactly over the partials, so the
    // grouping-set expansion runs over ~|regions × nations| rows instead of
    // the full fact table — the only rollup plan that survives 100 TB.
    val base = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev"),
        count(lit(1)).as("cnt"))
    base.rollup(col("r_name"), col("n_name"))
      .agg(out6(sum(col("rev"))).as("revenue"), sum(col("cnt")).as("n_items"))
  }

  /** Semi-structured extraction: JSON property pulled out of a string column
    * (`get_json_object`, codegen'd) and aggregated — the schema-on-read
    * fallback shape of the record layer's raw-bytes path (R11/I2: payloads
    * whose schema isn't registered stay raw and get parsed at query time). */
  def q17JsonProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"), get_json_object(col("props"), "$.k").cast("bigint").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))

  /** As-of join (point-in-time lookup): each purchase sees the most recent
    * prior 'view' of the same user. Implemented as ONE window pass over the
    * unioned event stream — the scalable formulation (single shuffle on
    * user_id, no range join, no broadcast): the classic trade/quote as-of
    * shape. */
  def w01AsofFunnel(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .withColumn("last_view_ts", max(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("views_before", count(when(col("event_type") === "view", lit(1))).over(w))
      .filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"),
        date_format(col("last_view_ts"), "yyyy-MM-dd HH:mm:ss").as("last_view_ts"),
        col("views_before"))
  }

  /** Sessionization: gap > 30 min starts a new session — lag + cumulative
    * sum over one user-partitioned window, then a per-session aggregate.
    * Batch twin of streaming session windows; integer microsecond
    * arithmetic end-to-end so the oracle agrees exactly. */
  def w02Sessions(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = 30L * 60 * 1000000
    events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("prev_us", lag(col("us"), 1).over(wOrd))
      .withColumn("new_sess",
        when(col("prev_us").isNull || col("us") - col("prev_us") > gapUs, 1L).otherwise(0L))
      .withColumn("sess",
        sum(col("new_sess")).over(wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess"))
      .agg(count(lit(1)).as("n_events"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        out2(sum(dec2(col("value")))).as("sess_value"))
  }

  /** Interval (range) join via time-axis binning: per error event, count the
    * same user's events in the preceding 5 minutes. The naive plan is an
    * inequality join (BroadcastNestedLoop — quadratic, dies at scale); the
    * scale plan BINS the time axis at the window width so each probe row
    * explodes to exactly 2 bucket keys and the join becomes a plain
    * equi-shuffle on (user, bucket), with the exact range predicate applied
    * as a post-filter. Every matching row lands in exactly one bucket, so
    * no dedup pass is needed. */
  def i01IntervalJoin(s: SparkSession, d: String): DataFrame = {
    val winUs = 5L * 60 * 1000000
    val acts = events(s, d)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"))
      .withColumn("abkt", expr(s"us div $winUs"))
    val errors = events(s, d).filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id").as("err_user"),
        col("ts").as("err_ts"), unix_micros(col("ts")).as("err_us"))
      .withColumn("bkt", explode(array(expr(s"err_us div $winUs - 1"), expr(s"err_us div $winUs"))))
    errors.join(acts,
        col("err_user") === acts("user_id") && col("bkt") === acts("abkt") &&
          acts("us") >= col("err_us") - winUs && acts("us") < col("err_us"), "left")
      .groupBy(col("err_id"), col("err_user"), col("err_ts"))
      .agg(count(acts("event_id")).as("n_prior"))
      .select(col("err_id").as("event_id"), col("err_user").as("user_id"),
        date_format(col("err_ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("n_prior"))
  }

  /** i02 — the NAIVE interval join, auto-binned by the optimizer. Unlike
    * i01 (binned by hand), this is written the way every user writes it
    * first: a bare band predicate with NO equi-key, which Spark plans as
    * BroadcastNestedLoopJoin — O(|probe|·|build|) comparisons. The
    * [[graft.plans.RangeBinJoin]] rule (installed by
    * `GraftFunctions.register` / `GraftExtensions`) rewrites it into the
    * same bucket-exploded equi-join i01 builds manually, so the naive
    * formulation gets the linear-shuffle plan. Semantics: for each error
    * event, count ALL events platform-wide in the preceding hour (global
    * window — no per-user key, which is exactly the case where the manual
    * i01 trick has no equi-key to piggyback on). */
  def i02BandJoinAuto(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s) // installs RangeBinJoin
    val winUs = 3600L * 1000000
    val acts = events(s, d)
      .select(unix_micros(col("ts")).as("us"), col("event_id").as("act_id"))
    // NO pre-flight: this is the PRODUCTION path — BandTuning samples the
    // axis density lazily at planning time (PlanChecksSpec locks i02 to
    // the bare naive shape's plan), so the bench measures what a user
    // actually gets.
    // Pin the r6 cost crossover to its default: BandAggPushdown decomposes
    // only when the measured density clears it (i04 forces 0 in the same
    // session, so the knob is set explicitly here, not inherited)
    s.conf.set(graft.plans.BandAggPushdown.MinRowsPerWindowKey,
      graft.plans.BandAggPushdown.DefaultMinRowsPerWindow.toString)
    val errors = events(s, d).filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts").as("err_ts"), unix_micros(col("ts")).as("err_us"))
    errors.join(acts, col("us") >= col("err_us") - winUs && col("us") < col("err_us"))
      .groupBy(col("err_id"), col("user_id"), col("err_ts"))
      .agg(count(col("act_id")).as("n_window"))
      .select(col("err_id").as("event_id"), col("user_id"),
        date_format(col("err_ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("n_window"))
  }

  /** i04: the i02 band-count query with [[graft.plans.BandAggPushdown]]
    * FORCED (crossover threshold 0) — the aggregate never enumerates the
    * matched pairs: full sub-bins join as pre-aggregated per-bin counts
    * (broadcast bin table), only the ≤2 boundary bins join row-level with
    * the exact band predicate. The oracle is the SAME naive SQL as i02 —
    * the rewrite is semantics-preserving, so the driver's DuckDB compare
    * gates the decomposition itself at every scale. i02 stays adaptive
    * (enumeration below the density crossover, decomposition above);
    * this query pins the decomposed plan so correctness of the rewrite is
    * oracle-checked even at gate scale, where i02's measured density
    * keeps it on the enumeration plan.
    *
    * Scale: matched pairs grow as rows × rows-per-window (quadratic on a
    * densifying axis — 2.75 M → 275 M at the 10× replica); the
    * decomposition processes O(|errors|·k + |errors|·rpw/k + |events|)
    * rows with k = √(2·rpw) — measured 4.1 s → 2.3 s at the replica and
    * ratio 1.3× at 10× data. */
  def i04BandAggPushdown(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val winUs = 3600L * 1000000
    val acts = events(s, d)
      .select(unix_micros(col("ts")).as("us"), col("event_id").as("act_id"))
    s.conf.set(graft.plans.BandAggPushdown.MinRowsPerWindowKey, "0")
    val errors = events(s, d).filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("user_id"),
        col("ts").as("err_ts"), unix_micros(col("ts")).as("err_us"))
    errors.join(acts, col("us") >= col("err_us") - winUs && col("us") < col("err_us"))
      .groupBy(col("err_id"), col("user_id"), col("err_ts"))
      .agg(count(col("act_id")).as("n_window"))
      .select(col("err_id").as("event_id"), col("user_id"),
        date_format(col("err_ts"), "yyyy-MM-dd HH:mm:ss").as("ts"), col("n_window"))
  }

  /** i05: the full WINDOWED-STATS band aggregate — per error, count /
    * sum / min / max / avg of the value (in exact cents) over events in
    * the preceding hour: the "context stats around each incident" query,
    * exercising EVERY decomposition kind [[graft.plans.BandAggPushdown]]
    * supports under the driver's DuckDB oracle (i04 gates count alone;
    * avg expands to a (sum, count) partial pair). Cents via the i03
    * DECIMAL(18,2) quantization, so sums and the avg division are exact
    * identical doubles on both engines. Decomposition forced (crossover
    * 0) like i04 — the pairs are never enumerated at any density. */
  def i05BandStats(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val winUs = 3600L * 1000000
    val acts = events(s, d).select(unix_micros(col("ts")).as("us"),
      expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("cents"))
    // decomposition forced, but density/max-window come from the LAZY
    // planning-time sampler: the AVG 2⁵³ exactness guard runs on a fresh
    // sample of THIS axis
    s.conf.set(graft.plans.BandAggPushdown.MinRowsPerWindowKey, "0")
    val errors = events(s, d).filter(col("event_type") === "error")
      .select(col("event_id").as("err_id"), unix_micros(col("ts")).as("err_us"))
    errors.join(acts, col("us") >= col("err_us") - winUs && col("us") < col("err_us"))
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_window"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
        avg(col("cents")).as("avg_cents"))
      .selectExpr("err_id AS event_id", "n_window", "sum_cents",
        "min_cents", "max_cents", "avg_cents")
  }

  /** Sketch aggregations — the sublinear-memory operators a 100 TB
    * aggregation actually runs: HyperLogLog++ distinct counts and
    * approximate percentiles next to their exact counterparts. No DuckDB
    * oracle (sketch internals differ across engines — driver records a
    * rows-only check); accuracy is asserted against the exact values in
    * SketchSpec instead. */
  /** The raw sketch outputs (HLL++ distinct, t-digest-style percentiles) —
    * engine-specific values, bounded-error-asserted in SketchSpec and
    * consumed by [[a01Sketches]]'s oracle-gated bounds columns. */
  def a01SketchesRaw(s: SparkSession, d: String): DataFrame =
    a01SketchesRawFrom(events(s, d))

  private def a01SketchesRawFrom(ev: DataFrame): DataFrame =
    ev
      .groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"),
        // one sketch for both quantiles — a second approx_percentile would
        // build (and merge) a second digest per group for the same column
        expr("approx_percentile(value, array(0.5, 0.95), 1000)").as("pcts"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("approx_users"), col("exact_users"),
        element_at(col("pcts"), 1).as("p50_value"),
        element_at(col("pcts"), 2).as("p95_value"), col("n"))

  /** a01 — sketches with a REAL oracle gate (VERDICT r2 item 5): the output
    * carries the exact values (reproducible in any engine) plus IN-BOUNDS
    * flags computed from the live sketches:
    *   - `users_in_bounds`: |HLL estimate − exact| ≤ max(15% rel, 5 abs)
    *     (default HLL++ rsd 5%; 3σ plus small-cardinality floor);
    *   - `p50_rank_ok`/`p95_rank_ok`: the returned percentile value's RANK
    *     INTERVAL [count(<v), count(≤v)] must overlap the target rank
    *     window q·n ± max(1% n, 10) — the guarantee
    *     approx_percentile(accuracy=1000) makes (rank error ≤ n/1000),
    *     widened; the interval form is duplicate-robust (a value with
    *     high multiplicity still has SOME rank inside the window, where
    *     a plain count(≤v) bound would flip on correct sketches).
    * The oracle emits the exact columns and literal 1 flags, so a sketch
    * drifting out of bounds flips a flag and fails rows+hash — the sketch
    * accuracy claim is driver-checked, not just spec-asserted. */
  def a01Sketches(s: SparkSession, d: String): DataFrame = {
    // ONE events scan feeds both passes (r13, VERDICT r12 task 6 — guide
    // §5 cache-when-reused): the sketch job and the rank-check pass each
    // re-scanned + re-decoded events; the narrow (event_type, user_id,
    // value) projection is materialized once INSIDE the query (timed —
    // nothing escapes the bench's measured region) and both passes read
    // it. The projection keeps the scan's own partitioning, so the sketch
    // merge order — and therefore every sketch value — is unchanged.
    val ev = events(s, d).select(col("event_type"), col("user_id"), col("value"))
      .localCheckpoint(true)
    // pin ONE evaluation of the sketch subtree: it feeds both the rank
    // counts and the final join, and an un-checkpointed plan would rebuild
    // the sketches per branch — cost, plus a bound-straddling percentile
    // could differ between evaluations and flip a flag (same reason
    // d03From checkpoints the signature scan)
    val sk = a01SketchesRawFrom(ev).localCheckpoint(true)
    val ranks = ev
      .join(sk.select(col("event_type"), col("p50_value"), col("p95_value")), "event_type")
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("value") < col("p50_value"), 1L).otherwise(0L)).as("lo50"),
        sum(when(col("value") <= col("p50_value"), 1L).otherwise(0L)).as("hi50"),
        sum(when(col("value") < col("p95_value"), 1L).otherwise(0L)).as("lo95"),
        sum(when(col("value") <= col("p95_value"), 1L).otherwise(0L)).as("hi95"))
    val err = "greatest(0.01 * n, 10)"
    sk.join(ranks, "event_type")
      .selectExpr(
        "event_type", "exact_users", "n",
        "CAST(abs(approx_users - exact_users) <= greatest(CAST(ceil(0.15 * exact_users) AS BIGINT), 5) AS BIGINT) AS users_in_bounds",
        s"CAST(lo50 <= 0.5 * n + $err AND hi50 >= 0.5 * n - $err AS BIGINT) AS p50_rank_ok",
        s"CAST(lo95 <= 0.95 * n + $err AND hi95 >= 0.95 * n - $err AS BIGINT) AS p95_rank_ok")
  }

  /** Exact quantiles via rank — the deterministic counterpart to a01's
    * sketches: value-at-rank ceil(q·n) (lower quantile-disc semantics) from
    * one sort shuffle per group, identical integer rank math on both sides
    * (built-in percentile functions interpolate differently across
    * engines, so the rank formula IS the portable definition). */
  def q18ExactQuantiles(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("event_type")).orderBy(col("value"), col("event_id"))
    events(s, d)
      .withColumn("r", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      .withColumn("is_p50", col("r") === expr("CAST(ceil(0.5 * n) AS BIGINT)"))
      .withColumn("is_p95", col("r") === expr("CAST(ceil(0.95 * n) AS BIGINT)"))
      .filter(col("is_p50") || col("is_p95"))
      .groupBy(col("event_type"))
      .agg(
        max(when(col("is_p50"), col("value"))).as("p50_value"),
        max(when(col("is_p95"), col("value"))).as("p95_value"),
        max(col("n")).as("n"))
  }

  /** Ordered regroup — the I8/I9 `RecordBatchGrouper` shape: group by batch
    * identity, reassemble members in offset order
    * (`RecordBatchGrouper.java:42-75`). Here: per user, events in
    * (ts, event_id) order folded to an ordered trace string. */
  def q11EventRegroup(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .filter(col("user_id") <= 500)
      .groupBy(col("user_id"))
      .agg(
        count(lit(1)).as("n"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")),
          ",").as("trace"))

  /** a03: TABLE PROFILING — the ANALYZE/stats-collection pass every
    * cost-based optimizer (and every data-quality gate) runs: row count,
    * exact distinct key cardinalities, null counts, and min/max bounds
    * over the fact table in ONE aggregation. Multiple exact
    * COUNT(DISTINCT) in one agg plan through Spark's Expand (one scan,
    * one shuffle of expanded partials — not a pass per column); at 100 TB
    * you'd swap exact NDV for the HLL sketches a01 demonstrates, same
    * plan shape minus Expand. Min/max are raw parquet values (no
    * arithmetic) → bit-exact across engines; dates formatted to strings
    * for stable comparison. */
  def a03TableStats(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      count(lit(1)).as("n_rows"),
      countDistinct(col("l_orderkey")).as("d_orderkeys"),
      countDistinct(col("l_partkey")).as("d_parts"),
      countDistinct(col("l_suppkey")).as("d_supps"),
      sum(when(col("l_discount").isNull, 1L).otherwise(0L)).as("null_discount"),
      date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_ship"),
      date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"),
      min(col("l_extendedprice")).as("min_price"),
      max(col("l_extendedprice")).as("max_price"))

  /** q23: LATEST-VALUE-PER-KEY — Kafka log-compaction semantics as a
    * query: each user's most recent event (ts, then event_id, breaks
    * ties). The 100 TB plan point: the naive formulation is
    * `row_number() OVER (PARTITION BY key ORDER BY ts DESC) = 1`, which
    * SORTS every key's whole history; the argmax is instead ONE
    * `max(struct(ts, event_id, payload…))` hash aggregate — struct
    * comparison is lexicographic by field order, so it selects exactly the
    * window's winner, but with map-side partial aggregation the exchange
    * moves one row per (key, map partition) and nothing is ever sorted.
    * The oracle IS the window formulation — proving the equivalence. */
  def q23LatestPerKey(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts"), col("event_id"), col("event_type"))).as("m"))
      .selectExpr("user_id",
        "date_format(m.ts, 'yyyy-MM-dd HH:mm:ss') AS last_ts",
        "m.event_id AS last_event_id",
        "m.event_type AS last_event_type")

  /** Pivot column values for q22 — explicit, not discovered: at 100 TB the
    * implicit `pivot(col)` first runs a DISTINCT job over the fact table to
    * find the columns; pinning the list keeps the plan static and the
    * schema deterministic (and Spark skips the discovery scan). */
  val PivotEventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** q22: PIVOT — month × event-type contingency counts. Compiles to ONE
    * hash aggregate with a conditional count per pinned column (map-side
    * partials, single exchange of |months|×|types| partial rows): the
    * reshape every ops dashboard runs, at fact-table scale. Missing combos
    * are 0, not null, on both engines. */
  def q22Pivot(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(month(col("ts")).cast("long").as("mth"))
      .pivot("event_type", PivotEventTypes)
      .agg(count(lit(1)))
      .select(col("mth") +: PivotEventTypes.map(t =>
        coalesce(col(s"`$t`"), lit(0L)).as(s"n_$t")): _*)

  /** Heavy-key report size for a02. */
  val SkewTopN = 10

  /** a02: KEY-SKEW PROFILER — the diagnostic that decides WHEN q14/q19's
    * salting is needed: per-key frequencies of the join key, the
    * [[SkewTopN]] heaviest keys with their share of all rows, plus the
    * distinct-key count. At 100 TB this is the cheap pre-flight (partial
    * aggs → per-key counts → global top-k via TakeOrdered, nothing
    * corpus-sized moves) that tells you whether the hot key's share ×
    * rows exceeds one executor's slice — i.e. whether to salt, and with
    * what replication. Ties break on key asc, so the top-k set is
    * deterministic; share is one correctly-rounded double division of two
    * exact longs (oracle-exact). */
  def a02KeySkew(s: SparkSession, d: String): DataFrame = {
    // raw (unspread) scan: the profile is scan → partial agg on one narrow
    // key, so Tables' adaptive spread would only add an exchange here
    val counts = Tables.table(s, d, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"))
    counts.orderBy(col("cnt").desc, col("l_orderkey").asc).limit(SkewTopN)
      .crossJoin(broadcast(tot))
      .selectExpr("l_orderkey", "cnt",
        "CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) AS share", "n_keys")
  }

  /** Sizing for q21's bloom filter: expected distinct build keys at the
    * bench SF, 1% fpp ⇒ ~240 KB of bits — broadcast-sized by construction
    * (the filter's size is set by these parameters, not by the data; a
    * 100 TB run sizes expectedNumItems from table stats, and Spark's own
    * runtime-filter rewrite caps the same structure at
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits`). */
  val BloomExpectedKeys = 200000L
  val BloomFpp = 0.01

  /** q21: BLOOM-FILTER SEMI-JOIN REDUCTION — the big-big join survival
    * trick at 100 TB: when a selective filter shrinks the build side, ship
    * a Bloom filter of its join keys to the probe side and drop
    * non-matching probe rows BEFORE the join shuffle. False positives are
    * harmless (the join re-checks equality), so the result is IDENTICAL to
    * the plain join — the oracle is the unsalted SQL with no bloom at all.
    * Spark's optimizer does this automatically as "runtime filtering" when
    * its heuristics fire (`InjectRuntimeFilter`); this operator is the
    * explicit, always-on form — the pre-filter is plan-visible and
    * testable, and works when the rewrite's thresholds miss.
    *
    * Plan: `stat.bloomFilter` is one map-side-combined aggregate over the
    * (already filtered) build side producing a fixed-size bit array; the
    * probe scan applies Spark's own `BloomFilterMightContain` expression —
    * the exact predicate `InjectRuntimeFilter` plants, CODEGEN'D inside the
    * probe's whole-stage span (a Scala UDF here would box every key and
    * break the span — r4 swapped it out) — so at TPC-H selectivity (~20%
    * of orders are 1-URGENT) the probe shuffle moves ~5× fewer rows at
    * scan speed. */
  def q21BloomJoin(s: SparkSession, d: String): DataFrame = {
    graft.plans.GraftFunctions.register(s)
    val build = orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"), col("o_orderdate"))
    val bloomBytes = graft.functions.GraftDsl.buildBloom(
      build, col("o_orderkey"), BloomExpectedKeys, BloomFpp)
    val probe = lineitem(s, d)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .filter(graft.functions.GraftDsl.bloomMightContain(bloomBytes, col("l_orderkey")))
    probe.join(build, col("l_orderkey") === col("o_orderkey"))
      .groupBy(month(col("o_orderdate")).cast("long").as("mth"))
      .agg(
        out6(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** w03: value-RANGE moving aggregate — per event, the same user's
    * trailing-hour activity (count + exact sum). q05's ROWS frame steps by
    * row position; a RANGE frame steps by ORDER-BY VALUE, so the frame is
    * "everything within the last hour" regardless of how many events fall
    * in it, and peer rows (equal timestamps) enter the frame together —
    * the rate-counter / rolling-quota shape (the reference's windowed
    * rate sensors, `Metrics.java` — §2.7 — are this aggregate over time).
    *
    * Scale: one shuffle on user_id; frame evaluation is a sliding
    * two-pointer pass per partition, O(n) not O(n·frame). Event time is
    * ordered as epoch MICROS (bigint) so the frame bound is integer
    * arithmetic — identical in both engines, no interval-literal dialect.
    * The sum is DECIMAL inside the frame (order-independent) and DOUBLE
    * only at output. */
  def w03TrailingWindow(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600L * 1000000
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"))
      .rangeBetween(-hourUs, 0)
    events(s, d)
      .withColumn("us", unix_micros(col("ts")))
      .withColumn("n_1h", count(lit(1)).over(w))
      .withColumn("v_1h", out2(sum(dec2(col("value"))).over(w)))
      .select(col("event_id"), col("user_id"), col("us"), col("n_1h"), col("v_1h"))
  }

  /** w05: SCD2 — the slowly-changing-dimension TYPE-2 join every
    * warehouse runs: the dimension's versions carry [valid_from, valid_to)
    * intervals (valid_to = next version's start via `lead`, NULL = current)
    * and each fact row joins the version valid AT ITS OWN TIMESTAMP.
    * Here the versioned dimension is each customer's order-priority
    * history (a new order = a new version) and facts are line items at
    * ship time — revenue attributed to the customer's priority as of
    * shipment, not as of order.
    *
    * Scale shape: the join is an EQUI-join on the dimension key with the
    * interval test as a residual filter — both sides co-partition on
    * custkey, no range explosion, no nested loop (versions per key are
    * few; the residual runs within the hash-join row stream). Building
    * the intervals is one `lead` window per key — one shuffle. The total
    * order (valid_from, orderkey) makes same-day re-orders deterministic:
    * the earlier version's interval is empty, the later one owns the day
    * (both engines compute identical intervals). Every fact matches
    * EXACTLY one version (shipdate ≥ its own order's date ≥ the key's
    * first version start; intervals partition the timeline). */
  def w05Scd2Join(s: SparkSession, d: String): DataFrame = {
    val wv = Window.partitionBy(col("d_custkey"))
      .orderBy(col("valid_from"), col("d_orderkey"))
    val dim = orders(s, d).select(
        col("o_custkey").as("d_custkey"), col("o_orderkey").as("d_orderkey"),
        col("o_orderdate").as("valid_from"), col("o_orderpriority").as("prio"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
    val fact = lineitem(s, d)
      .join(orders(s, d).select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("l_shipdate"), col("l_extendedprice"), col("l_discount"))
    fact.join(dim,
        col("o_custkey") === col("d_custkey") &&
          col("l_shipdate") >= col("valid_from") &&
          (col("valid_to").isNull || col("l_shipdate") < col("valid_to")))
      .groupBy(col("prio").as("prio_at_ship"))
      .agg(
        out6(sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))).as("revenue"),
        count(lit(1)).as("n_items"))
      .select(col("prio_at_ship"), col("revenue"), col("n_items"))
  }

  /** w04: the ranking/navigation window-function family in one pass —
    * row_number, ntile, lead/lag, first_value, percent_rank, cume_dist
    * over ONE total order (price DESC, key ASC). The total order is what
    * makes every one of them deterministic AND makes rank ==
    * row_number (no peers), so both engines agree bit-for-bit —
    * percent_rank/cume_dist are integer-ratio doubles, correctly rounded
    * identically from identical operands. One shuffle (the partition),
    * one sort, seven functions — the plan cost of a window family is the
    * partition, not the function count. */
  def w04WindowZoo(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, d).filter(col("o_custkey") <= 100)
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("quartile", ntile(4).over(w).cast("long"))
      .withColumn("prev_key", lag(col("o_orderkey"), 1).over(w))
      .withColumn("next_key", lead(col("o_orderkey"), 1).over(w))
      .withColumn("top_key", first(col("o_orderkey")).over(w))
      .withColumn("pr", percent_rank().over(w))
      .withColumn("cd", cume_dist().over(w))
      .drop("o_totalprice")
  }

  /** Histogram bin count for a04. */
  val HistBins = 10

  /** a04: equi-width HISTOGRAM profiling (the ANALYZE companion of a03's
    * min/max/distinct) — order totalprice into [[HistBins]] equal-width
    * bins. EXACT cross-engine: prices become integer CENTS, and the bin
    * is pure integer arithmetic `((c - min) * bins) div (max - min + 1)`
    * — no double division to disagree about. The min/max pass is one
    * 1-row aggregate broadcast back (scalar-sized exchange); binning is a
    * narrow projection + one hash aggregate. */
  def a04Histogram(s: SparkSession, d: String): DataFrame = {
    val cents = orders(s, d)
      .selectExpr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c")
    val mm = cents.agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
    cents.crossJoin(broadcast(mm))
      .selectExpr(s"(c - mn) * $HistBins div (mx - mn + 1) AS bin", "mn", "mx")
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), min(col("mn")).as("mn0"), min(col("mx")).as("mx0"))
      .selectExpr("bin", "n",
        s"mn0 + (bin * (mx0 - mn0 + 1)) div $HistBins AS lo_cents",
        s"mn0 + ((bin + 1) * (mx0 - mn0 + 1)) div $HistBins - 1 AS hi_cents")
  }

  /** q26: CORRELATED scalar subqueries (TPC-H Q17 shape) — per part, the
    * "small-quantity" lineitems below 20% of that part's average
    * quantity. Written as SQL because the correlated subquery IS the
    * surface being exercised: Catalyst DECORRELATES both subqueries into
    * one aggregate joined back on l_partkey — the plan contains a plain
    * aggregate + join, no per-row subquery execution (the naive reading
    * would be O(n) subqueries of O(n) each).
    *
    * Exactness: the threshold is rearranged from `qty < 0.2 * avg(qty)`
    * to `qty * 5 * count < sum` so both engines compare exact DECIMALs —
    * avg() output types/rounding differ by dialect, products and sums of
    * decimals do not. */
  def q26CorrelatedSubquery(s: SparkSession, d: String): DataFrame = {
    // raw (unspread) scan: the decorrelation references this view THREE
    // times, and each reference would pay Tables' adaptive spread exchange
    // (measured +0.8 s) for stages that aggregate immediately anyway
    Tables.table(s, d, "lineitem").createOrReplaceTempView("q26_lineitem")
    s.sql("""
      SELECT l_partkey, COUNT(*) AS n_small,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS small_revenue
      FROM q26_lineitem l1
      WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 *
            (SELECT COUNT(*) FROM q26_lineitem l2 WHERE l2.l_partkey = l1.l_partkey)
            < (SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM q26_lineitem l3
               WHERE l3.l_partkey = l1.l_partkey)
      GROUP BY l_partkey""")
  }

  /** q25: SLIDING event-time windows — 1-hour windows every 15 minutes,
    * via the built-in `window(ts, width, slide)` generator: each event
    * lands in width/slide = 4 overlapping windows, then one hash
    * aggregate. Completes the window-family triptych (q10 tumbling, w02
    * sessions, q25 sliding); the streaming twin is
    * [[graft.streaming.EventStreams.slidingCounts]] — the identical
    * aggregate with a watermark.
    *
    * Scale: the 4× row expansion happens in the generator's projection
    * (narrow), and partial aggregation collapses it BEFORE the exchange —
    * the shuffle moves (window, type) partials, not exploded events. */
  def q25SlidingWindows(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), out2(sum(dec2(col("value")))).as("win_value"))
      .selectExpr("unix_micros(w.start) AS wstart", "event_type", "n", "win_value")

  /** q24: CUBE — all 2^k grouping sets (per-nation, per-region subtotals,
    * per-nation-across-regions, grand total) in one pass, with a portable
    * grouping id (`grouping(r)*2 + grouping(n)`, the bit order Spark's
    * `grouping_id()` uses). Completes the grouping-sets family started by
    * q16's rollup; same scale posture: pre-aggregate per (region, nation)
    * BEFORE the cube so Expand multiplies ~|regions × nations| partial
    * rows by 4 grouping sets, never the fact table. */
  def q24Cube(s: SparkSession, d: String): DataFrame = {
    val base = lineitem(s, d)
      .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        sum(dec6(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("rev"),
        count(lit(1)).as("cnt"))
    base.cube(col("r_name"), col("n_name"))
      .agg(
        (grouping(col("r_name")) * 2 + grouping(col("n_name"))).cast("bigint").as("gid"),
        out6(sum(col("rev"))).as("revenue"),
        sum(col("cnt")).as("n_items"))
  }

  /** a05: EXACT distributed quantiles (median + p90 per event type) by
    * two-level rank selection — the exact counterpart of a01's sketched
    * percentiles: pre-aggregate counts per (group, value), one window
    * pass per group over the DISTINCT-VALUE rows computes cumulative and
    * total counts, and quantile q is the smallest value whose cumulative
    * rank covers ⌈q·n⌉ (percentile_disc semantics, all-integer
    * comparisons — no interpolation, no libm, bit-stable).
    *
    * Scale shape: the only event-sized operation is the (group, value)
    * count — partial-agg'd map-side, so the Zipf head collapses before
    * the exchange. The window partition is DISTINCT values per group:
    * bounded by value cardinality (2-dp metrics here), NOT by event
    * count. For truly unbounded-cardinality doubles the exact path is
    * the wrong tool by definition — that is what a01's sketches and
    * a04's fixed-bin histogram are for; this query is the exact tool for
    * the bounded-cardinality case (prices, latencies-in-ms, scores). */
  def a05ExactQuantiles(s: SparkSession, d: String): DataFrame = {
    val vc = events(s, d).groupBy(col("event_type"), col("value").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("event_type")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    vc.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(wAll))
      .groupBy(col("event_type"))
      .agg(
        max(col("n")).as("n_values"),
        min(when(col("cum") * 2 >= col("n"), col("v"))).as("median"),
        min(when(col("cum") * 10 >= col("n") * 9, col("v"))).as("p90"))
  }

  /** q28: explicit GROUPING SETS — heterogeneous aggregation levels a
    * single cube/rollup lattice can't express: per-priority totals, per-
    * order-year totals, and the grand total, in ONE pass. Completes the
    * grouping family (q16 rollup, q24 cube) with the general form; gid is
    * the same portable `grouping(a)*2 + grouping(b)` bit order.
    *
    * Scale posture mirrors q24: pre-aggregate per (priority, year) BEFORE
    * the grouping sets, so Expand multiplies the ~|priorities × years|
    * partial rows by 3 sets — never the fact table. */
  def q28GroupingSets(s: SparkSession, d: String): DataFrame = {
    val base = orders(s, d)
      .selectExpr("o_orderpriority AS prio",
        "CAST(year(o_orderdate) AS BIGINT) AS yr", "o_totalprice")
      .groupBy(col("prio"), col("yr"))
      .agg(sum(dec2(col("o_totalprice"))).as("rev"), count(lit(1)).as("cnt"))
    base.groupingSets(Seq(Seq(col("prio")), Seq(col("yr")), Seq.empty),
        col("prio"), col("yr"))
      .agg(
        (grouping(col("prio")) * 2 + grouping(col("yr"))).cast("bigint").as("gid"),
        out2(sum(col("rev"))).as("revenue"),
        sum(col("cnt")).as("n_orders"))
  }

  /** Gap-fill step, microseconds per hour. */
  val GapFillStepUs: Long = 3600000000L

  /** w06: time-series GAP FILL + LOCF — the resampling operator every
    * metrics store exposes (`time_bucket_gapfill`/`date_spine`): project
    * the hourly aggregate of each event type onto a dense hour spine over
    * the observed range, mark missing buckets, and carry the last observed
    * value forward (last-observation-carried-forward; 0 before the first
    * observation).
    *
    * Scale shape: the only event-sized operation is the first hourly
    * pre-aggregation (map-side partials → one shuffle of (type, hour)
    * rows). Everything after is MODEL-sized, not data-sized: the spine is
    * `sequence()` over a 1-row min/max aggregate (scalar exchange back to
    * the plan, narrow explode), the grid is span_hours × |types| rows
    * however many events exist, and the aggregated hourly side — the same
    * bounded cardinality — is broadcast into the left join, so the grid
    * never shuffles. The LOCF window partitions by type with span_hours
    * rows per partition (calendar-bounded, skew-free). At 100 TB the
    * shape is unchanged: a decade of hours × 1000 types is 876M grid
    * rows only if every type existed every hour — and still shuffle-free
    * on the probe side.
    *
    * Exactness: hourly values aggregate as DECIMAL (order-independent),
    * LOCF carries the decimal and only the final output casts to DOUBLE;
    * the hour label is formatted from epoch-us on both engines. */
  def w06GapFill(s: SparkSession, d: String): DataFrame = {
    val e = events(s, d)
      .withColumn("hr_us", unix_micros(date_trunc("hour", col("ts"))))
    val hourly = e.groupBy(col("event_type"), col("hr_us"))
      .agg(count(lit(1)).as("n_obs"), sum(dec2(col("value"))).as("v"))
    val spine = e.agg(min(col("hr_us")).as("mn"), max(col("hr_us")).as("mx"))
      .selectExpr(s"explode(sequence(mn, mx, $GapFillStepUs)) AS hr_us")
    val types = e.select(col("event_type")).distinct()
    val w = Window.partitionBy(col("event_type")).orderBy(col("hr_us"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.crossJoin(broadcast(types))
      .join(broadcast(hourly), Seq("event_type", "hr_us"), "left")
      .withColumn("is_gap", col("n_obs").isNull.cast("bigint"))
      .withColumn("locf_value",
        out2(coalesce(last(col("v"), ignoreNulls = true).over(w), lit(0))))
      .select(
        col("event_type"),
        date_format(timestamp_micros(col("hr_us")), "yyyy-MM-dd HH:mm:ss").as("hour"),
        coalesce(col("n_obs"), lit(0L)).as("n"),
        col("is_gap"),
        col("locf_value"))
  }

  /** w07: COHORT RETENTION — users grouped by their first-activity week
    * (the cohort), then counted per subsequent week of activity: the
    * classic retention triangle (cohort_week × week_offset → active
    * users). Weeks are integer epoch-day÷7 indexes, not `date_trunc`
    * buckets — pure integer arithmetic both engines compute identically
    * (no week-start or timezone convention in sight).
    *
    * Scale shape: the (user, week) distinct collapses raw events map-side
    * first (partial agg) and every subsequent key — user for the
    * first-week aggregate and join, (cohort, offset) for the final count
    * — is uniform; the first-week join is co-partitioned on user_id with
    * the distinct's output, so AQE reuses the exchange. The triangle
    * itself is tiny (weeks² rows) whatever the corpus size. */
  def w07Retention(s: SparkSession, d: String): DataFrame = {
    val wk = events(s, d)
      .selectExpr("user_id",
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') DIV 7 AS BIGINT) AS week")
      .distinct()
    val first = wk.groupBy("user_id").agg(min("week").as("cohort_week"))
    wk.join(first, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct("user_id").as("n_users"))
  }

  /** w08 funnel steps, in order: each step counts only events strictly
    * AFTER the user's earliest completion of the previous step. */
  val FunnelSteps: Seq[String] = Seq("view", "click", "purchase")

  /** w08: ordered-step conversion FUNNEL over the event stream — the
    * product-analytics staple: of the users who viewed, how many clicked
    * AFTER their first view, and of those, how many purchased AFTER their
    * first qualifying click. "After" is strict event-time order per user,
    * not mere event presence — the part naive `COUNT(DISTINCT user)` per
    * type gets wrong.
    *
    * Spark-first formulation: one cascaded aggregation per step — step k
    * is `min(ts) WHERE type = step_k AND ts > ts_{k-1}`, joined on
    * user_id. No per-user event arrays are ever materialized (the classic
    * `collect_list + scan` formulation holds a user's whole history in one
    * row — unbounded on power users); every stage is a partial-agg'd
    * groupBy plus an equi-join on user_id, so all three stages co-key on
    * the same column and AQE coalesces the exchanges. The final summary
    * rows are 1-row aggregates (scalar-sized traffic). Conversion ratios
    * are single double divisions of exact counts — bit-stable.
    *
    * Scale: per-step state is one timestamp per qualifying user; the
    * funnel depth multiplies stages, not data. At 100 TB of events this is
    * 3 scans (or one scan reused via `type IN steps` + pivot — kept as 3
    * pushdown-pruned scans so each stage's filter reaches parquet). */
  def w08Funnel(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(col("user_id"), col("event_type"), col("ts"))
    // step 1: earliest 'view' per user; step k: earliest step-k event
    // strictly after ts_{k-1} — each stage computed ONCE, all co-keyed
    val s1 = ev.filter(col("event_type") === FunnelSteps(0))
      .groupBy("user_id").agg(min("ts").as("ts1"))
    val s2 = ev.filter(col("event_type") === FunnelSteps(1))
      .join(s1, "user_id").where(col("ts") > col("ts1"))
      .groupBy("user_id").agg(min("ts").as("ts2"))
    val s3 = ev.filter(col("event_type") === FunnelSteps(2))
      .join(s2, "user_id").where(col("ts") > col("ts2"))
      .groupBy("user_id").agg(min("ts").as("ts3"))
    // one per-user frame (left joins reuse the user_id partitioning), ONE
    // scalar aggregate, then explode the single row into the 3 summary
    // rows — a union of projections would re-execute the whole chain per
    // branch (the r5 PlanAudit caught exactly that: 13 shuffles)
    val counts = s1
      .join(s2, Seq("user_id"), "left")
      .join(s3, Seq("user_id"), "left")
      .agg(count(col("ts1")).as("n1"), count(col("ts2")).as("n2"),
        count(col("ts3")).as("n3"))
    counts.selectExpr(
      s"""explode(array(
         |  struct(CAST(1 AS BIGINT) AS step, '${FunnelSteps(0)}' AS step_name,
         |         n1 AS n_users, CAST(1.0 AS DOUBLE) AS conv_from_prev),
         |  struct(CAST(2 AS BIGINT) AS step, '${FunnelSteps(1)}' AS step_name,
         |         n2 AS n_users, CAST(n2 AS DOUBLE) / n1 AS conv_from_prev),
         |  struct(CAST(3 AS BIGINT) AS step, '${FunnelSteps(2)}' AS step_name,
         |         n3 AS n_users, CAST(n3 AS DOUBLE) / n2 AS conv_from_prev))) AS r""".stripMargin)
      .selectExpr("r.step", "r.step_name", "r.n_users", "r.conv_from_prev")
  }

  /** i03: interval CONCURRENCY by sweep-line — how many sessions are live
    * during each hour, where each event opens an interval of `value`
    * minutes. The naive formulation is an interval join of every interval
    * against every hour bucket (i01's shape, quadratic in overlap); the
    * sweep-line decomposition never joins intervals at all: bucket the
    * +1 (start) and −1 (end) edges per hour, then one running sum over the
    * hour spine gives `active(h) = #starts(< hourEnd) − #ends(< hourStart)`
    * — exact for "interval overlaps hour h" because `end < b(h)` ⇔
    * `endHour ≤ h−1` in integer hour arithmetic (no boundary epsilon).
    *
    * Durations go through DECIMAL(18,2) minutes → exact integer micros, so
    * both engines bucket identically (a double multiply would truncate vs
    * round differently at the ulp).
    *
    * Scale shape: event-sized data is touched exactly twice (two groupBys
    * onto hour keys, both partial-agg'd map-side); everything after is
    * TIMELINE-sized (one row per hour, 8.8k rows/year). The running sum is
    * TWO-LEVEL (r10, VERDICT r9 "What's wrong" #3 — the flat spine was one
    * `WindowExec: No Partition Defined` task, which at multi-year
    * retention puts ~10⁵ rows through one partition): hours are binned
    * into [[SpineBlockSize]]-hour blocks, the within-block running sum is
    * a window PARTITIONED by block (parallel, ≤ [[SpineBlockSize]] rows
    * of state per task), and the cross-block offsets come from a
    * triangular broadcast join over the block-total table — spans/1024
    * rows, so no unpartitioned window exists anywhere in the plan and the
    * spine scales with retention instead of serializing on it. */
  def i03ActiveHours(s: SparkSession, d: String): DataFrame = {
    val hourUs = 3600000000L
    val iv = events(s, d).selectExpr(
      "unix_micros(ts) AS s_us",
      "unix_micros(ts) + CAST(CAST(value AS DECIMAL(18,2)) * 60000000 AS BIGINT) AS e_us")
      .selectExpr(s"s_us DIV $hourUs AS hs", s"e_us DIV $hourUs AS he")
    val starts = iv.groupBy(col("hs").as("h")).agg(count(lit(1)).as("ns"))
    val ends = iv.groupBy(col("he").as("h")).agg(count(lit(1)).as("ne"))
    val spine = iv.agg(min("hs").as("mn"), max("he").as("mx"))
      .selectExpr("explode(sequence(mn, mx)) AS h")
    val hour = spine
      .join(broadcast(starts), Seq("h"), "left")
      .join(broadcast(ends), Seq("h"), "left")
      .select(col("h"), coalesce(col("ns"), lit(0L)).as("ns"),
        coalesce(col("ne"), lit(0L)).as("ne"))
    SpinePrefix.cumsum(hour, "h", Seq("ns" -> "cns", "ne" -> "cne"))
      .select(col("h").as("hour_idx"), col("ns").as("n_starts"), col("ne").as("n_ends"),
        (col("cns") - (col("cne") - col("ne"))).as("n_active"))
  }

  /** w09 trailing-window length (ROWS frame, current row included). */
  val AnomWin = 16
  /** w09 threshold multiplier τ: flag when |x − μ| > τ·σ. */
  val AnomTau = 2

  /** w09: rolling z-score anomaly detection — the streaming-metrics outlier
    * primitive (flag an event whose value deviates more than τ population
    * standard deviations from its own user's trailing [[AnomWin]]-event
    * window). σ never needs a sqrt or a double: |x−μ| > τσ over the frame
    * {v₁..vₙ} is EXACTLY (n·x − Σv)² > τ²·(n·Σv² − (Σv)²) after scaling
    * values to integer cents — both sides are long arithmetic, so Spark and
    * the oracle agree bit-for-bit and the flag is reproducible at any
    * partitioning. Only full windows fire (count = n): the first n−1 events
    * of a user have no baseline.
    *
    * Scale shape: ONE window exchange hash-partitioned by user_id; the
    * frame is ROWS-bounded so each task holds ≤ [[AnomWin]] rows of state
    * per open frame regardless of how many events a user has. count/sum/
    * sum-of-squares ride the same frame — no self-join, no second shuffle,
    * and the filter is a codegen'd long comparison. At 100 TB this is the
    * shape of "scan the metric stream once, emit the outliers". */
  def w09Anomaly(s: SparkSession, d: String): DataFrame = {
    val n = AnomWin
    val t2 = AnomTau * AnomTau
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(-(n - 1), 0)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        unix_micros(col("ts")).as("us"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .withColumn("nw", count(lit(1)).over(w))
      .withColumn("s1", sum(col("v")).over(w))
      .withColumn("s2", sum(expr("v * v")).over(w))
      .filter(col("nw") === n)
      .withColumn("dev2", expr(s"($n * v - s1) * ($n * v - s1)"))
      .withColumn("bound", expr(s"$t2 * ($n * s2 - s1 * s1)"))
      .filter(col("dev2") > col("bound"))
      .select(col("event_id"), col("user_id"), col("us"), col("v"),
        col("dev2"), col("bound"))
  }

  /** w11 attribution lookback: a touch older than this is not credited. */
  val AttribLookbackUs = 86400000000L // 24h

  /** w11: LAST-TOUCH ATTRIBUTION — every `purchase` is credited to the
    * user's most recent PRECEDING touchpoint (`click`/`view`) within a
    * 24h lookback, else marked `direct`: the standard conversion-credit
    * model, and the event-stream shape of "label each outcome with the
    * action that caused it". Carried-forward state is ONE
    * `last(..., ignoreNulls)` per touch column over a strictly-preceding
    * ROWS frame — the (ts, event_id) total order makes the answer
    * deterministic, and because the touch columns are null on exactly the
    * same (non-touch) rows, the three carried values always come from the
    * same touch row. Credit is the purchase's cent-scaled value; gaps are
    * integer microseconds.
    *
    * Scale shape: ONE window exchange hash-partitioned by user_id (the
    * w09/ts09 envelope); the frame is carry-forward so each task holds
    * one pending touch triple per open partition, and the purchase filter
    * prunes the output before anything else runs. No joins — the naive
    * formulation is a per-purchase as-of self-join, which the single
    * carry-forward pass replaces. */
  def w11Attribution(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    events(s, d)
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .withColumn("t_us",
        last(when(col("event_type").isin("click", "view"), col("us")), ignoreNulls = true).over(w))
      .withColumn("t_id",
        last(when(col("event_type").isin("click", "view"), col("event_id")), ignoreNulls = true).over(w))
      .withColumn("t_type",
        last(when(col("event_type").isin("click", "view"), col("event_type")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .selectExpr("event_id AS purchase_id", "user_id", "us", "v AS credit_cents",
        s"IF(t_us IS NOT NULL AND us - t_us <= $AttribLookbackUs, t_id, CAST(-1 AS BIGINT)) AS touch_id",
        s"IF(t_us IS NOT NULL AND us - t_us <= $AttribLookbackUs, t_type, 'direct') AS touch_type",
        s"IF(t_us IS NOT NULL AND us - t_us <= $AttribLookbackUs, us - t_us, CAST(-1 AS BIGINT)) AS gap_us")
  }

  /** w10 sliding-window length in days (slide = 1 day). */
  val SlideWinDays = 7

  /** w10: EXACT distinct users per sliding [[SlideWinDays]]-day window
    * (1-day slide) — the "7-day active users" panel query, and the shape
    * that usually gets approximated (HLL per window) because the naive
    * plan re-scans every event [[SlideWinDays]] times and keeps a
    * per-window distinct set. This is the exact-and-linear decomposition:
    * a user is distinct-counted in the window starting at ws iff their
    * FIRST active day ≥ ws falls inside it — so each (user, active-day,
    * previous-active-day) triple contributes +1 to the contiguous run of
    * window starts (max(day−W+1, prev+1), … , day] and −1 after it, and
    * per-window distinct counts become a prefix sum of those deltas over
    * the calendar spine. All doubles-free: counts and day indexes only.
    *
    * Scale shape: events are touched twice, both linearly — one
    * (user, day) groupBy with map-side combine, one lag window hash-
    * partitioned by user (per-task state = 1 row). Every relation after
    * that is CALENDAR-sized: delta groupBys land on ≤ 2 rows per (user,
    * day) pair but aggregate onto day keys, the spine join broadcasts
    * day-grid aggregates, and the final running sum orders a relation with
    * one row per day. The 1-row bounds frame rides a broadcast nested-loop
    * join (w08's scalar-leg pattern). Compare: windowed COUNT(DISTINCT) at
    * 100 TB either re-shuffles the corpus per window offset or holds a
    * distinct set per open window; this holds a LONG per day. */
  def w10SlidingDistinct(s: SparkSession, d: String): DataFrame = {
    val W = SlideWinDays
    val dayUs = 86400000000L
    // (user, active-day) support: one linear shuffle with map-side combine
    val pairs = events(s, d)
      .selectExpr("user_id", s"unix_micros(ts) DIV $dayUs AS day")
      .groupBy("user_id", "day").agg(count(lit(1)).as("n_ev"))
    val uw = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val gaps = pairs.withColumn("prev", lag(col("day"), 1).over(uw))
    val bounds = pairs.agg(min("day").as("mn"), max("day").as("mx"))
    // user deltas: +1 where the user ENTERS the window's distinct set,
    // -1 one past their last qualifying start. lo clips to mn because the
    // spine starts there (a +1 below mn would otherwise never be summed).
    val userDeltas = gaps.join(broadcast(bounds))
      .selectExpr(
        s"greatest(greatest(day - ${W - 1}, coalesce(prev + 1, day - ${W - 1})), mn) AS lo",
        "day + 1 AS hi1")
      .selectExpr(s"explode(array(struct(lo AS ws, 1 AS du), struct(hi1 AS ws, -1 AS du))) AS x")
      .selectExpr("x.ws AS ws", "CAST(x.du AS BIGINT) AS du")
      .groupBy("ws").agg(sum("du").as("du"))
    // event-count deltas: the day's event count enters at max(day-W+1, mn)
    // and leaves at day+1 — same difference array, weighted.
    val dayCounts = pairs.groupBy("day").agg(sum("n_ev").as("c"))
    val eventDeltas = dayCounts.join(broadcast(bounds))
      .selectExpr(s"greatest(day - ${W - 1}, mn) AS lo", "day + 1 AS hi1", "c")
      .selectExpr("explode(array(struct(lo AS ws, c AS de), struct(hi1 AS ws, -c AS de))) AS x")
      .selectExpr("x.ws AS ws", "x.de AS de")
      .groupBy("ws").agg(sum("de").as("de"))
    val spine = bounds.selectExpr("explode(sequence(mn, mx)) AS ws")
    val day = spine
      .join(broadcast(userDeltas), Seq("ws"), "left")
      .join(broadcast(eventDeltas), Seq("ws"), "left")
      .select(col("ws"), coalesce(col("du"), lit(0L)).as("du"),
        coalesce(col("de"), lit(0L)).as("de"))
    // two-level running sum (r10): block-partitioned window + triangular
    // block offsets — the day spine grows with retention, so no
    // unpartitioned window (see i03's Scaladoc for the decomposition)
    SpinePrefix.cumsum(day, "ws", Seq("du" -> "n_users", "de" -> "n_events"))
      .select(col("ws").as("window_start_day"), col("n_users"), col("n_events"))
  }
}
