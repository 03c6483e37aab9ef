package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import scala.jdk.CollectionConverters._

/** Streaming reads over the analytic tables: watermarked event-time windows
  * and custom keyed state — the Structured Streaming surface of the engine
  * (SURVEY §7 step 7). Batch counterparts of these aggregations are
  * oracle-checked as q10/q11; these are their streaming twins.
  */
object EventStreams {

  /** Tumbling event-time window counts with a watermark for late data. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour"), col("event_type"), col("n"), col("total_value"))

  /** SLIDING event-time windows — q25's streaming twin: overlapping
    * width/slide windows per event, watermark-bounded state. With q10 /
    * [[hourlyCounts]] (tumbling) and w02 / [[sessionCounts]] (session)
    * this completes the window-family triptych in both engines' modes. */
  def slidingCounts(events: DataFrame, width: String = "1 hour",
                    slide: String = "15 minutes",
                    watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("total_value"))

  /** Event-time SESSION windows — w02's streaming twin, via the native
    * `session_window` aggregate: per user, events merge into one
    * [start, last+gap) session while each lands within `gap` of the
    * session's end; the watermark is what lets the engine CLOSE sessions
    * and evict their state, the bounded-state contract w02 computes in
    * batch with lag+cumsum windows. Identical aggregate runs in batch
    * (session_window is a plain grouping expression), which is how the
    * spec pins streaming == batch. */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
                    watermarkDelay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sess_value"))
      .select(col("user_id"), col("w.start").as("sess_start"),
        col("w.end").as("sess_end"), col("n_events"), col("sess_value"))

  final case class UserState(userId: Long, nEvents: Long, lastTs: Long, trace: String)
  final case class UserUpdate(user_id: Long, n_events: Long, last_ts: Long, closed: Boolean)

  /** Custom keyed state via mapGroupsWithState: per-user running event count
    * with idle-timeout session close — the engine's
    * `KeyValueGroupedDataset` state surface (the reference's per-key caches
    * map to exactly this shape in streaming form). */
  def userSessions(spark: SparkSession, events: DataFrame, idleTimeoutMs: Long = 3600000L): Dataset[UserUpdate] = {
    import spark.implicits._
    // idleTimeoutMs <= 0 disables processing-time timeouts (timeout checks
    // schedule extra micro-batches — with a memory source that means
    // continuous empty batches, which test harnesses don't want).
    val timeoutConf =
      if (idleTimeoutMs > 0) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    events.selectExpr("user_id", "CAST(ts AS LONG) * 1000 AS ts_ms", "event_type")
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(timeoutConf) {
        (userId: Long, rows: Iterator[(Long, Long, String)], state: GroupState[UserState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            UserUpdate(userId, s.nEvents, s.lastTs, closed = true)
          } else {
            val events = rows.toVector
            val prev = state.getOption.getOrElse(UserState(userId, 0L, 0L, ""))
            val next = UserState(userId, prev.nEvents + events.size,
              events.map(_._2).maxOption.getOrElse(prev.lastTs), prev.trace)
            state.update(next)
            if (idleTimeoutMs > 0) state.setTimeoutDuration(idleTimeoutMs)
            UserUpdate(userId, next.nEvents, next.lastTs, closed = false)
          }
      }
  }

  /** Streaming exact-dedup on the full-text fingerprint: rows keyed by
    * `md5(text)`, first-wins across micro-batches, so only byte-identical
    * texts collapse. (Batch d01 groups by the md5 of the sorted distinct
    * token set instead, which also merges reordered or case-changed texts;
    * this operator is not its twin.)
    * `dropDuplicatesWithinWatermark` evicts fingerprints once the event-time
    * watermark passes them, which is the contract that keeps dedup state
    * BOUNDED on an unbounded stream (plain dropDuplicates grows state
    * forever — a 100 TB/day ingest kills it in hours). */
  def dedupByFingerprint(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", md5(col("text").cast("binary")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming CORPUS-CLEAN gate — the streaming twin of batch p01's
    * stateless legs plus the stateful dedup leg: documents stream in, and
    * only those that (a) pass the t02 quality thresholds, (b) have a
    * language-ID prediction agreeing with their label (t03 argmax), and
    * (c) are the first occurrence of their content fingerprint within the
    * watermark, stream out. (a)+(b) reuse the EXACT batch expressions via
    * [[graft.queries.TextQueries.cleanSignals]] — one tokenize projection,
    * stateless, narrow; (c) is `dropDuplicatesWithinWatermark`, the only
    * stateful operator, with state bounded by the watermark delay. This is
    * the continuous-ingest form of corpus cleaning: a 100 TB/day feed is
    * gated per micro-batch with per-row work identical to the batch plan
    * and dedup state that never outgrows the watermark window. (The d07
    * cluster-keeper leg is inherently cross-corpus and stays batch.) */
  def cleanGate(docs: DataFrame,
                minTokens: Long = graft.queries.TextQueries.CleanMinTokens,
                minTtr: Double = graft.queries.TextQueries.CleanMinTtr,
                watermarkDelay: String = "1 hour"): DataFrame =
    graft.queries.TextQueries.cleanSignals(docs)
      .filter(col("n_tokens") >= minTokens && col("ttr") >= minTtr &&
        col("pred_lang") === col("lang"))
      .withColumn("fp", md5(col("text").cast("binary")))
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")
      .select("doc_id", "lang", "ts", "n_tokens", "ttr")

  /** STREAM-STATIC join — online ANN serving: a stream of query vectors
    * (query_id, q ARRAY<DOUBLE>) joined against the static pre-bucketed
    * corpus by LSH bucket, scored, and reduced to the per-query best
    * within each micro-batch. The serving-side twin of batch s03: the
    * corpus index ([[graft.queries.SimilarityQueries.lshIndex]]) is a
    * static frame (a cached/bucketed table at scale), queries arrive
    * continuously, and the join is STATELESS — no watermark, no state
    * store; each micro-batch is a broadcast-able lookup, which is how a
    * 100 TB vector store serves point lookups without a resident index
    * service. Both sides get their bucket from the same narrow sign-bit
    * projection (the corpus is never shuffled to be assigned); the
    * per-query argmax runs as a per-batch state-FREE
    * `flatMapGroupsWithState` (r5 — a plain streaming groupBy().max()
    * would retain one state row per distinct query id forever and merge
    * a re-sent id's answers across batches). */
  def annServe(queries: DataFrame, spark: org.apache.spark.sql.SparkSession,
               corpusDir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    val corpus = SimilarityQueries.lshIndex(spark, corpusDir)
    SimilarityQueries.lshAssignQueries(queries, spark, corpusDir)
      .join(broadcast(corpus), "bucket")
      .selectExpr("query_id", "vec_id", "vec_dot(q, v) / (qnrm * nrm) AS cosine")
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[(Long, Long, Double)], _: GroupState[Boolean]) =>
          var bestCos = Double.MinValue
          var bestId = Long.MaxValue
          rows.foreach { case (_, vid, cos) =>
            if (cos > bestCos || (cos == bestCos && vid < bestId)) {
              bestCos = cos; bestId = vid
            }
          }
          Iterator.single((qid, bestId, bestCos))
      }
      .toDF("query_id", "neighbor_id", "cosine")
  }

  /** Online SERIES serving — the ts-family twin of [[annServe]]: a stream
    * of query series joins the static PAA word index
    * ([[graft.queries.TimeSeriesQueries.paaIndex]]) on the full 4-symbol
    * word and re-ranks candidates by exact squared Euclidean distance —
    * a per-batch argmin via state-FREE `flatMapGroupsWithState` (the
    * state store stays empty, so serving memory is bounded forever and a
    * re-sent query id gets a fresh answer instead of merging with its
    * past). The word assignment is a narrow projection on the query
    * side, the index broadcasts. A query whose word bucket is empty gets
    * no row — same contract as ts02/annServe (the index answers nothing,
    * both engines agree by inner join). */
  def seriesServe(queries: DataFrame, spark: SparkSession,
                  corpusDir: String): DataFrame = {
    import spark.implicits._
    import graft.queries.TimeSeriesQueries
    // Materialize the index ONCE: Spark re-evaluates the static side of a
    // stream-static join every micro-batch, and paaIndex's plan contains a
    // full events groupBy + sort_array — without persist each batch would
    // re-aggregate the whole corpus (annServe's lshIndex is a narrow
    // projection so re-evaluation there is a scan, not an aggregation).
    val corpus = TimeSeriesQueries.paaIndex(spark, corpusDir).persist()
    corpus.count() // force materialization before the first batch
    TimeSeriesQueries.paaAssignQueries(queries, spark)
      .join(broadcast(corpus), (0 until TimeSeriesQueries.PaaSegments).map(i => s"b$i"))
      .selectExpr("query_id", "user_id",
        "vec_dot(qv, qv) + vec_dot(v, v) - 2 * vec_dot(qv, v) AS dist")
      .as[(Long, Long, Double)]
      // per-BATCH argmin with NO retained state: a plain streaming
      // groupBy().min() would accumulate one state row per distinct
      // query_id forever AND merge a re-sent query's results with its
      // old ones — flatMapGroupsWithState that never writes state keeps
      // the store empty and re-ranks each batch independently
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (qid: Long, rows: Iterator[(Long, Long, Double)], _: GroupState[Boolean]) =>
          var bestDist = Double.MaxValue
          var bestId = Long.MaxValue
          rows.foreach { case (_, uid, dist) =>
            if (dist < bestDist || (dist == bestDist && uid < bestId)) {
              bestDist = dist; bestId = uid
            }
          }
          Iterator.single((qid, bestId, bestDist))
      }
      .toDF("query_id", "neighbor_id", "dist")
  }

  /** Stream-STREAM interval join with watermarks on both sides: each error
    * event joined to the same user's events in the preceding `window`. The
    * time-range join condition plus the two watermarks is what lets Spark
    * EVICT join state (an activity row can be dropped once the watermark
    * guarantees no future error can still reach back to it) — without them
    * stream-stream join state grows without bound, the streaming analogue
    * of the BNLJ scale wall. Batch twins: i01 (hand-binned) and i02
    * (auto-binned by [[graft.plans.RangeBinJoin]]). */
  /** `joinType` "inner" (default) emits only matched pairs; "left_outer"
    * ALSO emits each unmatched error once — with null prior columns —
    * but only after the watermark proves no matching activity can still
    * arrive (the null row is a watermark-triggered state-timeout event,
    * which is why outer stream-stream joins REQUIRE the watermark). */
  def errorContextJoin(events: DataFrame, window: String = "10 minutes",
                       watermarkDelay: String = "30 seconds",
                       joinType: String = "inner"): DataFrame = {
    // watermark BEFORE the branch: the error leg filters most rows away,
    // and a post-filter watermark would advance only on error arrivals —
    // the combined (min) watermark would stall and outer state would
    // never flush. Upstream, both legs inherit the full stream's clock.
    val wm = events.withWatermark("ts", watermarkDelay)
    val acts = wm
      .select(col("user_id").as("a_user"), col("ts").as("a_ts"),
        col("event_id").as("a_id"))
    val errs = wm.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("ts").as("e_ts"),
        col("event_id").as("e_id"))
    errs.join(acts,
      col("e_user") === col("a_user") &&
        col("a_ts") >= col("e_ts") - expr(s"INTERVAL $window") &&
        col("a_ts") < col("e_ts"),
      joinType)
      .select(col("e_id").as("error_id"), col("e_user").as("user_id"),
        col("e_ts").as("error_ts"), col("a_id").as("prior_id"), col("a_ts").as("prior_ts"))
  }

  final case class TrailState(buf: List[(Long, Double)]) // (us asc, value)
  final case class TrailUpdate(event_id: Long, user_id: Long, us: Long,
                               n_1h: Long, v_1h: Double)

  /** Streaming twin of the batch w03 value-RANGE trailing window — a shape
    * Structured Streaming has NO built-in for (window()/session_window()
    * bucket rows; a RANGE frame needs per-EVENT trailing state), so it is
    * a custom stateful operator: per user, a buffer of the last hour's
    * (ts, value) pairs, evicted by VALUE distance as each event lands —
    * state is bounded by the window's content, the flatMapGroups analogue
    * of the frame bound. Each input event emits its trailing count + sum.
    *
    * Exactness contract: sums reproduce the batch query's
    * DECIMAL(18,2)-cast arithmetic (per-element HALF_UP, exact
    * accumulation), so an in-order stream yields bit-identical rows to
    * w03. RANGE frames include ALL equal-timestamp peers for every peer
    * row, so rows are processed one PEER GROUP (equal `us`) at a time:
    * the whole group enters the buffer before any of its outputs are
    * computed — one row at a time, the first of two same-`us` events
    * would emit a frame excluding its peer. Events are processed in
    * (ts, event_id) order within a batch; across batches the per-user
    * stream must be non-decreasing in time AND peer groups must not be
    * split across micro-batches (the watermarked-source contract: a
    * watermark boundary never lands inside one timestamp) — a straggler
    * older than the evicted horizon, or a peer arriving after its group's
    * batch, would undercount its frame. */
  def trailingCounts(spark: SparkSession, events: DataFrame,
                     windowUs: Long = 3600L * 1000000): Dataset[TrailUpdate] = {
    import spark.implicits._
    events.selectExpr("user_id", "event_id", "unix_micros(ts) AS us", "value")
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double)], state: GroupState[TrailState]) =>
          var buf = state.getOption.map(_.buf).getOrElse(Nil)
          val sorted = rows.toVector.sortBy(r => (r._3, r._2))
          val out = Vector.newBuilder[TrailUpdate]
          var i = 0
          while (i < sorted.length) {
            val us = sorted(i)._3
            var j = i
            while (j < sorted.length && sorted(j)._3 == us) j += 1
            val peers = sorted.slice(i, j)
            buf = (buf ++ peers.map(p => (p._3, p._4))).filter(_._1 >= us - windowUs)
            val inFrame = buf.filter(_._1 <= us) // whole peer group included
            val sum = inFrame.foldLeft(java.math.BigDecimal.ZERO) { (acc, t) =>
              acc.add(java.math.BigDecimal.valueOf(t._2)
                .setScale(2, java.math.RoundingMode.HALF_UP))
            }
            peers.foreach { case (_, id, pus, _) =>
              out += TrailUpdate(id, user, pus, inFrame.size.toLong, sum.doubleValue)
            }
            i = j
          }
          state.update(TrailState(buf))
          out.result().iterator
      }
  }

  final case class BandStatsState(buf: List[(Long, Long)]) // (us asc, cents)
  final case class BandStatsUpdate(event_id: Long, n_window: Long, sum_cents: Long,
                                   min_cents: Long, max_cents: Long, avg_cents: Double)

  /** Streaming twin of the batch i05 WINDOWED-STATS band aggregate (r7,
    * VERDICT r6 task 8): per error event, count / sum / min / max / avg of
    * the value (exact cents, the i03 DECIMAL(18,2) quantization) over ALL
    * events in the strictly-preceding hour — [[trailingCounts]]'s trailing
    * buffer generalized from (count, sum) to every decomposable aggregate
    * kind [[graft.plans.BandAggPushdown]] supports, maintained
    * incrementally instead of re-joining per snapshot.
    *
    * Sharding (r10, VERDICT r9 "What's wrong" #2 — this twin used to
    * route every event through ONE `groupByKey(_ => 0)` state group, the
    * stream's throughput ceiling): the state key is the TIME-BAND BUCKET
    * `floor(us / windowUs)`, the same axis the batch
    * [[graft.plans.BandAggPushdown]] decomposition bins on. An error's
    * trailing-hour band [us − w, us) spans at most its own bucket's
    * prefix and the previous bucket's suffix, so every event is routed
    * TWICE: to its own bucket as a RESIDENT (may emit) and to the
    * successor bucket as a CARRY copy (emit-masked, buffer-only) — the
    * boundary handoff that lets each bucket's group compute every
    * resident's frame from purely local state. Distinct hours process in
    * parallel tasks; per-group state is bounded by TWO window populations
    * (the batch boundary-bin bound).
    *
    * State cleanup is EVENT-time keyed (r11, ADVICE r10: the r10 version
    * dropped a bucket after 6 h of PROCESSING-time idleness, but "a bucket
    * whose hour has passed can never receive events again" is an
    * event-time property — a live stream stalling mid-event-hour longer
    * than the TTL and then resuming found its buffer purged and silently
    * emitted wrong frames): bucket `b` times out only once the WATERMARK
    * passes `(b+2)·w`. The last row that can ever route to `b` is a
    * resident with `us < (b+1)·w`, so by then the bucket is provably
    * unreachable no matter how long wall-clock stalls last. Requires the
    * input to carry a watermark; one is applied here (`watermarkDelay`,
    * same contract as [[trailingCounts]]'s ordered sources).
    *
    * Exactness contract: within a group, events process one PEER GROUP
    * (equal `us`) at a time; an error's frame is the buffer BEFORE its
    * own group lands (band upper bound is strict `<`; carries from the
    * previous bucket all sort earlier than any resident, so the buffer
    * evicted to ≥ us − w IS the band), and errors with an empty frame
    * emit nothing (the batch inner join drops them). sum/min/max are
    * exact long arithmetic; avg = sum/n in one double divide — identical
    * to the batch plan's doubles while window sums stay within 2⁵³ (the
    * same bound BandAggPushdown's AVG guard enforces). Same
    * watermarked-source ordering contract as [[trailingCounts]]. */
  def bandStats(spark: SparkSession, events: DataFrame,
                windowUs: Long = 3600L * 1000000,
                watermarkDelay: String = "2 hours"): Dataset[BandStatsUpdate] = {
    import spark.implicits._
    // batch twins run the same code with no watermark in the plan, where
    // timeout calls are undefined — both are streaming-only below
    val streaming = events.isStreaming
    val wm = if (streaming) events.withWatermark("ts", watermarkDelay) else events
    // The bucket routing stays in DataFrame-land (explode of a 2-struct
    // array — the SQL form of [[bandStatsRoutes]], with floorDiv spelled
    // `(us - pmod(us, w)) div w`) and the watermarked `ts` column is
    // CARRIED into the group function's input: a typed flatMap here would
    // re-serialize the rows and strip the watermark metadata, and Spark
    // rejects EventTimeTimeout when the stateful operator's child no
    // longer carries a watermark column.
    wm.selectExpr("ts", "event_id", "unix_micros(ts) AS us",
        "CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents",
        "event_type = 'error' AS is_err")
      .selectExpr("ts", "event_id", "us", "cents", "is_err",
        s"(us - pmod(us, ${windowUs}L)) div ${windowUs}L AS b")
      .selectExpr("ts", "event_id", "us", "cents",
        "explode(array(struct(b AS bucket, is_err AS emit), " +
          "struct(b + 1L AS bucket, false AS emit))) AS r")
      .selectExpr("ts", "r.bucket AS bucket", "event_id", "us", "cents", "r.emit AS emit")
      .as[(java.sql.Timestamp, Long, Long, Long, Long, Boolean)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (bucket: Long, rows: Iterator[(java.sql.Timestamp, Long, Long, Long, Long, Boolean)],
         state: GroupState[BandStatsState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var buf = state.getOption.map(_.buf).getOrElse(Nil)
            val sorted = rows.toVector.sortBy(r => (r._4, r._3))
            val out = Vector.newBuilder[BandStatsUpdate]
            var i = 0
            while (i < sorted.length) {
              val us = sorted(i)._4
              var j = i
              while (j < sorted.length && sorted(j)._4 == us) j += 1
              // evict, then read the frame BEFORE this peer group lands:
              // every remaining entry has us' ∈ [us − w, us) — the band
              buf = buf.dropWhile(_._1 < us - windowUs)
              if (buf.nonEmpty && sorted.slice(i, j).exists(_._6)) {
                var n = 0L; var sum = 0L
                var mn = Long.MaxValue; var mx = Long.MinValue
                buf.foreach { case (_, c) =>
                  n += 1; sum += c
                  if (c < mn) mn = c; if (c > mx) mx = c
                }
                val upd = (id: Long) =>
                  BandStatsUpdate(id, n, sum, mn, mx, sum.toDouble / n.toDouble)
                sorted.slice(i, j).foreach(r => if (r._6) out += upd(r._3))
              }
              buf = buf ++ sorted.slice(i, j).map(r => (r._4, r._5))
              i = j
            }
            state.update(BandStatsState(buf))
            if (streaming) {
              // unreachable once the watermark passes (b+2)·w; clamp above
              // the current watermark (Spark rejects a timeout at/behind it —
              // possible for a bucket first touched when already near-expiry)
              val unreachableMs = Math.floorDiv((bucket + 2) * windowUs, 1000L)
              state.setTimeoutTimestamp(math.max(unreachableMs, state.getCurrentWatermarkMs + 1))
            }
            out.result().iterator
          }
      }
  }

  /** [[bandStats]]'s routing: (bucket, isResident) pairs for one event —
    * its own time-band bucket as a resident plus the successor bucket as
    * an emit-masked carry copy. Pure, so the state-spread contract (docs
    * ×N spread across the time axis, never one key) is unit-testable. */
  private[graft] def bandStatsRoutes(us: Long, windowUs: Long): Seq[(Long, Boolean)] = {
    val b = Math.floorDiv(us, windowUs)
    Seq((b, true), (b + 1, false))
  }

  final case class TopKState(items: List[(Long, Long)]) // (value desc, id asc)
  final case class TopKUpdate(user_id: Long, top_ids: Seq[Long], top_values: Seq[Long])

  /** Streaming per-key top-k — the streaming twin of the q20 batch
    * operator ([[graft.plans.TopKPerGroup]]): per user, the k
    * highest-value events seen so far, maintained incrementally in
    * `mapGroupsWithState`. State per key is EXACTLY k pairs (the same
    * bound that makes the batch operator's shuffle small keeps streaming
    * state tiny); each micro-batch emits the key's refreshed top-k.
    * Ordering is total ((value DESC, id ASC)) so results are
    * deterministic under any batch slicing. */
  def topEventsPerUser(spark: SparkSession, events: DataFrame, k: Int): Dataset[TopKUpdate] = {
    import spark.implicits._
    events.selectExpr("user_id", "event_id", "CAST(value AS LONG) AS v")
      .as[(Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[TopKState]) =>
          val prev = state.getOption.map(_.items).getOrElse(Nil)
          val merged = (prev.iterator ++ rows.map { case (_, id, v) => (v, id) })
            .toList.sortBy { case (v, id) => (-v, id) }.take(k)
          state.update(TopKState(merged))
          TopKUpdate(userId, merged.map(_._2), merged.map(_._1))
      }
  }

  final case class AnomState(buf: List[(Long, Long, Long)]) // (us, event_id, v) oldest-first
  final case class AnomalyUpdate(event_id: Long, user_id: Long, us: Long, v: Long,
                                 dev2: Long, bound: Long)

  /** Streaming twin of the batch w09 ROLLING Z-SCORE outlier flag: per
    * user, each event is judged against its trailing
    * [[graft.queries.RelationalQueries.AnomWin]]-event window (itself
    * included) with the same integer test — (n·x − Σv)² > τ²·(n·Σv² −
    * (Σv)²) over cent-scaled longs — so the flags equal the batch ROWS-
    * frame window bit-for-bit after any stream prefix (pinned in
    * StreamingSpec across a micro-batch split).
    *
    * State is the frame itself: the newest ≤ AnomWin (us, event_id, v)
    * triples per user — a constant 16 rows regardless of stream length,
    * the same bound the batch window's frame buffer has per open frame.
    * ROWS frames are positional, so unlike [[trailingCounts]] there is no
    * peer-group subtlety: each event owns exactly one frame, ordered by
    * (us, event_id) under the same watermarked-source ordering contract
    * as the other twins. This is the "alert on the metric stream" shape:
    * one stateful pass, emits only the outliers. */
  def anomalyFlags(spark: SparkSession, events: DataFrame,
                   win: Int = graft.queries.RelationalQueries.AnomWin,
                   tau: Int = graft.queries.RelationalQueries.AnomTau)
      : Dataset[AnomalyUpdate] = {
    import spark.implicits._
    val n = win.toLong
    val t2 = (tau * tau).toLong
    events.selectExpr("user_id", "event_id", "unix_micros(ts) AS us",
        "CAST(round(value * 100) AS BIGINT) AS v")
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, Long)],
         state: GroupState[AnomState]) =>
          var cur = state.getOption.map(_.buf.toVector).getOrElse(Vector.empty)
          val out = Vector.newBuilder[AnomalyUpdate]
          rows.toVector.sortBy(r => (r._3, r._2)).foreach { case (_, id, us, v) =>
            cur = (cur :+ ((us, id, v))).takeRight(win)
            if (cur.length == win) {
              var s1 = 0L; var s2 = 0L
              cur.foreach { case (_, _, x) => s1 += x; s2 += x * x }
              val dev = n * v - s1
              val dev2 = dev * dev
              val bound = t2 * (n * s2 - s1 * s1)
              if (dev2 > bound) out += AnomalyUpdate(id, user, us, v, dev2, bound)
            }
          }
          state.update(AnomState(cur.toList))
          out.result().iterator
      }
  }

  final case class SlideState(days: List[Long]) // user's active days, ascending
  final case class SlideDelta(ws: Long, du: Long, de: Long)

  /** Streaming twin of the batch w10 SLIDING-DISTINCT decomposition: emits
    * the same ±1 difference-array rows the batch query prefix-sums — the
    * stream you would feed a serving store that keeps one atomic counter
    * per window start. `du` deltas maintain the distinct-user counts, `de`
    * the raw event counts: n_users(ws) = Σ_{t ≤ ws} du(t) over everything
    * emitted so far, and the invariant holds after EVERY micro-batch, not
    * just at the end — each insertion of a new (user, day) retracts and
    * re-emits exactly the intervals whose bounds it changes (its own entry
    * run, and the next active day's lower bound, whose previous-day
    * changes from p to d). Out-of-order days are therefore exact, not
    * approximated. Deltas are unclipped (no global min-day in a stream);
    * the batch comparison clips at summation time.
    *
    * State per user is the ACTIVE-DAY list — bounded by the calendar
    * horizon (days, not events: a million events on one day is one state
    * entry), the streaming analogue of the batch claim that everything
    * after the two linear passes is calendar-sized. */
  def slidingDistinctDeltas(spark: SparkSession, events: DataFrame,
                            winDays: Int = graft.queries.RelationalQueries.SlideWinDays)
      : Dataset[SlideDelta] = {
    import spark.implicits._
    val W = winDays.toLong
    val floor = Long.MinValue / 4 // "no previous day" sentinel, below any lo
    events.selectExpr("user_id", "unix_micros(ts) DIV 86400000000 AS day")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[(Long, Long)], state: GroupState[SlideState]) =>
          var days = state.getOption.map(_.days.toVector).getOrElse(Vector.empty)
          val out = Vector.newBuilder[SlideDelta]
          rows.map(_._2).toVector.sorted.foreach { d =>
            out += SlideDelta(d - W + 1, 0L, 1L) // raw count enters …
            out += SlideDelta(d + 1, 0L, -1L)    // … and leaves, stateless
            if (!days.contains(d)) {
              val idx = days.indexWhere(_ > d)
              val p = if (idx == 0) floor
                      else if (idx == -1) days.lastOption.getOrElse(floor)
                      else days(idx - 1)
              val lo = math.max(d - W + 1, p + 1)
              out += SlideDelta(lo, 1L, 0L)
              out += SlideDelta(d + 1, -1L, 0L)
              if (idx != -1) { // next active day's prev changes p -> d
                val nx = days(idx)
                val oldLo = math.max(nx - W + 1, p + 1)
                val newLo = math.max(nx - W + 1, d + 1)
                if (newLo > oldLo) {
                  out += SlideDelta(oldLo, -1L, 0L)
                  out += SlideDelta(newLo, 1L, 0L)
                }
              }
              days = if (idx == -1) days :+ d else days.patch(idx, Seq(d), 0)
            }
          }
          state.update(SlideState(days.toList))
          out.result().iterator
      }
  }

  /** Online DSIR scoring — the serving half of the t16 split: the model
    * (≤ 256 (bucket, score) rows from
    * [[graft.queries.TextQueries.dsirBucketScores]], fit OFFLINE on the
    * reference corpus) is inlined as a literal map, and each arriving
    * document is scored STATELESSLY in one row-local fold — the same
    * tokenize/md5/bucket Catalyst expressions as the batch query, so
    * scores are bit-identical to batch t16 for any document whose buckets
    * the model observed (unseen buckets score 0, the smoothed-unseen
    * convention). This is how importance resampling deploys: fit once,
    * weight the firehose. */
  def dsirServe(docs: DataFrame, model: Map[String, Long]): DataFrame = {
    val entries = model.toSeq.sortBy(_._1)
      .map { case (b, q) => s"'$b', ${q}L" }.mkString("map(", ", ", ")")
    docs
      .selectExpr("*",
        "transform(sequence(0, size(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')) - 2), " +
          "i -> concat(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')[i], ' ', " +
          "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')[i + 1])) AS _grams")
      .where("size(split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ')) >= 2")
      .selectExpr("*",
        "CAST(size(_grams) AS BIGINT) AS n_grams",
        s"aggregate(_grams, CAST(0 AS BIGINT), (acc, g) -> acc + " +
          s"coalesce(try_element_at($entries, substring(md5(CAST(g AS BINARY)), 1, 2)), 0L)) AS dsir_score")
      .drop("_grams")
  }

  final case class FrontierState(pts: List[(Long, Long, Long, Long)], seq: Long)
  final case class FrontierUpdate(seq: Long, doc_id: Long, n_tokens: Long,
                                  ttr_fp: Long, g2_max: Long)

  /** Streaming SKYLINE FRONTIER — batch x08 maintained online: per-doc
    * metrics are computed ROW-LOCALLY (higher-order-function folds — no
    * per-doc groupBy, so the stage is stateless and append-safe), then a
    * single state group holds the current Pareto frontier and each
    * micro-batch folds its points in (drop if dominated, evict what the
    * newcomer dominates) and re-emits the full frontier tagged with a
    * batch sequence number.
    *
    * Sharding (r10, VERDICT r9 "What's wrong" #2 — the merge key used to
    * receive EVERY row, making the single task the throughput ceiling
    * even though its state was tiny): each input partition first folds
    * its own rows into a LOCAL Pareto frontier in `mapPartitions` —
    * dominance is transitive, so a row dominated by any same-partition
    * row can never sit on the global frontier, and every global-frontier
    * row survives its partition's fold — and only those survivors reach
    * the global key. The merge task therefore sees
    * O(partitions × frontier) rows per micro-batch and holds an
    * O(frontier) state (97 points at sf0.1): state AND throughput both
    * provably bounded, which is why the one remaining global group is the
    * right shape. After any prefix the latest emission equals batch x08
    * over the same docs. */
  def skylineFrontier(spark: SparkSession, docs: DataFrame): Dataset[FrontierUpdate] = {
    import spark.implicits._
    val runExpr =
      """aggregate(array_sort(_bg),
        |  struct(CAST('' AS STRING) AS p, CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS m),
        |  (a, g) -> struct(g AS p,
        |                   IF(g = a.p, a.r + 1L, 1L) AS r,
        |                   greatest(a.m, IF(g = a.p, a.r + 1L, 1L)) AS m),
        |  a -> a.m)""".stripMargin
    val metrics = docs
      .selectExpr("doc_id", "split(regexp_replace(lower(trim(text)), '\\\\s+', ' '), ' ') AS _t")
      .selectExpr("doc_id",
        "CAST(size(_t) AS BIGINT) AS nt",
        "CAST(size(array_distinct(_t)) AS BIGINT) AS nd",
        "transform(sequence(1, greatest(size(_t) - 1, 1)), i -> array_join(slice(_t, i, 2), ' ')) AS _bg")
      .selectExpr("doc_id", "nt AS n_tokens",
        "CAST(floor(1000000.0D * (CAST(nd AS DOUBLE) / CAST(nt AS DOUBLE))) AS BIGINT) AS ttr_fp",
        s"$runExpr AS g2_max")
      .as[(Long, Long, Long, Long)]
    metrics
      .mapPartitions(rows => skylineLocalFrontier(rows.toVector).iterator)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (_: Int, rows: Iterator[(Long, Long, Long, Long)], state: GroupState[FrontierState]) =>
          var front = state.getOption.map(_.pts).getOrElse(Nil)
          val seq = state.getOption.map(_.seq).getOrElse(0L) + 1L
          rows.foreach { p =>
            if (!front.exists(q => skylineDominates(q, p)))
              front = p :: front.filterNot(q => skylineDominates(p, q))
          }
          state.update(FrontierState(front, seq))
          front.iterator.map(p => FrontierUpdate(seq, p._1, p._2, p._3, p._4))
      }
  }

  /** x08's dominance order: a beats b when ≥ on tokens and TTR, ≤ on
    * max-bigram-run, strictly better on at least one axis. */
  private[graft] def skylineDominates(a: (Long, Long, Long, Long),
                                      b: (Long, Long, Long, Long)): Boolean =
    a._2 >= b._2 && a._3 >= b._3 && a._4 <= b._4 &&
      (a._2 > b._2 || a._3 > b._3 || a._4 < b._4)

  /** One partition's Pareto survivors — the same fold the global group
    * runs, applied locally so dominated rows never cross the shuffle.
    * Pure (and order-insensitive as a SET), so the pre-filter contract —
    * output ⊆ input, contains every globally non-dominated point, drops
    * every locally dominated one — is unit-testable. */
  private[graft] def skylineLocalFrontier(
      pts: Vector[(Long, Long, Long, Long)]): Vector[(Long, Long, Long, Long)] = {
    var front = List.empty[(Long, Long, Long, Long)]
    pts.foreach { p =>
      if (!front.exists(q => skylineDominates(q, p)))
        front = p :: front.filterNot(q => skylineDominates(p, q))
    }
    front.reverse.toVector
  }

  final case class TouchState(us: Long, id: Long, typ: String)
  final case class AttributionUpdate(purchase_id: Long, user_id: Long, us: Long,
                                     credit_cents: Long, touch_id: Long,
                                     touch_type: String, gap_us: Long)

  /** Streaming twin of the batch w11 LAST-TOUCH ATTRIBUTION: purchases
    * are credited as they arrive from ONE pending-touch triple per user —
    * the carry-forward window state made explicit, and the minimal
    * possible streaming state (three fields per user, regardless of
    * volume). Matches batch w11 under the same ordering contract the
    * other twins document (watermarked source delivers a user's events in
    * (us, event_id) order across batches; within a batch the twin sorts).
    * Ties at the same microsecond resolve identically to the batch
    * (ts, event_id) total order because the sort key is the same. */
  def attribution(spark: SparkSession, events: DataFrame,
                  lookbackUs: Long = graft.queries.RelationalQueries.AttribLookbackUs)
      : Dataset[AttributionUpdate] = {
    import spark.implicits._
    events.selectExpr("user_id", "event_id", "unix_micros(ts) AS us", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS v")
      .as[(Long, Long, Long, String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, Long, String, Long)],
         state: GroupState[TouchState]) =>
          var pending = state.getOption.orNull
          val out = Vector.newBuilder[AttributionUpdate]
          rows.toVector.sortBy(r => (r._3, r._2)).foreach { case (_, id, us, typ, v) =>
            typ match {
              case "click" | "view" => pending = TouchState(us, id, typ)
              case "purchase" =>
                val hit = pending != null && us - pending.us <= lookbackUs
                out += AttributionUpdate(id, user, us, v,
                  if (hit) pending.id else -1L,
                  if (hit) pending.typ else "direct",
                  if (hit) us - pending.us else -1L)
              case _ => ()
            }
          }
          if (pending != null) state.update(pending)
          out.result().iterator
      }
  }

  final case class BarState(fu: Long, fe: Long, fv: Long, lu: Long, le: Long, lv: Long,
                            high: Long, low: Long, n: Long, vSum: Long)
  final case class BarUpdate(user_id: Long, hour: Long, open: Long, high: Long, low: Long,
                             close: Long, n_events: Long, v_sum: Long)

  /** Streaming twin of the batch ts08 OHLC RESAMPLE: one bar per
    * (user, hour) maintained online — the serving shape of a metrics
    * rollup (each micro-batch re-emits every bar it touched; the LATEST
    * emission per key is the current bar). State per open bar is ten
    * longs: first/last (us, event_id, v) triples plus high/low/count/sum,
    * so open/close stay EXACT under any arrival order — a late event
    * replaces the stored first/last only if its (us, event_id) key sorts
    * outside them, the same arg-min/arg-max the batch struct aggregates
    * compute. After any prefix of the stream the latest bars equal batch
    * ts08 over the same events (pinned across an out-of-order split). */
  def ohlcBars(spark: SparkSession, events: DataFrame): Dataset[BarUpdate] = {
    import spark.implicits._
    events.selectExpr("user_id", "unix_micros(ts) AS us", "event_id",
        "CAST(round(value * 100) AS BIGINT) AS v")
      .selectExpr("user_id", "us div 3600000000 AS hour", "us", "event_id", "v")
      .as[(Long, Long, Long, Long, Long)]
      .groupByKey(r => (r._1, r._2))
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: (Long, Long), rows: Iterator[(Long, Long, Long, Long, Long)],
         state: GroupState[BarState]) =>
          var st = state.getOption.orNull
          rows.foreach { case (_, _, us, eid, v) =>
            st =
              if (st == null) BarState(us, eid, v, us, eid, v, v, v, 1L, v)
              else {
                val first =
                  if (us < st.fu || (us == st.fu && eid < st.fe)) (us, eid, v)
                  else (st.fu, st.fe, st.fv)
                val last =
                  if (us > st.lu || (us == st.lu && eid > st.le)) (us, eid, v)
                  else (st.lu, st.le, st.lv)
                BarState(first._1, first._2, first._3, last._1, last._2, last._3,
                  math.max(st.high, v), math.min(st.low, v), st.n + 1L, st.vSum + v)
              }
          }
          state.update(st)
          Iterator.single(BarUpdate(key._1, key._2, st.fv, st.high, st.low,
            st.lv, st.n, st.vSum))
      }
  }

  final case class QuotaState(items: List[(Long, Long)]) // (n_distinct desc, doc_id asc)
  final case class QuotaUpdate(source: String, doc_ids: Seq[Long], n_distincts: Seq[Long])

  /** Streaming PER-SOURCE QUOTA — the d14 curation gate maintained online:
    * as documents arrive, each source's keeper set (top
    * [[graft.queries.TextQueries.SourceQuota]]-style cap by
    * (n_distinct DESC, doc_id) — the same integer-exact order as the
    * batch query) is held in bounded state (≤ k pairs per source) and
    * re-emitted on every update. After any prefix of the stream the
    * latest emission per source equals the batch d14 cut over the same
    * rows — pinned in StreamingSpec across a batch split. A crawl
    * pipeline runs this as the continuous domain-balancing admission
    * check instead of re-running the batch cut per snapshot. */
  def sourceQuota(spark: SparkSession, docs: DataFrame, k: Int): Dataset[QuotaUpdate] = {
    import spark.implicits._
    docs.selectExpr("source", "doc_id", "n_distinct")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (source: String, rows: Iterator[(String, Long, Long)], state: GroupState[QuotaState]) =>
          val prev = state.getOption.map(_.items).getOrElse(Nil)
          val merged = (prev.iterator ++ rows.map { case (_, id, n) => (n, id) })
            .toList.sortBy { case (n, id) => (-n, id) }.take(k)
          state.update(QuotaState(merged))
          QuotaUpdate(source, merged.map(_._2), merged.map(_._1))
      }
  }

  final case class CurationUpdate(stage: Long, stage_name: String, n_docs: Long)

  /** Streaming CURATION-FUNNEL twin of batch p03: the per-stage survivor
    * counters — raw → lang → quality → dedup → quota — maintained
    * incrementally with EVERY piece of state a distributed keyed table
    * (r9, VERDICT r8 "What's wrong" #2: the r8 design held a corpus-sized
    * union-find inside ONE flatMapGroupsWithState key — the exact
    * driver-bottleneck shape the batch path eliminated with the
    * distributed CC operator, reintroduced stream-side).
    *
    * Per trigger (foreachBatch — the Structured Streaming pattern for
    * stream-static incremental maintenance whose state is itself
    * distributed data):
    *
    *  1. the stateless [[graft.queries.TextQueries.funnelSignals]]
    *     projection computes the EXACT batch signals per doc (t02/t03
    *     pass bits + the two d02 LSH band hashes);
    *  2. raw/lang/quality fold into per-SOURCE counters (O(|sources|)
    *     rows — quality singletons are never materialized per doc);
    *  3. each (band, doc) row probes the ANCHOR table (ONE row per
    *     distinct band — the first doc seen in that bucket). A hit emits a
    *     doc↔anchor edge; bucket co-membership generates exactly the d03
    *     pair cliques, so components equal the batch d07 clusters after
    *     any prefix;
    *  4. new edges + the previous trigger's STAR edges (each colliding
    *     doc → its component min) run through
    *     [[graft.operators.ConnectedComponents.labelsAuto]], an adapter
    *     over the one crossover (`ConnectedComponents.components`) that the
    *     batch d07 family's `clusterLabels` also calls, so at scale the
    *     merge is the proven large-star/small-star operator, never a
    *     single task;
    *  5. dedup = quality total − demoted, where demoted = quality
    *     COLLIDING docs whose component min is another doc (a later
    *     arrival can merge two clusters and retroactively demote an
    *     earlier keeper — recomputed per trigger from the star table, so
    *     every emission is exact for the rows seen so far, not merely
    *     monotone); quota = Σ_source min(k, survivors of source).
    *
    * State cardinality: anchors = 1 row per distinct band (2/doc),
    * stars + collide = 1 row per COLLIDING doc (near-dup docs only —
    * the corpus majority of singletons never enters any state table),
    * counters = 1 row per source. Max rows per key is 1 for every table
    * BY CONSTRUCTION (asserted in StreamingSpec at two corpus sizes) —
    * state scales out across executors like any keyed table instead of
    * concentrating in one task. Tables are versioned by batch id
    * (`v=N` written from `v=N−1`), so replaying a trigger after failure
    * is idempotent; versions older than N−1 are deleted.
    *
    * Emits the five-row funnel per trigger to `stateDir/funnel/b=N`
    * (overwrite — idempotent under replay); the latest batch's rows equal
    * batch p03 over the same rows under any micro-batch slicing (pinned
    * in StreamingSpec across uneven shuffled splits). */
  def curationFunnel(spark: SparkSession, docs: DataFrame,
                     stateDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", s"$stateDir/checkpoint")
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        curationFunnelBatch(spark, batch.toDF(), batchId, stateDir)
      }
      .start()

  /** One funnel trigger (exposed for the spec's state-table assertions
    * and the replica-scale [[graft.tools.StateProbe]]). */
  private[graft] def curationFunnelBatch(spark: SparkSession, batch: DataFrame,
                                         batchId: Long, stateDir: String): Unit = {
    import spark.implicits._
    val k = graft.queries.TextQueries.SourceQuota
    val fs = java.nio.file.Paths.get(stateDir)
    def path(table: String, v: Long) = s"$stateDir/$table/v=$v"
    def readOr(table: String, empty: DataFrame): DataFrame = {
      val p = java.nio.file.Paths.get(path(table, batchId - 1))
      if (java.nio.file.Files.isDirectory(p)) spark.read.parquet(p.toString) else empty
    }
    val sig = graft.queries.TextQueries.funnelSignals(spark, batch)
      .localCheckpoint(true)

    // per-source counters (raw/lang/quality) — O(|sources|) rows forever
    val prevCounters = readOr("counters",
      Seq.empty[(String, Long, Long, Long)].toDF("src", "n_raw", "n_lang", "n_qual"))
    val newCounters = prevCounters.unionByName(
        sig.groupBy(col("source").as("src")).agg(
          count(lit(1)).as("n_raw"),
          count(when(col("pass_lang"), 1)).as("n_lang"),
          count(when(col("pass_lang") && col("pass_quality"), 1)).as("n_qual")))
      .groupBy("src").agg(sum("n_raw").as("n_raw"), sum("n_lang").as("n_lang"),
        sum("n_qual").as("n_qual"))
      .localCheckpoint(true)

    // anchor probe: 1 row per distinct band ever seen; hits become edges
    val prevAnchors = readOr("anchors",
      Seq.empty[(String, Long, Boolean, String)].toDF("band", "anchor_id", "a_qual", "a_src"))
    val bandRows = sig.select(
        explode(array(col("band0"), col("band1"))).as("band"), col("doc_id"),
        (col("pass_lang") && col("pass_quality")).as("qual"), col("source").as("src"))
      .distinct()
    val probed = bandRows.join(prevAnchors, Seq("band"), "left")
      .localCheckpoint(true)
    val hitEdges = probed.filter(col("anchor_id").isNotNull && col("doc_id") =!= col("anchor_id"))
      .select(col("doc_id"), col("qual"), col("src"),
        col("anchor_id"), col("a_qual"), col("a_src"))
    // bands new this trigger: min-(id) doc anchors the bucket, the rest
    // edge to it (intra-trigger collisions)
    val fresh = probed.filter(col("anchor_id").isNull)
      .select(col("band"), col("doc_id"), col("qual"), col("src"))
    val freshAnchors = fresh.groupBy("band")
      .agg(min(struct(col("doc_id"), col("qual"), col("src"))).as("m"))
      .select(col("band"), col("m.doc_id").as("anchor_id"),
        col("m.qual").as("a_qual"), col("m.src").as("a_src"))
    val intraEdges = fresh.join(freshAnchors, "band")
      .filter(col("doc_id") =!= col("anchor_id"))
      .select(col("doc_id"), col("qual"), col("src"),
        col("anchor_id"), col("a_qual"), col("a_src"))
    val edges = hitEdges.unionByName(intraEdges).localCheckpoint(true)
    val newAnchors = prevAnchors.unionByName(freshAnchors).localCheckpoint(true)

    // colliding docs (edge endpoints, both sides) — 1 row per doc; qual/src
    // are per-doc constants so distinct() is exact dedup
    val prevCollide = readOr("collide",
      Seq.empty[(Long, Boolean, String)].toDF("doc_id", "qual", "src"))
    val newCollide = prevCollide
      .unionByName(edges.select(col("doc_id"), col("qual"), col("src")))
      .unionByName(edges.select(col("anchor_id").as("doc_id"),
        col("a_qual").as("qual"), col("a_src").as("src")))
      .distinct().localCheckpoint(true)

    // star reduction: previous components collapse to (node → rep) edges,
    // so per-trigger CC input is O(colliding docs + new edges), not history
    val prevStars = readOr("stars", Seq.empty[(Long, Long)].toDF("node", "rep"))
    val ccIn = prevStars.filter(col("node") =!= col("rep"))
      .select(col("node").as("x"), col("rep").as("y"))
      .unionByName(edges.select(col("doc_id").as("x"), col("anchor_id").as("y")))
    val newStars = graft.operators.ConnectedComponents.labelsAuto(spark, ccIn)
      .localCheckpoint(true)

    // demoted = quality colliding docs whose component min is another doc
    val demoted = newCollide.filter(col("qual"))
      .join(newStars, col("doc_id") === col("node"))
      .filter(col("node") =!= col("rep"))
      .groupBy("src").agg(count(lit(1)).as("n_dem"))
    val perSrc = newCounters.join(demoted, Seq("src"), "left")
      .select(col("src"), col("n_raw"), col("n_lang"), col("n_qual"),
        (col("n_qual") - coalesce(col("n_dem"), lit(0L))).as("n_surv"))
      .collect() // O(|sources|) rows — the only driver materialization
    val raw = perSrc.map(_.getLong(1)).sum
    val lang = perSrc.map(_.getLong(2)).sum
    val quality = perSrc.map(_.getLong(3)).sum
    val dedup = perSrc.map(_.getLong(4)).sum
    val quota = perSrc.map(r => math.min(r.getLong(4), k.toLong)).sum

    Seq(("counters", newCounters), ("anchors", newAnchors),
        ("collide", newCollide), ("stars", newStars)).foreach { case (t, df) =>
      df.write.mode("overwrite").parquet(path(t, batchId))
    }
    Seq(CurationUpdate(1L, "raw", raw), CurationUpdate(2L, "lang", lang),
        CurationUpdate(3L, "quality", quality), CurationUpdate(4L, "dedup", dedup),
        CurationUpdate(5L, "quota", quota))
      .toDF().withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").parquet(s"$stateDir/funnel/b=$batchId")
    // retire versions older than the one just consumed
    Seq("counters", "anchors", "collide", "stars").foreach { t =>
      val dir = fs.resolve(t)
      if (java.nio.file.Files.isDirectory(dir)) {
        val keep = Set(s"v=$batchId", s"v=${batchId - 1}")
        java.nio.file.Files.list(dir).iterator().asScala
          .filter(p => !keep.contains(p.getFileName.toString))
          .foreach(deleteTree)
      }
    }
  }

  /** Recursive delete of a file or directory tree; also the scratch-dir
    * cleanup for tools and probes. */
  private[graft] def deleteTree(p: java.nio.file.Path): Unit = {
    import java.nio.file._
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.foreach(deleteTree)
    Files.deleteIfExists(p)
  }

  final case class TripletState(albl: Long, posId: Long, posCos: Double,
                                negId: Long, negCos: Double,
                                hasPos: Boolean, hasNeg: Boolean)
  final case class TripletUpdate(anchor_id: Long, label: Long,
                                 pos_id: Long, pos_cos: Double,
                                 neg_id: Long, neg_cos: Double, margin: Double)

  /** Streaming HARD-NEGATIVE TRIPLET MINING — the batch s12 operator
    * ([[graft.queries.SimilarityQueries.s12TripletMining]]) maintained
    * online: candidate vectors arrive as a stream, each scores against the
    * broadcast anchor set with the same pinned `vec_dot` cosine, and each
    * anchor's state is ONE (positive, hard-negative) pair of (cosine, id)
    * — the incremental form of the batch conditional struct max, updated
    * under the identical total order (cosine DESC, vec_id ASC), so after
    * any prefix of the stream under any micro-batch slicing the latest
    * emission per anchor equals batch s12 over the same rows (pinned in
    * StreamingSpec across a batch split). A training pipeline runs this
    * as continuous mining while the embedding corpus grows, instead of
    * re-scanning per refresh; state is O(|anchors|), nothing corpus-sized
    * anywhere. Emits only once an anchor has BOTH legs (a margin needs a
    * positive and a negative). */
  def tripletMine(spark: SparkSession, candidates: DataFrame,
                  corpusDir: String): Dataset[TripletUpdate] = {
    import spark.implicits._
    import graft.queries.SimilarityQueries
    graft.plans.GraftFunctions.register(spark)
    val anchors = graft.queries.Tables.embeddings(spark, corpusDir)
      .filter(col("vec_id") < SimilarityQueries.TripletAnchorCount)
      .selectExpr("vec_id AS anchor_id", "CAST(label AS BIGINT) AS albl",
        "CAST(embedding AS ARRAY<DOUBLE>) AS qv")
      .selectExpr("anchor_id", "albl", "qv", "sqrt(vec_dot(qv, qv)) AS qnrm")
    candidates
      .selectExpr("vec_id", "CAST(label AS BIGINT) AS label",
        "CAST(embedding AS ARRAY<DOUBLE>) AS v")
      .selectExpr("vec_id", "label", "v", "sqrt(vec_dot(v, v)) AS nrm")
      .crossJoin(broadcast(anchors))
      .filter(col("vec_id") =!= col("anchor_id"))
      .selectExpr("anchor_id", "albl", "label", "vec_id",
        "vec_dot(qv, v) / (qnrm * nrm) AS c")
      .as[(Long, Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout) {
        (aid: Long, rows: Iterator[(Long, Long, Long, Long, Double)],
         state: GroupState[TripletState]) =>
          var st = state.getOption.getOrElse(
            TripletState(0L, 0L, 0.0, 0L, 0.0, hasPos = false, hasNeg = false))
          rows.foreach { case (_, albl, lbl, vid, c) =>
            st = st.copy(albl = albl)
            if (lbl == albl) {
              if (!st.hasPos || c > st.posCos || (c == st.posCos && vid < st.posId))
                st = st.copy(posId = vid, posCos = c, hasPos = true)
            } else {
              if (!st.hasNeg || c > st.negCos || (c == st.negCos && vid < st.negId))
                st = st.copy(negId = vid, negCos = c, hasNeg = true)
            }
          }
          state.update(st)
          if (st.hasPos && st.hasNeg)
            Iterator.single(TripletUpdate(aid, st.albl, st.posId, st.posCos,
              st.negId, st.negCos, st.posCos - st.negCos))
          else Iterator.empty
      }
  }

  final case class Scd2State(attr: String, since: Long)
  final case class Scd2Version(key: Long, attr: String, valid_from: Long, valid_to: Long)

  /** SCD2 dimension MAINTENANCE from a change stream — the CDC twin of the
    * batch w05 dimension build (`lead` over each key's version order): one
    * open version per key lives in state; each arriving change CLOSES the
    * previous version (emitting it with `valid_to` = the change's time)
    * and opens a new one. Emitted rows are exactly the batch
    * formulation's CLOSED intervals (the open current version is state,
    * not output — it has no `valid_to` yet), so batch and stream agree row
    * for row on any prefix of the change log. State per key is ONE
    * (attr, since) pair — bounded forever. Changes carrying the SAME attr
    * as the open version are no-ops (CDC dedup), matching the batch
    * build over distinct-attr change logs. Within a batch, changes apply
    * in (ts, then attr) order; across batches the per-key stream must be
    * time-ordered (same watermarked-source contract as
    * [[trailingCounts]]). */
  def scd2Versions(spark: SparkSession, changes: DataFrame): Dataset[Scd2Version] = {
    import spark.implicits._
    changes.selectExpr("key", "us", "attr")
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[(Long, Long, String)], state: GroupState[Scd2State]) =>
          var cur = state.getOption
          val out = Vector.newBuilder[Scd2Version]
          rows.toVector.sortBy(r => (r._2, r._3)).foreach { case (_, us, attr) =>
            cur match {
              case Some(open) if open.attr == attr => () // no-op change
              case Some(open) =>
                out += Scd2Version(key, open.attr, open.since, us)
                cur = Some(Scd2State(attr, us))
              case None =>
                cur = Some(Scd2State(attr, us))
            }
          }
          cur.foreach(c => state.update(c))
          out.result().iterator
      }
  }

  final case class SceneState(nextIdx: Int, prev: Array[Byte], scenes: Int)
  final case class SceneCutUpdate(video_id: Long, frame_idx: Int, sad: Long,
                                  is_cut: Boolean, scene: Int)

  /** Streaming SCENE-CUT twin of the batch m06 detector
    * ([[graft.functions.Multimodal.sceneCutStats]]): decoded video frames
    * arrive as (video_id, frame_idx, frame_bytes) rows — the shape a
    * live-ingest decode stage emits — and each frame is scored against its
    * predecessor with the same SAD statistic and threshold; a frame whose
    * SAD exceeds the threshold opens a new scene. State per video is ONE
    * frame (the previous one) plus two counters — bounded forever, however
    * long the video runs, which is the property that lets shot
    * segmentation run on an unbounded camera stream. Frames must arrive
    * in index order per video (same ordered-source contract as
    * [[trailingCounts]]); a gap or reorder fails loudly rather than
    * silently mis-scoring, and frame sizes must match the open video's
    * (fixed-dimension stream). Within a micro-batch frames sort by index,
    * so any batch slicing yields identical output — pinned equal to the
    * batch m06 kernel in StreamingSpec. */
  def sceneCuts(spark: SparkSession, frames: DataFrame,
                threshold: Long): Dataset[SceneCutUpdate] = {
    import spark.implicits._
    frames.selectExpr("video_id", "frame_idx", "frame")
      .as[(Long, Int, Array[Byte])]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (vid: Long, rows: Iterator[(Long, Int, Array[Byte])], state: GroupState[SceneState]) =>
          var st = state.getOption.getOrElse(SceneState(0, null, 0))
          val out = Vector.newBuilder[SceneCutUpdate]
          rows.toVector.sortBy(_._2).foreach { case (_, fi, bytes) =>
            require(fi == st.nextIdx,
              s"video $vid: frame $fi arrived, expected ${st.nextIdx} (ordered-stream contract)")
            if (st.prev == null) {
              out += SceneCutUpdate(vid, fi, 0L, is_cut = false, scene = 0)
            } else {
              require(bytes.length == st.prev.length,
                s"video $vid: frame $fi size ${bytes.length} != ${st.prev.length}")
              var sad = 0L
              var i = 0
              while (i < bytes.length) {
                sad += math.abs((bytes(i) & 0xFF) - (st.prev(i) & 0xFF))
                i += 1
              }
              val cut = sad > threshold
              val scene = st.scenes + (if (cut) 1 else 0)
              out += SceneCutUpdate(vid, fi, sad, cut, scene)
              st = st.copy(scenes = scene)
            }
            st = SceneState(fi + 1, bytes, st.scenes)
          }
          state.update(st)
          out.result().iterator
      }
  }

  final case class PackState(nextPos: Long)
  final case class PackedDoc(doc_id: Long, lang: String, n_tokens: Long, bin_id: Long)

  /** Streaming twin of the batch x02 packing query: documents arrive as a
    * stream and each is assigned to its fixed token-budget training
    * sequence ("bin") as it arrives — per-language running token count in
    * `flatMapGroupsWithState`. Within a micro-batch, documents pack in
    * doc_id order (sorted per group; cross-batch order is arrival order,
    * the streaming analogue of the batch query's doc_id order). State per
    * language is ONE long — bounded forever, no watermark needed. */
  def packBins(spark: SparkSession, docs: DataFrame, budget: Long = 4096L): Dataset[PackedDoc] = {
    import spark.implicits._
    docs.selectExpr("doc_id", "lang", "CAST(n_tokens AS LONG) AS n_tokens")
      .as[(Long, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (lang: String, rows: Iterator[(Long, String, Long)], state: GroupState[PackState]) =>
          var pos = state.getOption.map(_.nextPos).getOrElse(0L)
          val out = rows.toVector.sortBy(_._1).map { case (docId, _, n) =>
            val bin = pos / budget
            pos += n
            PackedDoc(docId, lang, n, bin)
          }
          state.update(PackState(pos))
          out.iterator
      }
  }

  final case class FunnelState(stage: Int, stageUs: Long)
  final case class FunnelAdvance(user_id: Long, stage: Long, step_name: String, us: Long)

  /** Streaming FUNNEL twin of the batch w08 query: each user's ordered-step
    * progression (view → click → purchase, strict event-time order between
    * steps) maintained incrementally — one `FunnelAdvance` row is emitted
    * the moment a user reaches a new stage. State per user is a single
    * (stage, stageTime) pair — bounded forever, no watermark needed; a
    * 100 TB event history streams through with per-key state the size of
    * two longs.
    *
    * Equality with batch: w08's stage-k time is `min(ts) where type =
    * step_k and ts > t_{k-1}`; processing each user's events in ascending
    * event time makes the FIRST qualifying event exactly that min, so on
    * any time-ordered prefix the streamed advances equal the batch stage
    * times (spec-pinned). Within a micro-batch rows apply in (us, type)
    * order; across batches the per-key stream must be time-ordered (the
    * same watermarked-source contract as [[trailingCounts]] /
    * [[scd2Versions]]). */
  def funnelStages(spark: SparkSession, events: DataFrame,
                   steps: Seq[String] = graft.queries.RelationalQueries.FunnelSteps): Dataset[FunnelAdvance] = {
    import spark.implicits._
    events.selectExpr("user_id", "unix_micros(ts) AS us", "event_type")
      .as[(Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[(Long, Long, String)], state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = Vector.newBuilder[FunnelAdvance]
          rows.toVector.sortBy(r => (r._2, r._3)).foreach { case (_, us, tpe) =>
            if (st.stage < steps.length && tpe == steps(st.stage) &&
                (st.stage == 0 || us > st.stageUs)) {
              st = FunnelState(st.stage + 1, us)
              out += FunnelAdvance(userId, st.stage.toLong, steps(st.stage - 1), us)
            }
          }
          state.update(st)
          out.result().iterator
      }
  }

  /** Output mode for [[hourlyCounts]] in tests: Update with watermark. */
  val DefaultOutputMode: OutputMode = OutputMode.Update()
}
