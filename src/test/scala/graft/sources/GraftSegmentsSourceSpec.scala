package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{SegmentJobConfig, SegmentUploadJob}
import graft.records.KafkaWireCodec._
import graft.testkit.SparkSpec

/** The `graft-segments` DataSource V2: tiered (chunked+compressed+encrypted)
  * segments read back as Kafka-record rows through
  * `spark.read.format(...)`, with plan-time segment pruning and column
  * pruning. */
class GraftSegmentsSourceSpec extends SparkSpec {

  private def kb(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Three kafka-wire segments, offsets 0..9 / 10..19 / 20..29. */
  private def writeSegments(dir: String): Unit =
    (0 until 3).foreach { s =>
      val out = new java.io.ByteArrayOutputStream()
      val base = s * 10L
      val recs = (0 until 10).map(i => (kb(s"k${base + i}"), kb(s"v${base + i}"), Seq.empty[Header]))
      out.write(writeBatch(buildBatch(base, 1700000000000L + base, recs)))
      Files.write(java.nio.file.Paths.get(dir, f"seg$s%03d.log"), out.toByteArray)
    }

  private def setup(): (String, SegmentJobConfig, Vector[String]) = {
    val in = Files.createTempDirectory("dsv2-in").toString
    val store = Files.createTempDirectory("dsv2-store").toString
    writeSegments(in)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 512)
    assert(SegmentUploadJob.run(spark, in, cfg).collect().forall(_.getAs[Boolean]("success")))
    val keys = FileSystemStorage(store).listKeys("")
      .filter(_.endsWith(".log")).map(_.dropRight(".log".length)).sorted
    assert(keys.size == 3)
    (store, cfg, keys)
  }

  private def reader(store: String, cfg: SegmentJobConfig) = {
    val enc = java.util.Base64.getEncoder
    spark.read.format("graft-segments")
      .option("root", store)
      .option("rsaPublicKeyB64", enc.encodeToString(cfg.rsaPublicKey))
      .option("rsaPrivateKeyB64", enc.encodeToString(cfg.rsaPrivateKey))
  }

  test("short name resolves; all segments' records come back decoded") {
    val (store, cfg, keys) = setup()
    val df = reader(store, cfg).load()
    val rows = df.select(col("segment_key"), col("kafka.offset").as("off"),
        col("value_raw").cast("string").as("v")).collect()
    assert(rows.length == 30)
    assert(rows.map(_.getLong(1)).toSet == (0L until 30L).toSet)
    rows.foreach(r => assert(r.getString(2) == s"v${r.getLong(1)}"))
    // record rows ride one partition per segment
    assert(df.rdd.getNumPartitions == 3)
    assert(rows.map(_.getString(0)).toSet == keys.toSet)
  }

  test("segment_key equality and IN prune partitions at plan time") {
    val (store, cfg, keys) = setup()
    val one = reader(store, cfg).load().where(col("segment_key") === keys.head)
    assert(one.rdd.getNumPartitions == 1, "EqualTo must prune to one segment")
    assert(one.select("kafka.offset").collect().map(_.getLong(0)).toSet == (0L until 10L).toSet)

    val two = reader(store, cfg).load().where(col("segment_key").isin(keys.take(2): _*))
    assert(two.rdd.getNumPartitions == 2, "In must prune to two segments")
    assert(two.count() == 20)

    val pfx = reader(store, cfg).load()
      .where(col("segment_key").startsWith(keys.head.take(keys.head.length - 7)))
    assert(pfx.count() == 30) // common sanitized prefix matches all three
  }

  test("limit pushdown: LIMIT n plans only enough segments to cover n rows (r7)") {
    val (store, cfg, _) = setup()
    // 10 records per segment: LIMIT 5 is covered by the FIRST segment's
    // manifest count - exactly one partition planned, 5 rows returned
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val five = reader(store, cfg).load().limit(5).collect()
    assert(five.length == 5)
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 1,
      s"LIMIT 5 should plan 1 of 3 segments, planned ${graft.sources.v2.SegmentsScan.lastPlannedPartitions}")
    // LIMIT 15 needs two segments' counts (10 + 10 >= 15)
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val fifteen = reader(store, cfg).load().limit(15).collect()
    assert(fifteen.length == 15)
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 2,
      s"LIMIT 15 should plan 2 of 3 segments, planned ${graft.sources.v2.SegmentsScan.lastPlannedPartitions}")
    // over-the-top limit degrades to the full listing and the full answer
    assert(reader(store, cfg).load().limit(1000).count() == 30)
    // a residual row filter keeps the unlimited row path (Spark never
    // offers the limit below a filter) - correctness unaffected
    val filtered = reader(store, cfg).load()
      .where(col("kafka.offset") >= 25).limit(3).collect()
    assert(filtered.length == 3)
  }

  test("stats pruning: offset/timestamp range filters skip segments by manifest RecordStats (r8)") {
    val (store, cfg, keys) = setup()
    import graft.sources.v2.SegmentsScan
    // offsets 0..29 across 3 segments; timestamps 1700000000000 + offset
    val T0 = 1700000000000L

    // "what happened since T": only the last segment's stats interval
    // intersects — 1 planned partition, exact rows
    SegmentsScan.lastPlannedPartitions = -1
    val since = reader(store, cfg).load()
      .where(col("kafka.timestamp") >= T0 + 20)
      .select("kafka.offset").collect().map(_.getLong(0)).sorted
    assert(since.toSeq == (20L until 30L))
    assert(SegmentsScan.lastPlannedPartitions == 1,
      s"timestamp >= T+20 must plan 1 of 3 segments, planned ${SegmentsScan.lastPlannedPartitions}")

    // a closed interval straddling two segments plans exactly those two
    SegmentsScan.lastPlannedPartitions = -1
    val mid = reader(store, cfg).load()
      .where(col("kafka.timestamp") >= T0 + 5 && col("kafka.timestamp") <= T0 + 12)
      .select("kafka.offset").collect().map(_.getLong(0)).sorted
    assert(mid.toSeq == (5L to 12L))
    assert(SegmentsScan.lastPlannedPartitions == 2,
      s"mid-range must plan 2 of 3 segments, planned ${SegmentsScan.lastPlannedPartitions}")

    // offset ranges prune identically (the high-watermark tail query)
    SegmentsScan.lastPlannedPartitions = -1
    val tail = reader(store, cfg).load()
      .where(col("kafka.offset") > 19L)
      .select("kafka.offset").collect().map(_.getLong(0)).sorted
    assert(tail.toSeq == (20L until 30L))
    assert(SegmentsScan.lastPlannedPartitions == 1)

    // offset point lookup plans one segment
    SegmentsScan.lastPlannedPartitions = -1
    assert(reader(store, cfg).load().where(col("kafka.offset") === 15L).count() == 1)
    assert(SegmentsScan.lastPlannedPartitions == 1)

    // stats-less manifests are ALWAYS planned (reference-written segments):
    // strip recordStats from segment 0's manifest; the same query now plans
    // it too, and the residual filter keeps the answer byte-identical
    val mSuffix = "." + ObjectKey.Suffix.Manifest.value
    val mPath = java.nio.file.Paths.get(store, keys.head + mSuffix)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readAllBytes(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("recordStats")
    Files.write(mPath, mapper.writeValueAsBytes(node))
    SegmentsScan.lastPlannedPartitions = -1
    val since2 = reader(store, cfg).load()
      .where(col("kafka.timestamp") >= T0 + 20)
      .select("kafka.offset").collect().map(_.getLong(0)).sorted
    assert(since2.toSeq == (20L until 30L))
    assert(SegmentsScan.lastPlannedPartitions == 2,
      s"stats-less segment must be planned conservatively, planned ${SegmentsScan.lastPlannedPartitions}")
  }

  test("topN pushdown: tail-the-log plans from the END of the store; gated on prefix (r7)") {
    val (store, cfg, keys) = setup()
    val pfx = keys.head.take(3) // shared sanitized prefix of all three keys
    // ORDER BY offset DESC LIMIT 5: the newest rows live in the LAST
    // segment - one planned partition, exact tail rows
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val tail = reader(store, cfg).option("prefix", pfx).load()
      .orderBy(col("kafka.offset").desc).limit(5)
      .select("kafka.offset").collect().map(_.getLong(0))
    assert(tail.toSeq == Seq(29L, 28L, 27L, 26L, 25L))
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 1,
      s"tail-5 should plan the last segment only, planned ${graft.sources.v2.SegmentsScan.lastPlannedPartitions}")
    // ascending: the oldest rows live in the FIRST segment
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val head = reader(store, cfg).option("prefix", pfx).load()
      .orderBy(col("kafka.offset")).limit(5)
      .select("kafka.offset").collect().map(_.getLong(0))
    assert(head.toSeq == Seq(0L, 1L, 2L, 3L, 4L))
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 1)
    // WITHOUT a prefix scope the append-order contract does not hold
    // (multi-topic-partition stores interleave offsets): no topN pruning,
    // answer still exact through the full scan + Spark's own sort
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val unscoped = reader(store, cfg).load()
      .orderBy(col("kafka.offset").desc).limit(5)
      .select("kafka.offset").collect().map(_.getLong(0))
    assert(unscoped.toSeq == Seq(29L, 28L, 27L, 26L, 25L))
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 3,
      "unscoped topN must keep the full listing")
  }

  test("offset pushdown: OFFSET skips whole segments + an exact in-segment remainder (r7)") {
    val (store, cfg, keys) = setup()
    val pfx = keys.head.take(3)
    // page 12..16: segment 0 (10 rows) is never planned; the skip's
    // remainder (2 rows) rides segment 1's reader
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val page = reader(store, cfg).option("prefix", pfx).load()
      .orderBy(col("kafka.offset")).offset(12).limit(5)
      .select("kafka.offset").collect().map(_.getLong(0))
    assert(page.toSeq == Seq(12L, 13L, 14L, 15L, 16L))
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions < 3,
      s"offset 12 must drop segment 0 from the plan, planned ${graft.sources.v2.SegmentsScan.lastPlannedPartitions}")
    // offset alone, unordered: exactly 5 rows survive and only the last
    // segment is planned (25 skipped = 2 whole segments + 5 rows)
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val tail = reader(store, cfg).option("prefix", pfx).load().offset(25)
    assert(tail.count() == 5)
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 1,
      s"offset 25 must plan only the last segment, planned ${graft.sources.v2.SegmentsScan.lastPlannedPartitions}")
    // offset past the store: empty result, nothing planned
    assert(reader(store, cfg).option("prefix", pfx).load().offset(30).count() == 0)
    // WITHOUT the prefix scope the append-order contract does not hold:
    // pushOffset refuses, Spark's own Offset applies, answer stays exact
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val unscoped = reader(store, cfg).load()
      .orderBy(col("kafka.offset")).offset(12).limit(5)
      .select("kafka.offset").collect().map(_.getLong(0))
    assert(unscoped.toSeq == Seq(12L, 13L, 14L, 15L, 16L))
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 3,
      "unscoped offset must keep the full listing")
  }

  test("offset pushdown composes with runtime filtering: the skip boundary never moves (r7)") {
    import spark.implicits._
    val (store, cfg, keys) = setup()
    val pfx = keys.head.take(3)
    // dim keeps segments 2 and 3 only, discovered at RUNTIME (filtered
    // build side). OFFSET 12 semantics: skip scan rows 0..11 (all of S1 +
    // two of S2) FIRST, then the join filters — so rows 12..29 survive.
    // Re-deriving the skip over the runtime-shrunk list would wrongly
    // skip 12 rows of S2+S3 and return 22..29.
    val dimDir = Files.createTempDirectory("dsv2-dim-off").toString
    keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("segment_key", "pick")
      .write.mode("overwrite").parquet(dimDir)
    val wanted = spark.read.parquet(dimDir).where(col("pick") >= 1L).select("segment_key")
    val df = reader(store, cfg).option("prefix", pfx).load().offset(12)
      .join(org.apache.spark.sql.functions.broadcast(wanted), "segment_key")
    val got = df.select(col("kafka.offset")).collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (12L until 30L),
      s"offset boundary must be computed over the STATIC listing; got ${got.toSeq}")
    // the scenario is only meaningful if the offset actually reached the
    // scan while the join's runtime filter was also active
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("offset=12"), "offset must be pushed under the join:\n" + plan.take(2000))
  }

  test("offset pushdown: an OFFSET ending on a segment boundary needs no stats past it") {
    val (store, cfg, keys) = setup()
    val pfx = keys.head.take(3)
    // segment 1 as a reference-written manifest (no recordStats): OFFSET 10
    // skips segment 0 whole and starts at segment 1's first row, so no
    // count of segment 1 is needed to plan it
    val mPath = java.nio.file.Paths.get(store, keys(1) + "." + ObjectKey.Suffix.Manifest.value)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(Files.readAllBytes(mPath))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("recordStats")
    Files.write(mPath, mapper.writeValueAsBytes(node))
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val got = reader(store, cfg).option("prefix", pfx).load().offset(10)
      .select("kafka.offset").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (10L until 30L))
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 2,
      s"offset 10 must plan segments 1 and 2, planned ${graft.sources.v2.SegmentsScan.lastPlannedPartitions}")
  }

  test("runtime filtering: a broadcast join on segment_key prunes partitions at RUN time (r6)") {
    import spark.implicits._
    val (store, cfg, keys) = setup()
    // the probe keys are only known at runtime (a FILTERED dimension
    // table — DPP requires a selective predicate on the build side), so
    // static pushdown cannot prune; SupportsRuntimeFiltering hands the
    // broadcast build side's key set to the scan before partitions launch
    val dimDir = Files.createTempDirectory("dsv2-dim").toString
    keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("segment_key", "pick")
      .write.mode("overwrite").parquet(dimDir)
    val wanted = spark.read.parquet(dimDir).where(col("pick") === 0L).select("segment_key")
    val df = reader(store, cfg).load()
      .join(org.apache.spark.sql.functions.broadcast(wanted), "segment_key")
    graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
    val rows = df.select(col("kafka.offset")).collect()
    assert(rows.map(_.getLong(0)).toSet == (0L until 10L).toSet,
      "joined read must return exactly the probed segment's records")
    // the FINAL planning pass saw the runtime IN filter: one partition,
    // not three (the static scan would plan 3 and discard rows post-join)
    assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 1,
      s"expected runtime-pruned planning of 1 partition, got ${graft.sources.v2.SegmentsScan.lastPlannedPartitions}")
    // and the physical plan carries the runtime filter on the scan node
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("RuntimeFilters") || plan.toLowerCase.contains("dynamicpruning"),
      "expected a runtime filter on the BatchScan:\n" + plan.take(3000))
  }

  test("driver planning I/O: one LIST per query, at most one manifest GET and one size() per key") {
    import spark.implicits._
    val (store, cfg, keys) = setup()
    StorageBackends.register(DriverIo.Scheme, r => new DriverIo(r.stripPrefix(s"${DriverIo.Scheme}://")))
    val root = s"${DriverIo.Scheme}://$store"
    val pfx = keys.head.take(3)
    val T0 = 1700000000000L
    val dimDir = Files.createTempDirectory("dsv2-dim-io").toString
    keys.zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("segment_key", "pick")
      .write.mode("overwrite").parquet(dimDir)
    val wanted = spark.read.parquet(dimDir).where(col("pick") === 0L).select("segment_key")
    val shapes: Seq[(String, org.apache.spark.sql.DataFrame, Int)] = Seq(
      ("row scan", reader(root, cfg).load(), 30),
      ("kafka.timestamp range", reader(root, cfg).load().where(col("kafka.timestamp") >= T0 + 20), 10),
      ("LIMIT", reader(root, cfg).load().limit(5), 5),
      ("OFFSET + LIMIT with prefix", reader(root, cfg).option("prefix", pfx).load().offset(12).limit(5), 5),
      ("runtime-filtered segment_key join",
        reader(root, cfg).load().join(broadcast(wanted), "segment_key"), 10))
    val seen =
      try shapes.map { case (name, df, rows) =>
        DriverIo.reset()
        val q = df.select("kafka.offset")
        q.queryExecution.optimizedPlan.stats // the planner's size estimate, as a join would ask
        assert(q.collect().length == rows, name)
        name -> DriverIo.snapshot()
      } finally StorageBackends.unregister(DriverIo.Scheme)
    seen.foreach { case (name, (lists, gets, sizes)) =>
      info(s"$name: LIST $lists, manifest GETs per key ${gets.values.toSeq.sorted.mkString("[", ",", "]")}, " +
        s"size() per key ${sizes.values.toSeq.sorted.mkString("[", ",", "]")}")
    }
    // the statistics and every pruning step read the manifests the catalog
    // already GETs: planning never asks storage for an object's size
    seen.foreach { case (name, (lists, gets, sizes)) =>
      assert(lists == 1, s"$name: $lists LISTs")
      assert(gets.values.forall(_ <= 1), s"$name: manifest GETs per key $gets")
      assert(sizes.isEmpty, s"$name: size() calls per key $sizes")
    }
  }

  test("estimateStatistics: pruned scans report the pruned byte size (r6)") {
    val (store, cfg, keys) = setup()
    def statsOf(df: org.apache.spark.sql.DataFrame): (Long, Option[Long]) = {
      val rel = df.queryExecution.optimizedPlan.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
      }.get
      val st = rel.computeStats()
      (st.sizeInBytes.toLong, st.rowCount.map(_.toLong))
    }
    val T0 = 1700000000000L
    val pfx = keys.head.take(3)
    // the decoded segment payloads, as uploaded: what the rows are made
    // from, not the compressed and encrypted `.log` objects
    val payload = keys.map(k => graft.operators.SegmentFetchJob
      .fetchRange(cfg, k, graft.core.BytesRange(0L, Long.MaxValue - 1L)).length.toLong)
    val full = statsOf(reader(store, cfg).load())
    assert(full == (payload.sum, Some(30L)), s"full-scan statistics $full")
    // each pruned shape reports exactly the segments it plans and the rows
    // the scan emits: segment_key pruning, stats pruning (only the last
    // segment's timestamps reach T0 + 20), a LIMIT the first segment covers
    // (the scan still emits that whole segment; Spark's limit sits on top),
    // and an OFFSET 12 that skips segment 0 whole and 2 rows of segment 1
    Seq(
      ("segment_key", reader(store, cfg).load().where(col("segment_key") === keys.head), Seq(0), 10L),
      ("kafka.timestamp range", reader(store, cfg).load().where(col("kafka.timestamp") >= T0 + 20),
        Seq(2), 10L),
      ("LIMIT", reader(store, cfg).load().limit(5), Seq(0), 10L),
      ("OFFSET + LIMIT with prefix", reader(store, cfg).option("prefix", pfx).load().offset(12).limit(5),
        Seq(1, 2), 18L)).foreach { case (name, df, planned, rows) =>
      val est = statsOf(df)
      assert(est == (planned.map(payload).sum, Some(rows)),
        s"$name: statistics $est, expected ${planned.map(payload).sum} bytes and $rows rows")
      assert(est._1 < full._1, name)
    }
    // a stats-less (reference-written) manifest: bytes still known, the
    // row count is not
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def manifest(k: String) = java.nio.file.Paths.get(store, k + "." + ObjectKey.Suffix.Manifest.value)
    val node = mapper.readTree(Files.readAllBytes(manifest(keys(1))))
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("recordStats")
    Files.write(manifest(keys(1)), mapper.writeValueAsBytes(node))
    assert(statsOf(reader(store, cfg).load()) == (payload.sum, None))
    // an unreadable manifest adds 0 bytes and no row count
    Files.write(manifest(keys(2)), kb("not json"))
    assert(statsOf(reader(store, cfg).load()) == (payload(0) + payload(1), None))
  }

  test("column pruning: metadata-only scans never materialize payloads") {
    val (store, cfg, _) = setup()
    val df = reader(store, cfg).load().select(col("kafka.batch_base_offset").as("b"))
    val leaf = df.queryExecution.executedPlan.collectLeaves().head
    assert(!leaf.output.map(_.name).contains("value_raw"),
      s"pruned scan still outputs payload columns: ${leaf.output.map(_.name)}")
    assert(df.distinct().collect().map(_.getLong(0)).toSet == Set(0L, 10L, 20L))
  }

  test("aggregate pushdown: count/min/max answer from manifests with ZERO payload reads (r7)") {
    import graft.sources.v2.SegmentsAggScan
    val (store, cfg, keys) = setup()
    def agg = reader(store, cfg).load()
      .agg(count(lit(1)).as("n"), min(col("kafka.offset")).as("lo"),
        max(col("kafka.offset")).as("hi"), max(col("kafka.timestamp")).as("ts"))
    // plan must be the aggregate scan, not the row scan
    assert(agg.queryExecution.executedPlan.toString.contains("graft-segments AGG"),
      agg.queryExecution.executedPlan.toString.take(2000))
    // the strongest possible "zero payload reads": DELETE every log object;
    // the metadata-only query must still answer exactly
    keys.foreach(k => FileSystemStorage(store).delete(s"$k.log"))
    SegmentsAggScan.resetCounters()
    val r = agg.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (30L, 0L, 29L, 1700000000000L + 29L))
    assert(SegmentsAggScan.statsOnlyReads.get() == 3 &&
      SegmentsAggScan.payloadFallbackReads.get() == 0)
    // grouped by segment_key: one exact row per segment, still no payload
    SegmentsAggScan.resetCounters()
    val grouped = reader(store, cfg).load().groupBy(col("segment_key"))
      .agg(count(lit(1)).as("n"), max(col("kafka.offset")).as("hi"))
      .orderBy("segment_key").collect()
    assert(grouped.map(g => (g.getString(0), g.getLong(1), g.getLong(2))).toSeq ==
      keys.zipWithIndex.map { case (k, i) => (k, 10L, i * 10L + 9L) })
    assert(SegmentsAggScan.payloadFallbackReads.get() == 0)
  }

  test("aggregate pushdown guards: residual filters and stats-less manifests stay exact") {
    import graft.sources.v2.SegmentsAggScan
    val (store, cfg, keys) = setup()
    // a row-level filter keeps the ROW plan (manifest stats can't apply)
    val filtered = reader(store, cfg).load()
      .where(col("kafka.offset") >= 5L).agg(count(lit(1)).as("n"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("graft-segments AGG"))
    assert(filtered.head().getLong(0) == 25L)
    // distinct is not decomposable from stats → row plan
    val distinct = reader(store, cfg).load()
      .agg(countDistinct(col("kafka.offset")).as("n"))
    assert(!distinct.queryExecution.executedPlan.toString.contains("graft-segments AGG"))
    assert(distinct.head().getLong(0) == 30L)
    // strip recordStats from ONE manifest (a reference-written segment):
    // that partition falls back to an exact payload parse, others stay
    // metadata-only
    val fs = FileSystemStorage(store)
    val mKey = s"${keys.head}.rsm-manifest"
    val json = new String(fs.fetchBytes(mKey), "UTF-8")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(json).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("recordStats")
    fs.uploadBytes(mapper.writeValueAsString(node).getBytes("UTF-8"), mKey)
    SegmentsAggScan.resetCounters()
    val r = reader(store, cfg).load()
      .agg(count(lit(1)).as("n"), max(col("kafka.offset")).as("hi")).head()
    assert((r.getLong(0), r.getLong(1)) == (30L, 29L))
    assert(SegmentsAggScan.statsOnlyReads.get() == 2 &&
      SegmentsAggScan.payloadFallbackReads.get() == 1)
  }

  test("write path: records → tiered segments → read back identical (full V2 round trip)") {
    val (store, cfg, keys) = setup()
    val dst = Files.createTempDirectory("dsv2-dst").toString
    val df = reader(store, cfg).load()
    val enc = java.util.Base64.getEncoder
    df.write.format("graft-segments")
      .option("root", dst)
      .option("rsaPublicKeyB64", enc.encodeToString(cfg.rsaPublicKey))
      .option("rsaPrivateKeyB64", enc.encodeToString(cfg.rsaPrivateKey))
      .mode("append").save()
    // destination store has the 3-object layout per segment
    val dstKeys = FileSystemStorage(dst).listKeys("")
    assert(dstKeys.count(_.endsWith(".log")) == 3)
    assert(dstKeys.count(_.endsWith(".rsm-manifest")) == 3)
    // read back from the destination: every record identical
    def snapshot(root: String) = reader(root, cfg).load()
      .select(col("segment_key"), col("kafka.offset"), col("kafka.timestamp"),
        col("key_raw").cast("string"), col("value_raw").cast("string"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3), r.getString(4))).toSet
    assert(snapshot(dst) == snapshot(store))
    // wire bytes are BYTE-IDENTICAL segment by segment (I9 re-serialize)
    keys.foreach { k =>
      val a = graft.operators.SegmentFetchJob.fetchRange(cfg, k, graft.core.BytesRange(0L, Long.MaxValue - 1L))
      val b = graft.operators.SegmentFetchJob.fetchRange(cfg.copy(storageRoot = dst), k,
        graft.core.BytesRange(0L, Long.MaxValue - 1L))
      assert(java.util.Arrays.equals(a, b), s"wire bytes differ for $k")
    }
  }

  test("backend pluggability: schemed roots ride the S3/GCS/Azure protocol stacks") {
    // The `backend.provider` option names a StorageBackends.Provider CLASS —
    // the reference's storage.backend.class shape — which binds a scheme to
    // a transport (here: the enforcing in-memory fakes; in production: an
    // SDK client). The SAME tiered layout + crypto then rides any backend.
    val (srcStore, cfg, _) = setup()
    val enc = java.util.Base64.getEncoder
    val df = reader(srcStore, cfg).load()
    val matrix = Seq(
      ("s3://tiered-bucket/topicA", classOf[FakeS3Provider].getName,
        () => FakeCloud.s3.objects.keys.toVector),
      ("gs://tiered-bucket/topicA", classOf[FakeGcsProvider].getName,
        () => FakeCloud.gcs.objects.keys.toVector),
      ("azure://tiered-container/topicA", classOf[FakeAzureProvider].getName,
        () => FakeCloud.azure.blobs.keys.toVector))
    matrix.foreach { case (root, provider, listObjects) =>
      df.write.format("graft-segments")
        .option("root", root)
        .option("backend.provider", provider)
        .option("rsaPublicKeyB64", enc.encodeToString(cfg.rsaPublicKey))
        .option("rsaPrivateKeyB64", enc.encodeToString(cfg.rsaPrivateKey))
        .mode("append").save()
      assert(listObjects().count(_.endsWith(".log")) == 3, s"$root objects: ${listObjects()}")
      assert(listObjects().count(_.endsWith(".rsm-manifest")) == 3, root)
      val back = reader(root, cfg).option("backend.provider", provider).load()
        .select(col("kafka.offset"), col("value_raw").cast("string")).collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(back == (0L until 30L).map(o => (o, s"v$o")).toSet,
        s"$root read-back differs from source store")
    }
    // unregistered scheme fails loudly, not with a path-not-found
    StorageBackends.unregister("wasb")
    val e = intercept[Exception] {
      reader("wasb://c/x", cfg).load().count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: chain(x.getCause))
    assert(chain(e).exists(_.getMessage != null) &&
      chain(e).exists(t => Option(t.getMessage).exists(_.contains("no storage backend registered"))))
  }

  test("streaming offsets carry the last consumed key and fail loudly on append-order violations") {
    import graft.sources.v2._
    val (store, _, keys) = setup()
    val scan = new SegmentsScan(GraftSegments.SourceConf(store, "", "", ""),
      GraftSegments.fullSchema, Array.empty)
    val stream = scan.toMicroBatchStream("unused")
    val off0 = stream.initialOffset()
    val off1 = stream.latestOffset().asInstanceOf[SegmentCountOffset]
    assert(off1.n == 3 && off1.last == keys.last)
    // offset JSON round-trips the key; bare pre-r4 counts still parse
    assert(SegmentCountOffset.parse(off1.json()) == off1)
    assert(SegmentCountOffset.parse("2") == SegmentCountOffset(2L, ""))
    // blank/garbage checkpoints fail with a descriptive error, not a raw
    // NumberFormatException from the legacy numeric branch (r4 advice)
    // a malformed JSON offset fails at parse, not later as a raw exception
    // (`{"last":"k"}` was a NullPointerException; a negative `n`, or one
    // past Int.MaxValue, reached planInputPartitions and indexed keys(-4))
    for (bad <- Seq("""{"last":"k"}""", """{"n":-3,"last":"k"}""", """{"n":"2","last":"k"}""",
        """{"n":1.5,"last":"k"}""", """{"n":0,"last":"k"}""", """{"n":1,"last":7}""", "{",
        """{"n":2147483648,"last":"k"}""", "", "   ", "abc", "12x", "2147483648"))
      assert(intercept[IllegalArgumentException](SegmentCountOffset.parse(bad))
        .getMessage.contains("invalid graft-segments stream offset"), bad)
    assert(SegmentCountOffset.parse("""{"n":0,"last":""}""") == SegmentCountOffset(0L))
    assert(SegmentCountOffset.parse("""{"n":0}""") == SegmentCountOffset(0L))
    assert(stream.planInputPartitions(off0, off1).length == 3)
    // a NEW segment with an append-ordered key: normal progression
    val st = FileSystemStorage(store)
    st.uploadBytes(kb("m"), s"zzz-after.${ObjectKey.Suffix.Manifest.value}")
    val off2 = stream.latestOffset().asInstanceOf[SegmentCountOffset]
    assert(off2.n == 4 && stream.planInputPartitions(off1, off2).length == 1)
    // a BACKFILLED segment sorting before consumed keys: every subsequent
    // slice would shift — the stream must refuse, not skip/re-emit
    st.uploadBytes(kb("m"), s"0000-backfill.${ObjectKey.Suffix.Manifest.value}")
    val off3 = stream.latestOffset()
    val e = intercept[IllegalArgumentException](stream.planInputPartitions(off1, off3))
    assert(e.getMessage.contains("append-ordered"))
  }

  test("admission control: per-trigger segment/byte caps bound each micro-batch (r7)") {
    import graft.sources.v2._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val (store, _, keys) = setup()
    val scan = new SegmentsScan(GraftSegments.SourceConf(store, "", "", ""),
      GraftSegments.fullSchema, Array.empty)
    val stream = scan.toMicroBatchStream("unused")
      .asInstanceOf[SegmentsMicroBatchStream]
    val start = stream.initialOffset()
    // segment cap: exactly 2 of the 3 admitted, offset pinned to key 2
    val seg2 = stream.latestOffset(start, ReadLimit.maxFiles(2))
      .asInstanceOf[SegmentCountOffset]
    assert(seg2.n == 2 && seg2.last == keys(1))
    // byte cap below one segment still admits ONE (progress guarantee)
    val one = stream.latestOffset(start, ReadLimit.maxBytes(1L))
      .asInstanceOf[SegmentCountOffset]
    assert(one.n == 1 && one.last == keys(0))
    // byte cap covering two log objects admits exactly two
    val st = FileSystemStorage(store)
    val sizes = keys.map(k => st.size(s"$k.log"))
    val two = stream.latestOffset(start, ReadLimit.maxBytes(sizes(0) + sizes(1)))
      .asInstanceOf[SegmentCountOffset]
    assert(two.n == 2 && two.last == keys(1))
    // composite = tightest wins; resuming from n=2 drains the tail
    val comp = stream.latestOffset(start, ReadLimit.compositeLimit(
      Array(ReadLimit.maxFiles(1), ReadLimit.maxBytes(Long.MaxValue))))
      .asInstanceOf[SegmentCountOffset]
    assert(comp.n == 1)
    val rest = stream.latestOffset(seg2, ReadLimit.maxFiles(2))
      .asInstanceOf[SegmentCountOffset]
    assert(rest.n == 3 && rest.last == keys(2))
    // no caps configured → default limit is all-available
    assert(stream.getDefaultReadLimit == ReadLimit.allAvailable())
    // reportLatestOffset is the TRUE head (progress metrics see the lag)
    assert(stream.reportLatestOffset().asInstanceOf[SegmentCountOffset].n == 3)
  }

  test("admission control: an unreadable manifest is admitted alone, never sized as 0 bytes") {
    import graft.sources.v2._
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val (store, _, keys) = setup()
    Files.write(java.nio.file.Paths.get(store, keys(1) + "." + ObjectKey.Suffix.Manifest.value),
      kb("not json"))
    val stream = new SegmentsScan(GraftSegments.SourceConf(store, "", "", ""),
      GraftSegments.fullSchema, Array.empty).toMicroBatchStream("unused")
      .asInstanceOf[SegmentsMicroBatchStream]
    def next(from: SegmentCountOffset) =
      stream.latestOffset(from, ReadLimit.maxBytes(Long.MaxValue)).asInstanceOf[SegmentCountOffset]
    // an unlimited byte cap still stops in front of the segment it cannot size
    val first = next(SegmentCountOffset(0L))
    assert(first == SegmentCountOffset(1L, keys(0)))
    // from there, the unreadable segment is admitted alone (progress guarantee)
    val second = next(first)
    assert(second == SegmentCountOffset(2L, keys(1)))
    assert(next(second) == SegmentCountOffset(3L, keys(2)))
  }

  test("admission control end-to-end: maxSegmentsPerTrigger=1 drains as one-segment batches") {
    val (store, cfg, _) = setup()
    val enc = java.util.Base64.getEncoder
    val stream = spark.readStream.format("graft-segments")
      .option("root", store)
      .option("rsaPublicKeyB64", enc.encodeToString(cfg.rsaPublicKey))
      .option("rsaPrivateKeyB64", enc.encodeToString(cfg.rsaPrivateKey))
      .option("stream.maxSegmentsPerTrigger", "1")
      .load()
      .selectExpr("segment_key", "kafka.offset AS off")
    val q = stream.writeStream.format("memory").queryName("segadm")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // nothing skipped, nothing replayed...
      val rows = spark.sql("SELECT off FROM segadm").collect().map(_.getLong(0))
      assert(rows.sorted.toSeq == (0L until 30L))
      // ...and no batch carried more than one segment's 10 records
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.length == 3 && batches.forall(_ == 10L),
        s"expected 3 batches of 10, got ${batches.mkString(",")}")
    } finally q.stop()
  }

  test("streaming time-range replay: only stats-matching segments enter the offset space, one per micro-batch (r9)") {
    val (store, cfg, _) = setup()
    // offsets 0..29 across 3 segments, timestamps T0 + offset: a replay
    // bounded to ts >= T0+10 must plan segments 1 and 2 ONLY. Spark pushes
    // no filters into micro-batch scans (a WHERE runs post-scan), so the
    // bound rides the `stream.startingTimestamp` option — manifest
    // RecordStats prune non-matching segments before the stream's offset
    // space is even built, and at 100 TB a "since yesterday" replay never
    // sizes or fetches the cold history. The WHERE stays for row
    // exactness on boundary segments.
    val T0 = 1700000000000L
    val enc = java.util.Base64.getEncoder
    val stream = spark.readStream.format("graft-segments")
      .option("root", store)
      .option("rsaPublicKeyB64", enc.encodeToString(cfg.rsaPublicKey))
      .option("rsaPrivateKeyB64", enc.encodeToString(cfg.rsaPrivateKey))
      .option("stream.maxSegmentsPerTrigger", "1")
      .option("stream.startingTimestamp", (T0 + 10).toString)
      .load()
      .where(col("kafka.timestamp") >= T0 + 10)
      .selectExpr("segment_key", "kafka.offset AS off",
        "CAST(value_raw AS STRING) AS v")
    val q = stream.writeStream.format("memory").queryName("segrange")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // rows: exactly the bounded range, byte-identical to the batch read
      // under the same filter
      val got = spark.sql("SELECT off, v FROM segrange").collect()
        .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      val batch = reader(store, cfg).load()
        .where(col("kafka.timestamp") >= T0 + 10)
        .selectExpr("kafka.offset AS off", "CAST(value_raw AS STRING) AS v")
        .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      assert(got.toSeq == batch.toSeq && got.map(_._1).toSeq == (10L until 30L))
      // per-trigger planning: maxSegmentsPerTrigger=1 over a PRUNED offset
      // space drains as exactly 2 one-segment batches — an unpruned stream
      // would show a third (empty) batch for the filtered-out segment
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.length == 2 && batches.forall(_ == 10L),
        s"expected 2 pruned batches of 10, got ${batches.mkString(",")}")
      val drained = q.recentProgress.flatMap(p => Option(p.sources)).flatten
        .map(_.endOffset).filter(_ != null).map(_.toString)
      assert(drained.nonEmpty && drained.forall(!_.contains("\"n\":3")),
        s"the pruned-out segment must never enter the offset space: $drained")
      assert(drained.exists(_.contains("\"n\":2")),
        s"final offset must count exactly the 2 matching segments: $drained")
    } finally q.stop()
  }

  test("SQL DDL surface: CREATE TABLE ... USING graft-segments, then pure SQL") {
    val (store, cfg, keys) = setup()
    val enc = java.util.Base64.getEncoder
    spark.sql("DROP TABLE IF EXISTS segs")
    spark.sql(
      s"""CREATE TABLE segs USING `graft-segments` OPTIONS (
         |  root '$store',
         |  rsaPublicKeyB64 '${enc.encodeToString(cfg.rsaPublicKey)}',
         |  rsaPrivateKeyB64 '${enc.encodeToString(cfg.rsaPrivateKey)}'
         |)""".stripMargin)
    try {
      val n = spark.sql("SELECT COUNT(*) FROM segs").head.getLong(0)
      assert(n == 30L)
      val agg = spark.sql(
        """SELECT segment_key, COUNT(*) AS n, MIN(kafka.offset) AS lo, MAX(kafka.offset) AS hi
          |FROM segs GROUP BY segment_key ORDER BY lo""".stripMargin).collect()
      assert(agg.length == 3)
      assert(agg.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq ==
        Seq((10L, 0L, 9L), (10L, 10L, 19L), (10L, 20L, 29L)))
      assert(agg.map(_.getString(0)).toSeq == keys.toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS segs")
  }

  test("streaming read: new segments appear as micro-batches; replay-stable offsets") {
    val in = Files.createTempDirectory("dsv2s-in").toString
    val store = Files.createTempDirectory("dsv2s-store").toString
    writeSegments(in) // seg000..seg002 on disk, not yet uploaded
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 512)
    val storage = FileSystemStorage(store)

    def uploadOne(i: Int): Unit = {
      val p = java.nio.file.Paths.get(in, f"seg$i%03d.log")
      val res = graft.operators.SegmentUploadJob.uploadOne(
        storage, cfg.ring, None, cfg, f"seg$i%03d", Files.readAllBytes(p))
      assert(res.success, res.error)
    }
    uploadOne(0); uploadOne(1)

    val enc = java.util.Base64.getEncoder
    val stream = spark.readStream.format("graft-segments")
      .option("root", store)
      .option("rsaPublicKeyB64", enc.encodeToString(cfg.rsaPublicKey))
      .option("rsaPrivateKeyB64", enc.encodeToString(cfg.rsaPrivateKey))
      .load()
      .selectExpr("segment_key", "kafka.offset AS off")
    val q = stream.writeStream.format("memory").queryName("seglive")
      .outputMode("append").start()
    q.processAllAvailable()
    assert(spark.sql("SELECT COUNT(*) FROM seglive").head.getLong(0) == 20L)

    uploadOne(2) // a NEW segment lands in the store (key sorts after)
    q.processAllAvailable()
    q.stop()
    val rows = spark.sql("SELECT segment_key, off FROM seglive").collect()
    assert(rows.length == 30)
    assert(rows.map(_.getLong(1)).toSet == (0L until 30L).toSet)
    // each segment arrived exactly once (no replays, no gaps)
    val bySeg = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    assert(bySeg.values.toSet == Set(10) && bySeg.size == 3)
  }

  test("catalog plugin: stores under one root are named tables in SQL") {
    val (storeA, cfg, _) = setup() // one populated store
    // move it under a common catalog root alongside a second (empty) store
    val croot = Files.createTempDirectory("dsv2-catalog").toString
    val a = java.nio.file.Paths.get(croot, "store-a")
    Files.move(java.nio.file.Paths.get(storeA), a)
    Files.createDirectories(java.nio.file.Paths.get(croot, "store-b"))

    val enc = java.util.Base64.getEncoder
    spark.conf.set("spark.sql.catalog.tiered", classOf[graft.sources.v2.GraftSegmentsCatalog].getName)
    spark.conf.set("spark.sql.catalog.tiered.root", croot)
    spark.conf.set("spark.sql.catalog.tiered.rsaPublicKeyB64", enc.encodeToString(cfg.rsaPublicKey))
    spark.conf.set("spark.sql.catalog.tiered.rsaPrivateKeyB64", enc.encodeToString(cfg.rsaPrivateKey))
    try {
      val tables = spark.sql("SHOW TABLES IN tiered.default").collect().map(_.getString(1)).sorted
      assert(tables.toSeq == Seq("store-a", "store-b"))
      val n = spark.sql("SELECT COUNT(*) FROM tiered.default.`store-a`").head.getLong(0)
      assert(n == 30L)
      assert(spark.sql("SELECT COUNT(*) FROM tiered.default.`store-b`").head.getLong(0) == 0L)
      // plan-time pruning still works through the catalog path
      // keys are sanitized input paths ending in the original file stem
      val one = spark.sql(
        """SELECT COUNT(DISTINCT segment_key) FROM tiered.default.`store-a`
          |WHERE segment_key LIKE '%seg000%'""".stripMargin).head.getLong(0)
      assert(one == 1L)
    } finally {
      spark.conf.unset("spark.sql.catalog.tiered")
      spark.conf.unset("spark.sql.catalog.tiered.root")
      spark.conf.unset("spark.sql.catalog.tiered.rsaPublicKeyB64")
      spark.conf.unset("spark.sql.catalog.tiered.rsaPrivateKeyB64")
    }
  }

  test("tampered ciphertext fails the read loudly (AEAD), not with silent corruption") {
    val (store, cfg, keys) = setup()
    // flip one byte in the middle of the first segment's log object
    val logPath = java.nio.file.Paths.get(store, keys.head + ".log")
    val bytes = Files.readAllBytes(logPath)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x01).toByte
    Files.write(logPath, bytes)
    val ex = intercept[org.apache.spark.SparkException] {
      reader(store, cfg).load().where(col("segment_key") === keys.head).count()
    }
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(ex).exists(c => c.isInstanceOf[javax.crypto.AEADBadTagException]
      || String.valueOf(c.getMessage).toLowerCase.contains("tag mismatch")), ex.toString)
  }

  test("a bad CRC in a segment's last batch fails a full scan with the CRC message") {
    val store = Files.createTempDirectory("dsv2-badcrc").toString
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 512)
    val batches = (0 until 3).map { b =>
      writeBatch(buildBatch(b * 10L, 1700000000000L + b,
        (0 until 10).map(i => (kb(s"k$b-$i"), kb(s"v$b-$i"), Seq.empty[Header]))))
    }
    val seg = batches.reduce(_ ++ _)
    val last = seg.length - batches.last.length
    seg(last + 30) = (seg(last + 30) ^ 0xFF).toByte // inside the last batch's records
    val up = SegmentUploadJob.uploadOne(FileSystemStorage(store), cfg.ring, None, cfg, "badcrc", seg)
    assert(up.success, up.error)
    // count() answers from the payload (the manifest has no stats for
    // invalid wire); collect() pulls every row through the scan reader
    Seq[org.apache.spark.sql.DataFrame => Any](_.count(), _.select("kafka.offset").collect()).foreach { run =>
      val ex = intercept[org.apache.spark.SparkException](run(reader(store, cfg).load()))
      val chain = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(chain.exists(c => String.valueOf(c.getMessage).contains("CRC mismatch")), ex.toString)
    }
    // a query that stops inside the valid first batch never reaches it
    assert(reader(store, cfg).load().select("kafka.offset").limit(1).collect().length == 1)
  }

  test("round trip preserves batch metadata exactly (vs SegmentToRows on the raw file)") {
    val (store, cfg, keys) = setup()
    val viaSource = reader(store, cfg).load()
      .where(col("segment_key") === keys.head)
      .select("kafka.offset", "kafka.timestamp", "kafka.batch_base_offset", "key_raw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), new String(r.getAs[Array[Byte]](3), "UTF-8"))).toSet
    val raw = graft.operators.SegmentFetchJob.fetchRange(cfg, keys.head, graft.core.BytesRange(0L, Long.MaxValue - 1L))
    val viaParse = graft.records.SegmentToRows.fromSegmentBytes(spark, Seq((0, raw)))
      .select("kafka.offset", "kafka.timestamp", "kafka.batch_base_offset", "key_raw")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), new String(r.getAs[Array[Byte]](3), "UTF-8"))).toSet
    assert(viaSource == viaParse)
  }

  // --- the reader writes Catalyst rows directly: parity with the parse ---

  /** Three segments of three batches each (offsets 0..71, contiguous),
    * with every value shape the writer handles: null keys, headers with a
    * null value, empty headers, registry-framed and plain values, distinct
    * batch metadata per batch. Chunked at 512 bytes so each segment's
    * read spans several chunks. */
  private def richSetup(codec: Int = CodecNone)
      : (String, SegmentJobConfig, Vector[String], graft.records.SchemaRegistry) = {
    val registry = graft.records.SchemaRegistry(Files.createTempDirectory("dsv2-reg").toString)
    registry.register(7,
      """{"type":"record","name":"e","fields":[{"name":"s","type":"string"},{"name":"n","type":"long"}]}""")
    val in = Files.createTempDirectory("dsv2-rich-in").toString
    val store = Files.createTempDirectory("dsv2-rich-store").toString
    (0 until 3).foreach { s =>
      val out = new java.io.ByteArrayOutputStream()
      (0 until 3).foreach { b =>
        val base = s * 24L + b * 8L
        val recs = (0 until 8).map { i =>
          val o = base + i
          val key = if (o % 4 == 0) null else kb(s"k$o")
          val value =
            if (o % 2 == 0) registry.encode(7, org.apache.spark.sql.Row(s"s${o % 5}", o))
            else kb(s"plain-$o" * 3)
          val headers = (o % 3).toInt match {
            case 0 => Seq.empty[Header]
            case 1 => Seq(Header("h1", kb(s"a$o")), Header("h2", null))
            case _ => Seq(Header("t", kb("x")))
          }
          (key, value, headers)
        }
        out.write(writeBatch(buildBatch(base, 1700000000000L + base * 10, recs,
          producerId = 40L + b, producerEpoch = b.toShort, baseSequence = b * 8,
          partitionLeaderEpoch = s, compression = codec)))
      }
      Files.write(java.nio.file.Paths.get(in, f"seg$s%03d.log"), out.toByteArray)
    }
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 512)
    assert(SegmentUploadJob.run(spark, in, cfg).collect().forall(_.getAs[Boolean]("success")))
    val keys = FileSystemStorage(store).listKeys("")
      .filter(_.endsWith(".log")).map(_.dropRight(".log".length)).sorted
    (store, cfg, keys, registry)
  }

  /** The same rows through the external-Row parse of each segment's
    * detransformed payload, in the source's full schema. */
  private def parsed(cfg: SegmentJobConfig, keys: Seq[String]) =
    keys.map { k =>
      val raw = graft.operators.SegmentFetchJob.fetchRange(cfg, k,
        graft.core.BytesRange(0L, Long.MaxValue - 1L))
      graft.records.SegmentToRows.fromSegmentBytes(spark, Seq((0, raw)))
        .select(lit(k).as("segment_key") +: graft.records.RowSchema.rawSchema.fieldNames.map(col): _*)
    }.reduce(_ unionByName _)

  /** Rows as comparable values: binary as byte sequences, nested rows and
    * arrays element-wise. */
  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: org.apache.spark.sql.Row => r.toSeq.map(canon)
    case xs: scala.collection.Seq[_] => xs.map(canon)
    case x => x
  }
  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(r => canon(r).toString).toSeq.sorted

  test("reader rows equal SegmentToRows: full schema, nested pruning, null keys and header values") {
    val (store, cfg, keys, _) = richSetup()
    val source = reader(store, cfg).load()
    val want = parsed(cfg, keys)
    assert(source.schema == want.schema)
    assert(rowsOf(want).size == 72)
    def same(q: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame): Unit =
      assert(rowsOf(q(source)) == rowsOf(q(want)))
    same(identity)
    // nested kafka.* selection out of declaration order, top-level columns
    // out of order too; the scan must read the pruned struct
    val nested = (df: org.apache.spark.sql.DataFrame) => df.select(col("value_raw"),
      col("kafka.batch_producer_id"), col("kafka.timestamp"), col("segment_key"),
      col("kafka.offset"), col("kafka.batch_partition_leader_epoch"))
    same(nested)
    val kafkaRead = nested(source).queryExecution.sparkPlan.collectLeaves().head
      .output.find(_.name == "kafka").get.dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSet
    assert(kafkaRead == Set("batch_producer_id", "timestamp", "offset", "batch_partition_leader_epoch"),
      s"kafka struct not pruned: $kafkaRead")
    // header fields alone (nested pruning inside the array element), a null
    // header value and null keys among them
    same(_.select(col("kafka.offset"), col("headers.value").as("hv"), col("key_raw")))
    same(_.select(col("headers.key").as("hk"), col("headers")))
    assert(source.filter(col("key_raw").isNull).count() == 18)
    assert(source.select(explode(col("headers")).as("h")).filter(col("h.value").isNull).count() == 24)
  }

  test("reader rows equal SegmentToRows for every batch codec, and with headers.key alone") {
    Seq(CodecNone, CodecGzip, CodecSnappy, CodecLz4, CodecZstd).foreach { codec =>
      val (store, cfg, keys, _) = richSetup(codec)
      val source = reader(store, cfg).load()
      val want = parsed(cfg, keys)
      assert(rowsOf(source) == rowsOf(want), s"codec $codec")
      val keysOnly = (df: org.apache.spark.sql.DataFrame) =>
        df.select(col("kafka.offset"), col("headers.key").as("hk"))
      assert(rowsOf(keysOnly(source)) == rowsOf(keysOnly(want)), s"codec $codec")
      val element = keysOnly(source).queryExecution.sparkPlan.collectLeaves().head
        .output.find(_.name == "headers").get.dataType
        .asInstanceOf[org.apache.spark.sql.types.ArrayType].elementType
        .asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames.toSeq
      assert(element == Seq("key"), s"headers element not pruned: $element")
    }
  }

  test("reader rows equal SegmentToRows under a pushed OFFSET") {
    val (store, cfg, keys, _) = richSetup()
    val want = parsed(cfg, keys)
    val pfx = keys.head.take(3)
    // 30 = segment 0 (24 rows) dropped at planning + 6 rows of segment 1's
    // first batch skipped by its reader; 45 skips into segment 1's last batch
    Seq(30, 45).foreach { skip =>
      graft.sources.v2.SegmentsScan.lastPlannedPartitions = -1
      val got = reader(store, cfg).option("prefix", pfx).load().offset(skip)
      assert(got.queryExecution.executedPlan.toString.contains(s"offset=$skip"),
        got.queryExecution.executedPlan.toString)
      assert(rowsOf(got) == rowsOf(want.orderBy(col("kafka.offset")).offset(skip)))
      assert(graft.sources.v2.SegmentsScan.lastPlannedPartitions == 2)
    }
  }

  test("TypedDecode over the source: the scan reads only the raw column") {
    val (store, cfg, keys, registry) = richSetup()
    def query(df: org.apache.spark.sql.DataFrame) =
      graft.records.TypedDecode.withDecoded(df, registry, 7)
        .groupBy(col("value.s").as("s")).agg(count(lit(1)).as("c"), sum(col("value.n")).as("n"))
    val got = query(reader(store, cfg).load())
    val leaf = got.queryExecution.sparkPlan.collectLeaves().head
    assert(leaf.output.map(_.name) == Seq("value_raw"), s"scan reads ${leaf.output.map(_.name)}")
    assert(rowsOf(got) == rowsOf(query(parsed(cfg, keys))))
    // 36 plain (odd-offset) values decode to null, never dropped
    assert(got.collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap.apply(None) == 36L)
  }
}

/** One shared in-memory service per cloud, like an SDK's bucket handle —
  * every Provider.create() returns a NEW backend over the SAME service, so
  * driver and executors (and repeated resolutions) see one object store. */
object FakeCloud {
  val s3 = new InMemoryS3
  val gcs = new InMemoryGcs
  val azure = new InMemoryAzure
}

/** Top-level no-arg classes: what a `backend.provider` config value names
  * (Class.forName + newInstance, the reference's storage.backend.class). */
class FakeS3Provider extends StorageBackends.Provider {
  override def scheme: String = "s3"
  override def create(root: String): StorageBackend = new S3Storage(FakeCloud.s3)
}
class FakeGcsProvider extends StorageBackends.Provider {
  override def scheme: String = "gs"
  override def create(root: String): StorageBackend = new GcsStorage(FakeCloud.gcs)
}
class FakeAzureProvider extends StorageBackends.Provider {
  override def scheme: String = "azure"
  override def create(root: String): StorageBackend = new AzureBlobStorage(FakeCloud.azure)
}

/** A local store that counts the storage calls made outside Spark tasks
  * (`TaskContext.get == null`): the driver's planning I/O, per query. */
final class DriverIo(dir: String) extends StorageBackend {
  private val fs = FileSystemStorage(dir)
  private def onDriver = org.apache.spark.TaskContext.get == null
  override def upload(in: java.io.InputStream, key: String): Long = fs.upload(in, key)
  override def fetch(key: String): java.io.InputStream = {
    if (onDriver && key.endsWith(s".${ObjectKey.Suffix.Manifest.value}")) DriverIo.bump(DriverIo.gets, key)
    fs.fetch(key)
  }
  override def fetchRange(key: String, range: graft.core.BytesRange): java.io.InputStream =
    fs.fetchRange(key, range)
  override def delete(key: String): Unit = fs.delete(key)
  override def exists(key: String): Boolean = fs.exists(key)
  override def size(key: String): Long = {
    if (onDriver) DriverIo.bump(DriverIo.sizes, key)
    fs.size(key)
  }
  override def listKeys(prefix: String): Vector[String] = {
    if (onDriver) DriverIo.lists.incrementAndGet()
    fs.listKeys(prefix)
  }
}

object DriverIo {
  val Scheme = "driverio"
  private val lists = new java.util.concurrent.atomic.AtomicInteger
  private val gets = scala.collection.concurrent.TrieMap.empty[String, Int]
  private val sizes = scala.collection.concurrent.TrieMap.empty[String, Int]
  private def bump(m: scala.collection.concurrent.TrieMap[String, Int], key: String): Unit =
    m.synchronized(m.update(key, m.getOrElse(key, 0) + 1))
  def reset(): Unit = { lists.set(0); gets.clear(); sizes.clear() }
  /** (LIST calls, manifest GETs per manifest key, size() calls per key). */
  def snapshot(): (Int, Map[String, Int], Map[String, Int]) =
    (lists.get, gets.toMap, sizes.toMap)
}
