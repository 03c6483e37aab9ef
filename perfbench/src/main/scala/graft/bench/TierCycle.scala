package graft.bench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.operators.{SegmentJobConfig, SegmentUploadJob}
import graft.records.{SchemaRegistry, TypedDecode}

/** `tier_cycle`: one op uploads the pre-generated segment batch into a
  * fresh store root with zstd + AES (`SegmentUploadJob.uploadDF`), then
  * scans the whole store through the DSv2 source with `TypedDecode` and a
  * `group by value.event_type` (count, sum), then runs a time-range scan
  * that manifest stats prune to one segment. A fresh root per op keeps it
  * cold: every manifest misses the serving cache and pays an RSA unwrap. */
final class TierCycle(a: Args, spark: SparkSession) extends Workload {
  import TierCycle._

  private var store: EventGen.Store = _
  private var segments: DataFrame = _
  private var registry: SchemaRegistry = _
  private var base: SegmentJobConfig = _
  private val rng = new SplittableRandom(a.seed * 31 + 7)
  private val ledger: Option[Ledger] =
    if (a.trace) { val l = new Ledger; spark.sparkContext.addSparkListener(l); Some(l) } else None

  override def setupRound(round: Int): Unit = {
    base = SegmentJobConfig.withGeneratedKeys("")
    registry = SchemaRegistry(s"${a.tmp}/registry-$round")
    registry.register(EventGen.SchemaId, EventGen.SchemaJson)
    store = EventGen.generate(a.seed, Spec, registry)
    import spark.implicits._
    // checkpointed, so upload tasks read cached blocks instead of carrying
    // their segments inside the serialized task
    segments = spark.sparkContext
      .parallelize(store.segments.map(s => (s.key, s.bytes)), store.segments.size)
      .toDF("key", "payload").localCheckpoint(eager = true)
  }

  override val warmOps: Int = 3
  override val minOps: Int = 6

  private def dirOf(i: Int): Path = Paths.get(a.tmp, "tier", s"op$i")

  private def reader(root: String): DataFrame = {
    val enc = java.util.Base64.getEncoder
    spark.read.format("graft-segments")
      .option("root", root)
      .option("rsaPublicKeyB64", enc.encodeToString(base.rsaPublicKey))
      .option("rsaPrivateKeyB64", enc.encodeToString(base.rsaPrivateKey))
      .load()
  }

  private def timed[T](i: Int, phase: String)(body: => T): (T, Double) = {
    spark.sparkContext.setJobGroup(group(i, phase), phase)
    val t0 = System.nanoTime()
    val r = Tracer.span(s"phase.$phase")(body)
    (r, (System.nanoTime() - t0) / 1e6)
  }

  override def op(i: Int, traced: Boolean): OpResult = {
    val dir = dirOf(i)
    val root = MeteringStorage.root(dir.toString, traced)
    val cfg = base.copy(storageRoot = root)
    // a range inside one segment, away from its ends, so stats keep exactly it
    val seg = store.segments(rng.nextInt(store.segments.size))
    val lo = seg.firstTs + (seg.lastTs - seg.firstTs) / 4 + rng.nextInt(1000)
    val hi = lo + (seg.lastTs - seg.firstTs) / 4
    val (uploaded, uploadMs) = timed(i, "upload") {
      SegmentUploadJob.uploadDF(spark, segments, cfg).select("segment_key", "success").collect()
    }
    val (agg, scanMs) = timed(i, "scan") {
      TypedDecode.withDecoded(reader(root), registry, EventGen.SchemaId)
        .groupBy(col("value.event_type").as("t"))
        .agg(count(lit(1)).as("n"), sum(col("value.value").cast(DecimalType(18, 2))).as("v"))
        .collect()
    }
    val plannedFull = graft.sources.v2.SegmentsScan.lastPlannedPartitions.toDouble
    val (inRange, rangeMs) = timed(i, "range") {
      reader(root).filter(col("kafka.timestamp") >= lo && col("kafka.timestamp") <= hi).count()
    }
    val ms = uploadMs + scanMs + rangeMs
    spark.sparkContext.clearJobGroup()
    val plannedRange = graft.sources.v2.SegmentsScan.lastPlannedPartitions.toDouble

    val storedBytes = treeBytes(dir)
    deleteTree(dir)
    val uploadOk = uploaded.length == store.segments.size && uploaded.forall(_.getBoolean(1))
    val got = agg.map(r => r.getString(0) -> (r.getLong(1), r.getDecimal(2).unscaledValue.longValueExact)).toMap
    val want = EventGen.EventTypes.map(t => t -> (store.typeCount(t), store.typeCents(t))).toMap
      .filter(_._2._1 > 0)
    val rangeOk = inRange == store.countIn(lo, hi)
    if (!uploadOk || got != want || !rangeOk)
      System.err.println(s"[perfbench] tier_cycle op $i check failed: upload=$uploadOk " +
        s"aggregate=${got == want} range=$inRange/${store.countIn(lo, hi)}")
    OpResult(ms, uploadOk && got == want && rangeOk,
      Map("upload" -> uploadMs, "scan" -> scanMs, "range" -> rangeMs, "stored_bytes" -> storedBytes,
        "served_bytes" -> (store.bytes + seg.bytes.length).toDouble, "planned_full" -> plannedFull,
        "planned_range" -> plannedRange))
  }

  override def named(ops: Seq[OpResult]): Seq[Metric] = {
    val mb = store.bytes / Stats.MB
    def med(k: String) = Stats.median(ops.map(_.phases(k)))
    Seq(
      Metric("upload_mbps", mb / (med("upload") / 1000), "MB/s", ops.size),
      Metric("stored_per_user_byte", med("stored_bytes") / store.bytes, "ratio", ops.size),
      Metric("scan_mbps", mb / (med("scan") / 1000), "MB/s", ops.size),
      Metric("range_scan_ms", med("range"), "ms", ops.size))
  }

  override def layers(ops: Seq[OpResult], firstOp: Int, spans: Seq[Tracer.Span]): Map[String, Double] = {
    val l = ledger.get
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    val n = ops.size.toDouble
    val opIds = firstOp until firstOp + ops.size
    val st = StorageSums(spans)
    def perOp(phase: String)(f: (Seq[Ledger.Task]) => (Double, Double)): (Double, Double) = {
      val xs = opIds.map(i => f(l.tasksOf(group(i, phase))))
      (xs.map(_._1).sum / n, xs.map(_._2).sum / n)
    }
    val (upTask, upSelf) = perOp("upload")(ts => Ledger.taskAndSelfMs(ts, spans))
    val (scanTask, scanSelf) = perOp("scan")(ts => Ledger.taskAndSelfMs(ts, spans))
    opIds.foreach { i =>
      Seq("upload", "scan", "range").foreach { ph =>
        val parent = spans.find(s => s.op == i && s.name == s"phase.$ph").map(_.id).getOrElse(-1L)
        Ledger.emitTaskSpans(l.tasksOf(group(i, ph)), parent, i, s"task.$ph")
      }
    }
    val served = ops.map(_.phases("served_bytes")).sum
    Map(
      "storage.put_count" -> st.putCount / n, "storage.put_mb" -> st.putMb / n,
      "storage.put_ms" -> st.putMs / n,
      "storage.get_count" -> st.getCount / n, "storage.get_mb" -> st.getBytes / Stats.MB / n,
      "storage.get_ms" -> st.getMs / n, "storage.read_amplification" -> st.getBytes / served,
      "storage.manifest_gets" -> st.manifestGets / n,
      "storage.list_count" -> st.listCount / n, "storage.list_ms" -> st.listMs / n,
      "upload.task_ms" -> upTask, "upload.self_ms" -> upSelf,
      "v2.scan_task_ms" -> scanTask, "v2.scan_self_ms" -> scanSelf,
      "v2.segments_total" -> Stats.median(ops.map(_.phases("planned_full"))),
      "v2.segments_planned" -> Stats.median(ops.map(_.phases("planned_range")))) ++
      Probes.segments(store, registry, base)
  }
}

object TierCycle {
  /** 4 segments of ≥ 5 MiB (two 4 MiB chunks), one in four producer-lz4. */
  val Spec: EventGen.Spec = EventGen.Spec(segments = 4, segmentBytes = 5 << 20, compressedEvery = 4)

  def group(i: Int, phase: String): String = s"op$i:$phase"

  def treeBytes(dir: Path): Double =
    if (!Files.exists(dir)) 0.0
    else {
      val s = Files.walk(dir)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum().toDouble finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p)) finally s.close()
    }
}
