package graft.bench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments; see perfbench/README.md. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      tmp: String, traceOut: String, cores: Int, nproc: Int)

/** One timed op: its wall time, whether its output checked out, and the
  * wall time of each named phase inside it. */
final case class OpResult(ms: Double, ok: Boolean, phases: Map[String, Double] = Map.empty)

/** A metric as printed: name, value, unit and the number of samples. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

/** A workload: repeated set-up rounds, then closed-loop ops from one
  * client thread. */
trait Workload {
  def setupRound(round: Int): Unit
  /** The op's inputs are the set-up's; `traced` routes storage through the
    * metering backend. Correctness is checked outside the timed region. */
  def op(i: Int, traced: Boolean): OpResult
  /** Untimed ops before the timed window: enough for the JIT to settle. */
  def warmOps: Int
  /** Fewest timed ops a run measures, whatever `--seconds` says. */
  def minOps: Int
  /** The workload's own figures (upload_mbps, scan_mbps, mix_s, ...). */
  def named(ops: Seq[OpResult]): Seq[Metric]
  /** Per-layer metrics of the traced window; every name of
    * [[Layers.names]] that the workload does not touch reads 0. */
  def layers(ops: Seq[OpResult], firstOp: Int, spans: Seq[Tracer.Span]): Map[String, Double]
}

object Main {
  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
  /** Seconds since the JVM started, for the timeline lines. */
  def sinceStart: Double = (System.currentTimeMillis() - jvmStart) / 1000.0
  def mark(what: String): Unit = println(f"# at ${sinceStart}%7.1fs $what")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    println(s"# graft perfbench workload=${a.workload} seed=${a.seed} seconds=${a.seconds} " +
      s"trace=${if (a.trace) 1 else 0} spark=local[${a.cores}] nproc=${a.nproc}")
    var spark: SparkSession = null
    def session(): SparkSession = { spark = Session.create(a); spark }
    MeteringStorage.register()
    mark("start")
    val w: Workload = a.workload match {
      case "tier_cycle"     => new TierCycle(a, session())
      case "curation_mix"   => new CurationMix(a, session())
      case other            => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    mark("workload ready")
    val result =
      try Harness.run(w, a)
      finally {
        if (spark != null) spark.stop()
        mark("stopped")
      }
    sys.exit(report(a, result))
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("tmp"), need("trace-out"), need("cores").toInt, need("nproc").toInt)
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Prints every metric with unit and sample count, then the one-line
    * JSON result. Returns the exit code: non-zero when any op failed. */
  private def report(a: Args, r: Harness.Result): Int = {
    def line(kind: String, m: Metric): Unit =
      println(f"# $kind%-9s ${m.name}%-34s ${fmt(m.value)}%s ${m.unit} (n=${m.n})")
    r.endToEnd.foreach(line("e2e", _))
    r.named.foreach(line("workload", _))
    r.layers.foreach(line("layer", _))
    println(s"# ops attempted=${r.attempted} failed=${r.failed}")
    val shown = if (a.trace) r.layers else r.endToEnd
    val metrics = shown.map(m => s""""${m.name}": {"value": ${fmt(m.value)}, "unit": "${m.unit}"}""")
    println(s"""{"correct": ${r.failed == 0}, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
    if (r.failed == 0) 0 else 1
  }
}

object Harness {
  final case class Result(endToEnd: Seq[Metric], named: Seq[Metric], layers: Seq[Metric],
                          attempted: Int, failed: Int)

  private final case class Window(ops: Seq[OpResult], cpuMs: Double, gcMs: Double, gcCount: Double,
                                  firstOp: Int)

  private val SetupRounds = 3

  private def cpuNs: Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def gc: (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionTime).sum, bs.map(_.getCollectionCount).sum)
  }
  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb: Double =
    Host.lines("/proc/self/status")
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def run(w: Workload, a: Args): Result = {
    var attempted = 0
    var failed = 0
    var next = 0
    def doOp(traced: Boolean): OpResult = {
      val i = next; next += 1
      Tracer.op = i
      val r =
        try w.op(i, traced)
        catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $i failed: $e")
            e.printStackTrace()
            OpResult(Double.NaN, ok = false)
        }
      attempted += 1
      if (!r.ok) failed += 1
      r
    }

    val setupS = (0 until SetupRounds).map { r =>
      val t0 = System.nanoTime(); w.setupRound(r); (System.nanoTime() - t0) / 1e9
    }
    Main.mark("set-up done")

    val warm = (1 to w.warmOps).map(_ => doOp(traced = false).ms)
    println(s"# warm-up op_ms=[${warm.map(m => f"$m%.0f").mkString(" ")}]")
    Main.mark("warm-up done")

    // the traced window is half as long: its figures carry no bound
    def window(traced: Boolean): Window = {
      val minOps = if (traced) (w.minOps + 1) / 2 else w.minOps
      val nanos = (if (traced) 500000000L else 1000000000L) * a.seconds
      val first = next
      val steal0 = Host.steal
      val (gc0, gcN0) = gc
      val cpu0 = cpuNs
      val t0 = System.nanoTime()
      val ops = ArrayBuffer.empty[OpResult]
      while (ops.size < minOps || System.nanoTime() - t0 < nanos)
        ops += doOp(traced)
      val cpuMs = (cpuNs - cpu0) / 1e6
      val (gc1, gcN1) = gc
      println(f"# host steal_pct=${Host.stealPct(steal0, Host.steal)}%.1f over the ${if (traced) "traced" else "timed"} window")
      Window(ops.toSeq, cpuMs, (gc1 - gc0).toDouble, (gcN1 - gcN0).toDouble, first)
    }

    val plain = window(traced = false)
    Main.mark("timed window done")
    val ok = plain.ops.filter(_.ok)
    val n = plain.ops.size
    val endToEnd = Seq(
      Metric("setup_s", Stats.median(setupS), "s", setupS.size),
      Metric("cpu_ms_per_op", plain.cpuMs / n, "ms", n),
      Metric("peak_rss_mb", peakRssMb, "MB", 1))
    // wall time per op is printed but is not end-to-end: host steal bursts
    // moved the mix's median by up to 29 % between runs of one commit
    val named = Metric("op_ms", Stats.median(ok.map(_.ms)), "ms", ok.size) +: w.named(ok)

    val layers =
      if (!a.trace) Seq.empty
      else {
        Tracer.on = true
        val traced = try window(traced = true) finally Tracer.on = false
        val spans = Tracer.all
        Tracer.write(java.nio.file.Paths.get(a.traceOut, s"spans-${a.workload}-seed${a.seed}.jsonl"))
        val tOk = traced.ops.filter(_.ok)
        val untracedMs = Stats.median(ok.map(_.ms))
        val fromNamed = named.map(m => m.name -> m.value).toMap
        val values = w.layers(tOk, traced.firstOp, spans) ++ fromNamed ++ Map(
          "jvm.gc_ms" -> traced.gcMs / traced.ops.size,
          "jvm.gc_count" -> traced.gcCount / traced.ops.size,
          "trace.overhead_ms" -> (Stats.median(tOk.map(_.ms)) - untracedMs),
          "trace.overhead_pct" -> 100.0 * (Stats.median(tOk.map(_.ms)) - untracedMs) / untracedMs)
        Layers.names.map { case (name, unit) =>
          Metric(name, values.getOrElse(name, 0.0), unit, if (values.contains(name)) tOk.size else 0)
        }
      }
    Result(endToEnd, named, layers, attempted, failed)
  }
}

/** Host CPU steal (time this VM's runnable CPUs waited for the hypervisor),
  * from the aggregate line of /proc/stat: (steal ticks, all ticks). */
object Host {
  def lines(path: String): Seq[String] =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala.toSeq
    catch { case _: java.io.IOException => Seq.empty }
  def steal: (Long, Long) =
    lines("/proc/stat").headOption.map(_.split("\\s+").drop(1).map(_.toLong)).fold((0L, 0L)) { v =>
      (if (v.length > 7) v(7) else 0L, v.sum)
    }
  def stealPct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0
}

/** The per-layer vocabulary, in print order, with units. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "storage.put_count" -> "count", "storage.put_mb" -> "MB", "storage.put_ms" -> "ms",
    "storage.get_count" -> "count", "storage.get_mb" -> "MB", "storage.get_ms" -> "ms",
    "storage.read_amplification" -> "ratio", "storage.manifest_gets" -> "count",
    "storage.list_count" -> "count", "storage.list_ms" -> "ms",
    "transform.encode_mbps" -> "MB/s", "transform.decode_mbps" -> "MB/s",
    "transform.compress_ratio" -> "ratio",
    "security.wrap_ms" -> "ms", "security.unwrap_ms" -> "ms",
    "records.wire_parse_mbps" -> "MB/s", "records.avro_decode_krps" -> "krec/s",
    "upload.task_ms" -> "ms", "upload.self_ms" -> "ms",
    "v2.segments_total" -> "count", "v2.segments_planned" -> "count",
    "v2.scan_task_ms" -> "ms", "v2.scan_self_ms" -> "ms") ++
    CurationMix.Queries.flatMap(q => Seq(
      s"queries.$q.ms" -> "ms", s"spark.$q.cpu_ms" -> "ms", s"spark.$q.shuffle_mb" -> "MB",
      s"spark.$q.spill_mb" -> "MB", s"spark.$q.task_skew" -> "ratio", s"spark.$q.stages" -> "count")) ++
    Seq(
      "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count",
      "upload_mbps" -> "MB/s", "stored_per_user_byte" -> "ratio", "scan_mbps" -> "MB/s",
      "range_scan_ms" -> "ms", "mix_s" -> "s", "trace.overhead_ms" -> "ms", "trace.overhead_pct" -> "%")
}

object Session {
  def create(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.tmp}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.tmp}/warehouse")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
