package graft.bench

import java.io.{ByteArrayInputStream, InputStream}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler._

import graft.core.BytesRange
import graft.sources.{FileSystemStorage, StorageBackend, StorageBackends}

/** In-memory span recorder for the traced run. A span has a name, start and
  * end (ns), a parent span id, the op it belongs to, and — when it ran in a
  * Spark task — the task attempt id. Recording is off (a plain call) unless
  * `on` is set; spans are written out once, at exit. */
object Tracer {
  final case class Span(id: Long, name: String, startNs: Long, endNs: Long, parent: Long,
                        op: Long, task: Long, bytes: Long) {
    def ns: Long = endNs - startNs
  }

  @volatile var on: Boolean = false
  @volatile var op: Long = -1L
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val open = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = -1L
  }

  def all: Vector[Span] = spans.asScala.toVector

  /** Time `body` as a span named `name`. Nested calls on the same thread
    * become children. */
  def span[T](name: String)(body: => T): T = spanBytes(name, (_: T) => 0L)(body)

  /** As [[span]], recording `bytes` of the result as the span's byte count. */
  def spanBytes[T](name: String, bytes: T => Long)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = open.get()
      val task = Option(TaskContext.get()).map(_.taskAttemptId()).getOrElse(-1L)
      open.set(id)
      val t0 = System.nanoTime()
      try {
        val r = body
        spans.add(Span(id, name, t0, System.nanoTime(), parent, op, task, bytes(r)))
        r
      } finally open.set(parent)
    }

  /** Record a span measured elsewhere (task spans from the listener). */
  def add(name: String, startNs: Long, endNs: Long, parent: Long, op: Long, task: Long): Unit =
    spans.add(Span(ids.incrementAndGet(), name, startNs, endNs, parent, op, task, 0L))

  /** Total length of the union of `[start, end)` intervals. */
  def unionNs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""parent":${s.parent},"op":${s.op},"task":${s.task},"bytes":${s.bytes}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Benchmark-owned metering backend: a [[FileSystemStorage]] whose every
  * call is a storage span. Registered under its own scheme, so pointing a
  * store root at `bench-metered://<dir>` routes the engine's own storage
  * resolution (driver and executors) through it. */
final class MeteringStorage(inner: StorageBackend) extends StorageBackend {
  import Tracer.{span, spanBytes}
  private def get(key: String)(body: => Array[Byte]): Array[Byte] =
    spanBytes[Array[Byte]](if (MeteringStorage.isManifest(key)) "storage.get.manifest" else "storage.get",
      _.length.toLong)(body)

  override def upload(in: InputStream, key: String): Long =
    spanBytes[Long]("storage.put", n => n)(inner.upload(in, key))
  override def uploadBytes(bytes: Array[Byte], key: String): Long =
    spanBytes[Long]("storage.put", n => n)(inner.uploadBytes(bytes, key))
  override def fetchBytes(key: String): Array[Byte] = get(key)(inner.fetchBytes(key))
  override def fetchRangeBytes(key: String, range: BytesRange): Array[Byte] =
    get(key)(inner.fetchRangeBytes(key, range))
  override def fetch(key: String): InputStream = new ByteArrayInputStream(fetchBytes(key))
  override def fetchRange(key: String, range: BytesRange): InputStream =
    new ByteArrayInputStream(fetchRangeBytes(key, range))
  override def delete(key: String): Unit = span("storage.delete")(inner.delete(key))
  override def exists(key: String): Boolean = span("storage.meta")(inner.exists(key))
  override def size(key: String): Long = span("storage.meta")(inner.size(key))
  override def listKeys(prefix: String): Vector[String] = span("storage.list")(inner.listKeys(prefix))
}

object MeteringStorage {
  val Scheme = "bench-metered"
  def isManifest(key: String): Boolean = key.endsWith(".rsm-manifest")
  def register(): Unit =
    StorageBackends.register(Scheme, root => new MeteringStorage(
      FileSystemStorage(root.stripPrefix(s"$Scheme://"))))
  /** The store root the engine should see for `dir`. */
  def root(dir: String, traced: Boolean): String = if (traced) s"$Scheme://$dir" else dir
}

/** Folds Spark's `TaskMetrics` per job group (one group per timed phase or
  * query), for the traced run's per-layer numbers. */
final class Ledger extends SparkListener {
  import Ledger.Task
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val stages = new ConcurrentLinkedQueue[(Int, String)]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    stages.add((e.stageInfo.stageId, g))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val g = stageGroup.getOrDefault(e.stageId, "")
      tasks.add(Task(e.taskInfo.taskId, e.stageId, g, e.taskInfo.launchTime, e.taskInfo.finishTime,
        m.executorCpuTime, m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled))
    }
  }

  def tasksOf(group: String): Vector[Task] = tasks.asScala.filter(_.group == group).toVector
  def stageCount(group: String): Int = stages.asScala.count(_._2 == group)
}

object Ledger {
  final case class Task(id: Long, stage: Int, group: String, launchMs: Long, finishMs: Long,
                        cpuNs: Long, shuffleWriteBytes: Long, diskSpillBytes: Long) {
    def wallMs: Long = finishMs - launchMs
  }

  /** Per-task time outside storage: task wall time minus the union of the
    * storage spans that ran inside the task. Returns (task ms, self ms). */
  def taskAndSelfMs(tasks: Seq[Ledger.Task], spans: Seq[Tracer.Span]): (Double, Double) = {
    val byTask = spans.filter(_.name.startsWith("storage.")).groupBy(_.task)
    val total = tasks.map(_.wallMs.toDouble).sum
    val storage = tasks.map(t =>
      byTask.get(t.id).map(ss => Tracer.unionNs(ss.map(s => (s.startNs, s.endNs))) / 1e6).getOrElse(0.0)).sum
    (total, math.max(0.0, total - storage))
  }

  /** max/median task wall time, worst over stages with at least two tasks. */
  def skew(tasks: Seq[Ledger.Task]): Double = {
    val perStage = tasks.groupBy(_.stage).values.filter(_.size >= 2)
    if (perStage.isEmpty) 1.0
    else perStage.map { ts =>
      val d = ts.map(_.wallMs.toDouble).sorted
      d.last / math.max(Stats.median(d), 1.0)
    }.max
  }

  /** Task spans for the span file: parent is the phase span of the group. */
  def emitTaskSpans(tasks: Seq[Ledger.Task], parent: Long, op: Long, name: String): Unit = {
    // task times are wall-clock ms; spans use the JVM's monotonic clock
    val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L
    tasks.foreach(t => Tracer.add(name, t.launchMs * 1000000L + offsetNs,
      t.finishMs * 1000000L + offsetNs, parent, op, t.id))
  }
}

/** Storage-span sums over a set of spans, for the per-layer numbers. */
final case class StorageSums(spans: Seq[Tracer.Span]) {
  private def of(p: Tracer.Span => Boolean) = spans.filter(p)
  private val puts = of(_.name == "storage.put")
  private val gets = of(_.name.startsWith("storage.get"))
  private val lists = of(_.name == "storage.list")
  def putCount: Double = puts.size
  def putMb: Double = puts.map(_.bytes).sum / Stats.MB
  def putMs: Double = puts.map(_.ns).sum / 1e6
  def getCount: Double = gets.size
  def getBytes: Double = gets.map(_.bytes).sum.toDouble
  def getMs: Double = gets.map(_.ns).sum / 1e6
  def manifestGets: Double = gets.count(_.name == "storage.get.manifest")
  def listCount: Double = lists.size
  def listMs: Double = lists.map(_.ns).sum / 1e6
}

object Stats {
  val MB: Double = 1024.0 * 1024.0
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
