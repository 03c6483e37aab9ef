package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{CompletableFuture, ConcurrentHashMap, Executors, RejectedExecutionException,
  TimeUnit, TimeoutException}
import scala.jdk.CollectionConverters._

/** Cache statistics mirroring the reference's Caffeine stats surface
  * (`CaffeineStatsCounter.java`): hits, misses, evictions, load time. */
final case class CacheStats(hits: Long, misses: Long, evictions: Long, totalLoadNanos: Long)

/** Byte-weighted LRU cache with TTL and single-flight loading — the
  * serving-layer equivalent of the reference's Caffeine chunk cache
  * (`fetch/cache/ChunkCache.java:49-157`: weighted by bytes, retention.ms,
  * async single-flight compute, load timeout).
  *
  * Thread-safe. Spark-side batch plans should use `persist()` instead; this
  * exists for the serving path where sub-second reads bypass Spark jobs.
  */
final class LruByteCache(
    maxWeightBytes: Long,
    ttlMillis: Long = 600000L, // reference default retention.ms (CacheConfig.java:41)
    clock: () => Long = System.currentTimeMillis,
    loadTimeoutMillis: Long = 30000L) {

  private final case class Entry(bytes: Array[Byte], insertedAt: Long)
  private val inflight = new ConcurrentHashMap[String, CompletableFuture[Array[Byte]]]()
  private val map = new java.util.LinkedHashMap[String, Entry](64, 0.75f, true)
  private var weight = 0L
  private var hits = 0L
  private var misses = 0L
  private var evictions = 0L
  private var loadNanos = 0L

  def get(key: String): Option[Array[Byte]] = synchronized {
    val e = map.get(key)
    if (e == null) { misses += 1; None }
    else if (clock() - e.insertedAt > ttlMillis) {
      map.remove(key); weight -= e.bytes.length; evictions += 1; misses += 1; None
    } else { hits += 1; Some(e.bytes) }
  }

  def put(key: String, bytes: Array[Byte]): Unit = synchronized {
    val prev = map.put(key, Entry(bytes, clock()))
    if (prev != null) weight -= prev.bytes.length
    weight += bytes.length
    evictWhileOver()
  }

  private def evictWhileOver(): Unit = {
    val it = map.entrySet().iterator()
    while (weight > maxWeightBytes && it.hasNext) {
      val eldest = it.next()
      weight -= eldest.getValue.bytes.length
      it.remove()
      evictions += 1
    }
  }

  /** Read-through with single-flight: concurrent callers of the same key
    * share one load (`ChunkCache.java:85-110`). */
  def getOrLoad(key: String)(load: => Array[Byte]): Array[Byte] = {
    get(key) match {
      case Some(b) => b
      case None =>
        val mine = new CompletableFuture[Array[Byte]]()
        val winner = inflight.putIfAbsent(key, mine)
        if (winner != null) {
          try winner.get(loadTimeoutMillis, TimeUnit.MILLISECONDS)
          catch { case _: TimeoutException => throw new RuntimeException(s"cache load timeout for $key") }
        } else {
          try {
            val t0 = System.nanoTime()
            val b = load
            synchronized { loadNanos += System.nanoTime() - t0 }
            put(key, b)
            mine.complete(b)
            b
          } catch {
            case e: Throwable => mine.completeExceptionally(e); throw e
          } finally inflight.remove(key)
        }
    }
  }

  def stats: CacheStats = synchronized(CacheStats(hits, misses, evictions, loadNanos))
  def currentWeight: Long = synchronized(weight)
  def size: Int = synchronized(map.size())
  def cachedKeys: Vector[String] = synchronized {
    import scala.jdk.CollectionConverters._
    map.keySet().asScala.toVector
  }
  def invalidateAll(): Unit = synchronized { map.clear(); weight = 0L }
}

/** Disk-backed chunk cache: temp-file write + ATOMIC_MOVE into the cache dir
  * (readers never see partial files), byte-weighted eviction deletes files —
  * `fetch/cache/DiskChunkCache.java:38-147` (:70-84 atomic move). */
final class DiskChunkCache(dir: Path, maxWeightBytes: Long) {
  Files.createDirectories(dir)
  private val index = new java.util.LinkedHashMap[String, Long](64, 0.75f, true)
  private var weight = 0L
  private var evictions = 0L

  private def pathOf(key: String): Path =
    dir.resolve(java.util.Base64.getUrlEncoder.withoutPadding.encodeToString(key.getBytes("UTF-8")))

  def get(key: String): Option[Array[Byte]] = synchronized {
    if (index.containsKey(key)) {
      val p = pathOf(key)
      if (Files.exists(p)) Some(Files.readAllBytes(p))
      else { weight -= index.remove(key); None }
    } else None
  }

  def put(key: String, bytes: Array[Byte]): Unit = synchronized {
    val p = pathOf(key)
    val tmp = Files.createTempFile(dir, ".cache-", ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val prev = index.put(key, bytes.length.toLong)
    if (prev != null) weight -= prev
    weight += bytes.length
    val it = index.entrySet().iterator()
    while (weight > maxWeightBytes && it.hasNext) {
      val eldest = it.next()
      Files.deleteIfExists(pathOf(eldest.getKey))
      weight -= eldest.getValue
      it.remove()
      evictions += 1
    }
  }

  def evictionCount: Long = synchronized(evictions)
  def currentWeight: Long = synchronized(weight)
  def keys: Vector[String] = synchronized(index.keySet().asScala.toVector)
}

/** Read-through chunk fetcher with prefetch: on access to chunk k of a
  * segment, eagerly schedules the chunks covering the next
  * `prefetchMaxBytes` original bytes (`ChunkCache.java:159-180`,
  * `chunksForRange`-based). This class caches detransformed CHUNKS only;
  * the manifest, its validation and the unwrapped data key come from the
  * engine's one bounded manifest cache
  * ([[graft.operators.SegmentFetchJob.readSpec]]), and each chunk load is
  * [[graft.operators.SegmentFetchJob.readChunk]]. */
final class CachingChunkFetcher(
    cfg: graft.operators.SegmentJobConfig,
    cache: LruByteCache,
    prefetchMaxBytes: Long = 0L,
    prefetchThreads: Int = 4) {
  import graft.core._
  import graft.operators.SegmentFetchJob

  private val storage = StorageBackends.forRoot(cfg.storageRoot)
  private val pool = Executors.newFixedThreadPool(prefetchThreads, r => {
    val t = new Thread(r, "graft-prefetch"); t.setDaemon(true); t
  })

  private def manifest(segKey: String): SegmentManifest =
    SegmentFetchJob.readSpec(storage, cfg, segKey)._1

  /** Whole segment assembled chunk-by-chunk through the cache — the DSv2
    * partition reader's entry. Unlike one monolithic ranged GET, each
    * chunk access schedules prefetch of the next `prefetchMaxBytes`, so
    * fetch+detransform of chunk k+1.. overlaps the consumer's work on
    * chunk k (2 pool threads + the caller), and re-scans of a cached
    * segment touch storage zero times. Assembled by the direct path's own
    * loop ([[graft.operators.SegmentFetchJob.readRange]]): one copy per
    * byte into a preallocated array, and the same interruption check
    * between chunks — an interrupted reader gets an empty segment. */
  def segmentBytes(segKey: String): Array[Byte] =
    SegmentFetchJob.readRange(manifest(segKey), BytesRange(0L, Long.MaxValue - 1L))(
      c => getChunk(segKey, c.id))

  /** Detransformed chunk bytes, cached; triggers prefetch of the following
    * byte range. */
  def getChunk(segKey: String, chunkId: Int): Array[Byte] = {
    val bytes = cache.getOrLoad(s"$segKey#$chunkId")(loadChunk(segKey, chunkId))
    if (prefetchMaxBytes > 0) schedulePrefetch(segKey, chunkId)
    bytes
  }

  private def loadChunk(segKey: String, chunkId: Int): Array[Byte] = {
    val (m, spec) = SegmentFetchJob.readSpec(storage, cfg, segKey)
    SegmentFetchJob.readChunk(storage, segKey, m.chunkIndex.chunks(chunkId), spec)
  }

  private def schedulePrefetch(segKey: String, afterChunk: Int): Unit = {
    val m = manifest(segKey)
    val chunks = m.chunkIndex.chunks
    if (afterChunk + 1 >= chunks.size) return
    val start = chunks(afterChunk + 1).originalPosition.toLong
    val range = BytesRange(start, math.min(start + prefetchMaxBytes - 1, m.chunkIndex.originalFileSize - 1L))
    // a shut-down pool (fetcher evicted from its registry while a reader
    // still holds it) rejects the task: no prefetch, the read goes on
    try m.chunkIndex.chunksForRange(range).foreach { c =>
      pool.submit(new Runnable {
        def run(): Unit =
          try cache.getOrLoad(s"$segKey#${c.id}")(loadChunk(segKey, c.id))
          catch { case _: Throwable => () }
      })
    } catch { case _: RejectedExecutionException => () }
  }

  def shutdown(): Unit = pool.shutdown()
}
