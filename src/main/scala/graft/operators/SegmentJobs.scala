package graft.operators

import java.io.{ByteArrayInputStream, InputStream, SequenceInputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.transform._
import graft.core.security._
import graft.sources._

/** Job configuration for the segment tier-out path. All fields must be
  * serializable — the config ships to executors.
  *
  * Encryption carries only what each side needs: executors wrap per-segment
  * data keys with the RSA public key; the private key stays wherever the
  * fetch side runs (here: both, for tests).
  */
final case class SegmentJobConfig(
    storageRoot: String,
    chunkSize: Int = SegmentJobConfig.DefaultChunkSize,
    compression: Boolean = true,
    encryption: Boolean = true,
    keyId: String = "k1",
    rsaPublicKey: Array[Byte] = Array.emptyByteArray,
    rsaPrivateKey: Array[Byte] = Array.emptyByteArray,
    uploadRateBytesPerSec: Option[Long] = None,
    /** Chunk codec for the write path. Default "zstd": raw frames byte-
      * compatible with reference-written segments, and the fastest lane in
      * the bench matrix (≈1.4 GB/s vs ≈0.75 GB/s for the in-repo LZ4 at
      * 1 MiB chunks, with better ratios). "lz4" and "deflate" remain
      * selectable; reads are self-describing regardless. */
    compressionCodec: String = SegmentManifest.CodecZstdName,
    /** Key-wrap algorithm for NEW segments (reads follow each manifest's
      * declared `wrapAlg`): the reference's SHA3-512 by default. */
    wrapAlg: String = SegmentManifest.WrapAlgOaepSha3512
) {
  // Reference-mirrored bounds (r6, `RemoteStorageManagerConfig.java:170-174`
  // chunk ∈ [1, Int.MaxValue/2] — GCM transformed chunks grow, so a chunk
  // above 2³⁰−1 overflows the int arithmetic — and :235-241 upload rate ∈
  // [1 MiB/s, 10⁹ B/s] — below 1 MiB/s starves other components, above 1e9
  // exceeds 1 token/ns refill)
  require(chunkSize >= 1 && chunkSize <= SegmentJobConfig.MaxChunkSize,
    s"chunkSize must be in [1, ${SegmentJobConfig.MaxChunkSize}], got $chunkSize")
  uploadRateBytesPerSec.foreach(r =>
    require(r >= SegmentJobConfig.MinUploadRate && r <= SegmentJobConfig.MaxUploadRate,
      s"uploadRateBytesPerSec must be in [${SegmentJobConfig.MinUploadRate}, " +
        s"${SegmentJobConfig.MaxUploadRate}] (1 MiB/s to 1 GB/s), got $r"))

  def keyPair: java.security.KeyPair = RsaKeyRing.deserialize(rsaPublicKey, rsaPrivateKey)
  def ring: RsaKeyRing = new RsaKeyRing(Map(keyId -> keyPair), keyId, wrapAlg)

  /** SHA-256 (base64) of the key id and key bytes: the key-material part of
    * every read-cache key, so readers holding different keys never share a
    * cached data key or plaintext. */
  lazy val keyDigest: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(keyId.getBytes("UTF-8")); md.update(0.toByte)
    md.update(rsaPublicKey); md.update(rsaPrivateKey)
    java.util.Base64.getEncoder.encodeToString(md.digest())
  }
}

object SegmentJobConfig {
  /** Reference-recommended chunk size (`README.md:58-59`): 4 MiB. */
  val DefaultChunkSize: Int = 4 * 1024 * 1024
  /** `RemoteStorageManagerConfig.java:173`: Integer.MAX_VALUE/2. */
  val MaxChunkSize: Int = Int.MaxValue / 2
  /** `RemoteStorageManagerConfig.java:239-240`: [1 MiB/s, 1 GB/s] — the
    * same band RateLimiter already names for its config surface. */
  val MinUploadRate: Long = RateLimiter.MinConfigRate
  val MaxUploadRate: Long = RateLimiter.MaxConfigRate
  def withGeneratedKeys(storageRoot: String): SegmentJobConfig = {
    val gen = java.security.KeyPairGenerator.getInstance("RSA")
    gen.initialize(2048)
    val kp = gen.generateKeyPair()
    SegmentJobConfig(storageRoot,
      rsaPublicKey = RsaKeyRing.serializePublic(kp.getPublic),
      rsaPrivateKey = RsaKeyRing.serializePrivate(kp.getPrivate))
  }

  /** Config from PEM key-pair files (r6, ref `RsaKeyReader.java` +
    * `config/KeyPairPaths.java`): the operational path — keys provisioned
    * as `-----BEGIN PUBLIC/PRIVATE KEY-----` files, loaded once on the
    * driver and shipped to executors as the serialized DER bytes the
    * config already carries. */
  def withPemKeys(storageRoot: String, keyId: String,
                  paths: graft.core.security.KeyPairPaths): SegmentJobConfig = {
    val kp = RsaKeyRing.readKeyPairPem(paths)
    SegmentJobConfig(storageRoot, keyId = keyId,
      rsaPublicKey = RsaKeyRing.serializePublic(kp.getPublic),
      rsaPrivateKey = RsaKeyRing.serializePrivate(kp.getPrivate))
  }
}

/** Per-segment upload result row. */
final case class UploadResult(
    segment_key: String,
    orig_size: Long,
    transformed_size: Long,
    n_chunks: Int,
    compressed: Boolean,
    encrypted: Boolean,
    success: Boolean,
    error: String,
    /** KIP-482 tagged-field wire form of the broker-facing custom
      * metadata (r6, [[SegmentCustomMetadata]]): remote_size = TOTAL
      * uploaded bytes (log + indexes + manifest, the reference's
      * `SegmentCustomMetadataBuilder.totalSize`), object_key = the
      * segment's main path. Empty on failure. */
    custom_metadata: Array[Byte] = Array.emptyByteArray)

/** SURVEY §3.1 — `copyLogSegmentData` as a Spark job.
  *
  * Scale design: segments are independent units of work, so the whole write
  * path is a single narrow `mapPartitions` stage — zero shuffles at any data
  * size. One task transforms and uploads its segments with per-partition
  * reuse of storage clients; the per-segment atomicity point is the manifest
  * PUT (always last), with compensating deletes of the data object on any
  * failure — mirroring `KafkaRemoteStorageManager.java:211-220`. On a 1000-
  * executor cluster this runs 1000-wide with no coordination; the driver
  * only collects the small result rows.
  */
object SegmentUploadJob {

  /** Tier out every file under `inputDir` (driver-agnostic: any binaryFile-
    * readable tree). Returns one result row per segment. */
  def run(spark: SparkSession, inputDir: String, config: SegmentJobConfig): DataFrame = {
    val files = spark.read.format("binaryFile").load(inputDir)
      .select(col("path"), col("content"))
    uploadDF(spark, files, config)
  }

  /** Tier out (key, payload) rows. */
  def uploadDF(spark: SparkSession, segments: DataFrame, config: SegmentJobConfig): DataFrame = {
    import spark.implicits._
    val cfg = config
    segments.select(col(segments.columns.head).cast("string"), col(segments.columns(1)))
      .as[(String, Array[Byte])]
      .mapPartitions { it =>
        val storage = StorageBackends.forRoot(cfg.storageRoot)
        val ring = if (cfg.encryption) cfg.ring else null
        val limiter = cfg.uploadRateBytesPerSec.map(new RateLimiter(_))
        it.map { case (rawKey, payload) =>
          uploadOne(storage, ring, limiter, cfg, sanitizeKey(rawKey), payload)
        }
      }
      .toDF()
  }

  private def sanitizeKey(rawKey: String): String =
    rawKey.replaceFirst("^file:/+", "").replace('/', '_').replace(':', '_')

  /** Exact record stats from the payload already in hand (r7): one wire
    * parse over bytes the job is about to chunk/compress/encrypt anyway,
    * recorded in the manifest so metadata-only aggregates (count, offset
    * and timestamp bounds) never fetch log bytes
    * ([[graft.sources.v2.GraftSegments]] aggregate pushdown). Offsets and
    * timestamps use the SAME per-record reconstruction as the row schema
    * (base + delta — `RowSchema.kafkaRow`), so pushed and unpushed plans
    * agree bit-for-bit. None when the payload is not parseable Kafka wire
    * (arbitrary bytes are legal payloads for tooling/tests). */
  private[graft] def recordStatsOf(payload: Array[Byte]): Option[RecordStats] =
    try Some(recordStats(payload))
    catch { case scala.util.control.NonFatal(_) => None }

  /** [[recordStatsOf]], throwing the wire parse's error (bad CRC,
    * truncation) when the payload is not valid Kafka wire. */
  private[graft] def recordStats(payload: Array[Byte]): RecordStats = {
    var n = 0L
    var minOff = Long.MaxValue; var maxOff = Long.MinValue
    var minTs = Long.MaxValue; var maxTs = Long.MinValue
    for (b <- graft.records.KafkaWireCodec.batchViews(payload)) {
      val c = b.cursor
      while (c.next()) {
        n += 1
        val off = b.baseOffset + c.offsetDelta
        val ts = b.baseTimestamp + c.timestampDelta
        if (off < minOff) minOff = off; if (off > maxOff) maxOff = off
        if (ts < minTs) minTs = ts; if (ts > maxTs) maxTs = ts
      }
    }
    if (n == 0L) RecordStats(0L, 0L, -1L, 0L, -1L)
    else RecordStats(n, minOff, maxOff, minTs, maxTs)
  }

  def uploadOne(
      storage: StorageBackend,
      ring: RsaKeyRing,
      limiter: Option[RateLimiter],
      cfg: SegmentJobConfig,
      segKey: String,
      payload: Array[Byte],
      indexes: Option[IndexTransform.SegmentIndexData] = None): UploadResult = {
    val logKey = s"$segKey.${ObjectKey.Suffix.Log.value}"
    val indexesKey = s"$segKey.${ObjectKey.Suffix.Indexes.value}"
    val manifestKey = s"$segKey.${ObjectKey.Suffix.Manifest.value}"
    try {
      // T7 compression predicate: skip when the payload is already dense.
      val doCompress = cfg.compression && SegmentCompressionChecker.shouldCompress(payload)
      val (dk, encMeta) =
        if (cfg.encryption) {
          val k = AesEncryptionProvider.createDataKeyAndAAD()
          val (kid, wrapped) = ring.wrapDataKey(k.dataKey)
          (Some(k), Some(EncryptionMetadata(kid, wrapped, k.aad, ring.wrapAlg)))
        } else (None, None)
      val spec = TransformSpec(cfg.chunkSize, doCompress, dk.map(_.dataKey),
        dk.map(_.aad).getOrElse(Array.emptyByteArray), cfg.compressionCodec)
      val seg = TransformPipeline.transform(payload, spec)
      val logSize = seg.index.transformedFileSize
      limiter.foreach(_.acquire(logSize))
      // the chunks go up as one stream: no segment-sized concatenation
      val chunks = seg.chunks.iterator.map(c => new ByteArrayInputStream(c): InputStream)
      storage.upload(new SequenceInputStream(chunks.asJavaEnumeration), logKey)
      // T10: index files — encrypted (same data key) but never compressed.
      val segmentIndexes = indexes.map(ix =>
        IndexTransform.upload(storage, segKey, ix, dk.map(_.dataKey),
          dk.map(_.aad).getOrElse(Array.emptyByteArray)))
      // Manifest last = commit point.
      val manifestBytes = SegmentManifest(seg.index, segmentIndexes, doCompress, encMeta,
        cfg.compressionCodec, recordStatsOf(payload)).toJson.getBytes("UTF-8")
      storage.uploadBytes(manifestBytes, manifestKey)
      // broker-facing custom metadata: total remote size across all three
      // objects + the main path, in the reference's tagged-field wire form
      val indexesExtent = segmentIndexes.map { si =>
        Seq(Some(si.offset), Some(si.timestamp), Some(si.producerSnapshot),
          Some(si.leaderEpoch), si.transaction).flatten
          .map(i => i.position.toLong + i.size).foldLeft(0L)(math.max)
      }.getOrElse(0L)
      val wire = SegmentCustomMetadata.serialize(SegmentCustomMetadata.forUpload(
        logSize + indexesExtent + manifestBytes.length, "", segKey))
      UploadResult(segKey, payload.length.toLong, logSize,
        seg.index.chunkCount, doCompress, cfg.encryption, success = true, error = "",
        custom_metadata = wire)
    } catch {
      case e: Throwable =>
        // Compensating delete: never leave a partial segment behind.
        try { storage.delete(logKey); storage.delete(indexesKey); storage.delete(manifestKey) }
        catch { case _: Throwable => () }
        UploadResult(segKey, payload.length.toLong, -1L, -1, compressed = false,
          encrypted = cfg.encryption, success = false, error = String.valueOf(e.getMessage))
    }
  }
}

/** T7 — conditional-compression predicate
  * (`SegmentCompressionChecker.java:37-53`). Exactly the reference's
  * decision when the payload IS Kafka v2 wire: read the FIRST batch
  * header (magic + CRC validated, one header + one CRC pass — no record
  * parse) and skip re-compression when the producer already compressed
  * (`batch.compressionType() != NONE`). For payloads that are not valid
  * Kafka wire — where the reference's check cannot apply — the
  * content-heuristic fallback: compress a prefix sample and skip when it
  * doesn't pay. */
object SegmentCompressionChecker {
  val SampleSize = 64 * 1024
  val MinRatio = 0.9
  def shouldCompress(payload: Array[Byte]): Boolean = {
    if (payload.isEmpty) return false
    graft.records.KafkaWireCodec.firstBatchCompressionType(payload) match {
      case Some(codec) => codec == graft.records.KafkaWireCodec.CodecNone
      case None =>
        val sample = if (payload.length <= SampleSize) payload else java.util.Arrays.copyOf(payload, SampleSize)
        Transforms.compress(sample).length < sample.length * MinRatio
    }
  }
}

/** SURVEY §3.2 — `fetchLogSegment` both ways:
  *   - [[fetchRange]]: the serving path — manifest + ranged GETs + detransform
  *     directly through the core library, no Spark job (sub-second point
  *     reads must not pay job-scheduling latency; same reuse the reference
  *     does with its transform classes).
  *   - [[chunksAsDataFrame]]: the analytic path — chunk metadata as rows for
  *     distributed re-processing; the range predicate prunes before any
  *     byte is fetched.
  *
  * This object is the engine's one manifest stage: [[resolve]] turns a
  * segment key into its (manifest, read spec), [[readSpec]] caches that,
  * and [[readChunk]] is the one chunk fetch + detransform. Every read path
  * (direct and prefetching DSv2 reads, the chunk DataFrame, scrub) goes
  * through them.
  */
object SegmentFetchJob {

  /** Uncached manifest parse, for readers that need no data key (stats,
    * chunk listing). */
  def loadManifest(storage: StorageBackend, segKey: String): SegmentManifest =
    SegmentManifest.fromJson(new String(
      storage.fetchBytes(s"$segKey.${ObjectKey.Suffix.Manifest.value}"), "UTF-8"))

  /** Codec names this engine can decompress (manifest `compressionCodec`);
    * "deflate" covers both tagged and legacy layouts; "zstd" covers raw
    * frames, including segments written by the reference. */
  private val ReadableCodecs = Set(
    SegmentManifest.CodecLz4Name, SegmentManifest.CodecDeflateName, SegmentManifest.CodecZstdName)

  /** Key-wrap algorithms this engine can unwrap: the reference's SHA3-512
    * parameters (default since r3) plus pre-r3 SHA-256 blobs. */
  private val ReadableWrapAlgs = Set(
    SegmentManifest.WrapAlgOaepSha3512, SegmentManifest.WrapAlgOaepSha256)

  /** Manifest → read spec, uncached: load, validate, RSA-unwrap the data
    * key. ScrubJob calls this directly so an audit sees the store as it is
    * now; serving reads go through the cached [[readSpec]]. */
  def resolve(storage: StorageBackend, cfg: SegmentJobConfig,
              segKey: String): (SegmentManifest, TransformSpec) = {
    val m = loadManifest(storage, segKey)
    // The self-describing fields exist precisely so incompatibility fails
    // HERE with a clear message instead of as a BadPaddingException /
    // unknown-tag error mid-detransform (e.g. a manifest written by the
    // reference: zstd frames, RSA-OAEP-SHA3-512 wrapped keys).
    if (m.compression && !ReadableCodecs.contains(m.compressionCodec))
      throw new IllegalStateException(
        s"incompatible compression codec '${m.compressionCodec}' " +
          s"(this engine reads: ${ReadableCodecs.mkString(", ")})")
    m.encryption.foreach { e =>
      if (!ReadableWrapAlgs.contains(e.wrapAlg))
        throw new IllegalStateException(
          s"incompatible key-wrap algorithm '${e.wrapAlg}' " +
            s"(this engine unwraps: ${ReadableWrapAlgs.mkString(", ")})")
    }
    val key = m.encryption.map(e => cfg.ring.unwrapDataKey(e.keyId, e.wrappedDataKey, e.wrapAlg))
    (m, TransformSpec(m.chunkIndex.originalChunkSize, m.compression, key,
      m.encryption.map(_.aad).getOrElse(Array.emptyByteArray), m.compressionCodec))
  }

  /** Serving-path manifest cache mirroring the reference's
    * `MemorySegmentManifestCache` (C6/R10, default 1000 entries): segments
    * are immutable, so (parsed manifest + RSA-unwrapped data key) are
    * cacheable forever — re-parsing JSON and, worse, an RSA private-key op
    * per point read otherwise dominates small-range latency. Keyed by
    * (root, [[SegmentJobConfig.keyDigest]], segment): the cached spec holds
    * a data key unwrapped with one config's private key, so a reader with
    * other key material must miss and unwrap for itself. */
  private final val ManifestCacheEntries = 1000
  private val manifestCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), (SegmentManifest, TransformSpec)]()

  /** [[resolve]] through the bounded cache. Mutating the map from inside a
    * `computeIfAbsent` mapping function violates the ConcurrentHashMap
    * contract (two threads evicting on different bins can deadlock), so the
    * miss path loads OUTSIDE the map operation and publishes with
    * `putIfAbsent`. Concurrent misses may load the same manifest twice —
    * manifests are immutable, so both loads produce the same value and
    * first-publish wins; a benign trade against the deadlock. */
  def readSpec(storage: StorageBackend, cfg: SegmentJobConfig,
               segKey: String): (SegmentManifest, TransformSpec) = {
    val key = (cfg.storageRoot, cfg.keyDigest, segKey)
    val hit = manifestCache.get(key)
    if (hit != null) return hit
    val loaded = resolve(storage, cfg, segKey)
    if (manifestCache.size() >= ManifestCacheEntries) manifestCache.clear()
    val prev = manifestCache.putIfAbsent(key, loaded)
    if (prev != null) prev else loaded
  }

  /** Fetch chunk `c` of segment `segKey` (one ranged GET) and detransform
    * it, size-checked against the index. */
  def readChunk(storage: StorageBackend, segKey: String, c: Chunk,
                spec: TransformSpec): Array[Byte] = {
    val raw = storage.fetchRangeBytes(s"$segKey.${ObjectKey.Suffix.Log.value}", c.transformedRange)
    TransformPipeline.detransform(Iterator.single(raw), Vector(c), spec).next()
  }

  /** Serving path: fetch original bytes [from, to] of one segment. The range
    * is clamped to the segment size (ref `RemoteStorageManager.java:141-144`). */
  def fetchRange(cfg: SegmentJobConfig, segKey: String, range: BytesRange): Array[Byte] =
    fetchRange(StorageBackends.forRoot(cfg.storageRoot), cfg, segKey, range)

  /** Same, over an already-resolved backend — callers iterating many
    * segments resolve once and thread the handle through, so per-segment
    * work never re-hits the provider registry. */
  def fetchRange(storage: StorageBackend, cfg: SegmentJobConfig,
                 segKey: String, range: BytesRange): Array[Byte] = {
    val (m, spec) = readSpec(storage, cfg, segKey)
    readRange(storage, segKey, m, spec, range)
  }

  /** [[fetchRange]] over an already-resolved (manifest, spec). */
  private[graft] def readRange(storage: StorageBackend, segKey: String, m: SegmentManifest,
                               spec: TransformSpec, range: BytesRange): Array[Byte] = {
    val clamped = BytesRange(range.from, math.min(range.to, m.chunkIndex.originalFileSize - 1L))
    val chunks = m.chunkIndex.chunksForRange(clamped)
    if (chunks.isEmpty) return Array.emptyByteArray
    // Each detransformed chunk's overlap with the clamped range is copied
    // straight into the preallocated result — ONE copy per byte served
    // (r10; the old BAOS + toByteArray + copyOfRange path copied every
    // chunk byte three times, a measurable tax on sub-chunk ranges where
    // decrypt amplification already dominates — see Bench's sub-range
    // adjudication note).
    val out = new Array[Byte](clamped.size.toInt)
    var outPos = 0
    try chunks.foreach { c =>
      // Interruption-as-cancellation (ref KafkaRemoteStorageManager.java:
      // 470-480, 532-546): the broker cancels in-flight fetches by
      // interrupting the serving thread — that is a RESULT (empty stream),
      // not an error. Checked between chunks so a cancelled multi-chunk
      // fetch stops paying for decrypt/decompress it will throw away.
      if (Thread.currentThread().isInterrupted)
        throw new InterruptedException("fetch cancelled")
      val plain = readChunk(storage, segKey, c, spec)
      val origPos = c.originalPosition.toLong
      val from = math.max(origPos, clamped.from)
      val to = math.min(origPos + plain.length - 1, clamped.to)
      if (to >= from) {
        System.arraycopy(plain, (from - origPos).toInt, out, outPos, (to - from + 1).toInt)
        outPos += (to - from + 1).toInt
      }
    }
    catch { case _: InterruptedException => return Array.emptyByteArray }
    out
  }

  /** Analytic path: every stored segment's chunk metadata as a DataFrame
    * (`segment_key, chunk_id, orig_pos, orig_size, trans_pos, trans_size`),
    * ready for range-predicate pruning and distributed fetch. */
  def chunksAsDataFrame(spark: SparkSession, cfg: SegmentJobConfig): DataFrame = {
    import spark.implicits._
    val segKeys = ObjectKey.committedSegments(StorageBackends.forRoot(cfg.storageRoot), "")
    val cfgB = cfg
    spark.createDataset(segKeys)
      .mapPartitions { it =>
        val st = StorageBackends.forRoot(cfgB.storageRoot)
        it.flatMap { segKey =>
          val m = loadManifest(st, segKey)
          m.chunkIndex.chunks.iterator.map(c =>
            (segKey, c.id, c.originalPosition.toLong, c.originalSize.toLong,
              c.transformedPosition.toLong, c.transformedSize.toLong))
        }
      }
      .toDF("segment_key", "chunk_id", "orig_pos", "orig_size", "trans_pos", "trans_size")
  }

  /** Distributed fetch of original bytes for chunks matching a range, as
    * (segment_key, chunk_id, bytes) — the wide-scan counterpart of
    * [[fetchRange]]; ordering is restored by `orderBy(chunk_id)` downstream. */
  def fetchChunksDF(spark: SparkSession, cfg: SegmentJobConfig, range: BytesRange): DataFrame = {
    import spark.implicits._
    val cfgB = cfg
    chunksAsDataFrame(spark, cfg)
      .filter(col("orig_pos") <= range.to && col("orig_pos") + col("orig_size") > range.from)
      .select(col("segment_key"), col("chunk_id"))
      .as[(String, Int)]
      .mapPartitions { it =>
        val st = StorageBackends.forRoot(cfgB.storageRoot)
        it.map { case (segKey, chunkId) =>
          val (m, spec) = readSpec(st, cfgB, segKey)
          (segKey, chunkId, readChunk(st, segKey, m.chunkIndex.chunks(chunkId), spec))
        }
      }
      .toDF("segment_key", "chunk_id", "bytes")
  }
}
