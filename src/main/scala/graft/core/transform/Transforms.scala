package graft.core.transform

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.zip.{Deflater, Inflater}
import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}
import java.security.SecureRandom

import com.github.luben.zstd.{Zstd, ZstdCompressCtx, ZstdException}
import net.jpountz.lz4.{LZ4Exception, LZ4Factory}

/** Write-path / read-path chunk transforms, as idiomatic Scala `Iterator`
  * pipelines (the reference composes Java `Enumeration` decorators —
  * `core/.../transform/..ChunkEnumeration.java`). Each stage is a pure
  * per-chunk map, which is exactly what makes the Spark layer a set of
  * narrow `mapPartitions` stages with no shuffle.
  */
object Transforms {

  /** Split a whole in-memory segment into chunks (Spark-side path, where the
    * payload is already a `BinaryType` column value). */
  def chunkedBytes(bytes: Array[Byte], chunkSize: Int): Iterator[Array[Byte]] = {
    // Fail fast: Array.grouped(n <= 0) silently loops forever emitting empty
    // slices (pos never advances past the end) — a negative chunk size once
    // allocated its way to OutOfMemoryError before surfacing as an error.
    require(chunkSize >= 0, s"chunkSize must be non-negative, $chunkSize given")
    if (chunkSize == 0 || chunkSize >= bytes.length) {
      if (bytes.isEmpty) Iterator.empty else Iterator.single(bytes)
    } else bytes.grouped(chunkSize)
  }

  // --- Compression (T2 / R7) ------------------------------------------------
  // The reference uses zstd-jni (`CompressionChunkEnumeration.java:26-63`);
  // the same zstd-jni ships with Spark's jars, so "zstd" below is WIRE-
  // COMPATIBLE with reference-written chunks: a raw zstd frame, content size
  // embedded in the frame header (no graft prefix), discriminated on read by
  // the zstd magic number. The other codecs keep the graft layout: int32
  // content-size prefix + codec tag byte. "lz4" is the public LZ4 block
  // format through lz4-java (Spark ships it; the record layer's LZ4 frames
  // use the same factory). The write default is zstd (`SegmentJobConfig`);
  // lz4 and deflate stay selectable, and every form stays readable.

  private final val CodecDeflate: Byte = 0
  private final val CodecLz4: Byte = 1

  /** Manifest codec names (`SegmentManifest.compressionCodec`). */
  final val CodecNameLz4 = "lz4"
  final val CodecNameDeflate = "deflate"
  final val CodecNameZstd = "zstd"

  private val compressors: Map[String, Array[Byte] => Array[Byte]] = Map(
    CodecNameLz4 -> compress, CodecNameZstd -> compressZstd, CodecNameDeflate -> (compressDeflate(_)))

  /** The chunk codecs: what [[compressWith]] writes, and what a manifest's
    * `compressionCodec` must name to be read ("deflate" covers the tagged
    * and the legacy layout; "zstd" covers reference-written frames). */
  val Codecs: Set[String] = compressors.keySet

  private val lz4 = LZ4Factory.fastestInstance()

  /** First 4 bytes of every zstd frame (RFC 8878 §3.1.1, little-endian magic
    * 0xFD2FB528). A graft-prefixed chunk starting with these bytes would
    * declare a 0x28B52FFD-byte (651 MiB) content size — far beyond any real
    * chunk; [[compress]]/[[compressDeflate]] still reject that one aliasing
    * size outright so the discrimination is exact, not probabilistic. */
  private final val ZstdMagicAliasSize = 0x28B52FFD
  private[graft] def isZstdFrame(c: Array[Byte]): Boolean =
    c.length >= 4 && c(0) == 0x28.toByte && c(1) == 0xB5.toByte &&
      c(2) == 0x2F.toByte && c(3) == 0xFD.toByte

  /** The content of one zstd frame, decoded in one shot into the size its
    * header declares (the reference's read,
    * `DecompressionChunkEnumeration.java:42-46`) — once that size is
    * checked to lie in [minSize, maxSize], so a corrupt header fails before
    * the allocation. */
  private[graft] def decompressZstd(frame: Array[Byte], minSize: Long, maxSize: Long): Array[Byte] = {
    val declared = Zstd.decompressedSize(frame)
    require(declared >= minSize && declared <= maxSize,
      s"zstd frame declares $declared content bytes, expected [$minSize, $maxSize]")
    try Zstd.decompress(frame, declared.toInt)
    catch { case e: ZstdException => throw new IllegalArgumentException(s"corrupt zstd frame: ${e.getMessage}", e) }
  }

  private def requireUnambiguousSize(n: Int): Unit =
    require(n != ZstdMagicAliasSize,
      s"chunk content size $n aliases the zstd frame magic; " +
        "use the zstd codec (or a different chunk size) for this payload")

  /** Dispatch by manifest codec name (write path). The read path needs no
    * codec argument: [[decompress]] is self-describing via tag byte / zstd
    * magic. */
  def compressWith(chunk: Array[Byte], codec: String): Array[Byte] =
    compressors.getOrElse(codec, throw new IllegalArgumentException(
      s"unknown compression codec '$codec' (expected one of ${Codecs.mkString(", ")})"))(chunk)

  /** Per-thread context reuse — same rationale as [[cipherPool]]: the context
    * allocates window + workspace buffers once; `compress` emits one complete
    * frame per call, so reuse across chunks is safe and keeps small-chunk
    * throughput off the allocator. The reference allocates per chunk
    * (`CompressionChunkEnumeration.java:52`) — output bytes are identical. */
  private val zstdCtxPool: ThreadLocal[ZstdCompressCtx] = ThreadLocal.withInitial { () =>
    val ctx = new ZstdCompressCtx()
    // Embed the content size in the frame header so the read side can
    // allocate exactly (ref `CompressionChunkEnumeration.java:60`).
    ctx.setContentSize(true)
    ctx
  }

  /** Raw zstd frame, byte-compatible with the reference's write path
    * (`CompressionChunkEnumeration.java:50-63`): pledged source size +
    * embedded content size, default compression level. */
  def compressZstd(chunk: Array[Byte]): Array[Byte] = {
    val ctx = zstdCtxPool.get()
    ctx.setPledgedSrcSize(chunk.length.toLong)
    ctx.compress(chunk)
  }

  /** `[int32 content size][tag 1][LZ4 block]`. */
  def compress(chunk: Array[Byte]): Array[Byte] = {
    requireUnambiguousSize(chunk.length)
    val compressor = lz4.fastCompressor()
    val out = new Array[Byte](5 + compressor.maxCompressedLength(chunk.length))
    ByteBuffer.wrap(out).putInt(chunk.length).put(CodecLz4)
    val n = compressor.compress(chunk, 0, chunk.length, out, 5, out.length - 5)
    java.util.Arrays.copyOf(out, 5 + n)
  }

  def compressDeflate(chunk: Array[Byte], level: Int = Deflater.BEST_SPEED): Array[Byte] = {
    requireUnambiguousSize(chunk.length)
    val deflater = new Deflater(level)
    try {
      deflater.setInput(chunk)
      deflater.finish()
      val out = new ByteArrayOutputStream(math.max(chunk.length / 2, 64))
      out.write(ByteBuffer.allocate(5).putInt(chunk.length).put(CodecDeflate).array())
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) {
        val n = deflater.deflate(buf)
        out.write(buf, 0, n)
      }
      out.toByteArray
    } finally deflater.end()
  }

  /** Decompress one chunk whose content is `originalSize` bytes (its index
    * entry). The size the chunk itself declares — its prefix, or the zstd
    * frame header — must equal that before anything is allocated, so a
    * corrupt size fails with an `IllegalArgumentException` instead of a
    * `NegativeArraySizeException` or an `OutOfMemoryError`. */
  def decompress(chunk: Array[Byte], originalSize: Int): Array[Byte] = {
    if (isZstdFrame(chunk)) return decompressZstd(chunk, originalSize, originalSize)
    require(chunk.length >= 5, s"compressed chunk of ${chunk.length} bytes has no size prefix and codec tag")
    val declared = ByteBuffer.wrap(chunk, 0, 4).getInt()
    require(declared == originalSize, s"size prefix declares $declared content bytes, expected $originalSize")
    chunk(4) match {
      case CodecLz4 =>
        val out = new Array[Byte](originalSize)
        val n = try lz4.safeDecompressor().decompress(chunk, 5, chunk.length - 5, out, 0, originalSize)
        catch { case e: LZ4Exception => throw new IllegalArgumentException(s"corrupt LZ4 block: $e", e) }
        require(n == originalSize, s"corrupt LZ4 block: produced $n of $originalSize bytes")
        out
      case CodecDeflate => inflate(chunk, 5, originalSize)
      // Legacy layout (pre-codec-tag builds): 4-byte size prefix, zlib
      // stream starting AT offset 4 — its first byte is the CMF header,
      // whose low nibble is always 8 (deflate), never colliding with tags
      // 0/1. Segments persisted by earlier builds stay readable instead of
      // failing with "unknown codec tag 120". New segments also carry the
      // codec in the manifest (`compression_codec`), making the format
      // self-describing going forward.
      case cmf if (cmf & 0x0F) == 8 => inflate(chunk, 4, originalSize)
      case other => throw new IllegalArgumentException(
        s"unknown codec tag $other (not LZ4=1, Deflate=0, or a legacy zlib header)")
    }
  }

  private def inflate(chunk: Array[Byte], from: Int, contentSize: Int): Array[Byte] = {
    val inflater = new Inflater()
    try {
      inflater.setInput(chunk, from, chunk.length - from)
      val out = new Array[Byte](contentSize)
      var off = 0
      while (off < contentSize && !inflater.finished()) {
        off += inflater.inflate(out, off, contentSize - off)
      }
      require(off == contentSize, s"decompressed $off bytes, expected $contentSize")
      out
    } finally inflater.end()
  }

  // --- Encryption (T3 / R6) -------------------------------------------------
  // AES-256-GCM, fresh IV per chunk, output = IV || ciphertext || tag.
  // Ref `EncryptionChunkEnumeration.java:30-85` (IV prepend :73-75).

  val GcmIvLength = 12
  val GcmTagLengthBits = 128
  val GcmTagLength: Int = GcmTagLengthBits / 8
  private val random = new SecureRandom()

  /** Cipher instances are reused per thread and re-`init`ed per chunk —
    * `Cipher.getInstance` (provider lookup) costs ~ms and dominates at small
    * chunk sizes; re-initialization with a fresh IV is cheap and preserves
    * the reference's fresh-IV-per-chunk semantics
    * (`EncryptionChunkEnumeration.java:66-75` allocates per chunk; SURVEY §7
    * hard point 6 licenses this pooling). Cipher objects are not
    * thread-safe; ThreadLocal keeps them task-private on executors. */
  private val cipherPool: ThreadLocal[Cipher] =
    ThreadLocal.withInitial(() => Cipher.getInstance("AES/GCM/NoPadding"))

  /** Constant per-chunk size overhead of encryption — what makes the
    * encrypted index still [[graft.core.FixedSizeChunkIndex]]-able
    * (ref `EncryptionChunkEnumeration.java:81-84`). */
  def encryptionOverhead: Int = GcmIvLength + GcmTagLength

  /** Per-thread, in-process PRNG for IVs: the shared NativePRNG pays a
    * synchronized syscall per nextBytes, which dominates small-chunk
    * encryption. GCM requires IV *uniqueness* per key; SHA1PRNG seeded once
    * from system entropy provides it without the per-call cost. */
  private val ivRandom: ThreadLocal[SecureRandom] = ThreadLocal.withInitial { () =>
    val r = SecureRandom.getInstance("SHA1PRNG")
    r.setSeed(random.generateSeed(32))
    r
  }

  def encrypt(chunk: Array[Byte], key: Array[Byte], aad: Array[Byte]): Array[Byte] = {
    val iv = new Array[Byte](GcmIvLength)
    ivRandom.get().nextBytes(iv)
    encryptWithIv(chunk, key, aad, iv)
  }

  /** Bytes fed to one `Cipher.update` by [[encryptWithIv]]. */
  private val GcmSliceSize = 8 * 1024

  /** `IV ‖ ciphertext ‖ tag`, written into one array. The plaintext goes to
    * GCM in fixed [[GcmSliceSize]] slices, then `doFinal` takes the tail;
    * the bytes are identical to a one-shot `doFinal` (GCM is a stream
    * mode), so the wire format does not change.
    *
    * Why slices: on JDK 17 the AES-CTR/GHASH intrinsics only run once their
    * Java callers (`GCTR.update`, `GHASH.update`, `GCTRGHASH.update`) are
    * C2-compiled, which takes thousands of calls. 4 MiB one-shot calls
    * never get there and stay on the Java fallbacks. Measured on fresh
    * JVMs, 40 calls of 4 MiB each (4-core Xeon with AES-NI and CLMUL,
    * JDK 17.0.20): one-shot `doFinal` ran at 31–55 MB/s throughout, while
    * 8 KiB slices ran at 1.4–2.2 GB/s from about the 13th call on. The
    * one-shot [[decrypt]] shares those compiled callers; in traced
    * `tier_cycle` runs detransform rose from 60–71 to 350–444 MB/s. A
    * one-time warm-up is no substitute: the fast path fell back to
    * 56–73 MB/s for later large buffers. */
  private[graft] def encryptWithIv(
      chunk: Array[Byte], key: Array[Byte], aad: Array[Byte], iv: Array[Byte]): Array[Byte] = {
    val cipher = cipherPool.get()
    cipher.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new GCMParameterSpec(GcmTagLengthBits, iv))
    if (aad.nonEmpty) cipher.updateAAD(aad)
    val out = new Array[Byte](iv.length + chunk.length + GcmTagLength)
    System.arraycopy(iv, 0, out, 0, iv.length)
    var written = iv.length
    var pos = 0
    while (chunk.length - pos > GcmSliceSize) {
      written += cipher.update(chunk, pos, GcmSliceSize, out, written)
      pos += GcmSliceSize
    }
    written += cipher.doFinal(chunk, pos, chunk.length - pos, out, written)
    require(written == out.length, s"GCM wrote $written bytes, expected ${out.length}")
    out
  }

  /** One `doFinal`, so JCE verifies the tag before it releases any
    * plaintext. */
  def decrypt(chunk: Array[Byte], key: Array[Byte], aad: Array[Byte]): Array[Byte] = {
    val cipher = cipherPool.get()
    cipher.init(Cipher.DECRYPT_MODE, new SecretKeySpec(key, "AES"),
      new GCMParameterSpec(GcmTagLengthBits, chunk, 0, GcmIvLength))
    if (aad.nonEmpty) cipher.updateAAD(aad)
    cipher.doFinal(chunk, GcmIvLength, chunk.length - GcmIvLength)
  }
}
