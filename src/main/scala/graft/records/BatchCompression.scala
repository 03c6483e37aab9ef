package graft.records

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, IOException, InputStream, OutputStream}
import java.nio.ByteBuffer
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.github.luben.zstd.ZstdInputStream
import net.jpountz.lz4.{LZ4Factory, LZ4FrameInputStream, LZ4FrameOutputStream}
import net.jpountz.lz4.LZ4FrameOutputStream.{BLOCKSIZE, FLG}
import net.jpountz.xxhash.XXHashFactory
import org.xerial.snappy.{SnappyInputStream, SnappyOutputStream}

/** Producer-side record-batch interior compression — all five codec ids of
  * the public Kafka protocol (batch attributes bits 0–2). The reference
  * reads any producer codec through kafka-clients
  * (`iceberg/IcebergRemoteStorageManager.java:196-211`) and rebuilds
  * batches with the ORIGINAL codec on re-serialize
  * (`iceberg/BatchEnumeration.java:92-118`); this module gives
  * [[KafkaWireCodec]] the same reach without a broker dependency:
  *
  *  - gzip: JDK streams (as before);
  *  - snappy: xerial block-stream framing (`SnappyOutputStream`), the
  *    exact library + framing kafka-clients itself uses;
  *  - lz4: the public LZ4 Frame format through lz4-java's frame streams
  *    (the library kafka-clients bundles; Spark ships the same jar). Writes
  *    use kafka-clients' settings — 64 KiB independent blocks, no checksums
  *    beyond the header's, no content size — and reads accept the rest of
  *    the spec surface (any block max size, stored blocks, block/content
  *    checksums, embedded content size); dependent-block frames are
  *    rejected;
  *  - zstd: one plain zstd frame (RFC 8878), shared with the T2 chunk
  *    path's `Transforms.compressZstd` (content size pinned in the header;
  *    reads fall back to streaming for foreign frames without it).
  *
  * Every compressed codec decodes through one bounded stream read, which
  * enforces the decompression-bomb cap and turns a corrupt or truncated
  * payload into an `IllegalArgumentException` naming the codec.
  *
  * All compressors here are deterministic, so parse→write round trips of
  * segments WE wrote are byte-identical for every codec (asserted in
  * KafkaWireCodecSpec; the LZ4 frames match those of earlier builds byte
  * for byte); foreign producers' exact stream bytes may differ while
  * decoding identically — same contract as gzip since round 1.
  */
object BatchCompression {

  val None = 0
  val Gzip = 1
  val Snappy = 2
  val Lz4 = 3
  val Zstd = 4

  private val lz4Decompressor = LZ4Factory.fastestInstance().safeDecompressor()
  private val xxHash32 = XXHashFactory.fastestInstance().hash32()

  def compress(codec: Int, body: Array[Byte]): Array[Byte] = {
    def viaStream(wrap: OutputStream => OutputStream): Array[Byte] = {
      val bos = new ByteArrayOutputStream(body.length / 2 + 64)
      val out = wrap(bos)
      out.write(body); out.close()
      bos.toByteArray
    }
    codec match {
      case None => body
      case Gzip => viaStream(new GZIPOutputStream(_))
      case Snappy => viaStream(new SnappyOutputStream(_))
      case Lz4 => viaStream(new LZ4FrameOutputStream(_, BLOCKSIZE.SIZE_64KB, FLG.Bits.BLOCK_INDEPENDENCE))
      case Zstd => graft.core.transform.Transforms.compressZstd(body)
      case other => throw new IllegalArgumentException(s"unsupported compression codec $other")
    }
  }

  /** Decompression-bomb cap: batch payloads arrive off the object store,
    * so a small malicious frame must not allocate unbounded memory. The
    * 64 MiB floor clears any real producer batch (Kafka batches are
    * MiB-scale) even at zstd's extreme all-zero ratios; beyond that a
    * payload may only expand 4096:1, and never past 1 GiB. */
  private[records] def maxDecompressed(compressedLen: Int): Long =
    math.min(math.max(4096L * compressedLen, 64L << 20), 1L << 30)

  /** Reads `in` to its end into one array, grown by doubling, and fails as
    * soon as more than [[maxDecompressed]] bytes come out. The result is a
    * buffer over the bytes read. */
  private def readBounded(in: InputStream, compressedLen: Int): ByteBuffer = {
    val limit = maxDecompressed(compressedLen)
    var out = new Array[Byte](math.min(compressedLen.toLong * 4 + 64, 1L << 20).toInt)
    var total = 0
    var n = 0
    while (n >= 0) {
      if (total == out.length) {
        require(total <= limit,
          s"decompressed batch exceeds $limit bytes from a $compressedLen-byte payload (decompression bomb?)")
        out = java.util.Arrays.copyOf(out, math.min(out.length * 2L, limit + 1).toInt)
      }
      n = in.read(out, total, out.length - total)
      if (n > 0) total += n
    }
    ByteBuffer.wrap(out, 0, total)
  }

  def decompress(codec: Int, payload: Array[Byte]): Array[Byte] = {
    val b = decompressed(codec, payload, 0, payload.length)
    if (b.position() == 0 && b.limit() == b.array().length) b.array()
    else java.util.Arrays.copyOfRange(b.array(), b.position(), b.limit())
  }

  /** The body of the batch payload `src[off, off + len)`: a buffer whose
    * remaining bytes are the decompressed records. Codec none wraps `src`
    * without a copy; the batch parser reads straight from the buffer. */
  private[records] def decompressed(codec: Int, src: Array[Byte], off: Int, len: Int): ByteBuffer = {
    def stream(name: String, wrap: InputStream => InputStream): ByteBuffer =
      try {
        val in = wrap(new ByteArrayInputStream(src, off, len))
        try readBounded(in, len) finally in.close()
      } catch {
        case e: IOException =>
          throw new IllegalArgumentException(s"corrupt $name batch payload: ${e.getMessage}", e)
      }
    codec match {
      case None => ByteBuffer.wrap(src, off, len)
      case Gzip => stream("gzip", new GZIPInputStream(_))
      case Snappy => stream("snappy", new SnappyInputStream(_))
      // one frame; bytes after its end mark are ignored
      case Lz4 => stream("lz4", new LZ4FrameInputStream(_, lz4Decompressor, xxHash32, true))
      // streaming read: decodes frames with OR without the embedded
      // content size (foreign producers use streaming writers that omit it)
      case Zstd => stream("zstd", new ZstdInputStream(_))
      case other => throw new IllegalArgumentException(s"unsupported compression codec $other")
    }
  }
}
