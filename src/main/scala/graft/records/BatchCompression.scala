package graft.records

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

import com.github.luben.zstd.ZstdInputStream
import net.jpountz.lz4.LZ4Factory
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
  *  - lz4: the public LZ4 Frame format (v1.6.1 spec), hand-rolled below
  *    over lz4-java's block codec — kafka-clients writes frames with
  *    64 KiB independent blocks and no content checksum, which is what
  *    [[Lz4Frame.compress]] emits, while [[Lz4Frame.decompress]] accepts
  *    the full spec surface (any block max size, uncompressed blocks,
  *    block/content checksums, embedded content size);
  *  - zstd: one plain zstd frame (RFC 8878), shared with the T2 chunk
  *    path's `Transforms.compressZstd` (content size pinned in the header;
  *    reads fall back to streaming for foreign frames without it).
  *
  * All compressors here are deterministic, so parse→write round trips of
  * segments WE wrote are byte-identical for every codec (asserted in
  * KafkaWireCodecSpec); foreign producers' exact stream bytes may differ
  * while decoding identically — same contract as gzip since round 1.
  */
object BatchCompression {

  val None = 0
  val Gzip = 1
  val Snappy = 2
  val Lz4 = 3
  val Zstd = 4

  def compress(codec: Int, body: Array[Byte]): Array[Byte] = codec match {
    case None => body
    case Gzip =>
      val bos = new ByteArrayOutputStream()
      val g = new GZIPOutputStream(bos)
      g.write(body); g.close()
      bos.toByteArray
    case Snappy =>
      val bos = new ByteArrayOutputStream()
      val s = new SnappyOutputStream(bos)
      s.write(body); s.close()
      bos.toByteArray
    case Lz4 => Lz4Frame.compress(body)
    case Zstd => graft.core.transform.Transforms.compressZstd(body)
    case other => throw new IllegalArgumentException(s"unsupported compression codec $other")
  }

  /** Decompression-bomb cap: batch payloads arrive off the object store,
    * so a small malicious frame must not allocate unbounded memory. The
    * 64 MiB floor clears any real producer batch (Kafka batches are
    * MiB-scale) even at zstd's extreme all-zero ratios; beyond that a
    * payload may only expand 4096:1, and never past 1 GiB. */
  private[records] def maxDecompressed(compressedLen: Int): Long =
    math.min(math.max(4096L * compressedLen, 64L << 20), 1L << 30)

  private def readBounded(in: InputStream, compressedLen: Int): Array[Byte] = {
    val limit = maxDecompressed(compressedLen)
    val out = new ByteArrayOutputStream(math.min(compressedLen.toLong * 4 + 64, 1L << 20).toInt)
    val buf = new Array[Byte](64 * 1024)
    var total = 0L
    var n = in.read(buf)
    while (n >= 0) {
      total += n
      require(total <= limit,
        s"decompressed batch exceeds $limit bytes from a $compressedLen-byte payload (decompression bomb?)")
      out.write(buf, 0, n)
      n = in.read(buf)
    }
    out.toByteArray
  }

  def decompress(codec: Int, payload: Array[Byte]): Array[Byte] = {
    val b = decompressed(codec, payload, 0, payload.length)
    if (b.position() == 0 && b.limit() == b.array().length) b.array()
    else java.util.Arrays.copyOfRange(b.array(), b.position(), b.limit())
  }

  /** The body of the batch payload `src[off, off + len)`: a buffer whose
    * remaining bytes are the decompressed records. Codec none wraps `src`
    * without a copy, and LZ4 decodes into one array; the batch parser
    * reads straight from the buffer. */
  private[records] def decompressed(codec: Int, src: Array[Byte], off: Int, len: Int): ByteBuffer = {
    def stream(wrap: InputStream => InputStream): ByteBuffer = {
      val in = wrap(new ByteArrayInputStream(src, off, len))
      try ByteBuffer.wrap(readBounded(in, len)) finally in.close()
    }
    codec match {
      case None => ByteBuffer.wrap(src, off, len)
      case Gzip => stream(new GZIPInputStream(_))
      case Snappy => stream(new SnappyInputStream(_))
      case Lz4 => Lz4Frame.decompress(src, off, len, maxDecompressed(len))
      // streaming read: decodes frames with OR without the embedded
      // content size (foreign producers use streaming writers that omit it)
      case Zstd => stream(new ZstdInputStream(_))
      case other => throw new IllegalArgumentException(s"unsupported compression codec $other")
    }
  }
}

/** LZ4 Frame format (public spec v1.6.1): magic `0x184D2204`, FLG/BD
  * descriptor with xxHash32 header checksum, size-prefixed data blocks
  * (high bit = stored uncompressed), `0` end mark, optional checksums.
  * Block interiors are the LZ4 *block* format via lz4-java — the library
  * kafka-clients bundles; Spark ships the same jar.
  */
private[records] object Lz4Frame {

  private val Magic = 0x184D2204
  private val factory = LZ4Factory.fastestInstance()
  private val xx = XXHashFactory.fastestInstance().hash32()
  private val BlockSize = 64 * 1024 // kafka-clients' default (BD id 4)

  // FLG: version=01 (bits 7-6), block-independence (bit 5) — kafka's writer
  // settings; no block checksum, no content size, no content checksum.
  private val WriterFlg = 0x60.toByte
  private val WriterBd = 0x40.toByte // block max size id 4 = 64 KiB

  private def blockMaxSize(id: Int): Int = id match {
    case 4 => 64 * 1024
    case 5 => 256 * 1024
    case 6 => 1024 * 1024
    case 7 => 4 * 1024 * 1024
    case other => throw new IllegalArgumentException(s"invalid LZ4 frame block max size id $other")
  }

  def compress(data: Array[Byte]): Array[Byte] = {
    val comp = factory.fastCompressor()
    val out = new ByteArrayOutputStream(data.length / 2 + 64)
    def putInt(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    putInt(Magic)
    out.write(WriterFlg)
    out.write(WriterBd)
    // header checksum: second byte of xxh32(descriptor, seed 0)
    out.write((xx.hash(Array(WriterFlg, WriterBd), 0, 2, 0) >> 8) & 0xFF)
    val buf = new Array[Byte](comp.maxCompressedLength(BlockSize))
    var pos = 0
    while (pos < data.length) {
      val len = math.min(BlockSize, data.length - pos)
      val packed = comp.compress(data, pos, len, buf, 0, buf.length)
      if (packed >= len) { // incompressible: store raw, high bit set
        putInt(len | 0x80000000)
        out.write(data, pos, len)
      } else {
        putInt(packed)
        out.write(buf, 0, packed)
      }
      pos += len
    }
    putInt(0) // end mark
    out.toByteArray
  }

  /** Decode the frame `src[off, off + len)` into one array, each block
    * straight into place; the result is a buffer over its first
    * content-length bytes. `cap` is the decompression-bomb cap, checked
    * against the declared content size up front and after every block. */
  def decompress(src: Array[Byte], off: Int, len: Int, cap: Long): ByteBuffer = {
    val buf = ByteBuffer.wrap(src, off, len).order(ByteOrder.LITTLE_ENDIAN)
    require(buf.remaining() >= 7, "LZ4 frame too short")
    require(buf.getInt() == Magic, "not an LZ4 frame (bad magic)")
    val descStart = buf.position()
    val flg = buf.get() & 0xFF
    require((flg >>> 6) == 1, s"unsupported LZ4 frame version ${flg >>> 6}")
    val blockIndep = (flg & 0x20) != 0
    val blockChecksum = (flg & 0x10) != 0
    val hasContentSize = (flg & 0x08) != 0
    val contentChecksum = (flg & 0x04) != 0
    val hasDictId = (flg & 0x01) != 0
    require(blockIndep, "LZ4 frames with dependent blocks are not supported")
    require(!hasDictId, "LZ4 frames with dictionary ids are not supported")
    val maxBlock = blockMaxSize((buf.get() & 0xFF) >>> 4)
    val contentSize = if (hasContentSize) buf.getLong() else -1L
    val descLen = buf.position() - descStart
    val hc = buf.get() & 0xFF
    val computedHc = (xx.hash(src, descStart, descLen, 0) >> 8) & 0xFF
    require(hc == computedHc, f"LZ4 frame header checksum mismatch: stored 0x$hc%02x computed 0x$computedHc%02x")

    val decomp = factory.safeDecompressor()
    require(contentSize < 0 || contentSize <= cap,
      s"LZ4 frame declares $contentSize bytes from a $len-byte payload (decompression bomb?)")
    // every block decodes into at least maxBlock bytes of room
    var out = new Array[Byte]((math.max(contentSize, 0L) + maxBlock).toInt)
    var produced = 0
    var endSeen = false
    while (!endSeen) {
      require(buf.remaining() >= 4, "truncated LZ4 frame (missing end mark)")
      val sizeWord = buf.getInt()
      if (sizeWord == 0) endSeen = true
      else {
        val stored = (sizeWord & 0x80000000) != 0
        val blockLen = sizeWord & 0x7FFFFFFF
        require(blockLen <= maxBlock, s"LZ4 block size $blockLen exceeds frame max $maxBlock")
        require(buf.remaining() >= blockLen, "truncated LZ4 block")
        val at = buf.position()
        buf.position(at + blockLen)
        if (blockChecksum) {
          val bc = buf.getInt()
          val computed = xx.hash(src, at, blockLen, 0)
          require(bc == computed, "LZ4 block checksum mismatch")
        }
        if (out.length - produced < maxBlock)
          out = java.util.Arrays.copyOf(out,
            math.min(math.max(out.length.toLong * 2, produced.toLong + maxBlock), cap + maxBlock).toInt)
        val n =
          if (stored) { System.arraycopy(src, at, out, produced, blockLen); blockLen }
          else decomp.decompress(src, at, blockLen, out, produced, maxBlock)
        produced += n
        // running bomb cap: the declared content size is only verified
        // after a full decode, so enforce the bound block by block as well
        require(produced <= cap,
          s"decompressed LZ4 frame exceeds $cap bytes from a $len-byte payload (decompression bomb?)")
      }
    }
    if (contentChecksum) {
      require(buf.remaining() >= 4, "truncated LZ4 frame (missing content checksum)")
      val cc = buf.getInt()
      val computed = xx.hash(out, 0, produced, 0)
      require(cc == computed, "LZ4 frame content checksum mismatch")
    }
    require(contentSize < 0 || contentSize == produced.toLong,
      s"LZ4 frame content size mismatch: declared $contentSize got $produced")
    ByteBuffer.wrap(out, 0, produced)
  }
}
