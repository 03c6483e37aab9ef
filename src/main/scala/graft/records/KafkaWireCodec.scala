package graft.records

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.zip.CRC32C

/** Kafka record-batch wire format v2 (magic 2), parse + write, implemented
  * from the public protocol specification. The reference leans on
  * `kafka-clients` for this (`iceberg/BatchEnumeration.java:92-118`,
  * `IcebergRemoteStorageManager.java:196-211`); we hand-roll it so the
  * engine has no broker dependency.
  *
  * Batch interiors support ALL FIVE codec ids of the public protocol —
  * none (0), gzip (1), snappy (2), lz4 (3), zstd (4) — via
  * [[BatchCompression]]; attribute bits are preserved verbatim so
  * regrouped batches re-serialize with their ORIGINAL producer codec
  * (matching `iceberg/BatchEnumeration.java:92-118`), byte-identically
  * for segments this codec wrote.
  */
object KafkaWireCodec {

  final case class Header(key: String, value: Array[Byte])

  final case class Record(
      offsetDelta: Int,
      timestampDelta: Long,
      key: Array[Byte], // null = absent
      value: Array[Byte], // null = absent
      headers: Vector[Header])

  final case class Batch(
      baseOffset: Long,
      partitionLeaderEpoch: Int,
      magic: Byte,
      attributes: Short,
      lastOffsetDelta: Int,
      baseTimestamp: Long,
      maxTimestamp: Long,
      producerId: Long,
      producerEpoch: Short,
      baseSequence: Int,
      records: Vector[Record],
      /** Byte position of this batch within its segment (the
        * `batch_byte_offset` of RowSchema). */
      byteOffset: Int) {
    def compressionType: Int = attributes & 0x07
    def timestampType: Int = (attributes >> 3) & 1
  }

  /** One parsed, CRC-checked batch whose records stay where they are: in
    * its decompressed buffer (for codec none, the segment itself). Read
    * them with a [[cursor]]; [[materialize]] builds the [[Batch]]. */
  final class BatchView private[KafkaWireCodec] (
      val baseOffset: Long,
      val partitionLeaderEpoch: Int,
      val magic: Byte,
      val attributes: Short,
      val lastOffsetDelta: Int,
      val baseTimestamp: Long,
      val maxTimestamp: Long,
      val producerId: Long,
      val producerEpoch: Short,
      val baseSequence: Int,
      val recordCount: Int,
      val byteOffset: Int,
      payload: ByteBuffer) {
    def compressionType: Int = attributes & 0x07
    def timestampType: Int = (attributes >> 3) & 1

    /** A new cursor before this batch's first record. */
    def cursor: RecordCursor = new RecordCursor(payload, recordCount)

    /** This batch with every record copied out of the buffer. */
    def materialize: Batch = {
      val c = cursor
      val records = Vector.newBuilder[Record]
      while (c.next()) records += c.record
      Batch(baseOffset, partitionLeaderEpoch, magic, attributes, lastOffsetDelta, baseTimestamp,
        maxTimestamp, producerId, producerEpoch, baseSequence, records.result(), byteOffset)
    }
  }

  /** A forward cursor over one batch's records, in place in the batch's
    * decompressed buffer. [[next]] walks one whole record (its deltas, key,
    * value and every header) and checks it ends where its length prefix
    * says, but copies nothing: the deltas are fields, and the key, value
    * and headers are read from their positions only when asked for. So a
    * reader pays for the columns it selects. The positions are valid until
    * the next [[next]]. */
  final class RecordCursor private[KafkaWireCodec] (batch: ByteBuffer, count: Int) {
    private val buf = batch.duplicate()
    private var left = count
    private var keyPos = 0
    private var keyLen = -1
    private var valuePos = 0
    private var valueLen = -1
    private var headerPos = 0
    private var headerKeyPos = 0
    private var headerKeyLen = 0
    private var headerValuePos = 0
    private var headerValueLen = -1

    var offsetDelta: Int = 0
    var timestampDelta: Long = 0L
    /** Headers of the current record; walk them with [[nextHeader]]. */
    var headerCount: Int = 0

    /** Moves to the next record; false after the batch's last one. */
    def next(): Boolean = {
      if (left <= 0) return false
      left -= 1
      val length = Varint.readVarint(buf)
      val end = buf.position() + length
      /* attributes (unused in v2) */ buf.get()
      timestampDelta = Varint.readVarlong(buf)
      offsetDelta = Varint.readVarint(buf)
      keyLen = Varint.readVarint(buf)
      keyPos = skipBytes(keyLen)
      valueLen = Varint.readVarint(buf)
      valuePos = skipBytes(valueLen)
      headerCount = Varint.readVarint(buf)
      headerPos = buf.position()
      var h = 0
      while (h < headerCount) {
        val klen = Varint.readVarint(buf)
        require(klen >= 0, s"negative header key length $klen")
        skipBytes(klen)
        skipBytes(Varint.readVarint(buf))
        h += 1
      }
      require(buf.position() == end, s"record length mismatch: at ${buf.position()}, expected $end")
      true
    }

    /** Skips a length-prefixed field (none when `len` < 0) and returns
      * where it starts. */
    private def skipBytes(len: Int): Int = {
      val at = buf.position()
      if (len > 0) {
        require(len <= buf.remaining(), s"field of $len bytes, ${buf.remaining()} left in batch")
        buf.position(at + len)
      }
      at
    }

    private def copy(at: Int, len: Int): Array[Byte] =
      if (len < 0) null
      else java.util.Arrays.copyOfRange(buf.array(), buf.arrayOffset() + at, buf.arrayOffset() + at + len)

    /** A copy of the current record's key; null when absent. */
    def key: Array[Byte] = copy(keyPos, keyLen)

    /** A copy of the current record's value; null when absent. */
    def value: Array[Byte] = copy(valuePos, valueLen)

    /** Moves to the current record's next header (call it [[headerCount]]
      * times at most). */
    def nextHeader(): Unit = {
      val recordPos = buf.position()
      buf.position(headerPos)
      headerKeyLen = Varint.readVarint(buf)
      headerKeyPos = skipBytes(headerKeyLen)
      headerValueLen = Varint.readVarint(buf)
      headerValuePos = skipBytes(headerValueLen)
      headerPos = buf.position()
      buf.position(recordPos)
    }

    /** The current header's UTF-8 key bytes (a copy). */
    def headerKey: Array[Byte] = copy(headerKeyPos, headerKeyLen)

    /** A copy of the current header's value; null when absent. */
    def headerValue: Array[Byte] = copy(headerValuePos, headerValueLen)

    /** The current record, copied out: key, value and decoded headers. */
    def record: Record = {
      val headers = Vector.tabulate(headerCount) { _ =>
        nextHeader()
        Header(new String(headerKey, java.nio.charset.StandardCharsets.UTF_8), headerValue)
      }
      Record(offsetDelta, timestampDelta, key, value, headers)
    }
  }

  val HeaderSize = 61 // baseOffset..recordCount inclusive
  val CodecNone = BatchCompression.None
  val CodecGzip = BatchCompression.Gzip
  val CodecSnappy = BatchCompression.Snappy
  val CodecLz4 = BatchCompression.Lz4
  val CodecZstd = BatchCompression.Zstd

  /** The FIRST batch's compression codec id, validated the way the
    * reference's archival predicate validates it
    * (`SegmentCompressionChecker.java:37-53`: first batch + `ensureValid`,
    * i.e. magic/CRC) — WITHOUT parsing records or the rest of the segment,
    * so a multi-GiB segment costs one header read + one CRC pass of its
    * first batch. None when the payload isn't valid Kafka v2 wire (opaque
    * payloads fall back to the caller's content heuristic). */
  def firstBatchCompressionType(segment: Array[Byte]): Option[Int] = {
    if (segment.length < 12 + HeaderSize - 12) return None
    try {
      val buf = ByteBuffer.wrap(segment)
      buf.getLong() // baseOffset
      val batchLength = buf.getInt()
      if (batchLength < HeaderSize - 12 || 12 + batchLength > segment.length) return None
      buf.getInt() // partitionLeaderEpoch
      if (buf.get() != 2) return None // magic: v2 only
      val crc = buf.getInt()
      val crcStart = buf.position()
      val c = new CRC32C
      c.update(segment, crcStart, 12 + batchLength - crcStart)
      if (crc != c.getValue.toInt) return None
      Some(buf.getShort() & 0x07)
    } catch { case _: Exception => None }
  }

  /** The batches of a segment, parsed one per `next()` (I1's outer loop):
    * a reader holds one batch at a time, never the whole segment's.
    * Records stay in the batch's buffer; read them through
    * [[BatchView.cursor]].
    *
    * Validation is lazy, per batch. A CRC, magic or truncation error in
    * batch k throws when batch k is reached, so a full scan still fails
    * and never returns short data; a consumer that stops before batch k
    * never sees that error. A record's own length check runs when the
    * cursor reaches it. Use [[parseSegment]] to validate every batch and
    * record up front. */
  def batchViews(segment: Array[Byte]): Iterator[BatchView] = new Iterator[BatchView] {
    private var pos = 0
    override def hasNext: Boolean = pos + 12 <= segment.length
    override def next(): BatchView = {
      if (!hasNext) throw new NoSuchElementException("no more batches in segment")
      val buf = ByteBuffer.wrap(segment, pos, segment.length - pos)
      val baseOffset = buf.getLong()
      val batchLength = buf.getInt()
      val total = 12 + batchLength
      require(pos + total <= segment.length, s"truncated batch at $pos")
      val b = parseBatch(segment, pos, baseOffset, batchLength)
      pos += total
      b
    }
  }

  /** [[batchViews]], each batch materialized with all its records. */
  def batches(segment: Array[Byte]): Iterator[Batch] = batchViews(segment).map(_.materialize)

  /** Parse and validate all batches of a segment. */
  def parseSegment(segment: Array[Byte]): Vector[Batch] = batches(segment).toVector

  private def parseBatch(segment: Array[Byte], start: Int, baseOffset: Long, batchLength: Int): BatchView = {
    val buf = ByteBuffer.wrap(segment, start + 12, batchLength)
    val partitionLeaderEpoch = buf.getInt()
    val magic = buf.get()
    require(magic == 2, s"unsupported magic $magic (only v2 batches)")
    val crc = buf.getInt()
    val crcStart = buf.position()
    val computed = {
      val c = new CRC32C
      c.update(segment, crcStart, start + 12 + batchLength - crcStart)
      c.getValue.toInt
    }
    require(crc == computed, f"CRC mismatch: stored 0x$crc%08x computed 0x$computed%08x")
    val attributes = buf.getShort()
    val lastOffsetDelta = buf.getInt()
    val baseTimestamp = buf.getLong()
    val maxTimestamp = buf.getLong()
    val producerId = buf.getLong()
    val producerEpoch = buf.getShort()
    val baseSequence = buf.getInt()
    val recordCount = buf.getInt()
    val records = BatchCompression.decompressed(attributes & 0x07, segment, buf.position(), buf.remaining())
    new BatchView(baseOffset, partitionLeaderEpoch, magic, attributes, lastOffsetDelta, baseTimestamp,
      maxTimestamp, producerId, producerEpoch, baseSequence, recordCount, start, records)
  }

  /** Serialize one batch (I9): lengths and CRC recomputed; all other header
    * fields taken from the batch metadata so a parse→write round trip is
    * byte-identical for codec `none` (gzip re-deflation may differ in
    * stream bytes while decoding identically). */
  def writeBatch(b: Batch): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    b.records.foreach(r => writeRecord(r, body))
    val payload = BatchCompression.compress(b.attributes & 0x07, body.toByteArray)
    // attributes..recordCount (40 bytes) + payload, CRC computed over it
    val afterCrc = ByteBuffer.allocate(40 + payload.length)
    afterCrc.putShort(b.attributes)
    afterCrc.putInt(b.lastOffsetDelta)
    afterCrc.putLong(b.baseTimestamp)
    afterCrc.putLong(b.maxTimestamp)
    afterCrc.putLong(b.producerId)
    afterCrc.putShort(b.producerEpoch)
    afterCrc.putInt(b.baseSequence)
    afterCrc.putInt(b.records.size)
    afterCrc.put(payload)
    val crcBytes = afterCrc.array()
    val crc = new CRC32C
    crc.update(crcBytes)

    val batchLength = 4 + 1 + 4 + crcBytes.length // leaderEpoch + magic + crc + rest
    val out = ByteBuffer.allocate(12 + batchLength)
    out.putLong(b.baseOffset)
    out.putInt(batchLength)
    out.putInt(b.partitionLeaderEpoch)
    out.put(b.magic)
    out.putInt(crc.getValue.toInt)
    out.put(crcBytes)
    out.array()
  }

  private def writeRecord(r: Record, out: ByteArrayOutputStream): Unit = {
    val body = new ByteArrayOutputStream()
    body.write(0) // record attributes
    Varint.writeVarlong(r.timestampDelta, body)
    Varint.writeVarint(r.offsetDelta, body)
    def writeBytes(b: Array[Byte]): Unit =
      if (b == null) Varint.writeVarint(-1, body)
      else { Varint.writeVarint(b.length, body); body.write(b, 0, b.length) }
    writeBytes(r.key)
    writeBytes(r.value)
    Varint.writeVarint(r.headers.size, body)
    r.headers.foreach { h =>
      val kb = h.key.getBytes("UTF-8")
      Varint.writeVarint(kb.length, body)
      body.write(kb, 0, kb.length)
      writeBytes(h.value)
    }
    Varint.writeVarint(body.size(), out)
    body.writeTo(out)
  }

  /** Build a well-formed batch from records (test/fixture construction). */
  def buildBatch(
      baseOffset: Long,
      baseTimestamp: Long,
      records: Seq[(Array[Byte], Array[Byte], Seq[Header])],
      producerId: Long = -1L,
      producerEpoch: Short = -1,
      baseSequence: Int = -1,
      partitionLeaderEpoch: Int = 0,
      compression: Int = CodecNone,
      timestampDeltaPerRecord: Long = 1L): Batch = {
    val recs = records.zipWithIndex.map { case ((k, v, hs), i) =>
      Record(i, i * timestampDeltaPerRecord, k, v, hs.toVector)
    }.toVector
    val maxTs = baseTimestamp + (records.size - 1).max(0) * timestampDeltaPerRecord
    Batch(baseOffset, partitionLeaderEpoch, 2, compression.toShort,
      (records.size - 1).max(0), baseTimestamp, maxTs, producerId, producerEpoch,
      baseSequence, recs, 0)
  }

  def gzip(b: Array[Byte]): Array[Byte] = BatchCompression.compress(CodecGzip, b)

  def gunzip(b: Array[Byte]): Array[Byte] = BatchCompression.decompress(CodecGzip, b)
}
