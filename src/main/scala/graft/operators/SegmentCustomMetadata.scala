package graft.operators

import scala.collection.immutable.TreeMap

import graft.records.Varint

/** Kafka-protocol tagged-field wire serde for the per-segment custom
  * metadata the broker stores next to each remote segment (r6, VERDICT r5
  * task 5) — the compact binary form of the `(remote_size, object_prefix,
  * object_key)` struct, byte-compatible with the reference's
  * `metadata/SegmentCustomMetadataSerde.java` (which delegates to Kafka's
  * `Struct`/`TaggedFields` machinery; here the KIP-482 encoding is
  * implemented directly, JDK-only).
  *
  * Wire layout (KIP-482 tagged fields):
  * {{{
  *   num_tagged_fields : unsigned varint
  *   repeat, ascending tag order:
  *     tag   : unsigned varint
  *     size  : unsigned varint (byte length of the encoded value)
  *     value : per-field type
  * }}}
  * Field tags and types are FIXED FOREVER (compatibility contract, ref
  * `SegmentCustomMetadataField.java:30-38`):
  *   - 0 `remote_size`   VARLONG (zig-zag varint64) — total bytes uploaded
  *     for the segment across log + indexes + manifest
  *     (`SegmentCustomMetadataBuilder.java:53-55`);
  *   - 1 `object_prefix` COMPACT_STRING (uvarint length+1, UTF-8 bytes);
  *   - 2 `object_key`    COMPACT_STRING — the segment's main path.
  *
  * An empty field map serializes to ZERO bytes (not a zero count) —
  * `SegmentCustomMetadataSerde.java:36-38`.
  *
  * Deserialization is strict: trailing garbage, truncation, out-of-order
  * or unknown tags all throw `IllegalArgumentException` (the reference
  * raises Kafka's `SchemaException` for the same states) — a corrupt
  * metadata blob must fail loudly, not decode to wrong sizes.
  */
object SegmentCustomMetadata {

  /** `SegmentCustomMetadataField.REMOTE_SIZE` (tag 0, VARLONG). */
  val RemoteSizeTag = 0
  /** `SegmentCustomMetadataField.OBJECT_PREFIX` (tag 1, COMPACT_STRING). */
  val ObjectPrefixTag = 1
  /** `SegmentCustomMetadataField.OBJECT_KEY` (tag 2, COMPACT_STRING). */
  val ObjectKeyTag = 2

  private val KnownTags = Set(RemoteSizeTag, ObjectPrefixTag, ObjectKeyTag)

  /** Convenience: the field map for one uploaded segment. `remoteSize` is
    * the TOTAL uploaded bytes (log + indexes + manifest), mirroring
    * `SegmentCustomMetadataBuilder.totalSize`. */
  def forUpload(remoteSize: Long, objectPrefix: String, objectKey: String): TreeMap[Int, Any] =
    TreeMap(RemoteSizeTag -> remoteSize,
      ObjectPrefixTag -> objectPrefix,
      ObjectKeyTag -> objectKey)

  def serialize(data: TreeMap[Int, Any]): Array[Byte] = {
    if (data.isEmpty) return Array.emptyByteArray
    val out = new java.io.ByteArrayOutputStream(32)
    Varint.writeUnsignedVarlong(data.size, out)
    data.foreach { case (tag, value) =>
      val encoded = encodeValue(tag, value)
      Varint.writeUnsignedVarlong(tag, out) // a known tag: non-negative
      Varint.writeUnsignedVarlong(encoded.length, out)
      out.write(encoded)
    }
    out.toByteArray
  }

  def deserialize(bytes: Array[Byte]): TreeMap[Int, Any] = {
    if (bytes == null || bytes.isEmpty) return TreeMap.empty
    val in = new Cursor(bytes)
    val n = in.uvarint()
    var last = -1
    var result = TreeMap.empty[Int, Any]
    var i = 0
    while (i < n) {
      val tag = in.uvarint()
      if (tag <= last)
        throw new IllegalArgumentException(
          s"tagged fields out of order: tag $tag after $last")
      last = tag
      val size = in.uvarint()
      val end = in.pos + size
      if (end > bytes.length)
        throw new IllegalArgumentException(
          s"truncated tagged field $tag: declared $size bytes, ${bytes.length - in.pos} left")
      result += (tag -> decodeValue(tag, in, size))
      if (in.pos != end)
        throw new IllegalArgumentException(
          s"tagged field $tag: declared $size bytes, consumed ${size - (end - in.pos)}")
      i += 1
    }
    if (in.pos != bytes.length)
      throw new IllegalArgumentException(
        s"${bytes.length - in.pos} trailing bytes after $n tagged fields")
    result
  }

  // --- field codecs --------------------------------------------------------

  private def encodeValue(tag: Int, value: Any): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(16)
    (tag, value) match {
      case (RemoteSizeTag, v: Long) => Varint.writeVarlong(v, out)
      case (RemoteSizeTag, other) =>
        throw new IllegalArgumentException(
          s"remote_size (tag 0) must be a Long, got ${other.getClass.getSimpleName}")
      case (ObjectPrefixTag | ObjectKeyTag, s: String) =>
        val utf8 = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        Varint.writeUnsignedVarlong(utf8.length + 1, out) // COMPACT_STRING: length + 1
        out.write(utf8)
      case (ObjectPrefixTag | ObjectKeyTag, other) =>
        throw new IllegalArgumentException(
          s"tag $tag must be a String, got ${other.getClass.getSimpleName}")
      case (unknown, _) =>
        throw new IllegalArgumentException(
          s"unknown custom-metadata tag $unknown (known: ${KnownTags.toSeq.sorted.mkString(", ")})")
    }
    out.toByteArray
  }

  private def decodeValue(tag: Int, in: Cursor, size: Int): Any = tag match {
    case RemoteSizeTag => unzigzag(in.uvarlong())
    case ObjectPrefixTag | ObjectKeyTag =>
      val len = in.uvarint() - 1
      if (len < 0)
        throw new IllegalArgumentException(s"tag $tag: null COMPACT_STRING not allowed here")
      new String(in.take(len), java.nio.charset.StandardCharsets.UTF_8)
    case unknown =>
      throw new IllegalArgumentException(s"unknown custom-metadata tag $unknown")
  }

  // --- reading (KIP-482 / Kafka protocol varints) --------------------------
  // Writes go through `Varint`; this cursor turns truncated or oversized
  // broker input into typed errors.

  private def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1)

  private final class Cursor(bytes: Array[Byte]) {
    var pos = 0
    private def next(): Int = {
      if (pos >= bytes.length)
        throw new IllegalArgumentException(s"truncated varint at byte $pos")
      val b = bytes(pos) & 0xff
      pos += 1
      b
    }
    def uvarlong(): Long = {
      var value = 0L
      var shift = 0
      var b = next()
      while ((b & 0x80) != 0) {
        if (shift > 56)
          throw new IllegalArgumentException("varlong longer than 10 bytes")
        value |= (b & 0x7f).toLong << shift
        shift += 7
        b = next()
      }
      value | (b.toLong << shift)
    }
    def uvarint(): Int = {
      val v = uvarlong()
      if (v < 0 || v > Int.MaxValue)
        throw new IllegalArgumentException(s"varint out of int range: $v")
      v.toInt
    }
    def take(n: Int): Array[Byte] = {
      if (pos + n > bytes.length)
        throw new IllegalArgumentException(
          s"truncated value: need $n bytes at $pos, have ${bytes.length - pos}")
      val a = java.util.Arrays.copyOfRange(bytes, pos, pos + n)
      pos += n
      a
    }
  }
}
