package graft.records

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

/** Zigzag varint/varlong codec — the integer encoding of the Kafka record
  * wire format v2 and of Avro binary. Implemented from the public format
  * specifications (Kafka protocol guide; Avro 1.11 spec).
  */
object Varint {
  def writeVarint(v: Int, out: ByteArrayOutputStream): Unit =
    writeUnsignedVarlong(((v << 1) ^ (v >> 31)).toLong & 0xFFFFFFFFL, out)

  def writeVarlong(v: Long, out: ByteArrayOutputStream): Unit =
    writeUnsignedVarlong((v << 1) ^ (v >> 63), out)

  def writeUnsignedVarlong(v: Long, out: ByteArrayOutputStream): Unit = {
    var x = v
    while ((x & 0xFFFFFFFFFFFFFF80L) != 0L) {
      out.write(((x & 0x7F) | 0x80).toInt)
      x >>>= 7
    }
    out.write(x.toInt)
  }

  def readVarint(buf: ByteBuffer): Int = {
    val raw = readUnsignedVarlong(buf)
    ((raw >>> 1) ^ -(raw & 1)).toInt
  }

  def readVarlong(buf: ByteBuffer): Long = {
    val raw = readUnsignedVarlong(buf)
    (raw >>> 1) ^ -(raw & 1)
  }

  def readUnsignedVarlong(buf: ByteBuffer): Long = {
    var value = 0L
    var i = 0
    var b = 0
    while ({ b = buf.get() & 0xFF; (b & 0x80) != 0 }) {
      value |= (b & 0x7F).toLong << i
      i += 7
      require(i <= 63, "varlong too long")
    }
    value | b.toLong << i
  }
}
