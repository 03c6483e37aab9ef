package graft.records

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer

/** Avro Object Container File (OCF) writer/reader over [[AvroLite]]'s
  * binary codec — the envelope Iceberg manifests and manifest lists are
  * stored in (public Avro 1.11 spec, "Object Container Files").
  *
  * Layout: magic `Obj\1`, a file-metadata map (must carry `avro.schema`;
  * `avro.codec` defaults to null = uncompressed), a 16-byte sync marker,
  * then blocks of `count, byteLength, payload, sync`.
  *
  * The writer takes the schema TWICE on purpose: `schemaJson` is embedded
  * verbatim (Iceberg requires `field-id` attributes the [[AvroLite.Schema]]
  * ADT does not model), while `schema` drives the binary encoding — the
  * golden-layout spec asserts the two stay consistent by decoding with the
  * embedded JSON alone. Sync marker is the md5 of the schema JSON:
  * deterministic output for byte-stable golden files. */
object AvroOcf {

  val Magic: Array[Byte] = Array('O'.toByte, 'b'.toByte, 'j'.toByte, 1.toByte)

  final case class OcfFile(
      meta: Map[String, Array[Byte]],
      schemaJson: String,
      rows: Vector[Any]) {
    def metaString(k: String): Option[String] = meta.get(k).map(new String(_, "UTF-8"))
  }

  def write(schemaJson: String, schema: AvroLite.Schema, rows: Seq[Any],
            extraMeta: Map[String, String] = Map.empty): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Magic, 0, 4)
    val meta: Seq[(String, Array[Byte])] =
      (("avro.schema" -> schemaJson.getBytes("UTF-8")) +:
        ("avro.codec" -> "null".getBytes("UTF-8")) +:
        extraMeta.toSeq.sortBy(_._1).map { case (k, v) => k -> v.getBytes("UTF-8") })
    Varint.writeVarlong(meta.size.toLong, out)
    meta.foreach { case (k, v) =>
      writeBytes(k.getBytes("UTF-8"), out); writeBytes(v, out)
    }
    Varint.writeVarlong(0L, out)
    val sync = java.security.MessageDigest.getInstance("MD5").digest(schemaJson.getBytes("UTF-8"))
    out.write(sync, 0, 16)
    if (rows.nonEmpty) {
      val payload = new ByteArrayOutputStream()
      rows.foreach(r => AvroLite.encode(schema, r, payload))
      val bytes = payload.toByteArray
      Varint.writeVarlong(rows.size.toLong, out)
      Varint.writeVarlong(bytes.length.toLong, out)
      out.write(bytes, 0, bytes.length)
      out.write(sync, 0, 16)
    }
    out.toByteArray
  }

  /** Read an OCF using ONLY its embedded schema (no out-of-band schema —
    * what a stock reader does). */
  def read(bytes: Array[Byte]): OcfFile = {
    val buf = ByteBuffer.wrap(bytes)
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(java.util.Arrays.equals(magic, Magic),
      s"not an Avro OCF: magic ${magic.toVector}")
    // the metadata is an Avro map<bytes>: a key and a value length at least
    val meta = Map.newBuilder[String, Array[Byte]]
    AvroLite.readBlocks(buf, MetaField, itemBytes = 2) {
      val k = new String(readBytes(buf, MetaField), "UTF-8")
      meta += (k -> readBytes(buf, MetaField))
    }
    val metaMap = meta.result()
    val schemaJson = new String(metaMap.getOrElse("avro.schema",
      throw new IllegalArgumentException("OCF missing avro.schema metadata")), "UTF-8")
    metaMap.get("avro.codec").map(new String(_, "UTF-8")).foreach { c =>
      require(c == "null", s"unsupported OCF codec '$c' (only null/uncompressed)")
    }
    val schema = AvroLite.parseSchema(schemaJson)
    val sync = new Array[Byte](16)
    buf.get(sync)
    val rows = Vector.newBuilder[Any]
    val rowBytes = AvroLite.minBytes(schema)
    var total = 0L
    while (buf.remaining() > 0) {
      val n = Varint.readVarlong(buf)
      val blockBytes = AvroLite.readLength(buf, RowsField)
      total = AvroLite.checkCount(RowsField, total, n, rowBytes, blockBytes)
      var i = 0L
      while (i < n) { rows += AvroLite.decode(schema, buf); i += 1 }
      val blockSync = new Array[Byte](16)
      buf.get(blockSync)
      require(java.util.Arrays.equals(blockSync, sync), "OCF block sync marker mismatch")
    }
    OcfFile(metaMap, schemaJson, rows.result())
  }

  private def writeBytes(b: Array[Byte], out: ByteArrayOutputStream): Unit = {
    Varint.writeVarint(b.length, out)
    out.write(b, 0, b.length)
  }

  /** The field names malformed-input errors report. */
  private val MetaField = "<ocf metadata>"
  private val RowsField = "<ocf rows>"

  private def readBytes(buf: ByteBuffer, field: String): Array[Byte] =
    AvroLite.readBytes(buf, AvroLite.readLength(buf, field))
}
