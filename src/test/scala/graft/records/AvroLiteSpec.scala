package graft.records

import java.nio.ByteBuffer
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import AvroLite._

/** FIXTURES.md F5 — the full type-matrix schema, encode→decode round trips,
  * registry wire envelope + unknown-id fallback, evolution sequence. */
class AvroLiteSpec extends AnyFunSuite {

  private val matrixSchema =
    """{"type":"record","name":"m","fields":[
      |  {"name":"b","type":"boolean"},
      |  {"name":"i","type":"int"},
      |  {"name":"l","type":"long"},
      |  {"name":"f","type":"float"},
      |  {"name":"d","type":"double"},
      |  {"name":"s","type":"string"},
      |  {"name":"by","type":"bytes"},
      |  {"name":"fx","type":{"type":"fixed","name":"f16","size":4}},
      |  {"name":"dec","type":{"type":"bytes","logicalType":"decimal","precision":20,"scale":2}},
      |  {"name":"dt","type":{"type":"int","logicalType":"date"}},
      |  {"name":"tm","type":{"type":"int","logicalType":"time-millis"}},
      |  {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}},
      |  {"name":"uu","type":{"type":"string","logicalType":"uuid"}},
      |  {"name":"arr","type":{"type":"array","items":{"type":"record","name":"p","fields":[
      |      {"name":"x","type":"int"},{"name":"y","type":"string"}]}}},
      |  {"name":"mp","type":{"type":"map","values":"long"}},
      |  {"name":"nested","type":{"type":"record","name":"n","fields":[{"name":"z","type":"double"}]}},
      |  {"name":"opt","type":["null","string"]}
      |]}""".stripMargin

  private val value = Row(
    true, 42, 123456789012345L, 1.5f, 2.25, "hello", Array[Byte](1, 2, 3),
    Array[Byte](9, 9, 9, 9),
    new java.math.BigDecimal("123456.78"),
    java.sql.Date.valueOf("2024-03-15"),
    12345678,
    java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(1700000000123L)),
    "4b3f8b6e-0000-1111-2222-333344445555",
    Vector(Row(1, "a"), Row(2, "b")),
    Map("k1" -> 1L, "k2" -> 2L),
    Row(3.14),
    null)

  test("type-matrix round trip") {
    val schema = parseSchema(matrixSchema)
    val out = new java.io.ByteArrayOutputStream()
    encode(schema, value, out)
    val back = decode(schema, ByteBuffer.wrap(out.toByteArray)).asInstanceOf[Row]
    assert(back.getBoolean(0) && back.getInt(1) == 42 && back.getLong(2) == 123456789012345L)
    assert(back.getFloat(3) == 1.5f && back.getDouble(4) == 2.25 && back.getString(5) == "hello")
    assert(back.getAs[Array[Byte]](6).toSeq == Seq[Byte](1, 2, 3))
    assert(back.getAs[Array[Byte]](7).toSeq == Seq[Byte](9, 9, 9, 9))
    assert(back.getAs[java.math.BigDecimal](8).compareTo(new java.math.BigDecimal("123456.78")) == 0)
    assert(back.getAs[java.sql.Date](9).toString == "2024-03-15")
    assert(back.getInt(10) == 12345678)
    assert(back.getAs[java.sql.Timestamp](11).toInstant.toEpochMilli == 1700000000123L)
    assert(back.getString(12) == "4b3f8b6e-0000-1111-2222-333344445555")
    assert(back.getAs[Seq[Row]](13) == Vector(Row(1, "a"), Row(2, "b")))
    assert(back.getAs[Map[String, Any]](14) == Map("k1" -> 1L, "k2" -> 2L))
    assert(back.getAs[Row](15).getDouble(0) == 3.14)
    assert(back.get(16) == null)
  }

  test("union non-null branch") {
    val schema = parseSchema("""["null","int"]""")
    val out = new java.io.ByteArrayOutputStream()
    encode(schema, 7, out)
    assert(decode(schema, ByteBuffer.wrap(out.toByteArray)) == 7)
  }

  test("a union other than null plus one type is rejected, naming the union") {
    Seq("""["null","null"]""", """["int","string"]""", """["null","int","string"]""", """["int"]""")
      .foreach { u =>
        val e = intercept[IllegalArgumentException](parseSchema(u))
        assert(e.getMessage.contains(u), e.getMessage)
      }
    assert(parseSchema("""["int","null"]""") == AUnionNullable(AInt, 1))
  }

  test("avro→spark type mapping") {
    import org.apache.spark.sql.types._
    val st = toSparkType(parseSchema(matrixSchema)).asInstanceOf[StructType]
    assert(st("dec").dataType == DecimalType(20, 2))
    assert(st("ts").dataType == TimestampType)
    assert(st("arr").dataType.asInstanceOf[ArrayType].elementType.isInstanceOf[StructType])
    assert(st("opt").nullable)
    assert(!st("i").nullable)
  }

  test("registry wire envelope round trip + unknown-id fallback") {
    val dir = java.nio.file.Files.createTempDirectory("graft-registry")
    val reg = SchemaRegistry(dir.toString)
    reg.register(7, """{"type":"record","name":"kv","fields":[{"name":"a","type":"long"}]}""")
    val wire = reg.encode(7, Row(99L))
    assert(wire(0) == 0 && ByteBuffer.wrap(wire, 1, 4).getInt() == 7)
    val Some((id, decoded)) = reg.decode(wire)
    assert(id == 7 && decoded.asInstanceOf[Row].getLong(0) == 99L)
    // unknown id → None → caller keeps raw bytes
    val unknown = wire.clone(); unknown(4) = 99.toByte
    assert(reg.decode(unknown).isEmpty)
    // non-enveloped payload → None
    assert(reg.decode("plain".getBytes).isEmpty)
  }

  test("evolution sequence: v1 {a:int} → v2 {a:long} → v3 {a:long, b:string?}") {
    import org.apache.spark.sql.types._
    val v1 = toSparkType(parseSchema("""{"type":"record","name":"r","fields":[{"name":"a","type":"int"}]}"""))
      .asInstanceOf[StructType]
    val v2 = toSparkType(parseSchema("""{"type":"record","name":"r","fields":[{"name":"a","type":"long"}]}"""))
      .asInstanceOf[StructType]
    val v3 = toSparkType(parseSchema(
      """{"type":"record","name":"r","fields":[{"name":"a","type":"long"},{"name":"b","type":["null","string"]}]}"""))
      .asInstanceOf[StructType]
    val table = new RecordTable(java.nio.file.Files.createTempDirectory("rt").toString)
    val m12 = table.mergeSchemas(v1, v2)
    assert(m12("a").dataType == LongType)
    val m123 = table.mergeSchemas(m12, v3)
    assert(m123("b").dataType == StringType && m123("b").nullable)
    // narrowing rejected
    intercept[IllegalArgumentException](table.mergeSchemas(
      StructType(Seq(StructField("a", StringType))), StructType(Seq(StructField("a", IntegerType)))))
  }

  test("malformed lengths and counts fail fast, naming the field, in every decoder") {
    def wire(f: java.io.ByteArrayOutputStream => Unit): ByteBuffer = {
      val out = new java.io.ByteArrayOutputStream()
      f(out)
      out.write(Array.fill[Byte](8)(0), 0, 8) // trailing bytes: the counts, not a short buffer, are wrong
      ByteBuffer.wrap(out.toByteArray).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    }
    def everyDecoder(schemaJson: String, field: String, buf: => ByteBuffer): Unit = {
      val schema = parseSchema(schemaJson)
      val decoders: Seq[ByteBuffer => Any] = Seq(decode(schema, _), catalystReader(schema),
        catalystReader(schema, Some(Seq(1)))) // the bad field 0 is skipped, not decoded
      decoders.foreach { d =>
        val t0 = System.nanoTime()
        val e = intercept[IllegalArgumentException](d(buf))
        assert(e.getMessage.contains(s"'$field'"), e.getMessage)
        assert(System.nanoTime() - t0 < 5000000000L, "a corrupt count must fail at once")
      }
    }
    def rec(field: String, t: String) =
      s"""{"type":"record","name":"r","fields":[{"name":"$field","type":$t},{"name":"after","type":"int"}]}"""
    everyDecoder(rec("payload", "\"bytes\""), "payload", wire(Varint.writeVarlong(-3L, _)))
    everyDecoder(rec("name", "\"string\""), "name", wire(Varint.writeVarlong(1L << 40, _)))
    everyDecoder(rec("nulls", """{"type":"array","items":"null"}"""), "nulls",
      wire(Varint.writeVarlong(1L << 62, _)))
    everyDecoder(rec("sized", """{"type":"array","items":"null"}"""), "sized", wire { out =>
      Varint.writeVarlong(-(1L << 62), out); Varint.writeVarlong(0L, out) })
    everyDecoder(rec("longs", """{"type":"array","items":"long"}"""), "longs",
      wire(Varint.writeVarlong(1000L, _))) // 1000 items cannot fit in 8 bytes
    everyDecoder(rec("m", """{"type":"map","values":"null"}"""), "m", wire(Varint.writeVarlong(1L << 62, _)))
    // a legitimate array of nulls still decodes
    val ok = wire { out => Varint.writeVarlong(3L, out); Varint.writeVarlong(0L, out); Varint.writeVarint(7, out) }
    assert(decode(parseSchema(rec("nulls", """{"type":"array","items":"null"}""")), ok) ==
      Row(Vector(null, null, null), 7))
  }
}
