package graft.records

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import scala.collection.mutable.ArrayBuffer
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, DateTimeUtils, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** Minimal Avro binary codec + Avro→Spark type conversion, written from the
  * public Avro 1.11 specification — the I2/I4/I12 surface of the reference
  * (`iceberg/data/RecordConverter.java:94-200`,
  * `AvroSchemaRegistryStructureProvider.java:33-92`) without the Avro
  * runtime dependency.
  *
  * Supported types (the reference's full converter matrix,
  * `RecordConverter.java:105-166`): record, array, map(string keys), string,
  * bytes, fixed, int, long, float, double, boolean, null, union[null,T],
  * decimal (bytes/fixed logical), date, time-millis, timestamp-millis,
  * timestamp-micros, uuid (string logical).
  */
object AvroLite {

  sealed trait Schema
  case object ANull extends Schema
  case object ABoolean extends Schema
  case object AInt extends Schema
  case object ALong extends Schema
  case object AFloat extends Schema
  case object ADouble extends Schema
  case object ABytes extends Schema
  case object AString extends Schema
  final case class AFixed(name: String, size: Int) extends Schema
  final case class ADecimal(precision: Int, scale: Int, fixedSize: Option[Int]) extends Schema
  case object ADate extends Schema
  case object ATimeMillis extends Schema
  case object ATimestampMillis extends Schema
  case object ATimestampMicros extends Schema
  case object AUuid extends Schema
  final case class AArray(items: Schema) extends Schema
  final case class AMap(values: Schema) extends Schema
  final case class AUnionNullable(inner: Schema) extends Schema
  final case class AField(name: String, schema: Schema)
  final case class ARecord(name: String, fields: Vector[AField]) extends Schema

  private val mapper = new ObjectMapper()

  def parseSchema(json: String): Schema = parseNode(mapper.readTree(json))

  private def parseNode(n: JsonNode): Schema = {
    if (n.isTextual) return primitive(n.asText())
    if (n.isArray) {
      val parts = (0 until n.size()).map(i => n.get(i))
      require(parts.size == 2 && parts.exists(p => p.isTextual && p.asText() == "null"),
        s"only [null, T] unions supported, got $n")
      val inner = parts.find(p => !(p.isTextual && p.asText() == "null")).get
      return AUnionNullable(parseNode(inner))
    }
    val t = n.get("type").asText()
    val logical = Option(n.get("logicalType")).map(_.asText())
    (t, logical) match {
      case ("bytes", Some("decimal")) =>
        ADecimal(n.get("precision").asInt(), Option(n.get("scale")).map(_.asInt()).getOrElse(0), None)
      case ("fixed", Some("decimal")) =>
        ADecimal(n.get("precision").asInt(), Option(n.get("scale")).map(_.asInt()).getOrElse(0),
          Some(n.get("size").asInt()))
      case ("int", Some("date"))                => ADate
      case ("int", Some("time-millis"))         => ATimeMillis
      case ("long", Some("timestamp-millis"))   => ATimestampMillis
      case ("long", Some("timestamp-micros"))   => ATimestampMicros
      case ("string", Some("uuid"))             => AUuid
      case ("fixed", _)                         => AFixed(n.get("name").asText(), n.get("size").asInt())
      case ("array", _)                         => AArray(parseNode(n.get("items")))
      case ("map", _)                           => AMap(parseNode(n.get("values")))
      case ("record", _) =>
        val fs = n.get("fields")
        ARecord(n.get("name").asText(),
          (0 until fs.size()).map { i =>
            AField(fs.get(i).get("name").asText(), parseNode(fs.get(i).get("type")))
          }.toVector)
      case (p, _) => primitive(p)
    }
  }

  private def primitive(t: String): Schema = t match {
    case "null" => ANull
    case "boolean" => ABoolean
    case "int" => AInt
    case "long" => ALong
    case "float" => AFloat
    case "double" => ADouble
    case "bytes" => ABytes
    case "string" => AString
    case other => throw new IllegalArgumentException(s"unsupported avro type $other")
  }

  /** Avro→Spark type mapping (I4 / SURVEY §1.3). */
  def toSparkType(s: Schema): DataType = s match {
    case ANull => NullType
    case ABoolean => BooleanType
    case AInt => IntegerType
    case ALong => LongType
    case AFloat => FloatType
    case ADouble => DoubleType
    case ABytes | AFixed(_, _) => BinaryType
    case AString | AUuid => StringType
    case ADecimal(p, sc, _) => DecimalType(p, sc)
    case ADate => DateType
    case ATimeMillis => IntegerType // millis-of-day (Spark has no TimeType)
    case ATimestampMillis | ATimestampMicros => TimestampType
    case AArray(items) => ArrayType(toSparkType(items))
    case AMap(values) => MapType(StringType, toSparkType(values))
    case AUnionNullable(inner) => toSparkType(inner)
    case ARecord(_, fields) =>
      StructType(fields.map(f => StructField(f.name, toSparkType(f.schema), nullable = isNullable(f.schema))))
  }

  private def isNullable(s: Schema): Boolean = s match {
    case AUnionNullable(_) | ANull => true
    case _ => false
  }

  // --- decode (I2) ----------------------------------------------------------

  /** Decode an Avro binary payload into Spark-compatible values (Row for
    * records, java.sql types for temporals). `field` names the enclosing
    * record field in the errors of malformed lengths and counts. */
  def decode(schema: Schema, buf: ByteBuffer, field: String = RootField): Any = schema match {
    case ANull => null
    case ABoolean => buf.get() != 0
    case AInt => Varint.readVarint(buf)
    case ALong => Varint.readVarlong(buf)
    case AFloat =>
      buf.order(ByteOrder.LITTLE_ENDIAN); val v = buf.getFloat; buf.order(ByteOrder.BIG_ENDIAN); v
    case ADouble =>
      buf.order(ByteOrder.LITTLE_ENDIAN); val v = buf.getDouble; buf.order(ByteOrder.BIG_ENDIAN); v
    case ABytes => readBytes(buf, readLength(buf, field))
    case AString | AUuid => new String(readBytes(buf, readLength(buf, field)), "UTF-8")
    case AFixed(_, size) => readBytes(buf, size)
    case ADecimal(_, s, fixedSize) =>
      new java.math.BigDecimal(new java.math.BigInteger(readBytes(buf, decimalLength(buf, fixedSize, field))), s)
    case ADate => java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(Varint.readVarint(buf).toLong))
    case ATimeMillis => Varint.readVarint(buf)
    case ATimestampMillis => java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(Varint.readVarlong(buf)))
    case ATimestampMicros =>
      val us = Varint.readVarlong(buf)
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
    case AArray(items) =>
      val out = Vector.newBuilder[Any]
      readBlocks(buf, field, minBytes(items))(out += decode(items, buf, field))
      out.result()
    case AMap(values) =>
      val out = Map.newBuilder[String, Any]
      readBlocks(buf, field, 1 + minBytes(values)) {
        out += (new String(readBytes(buf, readLength(buf, field)), "UTF-8") -> decode(values, buf, field))
      }
      out.result()
    case AUnionNullable(inner) => if (unionPresent(buf, field)) decode(inner, buf, field) else null
    case ARecord(_, fields) => Row(fields.map(f => decode(f.schema, buf, f.name)): _*)
  }

  // --- read and skip helpers, shared by both decoders -----------------------

  /** The field name errors report for a top-level value. */
  private val RootField = "<root>"

  /** The most items one array or map may hold: Spark's array bound. */
  private val MaxItems: Long = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH.toLong

  private def malformed(field: String, what: String): Nothing =
    throw new IllegalArgumentException(s"malformed avro in field '$field': $what")

  /** A bytes or string length prefix, checked against the bytes left. */
  private def readLength(buf: ByteBuffer, field: String): Int = {
    val len = Varint.readVarlong(buf)
    if (len < 0 || len > buf.remaining()) malformed(field, s"length $len, ${buf.remaining()} bytes left")
    len.toInt
  }

  private def decimalLength(buf: ByteBuffer, fixedSize: Option[Int], field: String): Int = {
    val len = fixedSize match {
      case Some(size) => size
      case None => readLength(buf, field)
    }
    if (len == 0) malformed(field, "empty decimal")
    len
  }

  private def readBytes(buf: ByteBuffer, len: Int): Array[Byte] = {
    val b = new Array[Byte](len)
    buf.get(b)
    b
  }

  private def skipBytes(buf: ByteBuffer, len: Int, field: String): Unit = {
    if (len > buf.remaining()) malformed(field, s"$len bytes to skip, ${buf.remaining()} left")
    buf.position(buf.position() + len)
  }

  /** A `[null, T]` union's branch: true when T follows. */
  private def unionPresent(buf: ByteBuffer, field: String): Boolean =
    Varint.readVarlong(buf) match {
      case 0 => false
      case 1 => true
      case i => malformed(field, s"union index $i out of range")
    }

  /** The fewest bytes one value of `s` takes on the wire. */
  private def minBytes(s: Schema): Int = s match {
    case ANull => 0
    case AFloat => 4
    case ADouble => 8
    case AFixed(_, size) => size
    case ADecimal(_, _, Some(size)) => size
    case ARecord(_, fields) => fields.map(f => minBytes(f.schema)).sum
    case _ => 1 // a varint, a length prefix, a union index or a block count
  }

  /** Runs `item` once per item of an array or map. A block's count is
    * checked before any item is read: the items must fit in the bytes left
    * (`itemBytes` each, at least) and the collection in [[MaxItems]], so a
    * corrupt count fails at once instead of spinning. With `skipSized`, a
    * block that declares its byte size (a negative count) is jumped over
    * without visiting its items. */
  private def readBlocks(buf: ByteBuffer, field: String, itemBytes: Int,
                                  skipSized: Boolean = false)(item: => Unit): Unit = {
    var total = 0L
    var count = Varint.readVarlong(buf)
    while (count != 0) {
      var sized = false
      if (count < 0) {
        if (count == Long.MinValue) malformed(field, s"block count $count")
        count = -count
        val size = Varint.readVarlong(buf)
        if (size < 0 || size > buf.remaining()) malformed(field, s"block size $size, ${buf.remaining()} bytes left")
        if (skipSized) { buf.position(buf.position() + size.toInt); sized = true }
      }
      total += count
      if (total > MaxItems) malformed(field, s"$total items, more than $MaxItems")
      if (!sized) {
        if (count * itemBytes > buf.remaining())
          malformed(field, s"block of $count items, ${buf.remaining()} bytes left")
        var i = 0L
        while (i < count) { item; i += 1 }
      }
      count = Varint.readVarlong(buf)
    }
  }

  /** Moves `buf` past one value of `s` without decoding it, using Avro's
    * length prefixes, fixed sizes and sized blocks. */
  private def skip(s: Schema, buf: ByteBuffer, field: String): Unit = s match {
    case ANull => ()
    case ABoolean => skipBytes(buf, 1, field)
    case AInt | ALong | ADate | ATimeMillis | ATimestampMillis | ATimestampMicros => Varint.readVarlong(buf)
    case AFloat => skipBytes(buf, 4, field)
    case ADouble => skipBytes(buf, 8, field)
    case ABytes | AString | AUuid | ADecimal(_, _, None) => skipBytes(buf, readLength(buf, field), field)
    case AFixed(_, size) => skipBytes(buf, size, field)
    case ADecimal(_, _, Some(size)) => skipBytes(buf, size, field)
    case AArray(items) => readBlocks(buf, field, minBytes(items), skipSized = true)(skip(items, buf, field))
    case AMap(values) =>
      readBlocks(buf, field, 1 + minBytes(values), skipSized = true) {
        skipBytes(buf, readLength(buf, field), field)
        skip(values, buf, field)
      }
    case AUnionNullable(inner) => if (unionPresent(buf, field)) skip(inner, buf, field)
    case ARecord(_, fields) => fields.foreach(f => skip(f.schema, buf, f.name))
  }

  // --- decode straight to Catalyst values -------------------------------------

  /** A decoder from Avro binary straight to Catalyst values: `InternalRow`
    * for records, `UTF8String`, `ArrayData`, `MapData`, `Decimal`, days
    * for dates and micros for timestamps. It is built once per schema and
    * reused for every value; [[TypedDecode]] runs one per task.
    *
    * `selected` (ascending field ordinals of a top-level record, nullable
    * or not) prunes the decode: the result is a row of those fields only
    * (null for a null record), every other field is skipped by its length
    * prefix, and the fields after the last selected one are not read at
    * all. The buffer must be little-endian
    * (Avro's float and double order); varints do not depend on it.
    * Strings are views over the buffer's array, not copies. */
  def catalystReader(schema: Schema, selected: Option[Seq[Int]] = None): ByteBuffer => Any =
    (schema, selected) match {
      case (_, None) => catalystReader(schema, RootField)
      case (AUnionNullable(inner), _) =>
        val read = catalystReader(inner, selected)
        buf => if (unionPresent(buf, RootField)) read(buf) else null
      case (ARecord(_, fields), Some(sel)) =>
        require(sel.nonEmpty && sel == sel.distinct.sorted && sel.last < fields.length,
          s"selection $sel is not ascending ordinals of ${fields.length} fields")
        val last = sel.last
        val width = sel.length
        val slot = Array.fill(last + 1)(-1)
        sel.zipWithIndex.foreach { case (f, i) => slot(f) = i }
        val read = Array.tabulate(last + 1)(i =>
          if (slot(i) >= 0) catalystReader(fields(i).schema, fields(i).name) else null)
        val skipped = fields.take(last + 1).toArray
        buf => {
          val out = new Array[Any](width)
          var i = 0
          while (i <= last) {
            if (slot(i) >= 0) out(slot(i)) = read(i)(buf) else skip(skipped(i).schema, buf, skipped(i).name)
            i += 1
          }
          new GenericInternalRow(out)
        }
      case (_, Some(sel)) =>
        throw new IllegalArgumentException(s"selection $sel needs a record schema, not $schema")
    }

  private def catalystReader(s: Schema, field: String): ByteBuffer => Any = s match {
    case ANull => _ => null
    case ABoolean => buf => buf.get() != 0
    case AInt | ATimeMillis | ADate => buf => Varint.readVarint(buf)
    case ALong | ATimestampMicros => buf => Varint.readVarlong(buf)
    case ATimestampMillis => buf => DateTimeUtils.millisToMicros(Varint.readVarlong(buf))
    case AFloat => buf => buf.getFloat
    case ADouble => buf => buf.getDouble
    case ABytes => buf => readBytes(buf, readLength(buf, field))
    case AFixed(_, size) => buf => readBytes(buf, size)
    case AString | AUuid => buf => {
      val len = readLength(buf, field)
      val v = UTF8String.fromBytes(buf.array(), buf.arrayOffset() + buf.position(), len)
      buf.position(buf.position() + len)
      v
    }
    case ADecimal(p, sc, fixedSize) => buf => {
      val len = decimalLength(buf, fixedSize, field)
      if (len > buf.remaining()) malformed(field, s"decimal of $len bytes, ${buf.remaining()} left")
      val unscaled = new java.math.BigInteger(buf.array(), buf.arrayOffset() + buf.position(), len)
      buf.position(buf.position() + len)
      val d = Decimal(new java.math.BigDecimal(unscaled, sc))
      if (!d.changePrecision(p, sc)) malformed(field, s"decimal $d exceeds precision $p")
      d
    }
    case AArray(items) =>
      val item = catalystReader(items, field)
      val itemBytes = minBytes(items)
      buf => {
        val out = ArrayBuffer.empty[Any]
        readBlocks(buf, field, itemBytes)(out += item(buf))
        new GenericArrayData(out.toArray)
      }
    case AMap(values) =>
      val key = catalystReader(AString, field)
      val value = catalystReader(values, field)
      val itemBytes = 1 + minBytes(values)
      buf => {
        val ks = ArrayBuffer.empty[Any]
        val vs = ArrayBuffer.empty[Any]
        readBlocks(buf, field, itemBytes) { ks += key(buf); vs += value(buf) }
        new ArrayBasedMapData(new GenericArrayData(ks.toArray), new GenericArrayData(vs.toArray))
      }
    case AUnionNullable(inner) =>
      val read = catalystReader(inner, field)
      buf => if (unionPresent(buf, field)) read(buf) else null
    case ARecord(_, fields) =>
      val readers = fields.map(f => catalystReader(f.schema, f.name)).toArray
      buf => {
        val out = new Array[Any](readers.length)
        var i = 0
        while (i < readers.length) { out(i) = readers(i)(buf); i += 1 }
        new GenericInternalRow(out)
      }
  }

  // --- encode (I12) ---------------------------------------------------------

  def encode(schema: Schema, value: Any, out: ByteArrayOutputStream): Unit = schema match {
    case ANull => ()
    case ABoolean => out.write(if (value.asInstanceOf[Boolean]) 1 else 0)
    case AInt => Varint.writeVarint(value.asInstanceOf[Int], out)
    case ALong => Varint.writeVarlong(value.asInstanceOf[Long], out)
    case AFloat =>
      val b = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
      b.putFloat(value.asInstanceOf[Float]); out.write(b.array(), 0, 4)
    case ADouble =>
      val b = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      b.putDouble(value.asInstanceOf[Double]); out.write(b.array(), 0, 8)
    case ABytes => writeBytes(value.asInstanceOf[Array[Byte]], out)
    case AString | AUuid => writeBytes(value.asInstanceOf[String].getBytes("UTF-8"), out)
    case AFixed(_, size) =>
      val b = value.asInstanceOf[Array[Byte]]
      require(b.length == size, s"fixed size mismatch: ${b.length} != $size")
      out.write(b, 0, size)
    case ADecimal(_, s, fixedSize) =>
      val bd = value.asInstanceOf[java.math.BigDecimal].setScale(s)
      val unscaled = bd.unscaledValue().toByteArray
      fixedSize match {
        case Some(size) =>
          val padded = new Array[Byte](size)
          val sign: Byte = if (unscaled.head < 0) -1 else 0
          java.util.Arrays.fill(padded, sign)
          System.arraycopy(unscaled, 0, padded, size - unscaled.length, unscaled.length)
          out.write(padded, 0, size)
        case None => writeBytes(unscaled, out)
      }
    case ADate =>
      Varint.writeVarint(value.asInstanceOf[java.sql.Date].toLocalDate.toEpochDay.toInt, out)
    case ATimeMillis => Varint.writeVarint(value.asInstanceOf[Int], out)
    case ATimestampMillis =>
      Varint.writeVarlong(value.asInstanceOf[java.sql.Timestamp].toInstant.toEpochMilli, out)
    case ATimestampMicros =>
      val i = value.asInstanceOf[java.sql.Timestamp].toInstant
      Varint.writeVarlong(i.getEpochSecond * 1000000L + i.getNano / 1000L, out)
    case AArray(items) =>
      val xs = value.asInstanceOf[Seq[Any]]
      if (xs.nonEmpty) {
        Varint.writeVarlong(xs.size.toLong, out)
        xs.foreach(x => encode(items, x, out))
      }
      Varint.writeVarlong(0L, out)
    case AMap(values) =>
      val m = value.asInstanceOf[scala.collection.Map[String, Any]]
      if (m.nonEmpty) {
        Varint.writeVarlong(m.size.toLong, out)
        m.foreach { case (k, v) => writeBytes(k.getBytes("UTF-8"), out); encode(values, v, out) }
      }
      Varint.writeVarlong(0L, out)
    case AUnionNullable(inner) =>
      if (value == null) Varint.writeVarlong(0L, out)
      else { Varint.writeVarlong(1L, out); encode(inner, value, out) }
    case ARecord(_, fields) =>
      val row = value.asInstanceOf[Row]
      fields.zipWithIndex.foreach { case (f, i) => encode(f.schema, row.get(i), out) }
  }

  private def writeBytes(b: Array[Byte], out: ByteArrayOutputStream): Unit = {
    Varint.writeVarint(b.length, out)
    out.write(b, 0, b.length)
  }
}
