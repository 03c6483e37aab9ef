package graft.records

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.plans.PruneTypedDecode
import graft.testkit.SparkSpec

/** `graft_typed_decode` as a Catalyst expression: its values equal the
  * external-Row decoder's ([[AvroLite.decode]] → Spark's converters) for
  * every fixture type, a pruned decode equals the full one projected, and
  * [[PruneTypedDecode]] narrows the decode of the benchmark's query shape
  * while keeping one decode per row. */
class TypedDecodeSpec extends SparkSpec {

  private val MatrixId = 11
  private val matrixSchema =
    """{"type":"record","name":"m","fields":[
      |  {"name":"b","type":"boolean"},
      |  {"name":"i","type":"int"},
      |  {"name":"l","type":"long"},
      |  {"name":"f","type":"float"},
      |  {"name":"d","type":"double"},
      |  {"name":"s","type":"string"},
      |  {"name":"by","type":"bytes"},
      |  {"name":"fx","type":{"type":"fixed","name":"f4","size":4}},
      |  {"name":"dec","type":{"type":"bytes","logicalType":"decimal","precision":20,"scale":2}},
      |  {"name":"fdec","type":{"type":"fixed","name":"d8","size":8,"logicalType":"decimal","precision":12,"scale":3}},
      |  {"name":"dt","type":{"type":"int","logicalType":"date"}},
      |  {"name":"tm","type":{"type":"int","logicalType":"time-millis"}},
      |  {"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}},
      |  {"name":"tsu","type":{"type":"long","logicalType":"timestamp-micros"}},
      |  {"name":"uu","type":{"type":"string","logicalType":"uuid"}},
      |  {"name":"arr","type":{"type":"array","items":{"type":"record","name":"p","fields":[
      |      {"name":"x","type":"int"},{"name":"y","type":["null","string"]}]}}},
      |  {"name":"mp","type":{"type":"map","values":"long"}},
      |  {"name":"mrec","type":{"type":"map","values":{"type":"record","name":"q","fields":[
      |      {"name":"z","type":"double"}]}}},
      |  {"name":"nested","type":{"type":"record","name":"n","fields":[
      |      {"name":"z","type":"double"},{"name":"tags","type":{"type":"array","items":"string"}}]}},
      |  {"name":"opt","type":["null","string"]},
      |  {"name":"optrec","type":["null",{"type":"record","name":"o","fields":[{"name":"w","type":"long"}]}]},
      |  {"name":"optarr","type":["null",{"type":"array","items":["null","int"]}]}
      |]}""".stripMargin

  private def ts(ms: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(ms))
  private def tsMicros(us: Long) = java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
    Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))

  private val values = Seq(
    Row(true, 42, 123456789012345L, 1.5f, 2.25, "hello", Array[Byte](1, 2, 3), Array[Byte](9, 9, 9, 9),
      new java.math.BigDecimal("123456.78"), new java.math.BigDecimal("-98765.432"),
      java.sql.Date.valueOf("2024-03-15"), 12345678, ts(1700000000123L), tsMicros(1700000000123456L),
      "4b3f8b6e-0000-1111-2222-333344445555",
      Vector(Row(1, "a"), Row(2, null)), Map("k1" -> 1L, "k2" -> 2L),
      Map("r" -> Row(0.5)), Row(3.14, Vector("x", "y")), "present", Row(7L), Vector(1, null, 3)),
    Row(false, -1, Long.MinValue, -0.0f, Double.MaxValue, "", Array.emptyByteArray, Array[Byte](0, 0, 0, 0),
      new java.math.BigDecimal("-0.01"), new java.math.BigDecimal("0.000"),
      java.sql.Date.valueOf("1970-01-01"), 0, ts(-1L), tsMicros(-1L), "",
      Vector.empty, Map.empty[String, Long], Map.empty[String, Row], Row(-2.5, Vector.empty), null, null, null))

  private def registry(): SchemaRegistry = {
    val reg = SchemaRegistry(Files.createTempDirectory("typed-decode").toString)
    reg.register(MatrixId, matrixSchema)
    reg.register(12, """{"type":"record","name":"other","fields":[{"name":"a","type":"long"}]}""")
    reg
  }

  private def raw(payloads: Seq[Array[Byte]]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(payloads.map(Row(_)), 2),
      StructType(Seq(StructField("value_raw", BinaryType))))

  /** What the external-Row decoder gives for `payloads`, as a DataFrame. */
  private def viaRows(reg: SchemaRegistry, id: Int, payloads: Seq[Array[Byte]]): DataFrame = {
    val t = AvroLite.toSparkType(reg.lookup(id).get)
    val rows = payloads.map(p => Row(p, reg.decode(p).collect { case (`id`, v) => v }.orNull))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2),
      StructType(Seq(StructField("value_raw", BinaryType), StructField("value", t))))
  }

  private def canon(v: Any): Any = v match {
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(canon)
    case m: scala.collection.Map[_, _] => m.map { case (k, x) => k -> canon(x) }.toMap
    case xs: scala.collection.Seq[_] => xs.map(canon)
    case x => x
  }
  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(r => canon(r).toString).toSeq.sorted

  private def decodes(df: DataFrame): Seq[TypedDecodeExpr] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect { case d: TypedDecodeExpr => d }))

  test("every fixture type decodes to what AvroLite.decode gives through Spark's converters") {
    val reg = registry()
    val payloads = values.map(reg.encode(MatrixId, _))
    val got = TypedDecode.withDecoded(raw(payloads), reg, MatrixId)
    val want = viaRows(reg, MatrixId, payloads)
    assert(got.schema == want.schema)
    assert(rowsOf(got) == rowsOf(want))
    assert(got.filter(col("value").isNull).count() == 0)
  }

  test("a pruned decode equals the full decode, projected") {
    val reg = registry()
    val payloads = values.map(reg.encode(MatrixId, _))
    val names = AvroLite.toSparkType(reg.lookup(MatrixId).get).asInstanceOf[StructType].fieldNames
    val subsets = Seq(Seq("s"), Seq("tsu"), Seq("l", "d"), Seq("optarr", "b"), Seq("dec", "mrec", "opt"),
      Seq("fdec", "nested", "uu", "ts"), names.toSeq.reverse.take(5), names.toSeq.filter(_ != "arr"))
    subsets.foreach { fs =>
      val q = (df: DataFrame) => df.select(fs.map(f => col(s"value.$f").as(f)): _*)
      val got = q(TypedDecode.withDecoded(raw(payloads), reg, MatrixId))
      val ds = decodes(got)
      assert(ds.size == 1, s"$fs: ${got.queryExecution.optimizedPlan}")
      assert(ds.head.dataType.asInstanceOf[StructType].fieldNames.toSet == fs.toSet, fs)
      assert(rowsOf(got) == rowsOf(q(viaRows(reg, MatrixId, payloads))), fs)
    }
  }

  test("null payload, short payload, bad magic, unknown id and another registered id give null") {
    val reg = registry()
    val good = reg.encode(MatrixId, values.head)
    val badMagic = good.clone(); badMagic(0) = 1
    val unknown = good.clone(); unknown(4) = 99
    val payloads = Seq(null, Array[Byte](0, 0, 0, 0), Array.emptyByteArray, badMagic, unknown,
      reg.encode(12, Row(5L)), good)
    val got = TypedDecode.withDecoded(raw(payloads), reg, MatrixId)
    val decoded = got.collect().map(r => Option(r.get(1)))
    assert(decoded.count(_.isEmpty) == 6 && decoded.count(_.nonEmpty) == 1)
    assert(rowsOf(got) == rowsOf(viaRows(reg, MatrixId, payloads)))
    // a pruned decode keeps the null semantics
    assert(got.select(col("value.s")).collect().map(r => Option(r.getString(0))).sorted.toSeq ==
      Seq.fill(6)(None) :+ Some("hello"))
  }

  test("the tiered-scan query shape: one decode reading exactly event_type and value") {
    val reg = SchemaRegistry(Files.createTempDirectory("typed-decode-ev").toString)
    reg.register(7,
      """{"type":"record","name":"Event","fields":[
        |{"name":"event_id","type":"long"},
        |{"name":"ts","type":{"type":"long","logicalType":"timestamp-millis"}},
        |{"name":"user_id","type":"long"},
        |{"name":"event_type","type":"string"},
        |{"name":"value","type":"double"},
        |{"name":"props","type":"string"}]}""".stripMargin)
    val payloads = (0 until 200).map(i => reg.encode(7,
      Row(i.toLong, ts(1700000000000L + i), i % 13L, Seq("view", "click", "buy")(i % 3), i * 0.37,
        s"""{"k": $i}"""))) :+ "plain".getBytes("UTF-8")
    val query = (df: DataFrame) => df.groupBy(col("value.event_type").as("t"))
      .agg(count(lit(1)).as("n"), sum(col("value.value").cast(DecimalType(18, 2))).as("v"))
    val got = query(TypedDecode.withDecoded(raw(payloads), reg, 7))
    val ds = decodes(got)
    assert(ds.size == 1, got.queryExecution.optimizedPlan)
    assert(ds.head.dataType.asInstanceOf[StructType].fieldNames.toSeq == Seq("event_type", "value"))
    assert(ds.head.selected.contains(Seq(3, 4)))
    assert(rowsOf(got) == rowsOf(query(viaRows(reg, 7, payloads))))
    // the decode runs inside a whole-stage codegen stage, not as an
    // interpreted projection that copies its struct into an UnsafeRow
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case _ => p +: p.children.flatMap(nodes)
    }
    val withDecode = nodes(got.queryExecution.executedPlan).collect {
      case w: WholeStageCodegenExec => w.child.collect { case p => p } // stops at stage boundaries
    }.flatten.filter(_.expressions.exists(_.exists(_.isInstanceOf[TypedDecodeExpr])))
    assert(withDecode.size == 1, got.queryExecution.executedPlan)
    // a consumer of the whole struct keeps the full decode, still one per row
    val whole = TypedDecode.withDecoded(raw(payloads), reg, 7)
      .select(col("value"), col("value.event_type").as("t"))
    assert(decodes(whole).map(_.selected) == Seq(None))
    assert(rowsOf(whole) == rowsOf(viaRows(reg, 7, payloads).select(col("value"), col("value.event_type").as("t"))))
  }

  test("a nullable top-level record prunes like a record, inline and through a Project") {
    val reg = SchemaRegistry(Files.createTempDirectory("typed-decode-opt").toString)
    reg.register(8,
      """["null",{"type":"record","name":"r","fields":[
        |{"name":"a","type":"long"},{"name":"b","type":"string"},{"name":"c","type":"double"}]}]""".stripMargin)
    val payloads = (0 until 50).map(i => reg.encode(8, if (i % 7 == 0) null else Row(i.toLong, s"b${i % 4}", i * 0.5)))
    val inline = (df: DataFrame) => df.select(col("value.b").as("b"))
    val grouped = (df: DataFrame) => df.groupBy(col("value.b").as("b")).agg(sum(col("value.c")).as("c"))
    Seq(inline, grouped).foreach { q =>
      val got = q(TypedDecode.withDecoded(raw(payloads), reg, 8))
      assert(decodes(got).map(_.selected.isDefined) == Seq(true), got.queryExecution.optimizedPlan)
      assert(rowsOf(got) == rowsOf(q(viaRows(reg, 8, payloads))))
    }
  }

  test("unions decode stock Avro bytes whichever branch is null, in every decoder") {
    // Apache Avro's own writer makes the bytes, so the branch index on the
    // wire is the schema's, not AvroLite's
    import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
    import org.apache.avro.io.EncoderFactory
    val reg = SchemaRegistry(Files.createTempDirectory("typed-decode-union").toString)
    val unions = Seq(21 -> """["null","long"]""", 22 -> """["long","null"]""")
    def schemaJson(union: String) =
      s"""{"type":"record","name":"u","fields":[{"name":"x","type":$union},{"name":"y","type":"string"}]}"""
    unions.foreach { case (id, u) => reg.register(id, schemaJson(u)) }
    def stock(id: Int, union: String, x: java.lang.Long): Array[Byte] = {
      val schema = new org.apache.avro.Schema.Parser().parse(schemaJson(union))
      val rec = new GenericData.Record(schema)
      rec.put("x", x); rec.put("y", "hello")
      val out = new java.io.ByteArrayOutputStream()
      out.write(0); out.write(java.nio.ByteBuffer.allocate(4).putInt(id).array())
      val enc = EncoderFactory.get().binaryEncoder(out, null)
      new GenericDatumWriter[GenericRecord](schema).write(rec, enc)
      enc.flush()
      out.toByteArray
    }
    for ((id, u) <- unions; x <- Seq[java.lang.Long](5L, null)) {
      val p = stock(id, u, x)
      val want = Row(x, "hello")
      assert(reg.decode(p) == Some((id, want)), s"$u x=$x: decode")
      assert(reg.encode(id, want).sameElements(p), s"$u x=$x: encode")
      val body = () => java.nio.ByteBuffer.wrap(p, 5, p.length - 5).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val full = AvroLite.catalystReader(reg.lookup(id).get)(body())
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      assert(full.isNullAt(0) == (x == null) && (x == null || full.getLong(0) == 5L), s"$u x=$x: catalystReader")
      assert(full.getUTF8String(1).toString == "hello", s"$u x=$x: catalystReader")
      val skipped = AvroLite.catalystReader(reg.lookup(id).get, Some(Seq(1)))(body())
        .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
      assert(skipped.getUTF8String(0).toString == "hello", s"$u x=$x: skip")
      val typed = TypedDecode.withDecoded(raw(Seq(p)), reg, id).select("value.x", "value.y").collect()
      assert(typed.toSeq == Seq(want), s"$u x=$x: withDecoded")
    }
  }

  test("the rule leaves a plan without the decode untouched") {
    val df = spark.range(10).select((col("id") * 2).as("x")).groupBy("x").count()
    val plan = df.queryExecution.optimizedPlan
    assert(PruneTypedDecode(plan) eq plan)
  }
}
