package graft.records

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.testkit.SparkSpec
import KafkaWireCodec._

/** The record-layer analytic path end-to-end (SURVEY §3.3): segment bytes →
  * RowSchema rows → parquet table (+ manifests) → pruned read → regroup →
  * byte-identical wire batches. */
class RecordTableSpec extends SparkSpec {

  private def kb(s: String): Array[Byte] = s.getBytes("UTF-8")

  /** Two segments of producer-style batches (contiguous offsets, delta-0
    * first records). */
  private def makeSegments(): (Array[Byte], Array[Byte], Long) = {
    val rnd = new java.util.Random(11)
    def segment(fromOffset: Long, minRecords: Int): (Array[Byte], Long) = {
      val out = new java.io.ByteArrayOutputStream()
      var off = fromOffset
      while (off - fromOffset < minRecords) {
        val n = (off % 7 + 1).toInt
        val recs = (0 until n).map { i =>
          val v = new Array[Byte](100); rnd.nextBytes(v)
          (kb(s"key-${off + i}"), v, if (i == 0) Seq(Header("h", kb("x"))) else Seq.empty)
        }
        out.write(writeBatch(buildBatch(off, 1700000000000L + off * 5, recs,
          producerId = 9L, producerEpoch = 1, baseSequence = off.toInt)))
        off += n
      }
      (out.toByteArray, off)
    }
    val (seg1, next) = segment(0, 60)
    val (seg2, end) = segment(next, 60)
    (seg1, seg2, end)
  }

  test("segment → rows → table → pruned read → regrouped wire bytes (byte-identical)") {
    val (seg1, seg2, endOffset) = makeSegments()
    val tableDir = Files.createTempDirectory("graft-table").toString
    val table = new RecordTable(tableDir)

    val rows1 = SegmentToRows.fromSegmentBytes(spark, Seq((0, seg1)))
    val rows2 = SegmentToRows.fromSegmentBytes(spark, Seq((0, seg2)))
    val m1 = table.appendSegment(spark, "seg-000", rows1)
    val m2 = table.appendSegment(spark, "seg-060", rows2)
    assert(m1.minOffset == 0 && m2.minOffset == m1.maxOffset + 1)
    assert(m1.rowCount + m2.rowCount == endOffset)

    // file-level pruning: a start offset inside segment 2 must touch only its file
    val pruned = table.read(spark, startOffset = m2.minOffset)
    assert(pruned.select(min(col("kafka.offset"))).head().getLong(0) == m2.minOffset)
    val prunedFiles = pruned.select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(prunedFiles.length == 1 && prunedFiles.head.contains("seg-060"))

    // full read + regroup + re-serialize = original bytes
    val all = table.read(spark)
    assert(all.count() == endOffset)
    val wire = BatchReserializer.toWireBatches(spark, all)
      .orderBy(col("base_offset")).collect()
    val rebuilt = wire.flatMap(_.getAs[Array[Byte]]("wire_bytes"))
    val original = seg1 ++ seg2
    assert(java.util.Arrays.equals(rebuilt, original),
      s"re-serialized segment differs: ${rebuilt.length} vs ${original.length} bytes")
  }

  test("producer-compressed segment (mixed codecs) → table → re-serialized byte-identical") {
    // batches cycle through all five producer codecs inside ONE segment —
    // the records path must parse each interior and re-serialize with the
    // ORIGINAL codec (attributes reconstructed from batch_compression_type)
    val codecs = Seq(CodecNone, CodecGzip, CodecSnappy, CodecLz4, CodecZstd)
    val out = new java.io.ByteArrayOutputStream()
    var off = 0L
    codecs.zipWithIndex.foreach { case (codec, i) =>
      val recs = (0 until 8).map { j =>
        (kb(s"key-${off + j}"), kb(s"compressible value $j " * 30), Seq.empty[Header])
      }
      out.write(writeBatch(buildBatch(off, 1700000000000L + i, recs,
        producerId = 9L, producerEpoch = 1, baseSequence = off.toInt, compression = codec)))
      off += 8
    }
    val seg = out.toByteArray
    val tableDir = Files.createTempDirectory("graft-table-codec").toString
    val table = new RecordTable(tableDir)
    table.appendSegment(spark, "seg-mixed", SegmentToRows.fromSegmentBytes(spark, Seq((0, seg))))
    val got = table.read(spark)
    assert(got.select(col("kafka.batch_compression_type")).distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == codecs)
    val rebuilt = BatchReserializer.toWireBatches(spark, got)
      .orderBy(col("base_offset")).collect()
      .flatMap(_.getAs[Array[Byte]]("wire_bytes"))
    assert(java.util.Arrays.equals(rebuilt, seg),
      s"mixed-codec re-serialization differs: ${rebuilt.length} vs ${seg.length} bytes")
  }

  test("predicate pushdown reaches the parquet scan") {
    val (seg1, _, _) = makeSegments()
    val tableDir = Files.createTempDirectory("graft-table2").toString
    val table = new RecordTable(tableDir)
    table.appendSegment(spark, "s", SegmentToRows.fromSegmentBytes(spark, Seq((0, seg1))))
    val plan = table.read(spark).filter(col("kafka.batch_byte_offset") >= 100)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("batch_byte_offset"),
      s"expected pushed filter in plan:\n$plan")
  }

  test("consume across batch borders: a byte range spanning batches parses to exactly its records") {
    // the reference e2e's key assertion (SingleBrokerTest.java:436-487):
    // fetching a segment slice that starts at a batch boundary yields the
    // records of the remaining batches, byte-exactly.
    val (seg1, _, _) = makeSegments()
    val batches = KafkaWireCodec.parseSegment(seg1)
    assert(batches.size >= 3)
    val cut = batches(2).byteOffset // start of third batch
    val tail = java.util.Arrays.copyOfRange(seg1, cut, seg1.length)
    val parsed = KafkaWireCodec.parseSegment(tail)
    assert(parsed.head.baseOffset == batches(2).baseOffset)
    assert(parsed.flatMap(_.records).size == batches.drop(2).flatMap(_.records).size)
    // and through the tiered-segment layer: upload, fetch [cut, end), parse
    val store = Files.createTempDirectory("border-store").toString
    val cfg = graft.operators.SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 1024)
    val storage = graft.sources.FileSystemStorage(store)
    assert(graft.operators.SegmentUploadJob.uploadOne(storage, cfg.ring, None, cfg, "seg", seg1).success)
    val fetched = graft.operators.SegmentFetchJob.fetchRange(cfg, "seg",
      graft.core.BytesRange(cut.toLong, seg1.length - 1L))
    assert(java.util.Arrays.equals(fetched, tail))
    assert(KafkaWireCodec.parseSegment(fetched).head.baseOffset == batches(2).baseOffset)
  }

  test("TypedDecode materializes registry-typed columns; unknown ids stay raw") {
    val regDir = Files.createTempDirectory("td-reg").toString
    val registry = SchemaRegistry(regDir)
    registry.register(3,
      """{"type":"record","name":"v","fields":[{"name":"s","type":"string"},{"name":"n","type":"long"}]}""")
    val out = new java.io.ByteArrayOutputStream()
    var off = 0L
    val framedValues = (0 until 10).map { i =>
      if (i % 3 == 0) s"plain-$i".getBytes // non-enveloped -> stays raw
      else registry.encode(3, org.apache.spark.sql.Row(s"s$i", i.toLong))
    }
    out.write(writeBatch(buildBatch(0L, 100L, framedValues.map(v => (kb("k"), v, Seq.empty[Header])))))
    val rows = SegmentToRows.fromSegmentBytes(spark, Seq((0, out.toByteArray)))
    val typed = TypedDecode.withDecoded(rows, registry, 3)
    assert(typed.schema("value").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    val got = typed.selectExpr("kafka.offset AS o", "value.s", "value.n").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(got(1L).contains("s1") && got(4L).contains("s4"))
    assert(got(0L).isEmpty && got(3L).isEmpty) // unknown envelope -> null typed, raw kept
    assert(typed.filter(col("value").isNull && col("value_raw").isNotNull).count() == 4)
  }

  test("TypedDecode is one column expression: evaluated once per row, existing outCol replaced") {
    val registry = SchemaRegistry(Files.createTempDirectory("td-plan").toString)
    registry.register(3,
      """{"type":"record","name":"v","fields":[{"name":"s","type":"string"},{"name":"n","type":"long"}]}""")
    val out = new java.io.ByteArrayOutputStream()
    val values = (0 until 6).map(i => registry.encode(3, org.apache.spark.sql.Row(s"s$i", i.toLong)))
    out.write(writeBatch(buildBatch(0L, 100L, values.map(v => (kb("k"), v, Seq.empty[Header])))))
    val rows = SegmentToRows.fromSegmentBytes(spark, Seq((0, out.toByteArray)))
    // two fields of the decoded struct: CollapseProject must not inline the
    // decode into each of them
    val typed = TypedDecode.withDecoded(rows, registry, 3)
      .select(col("value.s").as("s"), (col("value.n") * 2).as("n2"))
    def decodes[P <: org.apache.spark.sql.catalyst.plans.QueryPlan[P]](plan: P): Int =
      plan.collect { case p => p.expressions.map(_.collect {
        case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF
          if u.udfName.contains(TypedDecode.UdfName) => u
      }.size).sum }.sum
    assert(decodes(typed.queryExecution.optimizedPlan) == 1, typed.queryExecution.optimizedPlan)
    assert(decodes(typed.queryExecution.executedPlan) == 1, typed.queryExecution.executedPlan)
    assert(typed.collect().map(r => r.getString(0) -> r.getLong(1)).toSet ==
      (0 until 6).map(i => s"s$i" -> 2L * i).toSet)
    // an existing outCol is replaced in place, not duplicated
    val replaced = TypedDecode.withDecoded(rows.withColumn("value", lit("stale")), registry, 3)
    assert(replaced.columns.count(_ == "value") == 1)
    assert(replaced.schema("value").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(replaced.select("value.s").collect().map(_.getString(0)).toSet == (0 until 6).map(i => s"s$i").toSet)
  }

  test("TypedDecode with a non-record top-level schema") {
    val registry = SchemaRegistry(Files.createTempDirectory("td-prim").toString)
    registry.register(5, """"string"""")
    registry.register(6, """{"type":"array","items":"long"}""")
    val out = new java.io.ByteArrayOutputStream()
    val values = Seq(registry.encode(5, "alpha"), registry.encode(6, Seq(1L, 2L)), kb("raw"),
      registry.encode(5, "beta"))
    out.write(writeBatch(buildBatch(0L, 100L, values.map(v => (kb("k"), v, Seq.empty[Header])))))
    val rows = SegmentToRows.fromSegmentBytes(spark, Seq((0, out.toByteArray)))
    val strings = TypedDecode.withDecoded(rows, registry, 5, outCol = "s")
    assert(strings.schema("s").dataType == org.apache.spark.sql.types.StringType)
    assert(strings.orderBy("kafka.offset").select("s").collect().map(_.getString(0)).toSeq ==
      Seq("alpha", null, null, "beta")) // foreign id and no envelope -> null
    val longs = TypedDecode.withDecoded(rows, registry, 6, outCol = "xs")
    assert(longs.schema("xs").dataType ==
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))
    assert(longs.filter(col("xs").isNotNull).select("xs").collect().map(_.getSeq[Long](0)).toSeq ==
      Seq(Seq(1L, 2L)))
    assert(longs.filter(col("value_raw").isNotNull).count() == 4) // raw column kept
  }

  test("schema evolution on append: add nullable column, widen") {
    import org.apache.spark.sql.types._
    val tableDir = Files.createTempDirectory("graft-table3").toString
    val table = new RecordTable(tableDir)
    val (seg1, _, _) = makeSegments()
    val rows = SegmentToRows.fromSegmentBytes(spark, Seq((0, seg1)))
    table.appendSegment(spark, "a", rows)
    // second segment carries an extra decoded column
    val withExtra = rows.withColumn("value_decoded", lit("x"))
    table.appendSegment(spark, "b", withExtra)
    val schema = table.currentSchema.get
    assert(schema.fieldNames.contains("value_decoded") && schema("value_decoded").nullable)
    val readBack = table.read(spark)
    assert(readBack.filter(col("value_decoded").isNull).count() > 0)
    assert(readBack.filter(col("value_decoded") === "x").count() > 0)
  }
}
