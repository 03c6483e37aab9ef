package graft.records

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.avro.file.{DataFileConstants, DataFileStream}
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.spark.sql.functions._
import graft.testkit.SparkSpec
import KafkaWireCodec._

/** Golden-layout + self-read parity for the Iceberg v2 metadata exporter
  * (IcebergExport): the emitted `metadata/` tree follows the public spec's
  * file naming, OCF envelope, field-ids and required keys, and a reader
  * consuming ONLY those files reconstructs the same snapshot / file list /
  * schema as the native RecordTable path. */
class IcebergExportSpec extends SparkSpec {

  private def kb(s: String): Array[Byte] = s.getBytes("UTF-8")
  private val mapper = new ObjectMapper()

  private def segmentBytes(fromOffset: Long, nRecords: Int): Array[Byte] = {
    val rnd = new java.util.Random(fromOffset)
    val out = new java.io.ByteArrayOutputStream()
    var off = fromOffset
    while (off - fromOffset < nRecords) {
      val n = (off % 5 + 1).toInt
      val recs = (0 until n).map { i =>
        val v = new Array[Byte](40); rnd.nextBytes(v)
        (kb(s"key-${off + i}"), v, Seq.empty[Header])
      }
      out.write(writeBatch(buildBatch(off, 1700000000000L + off * 5, recs,
        producerId = 3L, producerEpoch = 1, baseSequence = off.toInt)))
      off += n
    }
    out.toByteArray
  }

  private def makeTable(): (String, RecordTable) = {
    val dir = Files.createTempDirectory("graft-iceberg").toString
    val table = new RecordTable(dir)
    table.appendSegment(spark, "seg-000",
      SegmentToRows.fromSegmentBytes(spark, Seq((0, segmentBytes(0, 20)))))
    table.appendSegment(spark, "seg-020",
      SegmentToRows.fromSegmentBytes(spark, Seq((0, segmentBytes(20, 20)))))
    table.appendSegment(spark, "seg-040",
      SegmentToRows.fromSegmentBytes(spark, Seq((0, segmentBytes(40, 20)))))
    (dir, table)
  }

  test("export writes the HadoopTables layout: version-hint, vN.metadata.json, snap/manifest avros") {
    val (dir, _) = makeTable()
    val mdPath = new IcebergExport(dir).export()
    val metaDir = Paths.get(dir, "metadata")
    assert(mdPath.getFileName.toString == "v1.metadata.json")
    assert(new String(Files.readAllBytes(metaDir.resolve("version-hint.text")), "UTF-8") == "1")
    val names = scala.util.Using.resource(Files.list(metaDir))(
      _.iterator().asScala.map(_.getFileName.toString).toVector)
    assert(names.count(_.matches("snap-\\d+-1-[0-9a-f-]+\\.avro")) == 3, s"got $names") // one list per snapshot
    assert(names.count(_.matches("[0-9a-f-]+-m0\\.avro")) == 3) // one manifest per snapshot
    // re-export bumps the version and the hint, nothing else breaks
    val md2 = new IcebergExport(dir).export()
    assert(md2.getFileName.toString == "v2.metadata.json")
    assert(new String(Files.readAllBytes(metaDir.resolve("version-hint.text")), "UTF-8") == "2")
  }

  test("metadata.json carries the spec's required v2 keys and an unpartitioned spec") {
    val (dir, table) = makeTable()
    val md = mapper.readTree(Files.readString(new IcebergExport(dir).export()))
    for (k <- Seq("format-version", "table-uuid", "location", "last-sequence-number",
        "last-updated-ms", "last-column-id", "schemas", "current-schema-id",
        "partition-specs", "default-spec-id", "last-partition-id", "sort-orders",
        "default-sort-order-id", "snapshots", "current-snapshot-id", "properties"))
      assert(md.has(k), s"metadata.json missing required key '$k'")
    assert(md.get("format-version").asInt() == 2)
    assert(md.get("partition-specs").get(0).get("fields").size() == 0)
    assert(md.get("current-snapshot-id").asLong() == table.snapshots().last.version)
    // every snapshot entry points at an existing manifest list with summary+sequence
    md.get("snapshots").elements().asScala.foreach { s =>
      assert(Files.exists(Paths.get(s.get("manifest-list").asText())))
      assert(s.has("sequence-number") && s.has("timestamp-ms"))
      assert(s.get("summary").get("operation").asText() == "append")
    }
    // deterministic table uuid: stable across exports
    assert(md.get("table-uuid").asText() == new IcebergExport(dir).tableUuid)
  }

  /** A stock reader over the Avro container file at `p`, with no reader
    * schema: it sees only what the file itself carries. */
  private def ocf(p: java.nio.file.Path): DataFileStream[GenericRecord] =
    new DataFileStream[GenericRecord](new java.io.ByteArrayInputStream(Files.readAllBytes(p)),
      new GenericDatumReader[GenericRecord]())

  private def avroFiles(dir: String): Vector[java.nio.file.Path] =
    scala.util.Using.resource(Files.list(Paths.get(dir, "metadata")))(
      _.iterator().asScala.filter(_.getFileName.toString.endsWith(".avro")).toVector).sorted

  test("manifest-list and manifest avros are real OCFs with spec field-ids") {
    val (dir, _) = makeTable()
    mapper.readTree(Files.readString(new IcebergExport(dir).export()))
    val metaDir = Paths.get(dir, "metadata")
    val lists = scala.util.Using.resource(Files.list(metaDir))(
      _.iterator().asScala.filter(_.getFileName.toString.startsWith("snap-")).toVector)

    val listOcf = ocf(lists.head)
    assert(Files.readAllBytes(lists.head).take(4).sameElements(DataFileConstants.MAGIC))
    val listSchema = mapper.readTree(listOcf.getMetaString("avro.schema"))
    val listIds = listSchema.get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("field-id").asInt()).toMap
    assert(listIds("manifest_path") == 500 && listIds("manifest_length") == 501)
    assert(listIds("content") == 517 && listIds("sequence_number") == 515)
    assert(listOcf.getMetaString("format-version") == "2")

    val mrow = listOcf.next()
    val manifestPath = Paths.get(mrow.get("manifest_path").toString)
    val manifestOcf = ocf(manifestPath)
    assert(mrow.get("manifest_length") == Files.size(manifestPath))
    val entrySchema = mapper.readTree(manifestOcf.getMetaString("avro.schema"))
    val entryIds = entrySchema.get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("field-id").asInt()).toMap
    assert(entryIds("status") == 0 && entryIds("data_file") == 2)
    val dfIds = entrySchema.get("fields").elements().asScala
      .find(_.get("name").asText() == "data_file").get
      .get("type").get("fields").elements().asScala
      .map(f => f.get("name").asText() -> f.get("field-id").asInt()).toMap
    assert(dfIds("file_path") == 100 && dfIds("file_format") == 101)
    assert(dfIds("record_count") == 103 && dfIds("file_size_in_bytes") == 104)
    assert(dfIds("content") == 134 && dfIds("lower_bounds") == 125 && dfIds("upper_bounds") == 128)
    // manifests carry the required key metadata
    for (k <- Seq("schema", "partition-spec", "partition-spec-id", "format-version", "content"))
      assert(manifestOcf.getMetaString(k) != null, s"manifest OCF missing '$k'")
  }

  test("self-reader parity: snapshot, file list, counts, offset bounds, schema") {
    val (dir, table) = makeTable()
    val exp = new IcebergExport(dir)
    exp.export()
    val state = exp.readState()
    val native = table.listManifests()

    assert(state.formatVersion == 2)
    assert(state.currentSnapshotId == table.snapshots().last.version)
    assert(state.snapshotIds == table.snapshots().map(_.version))

    // file lists match, absolute paths, record counts and bounds intact
    val nativeByPath = native.map(m =>
      Paths.get(dir).toAbsolutePath.normalize.resolve(m.file).toString -> m).toMap
    assert(state.currentFiles.map(_.path).sorted == nativeByPath.keys.toVector.sorted)
    state.currentFiles.foreach { f =>
      val m = nativeByPath(f.path)
      assert(f.recordCount == m.rowCount, s"${f.path} record_count")
      assert(f.fileSizeBytes == Files.size(Paths.get(f.path)))
      assert(f.lowerOffset.contains(m.minOffset) && f.upperOffset.contains(m.maxOffset))
    }
    // every file existed since its appending snapshot; seg-000 was ADDED at v1
    assert(state.currentFiles.map(_.addedSnapshotId).distinct.sorted == Vector(1L, 2L, 3L))
    assert(state.currentFiles.count(_.status == 1) == 1) // only the last snapshot's file is ADDED in v3

    // schema round-trips struct-equal to the native table schema
    assert(state.schema == table.currentSchema.get)
    // total rows visible through Iceberg metadata == native read
    assert(state.currentFiles.map(_.recordCount).sum == table.read(spark).count())
  }

  test("compaction: retired snapshots drop out of the exported history") {
    val (dir, table) = makeTable()
    val compacted = table.compact(spark, targetBytes = 1L << 30, minFiles = 2)
    assert(compacted.nonEmpty, "precondition: compaction merged the small files")
    val exp = new IcebergExport(dir)
    val md = mapper.readTree(Files.readString(exp.export()))
    // pre-compaction snapshots reference retired files -> unreadable -> not exported
    val snapIds = md.get("snapshots").elements().asScala.map(_.get("snapshot-id").asLong()).toVector
    assert(snapIds == table.snapshots().map(_.version))
    val state = exp.readState()
    assert(state.currentFiles.map(_.recordCount).sum == table.read(spark).count())
    assert(state.currentFiles.forall(_.path.contains("compact-")))
  }

  test("row-level mutations (deleteWhere, merge) export consistently: Iceberg view == native view") {
    val (dir, table) = makeTable()
    val n = table.deleteWhere(spark, col("kafka.offset").between(25L, 29L))
    assert(n == 5L, "precondition: the COW delete rewrote a file")
    val upd = table.read(spark).filter(col("kafka.offset") < 3L)
      .withColumn("topic", lit("merged"))
    table.merge(spark, upd, "kafka.offset", "merge-001")

    val exp = new IcebergExport(dir)
    exp.export()
    val state = exp.readState()
    // the exported current snapshot sees exactly the post-mutation table:
    // rewritten files replace originals, retired ones are gone
    val native = table.listManifests()
    val nativePaths = native.map(m =>
      Paths.get(dir).toAbsolutePath.normalize.resolve(m.file).toString).sorted
    assert(state.currentFiles.map(_.path).sorted == nativePaths.toVector)
    assert(state.currentFiles.map(_.recordCount).sum == table.read(spark).count())
    // snapshot history stays aligned (mutations are commits like any other)
    assert(state.snapshotIds == table.snapshots().map(_.version))
    assert(state.currentSnapshotId == table.snapshots().last.version)
  }

  test("re-export writes byte-identical manifest files that read back as written") {
    val (dir, _) = makeTable()
    val exp = new IcebergExport(dir)
    exp.export()
    val first = avroFiles(dir).map(p => p -> Files.readAllBytes(p))
    assert(first.size == 6)
    exp.export()
    // deterministic: the same table state gives the same bytes (golden-file property)
    assert(avroFiles(dir) == first.map(_._1))
    first.foreach { case (p, bytes) => assert(java.util.Arrays.equals(Files.readAllBytes(p), bytes), p) }
    // read with the expected schema, each file gives what a stock reader gets from its own
    first.map(_._1).foreach { p =>
      val schema = if (p.getFileName.toString.startsWith("snap-")) IcebergMetadata.ManifestListSchema
        else IcebergMetadata.ManifestSchema
      val stock = scala.util.Using.resource(ocf(p))(_.iterator().asScala.toVector)
      assert(IcebergMetadata.readAvro(p, schema) == stock, p)
    }
  }

  test("manifest files written by earlier builds' encoder decode to the same values") {
    // Written by the in-repo Avro container codec this reader replaced
    // (FIXTURES.md F9): the back-compat guarantee for exported tables.
    import IcebergMetadata.{ManifestListSchema, ManifestSchema, dataFile, readAvro}
    def fixture(name: String) = Paths.get(getClass.getResource(s"iceberg-fixture/$name").toURI)
    def plain(v: Any): Any = v match {
      case u: org.apache.avro.util.Utf8 => u.toString
      case x => x
    }
    val list = readAvro(fixture("snap-7-1-fixture.avro"), ManifestListSchema)
    assert(list.size == 1)
    val want = Map[String, Any]("manifest_path" -> "/warehouse/events/metadata/fixture-m0.avro",
      "manifest_length" -> 4242L, "partition_spec_id" -> 0, "content" -> 0, "sequence_number" -> 7L,
      "min_sequence_number" -> 5L, "added_snapshot_id" -> 7L, "added_files_count" -> 1,
      "existing_files_count" -> 2, "deleted_files_count" -> 0, "added_rows_count" -> 20L,
      "existing_rows_count" -> 27L, "deleted_rows_count" -> 0L)
    assert(ManifestListSchema.getFields.asScala.map(_.name).toSet == want.keySet)
    want.foreach { case (k, v) => assert(plain(list.head.get(k)) == v, k) }

    val entries = readAvro(fixture("fixture-m0.avro"), ManifestSchema)
    for (f <- Seq("snapshot_id", "sequence_number", "file_sequence_number"))
      assert(entries.map(e => Option(e.get(f))) == Seq(Some(7L), None, Some(5L)), f)
    entries.foreach { e =>
      val df = e.get("data_file").asInstanceOf[GenericRecord]
      assert(df.get("content") == 0 && plain(df.get("file_format")) == "PARQUET")
      assert(df.get("partition").asInstanceOf[GenericRecord].getSchema.getFields.isEmpty)
      Option(df.get("lower_bounds")).foreach { b =>
        assert(b.asInstanceOf[java.util.List[GenericRecord]].asScala.map(_.get("key")) == Seq(3))
      }
    }
    // a null snapshot_id is inherited from the manifest list's added_snapshot_id
    assert(entries.map(dataFile(_, 7L)) == Vector(
      IcebergDataFile("/warehouse/events/data/seg-040.parquet", 20L, 3150L, 1, 7L, Some(40L), Some(59L)),
      IcebergDataFile("/warehouse/events/data/seg-000.parquet", 15L, 2900L, 0, 7L, Some(0L), Some(14L)),
      IcebergDataFile("/warehouse/events/data/seg-020.parquet", 12L, 2710L, 0, 5L, None, None)))
  }

  test("malformed manifest files fail fast with IllegalArgumentException naming the file") {
    val (dir, _) = makeTable()
    new IcebergExport(dir).export()
    val list = avroFiles(dir).filter(_.getFileName.toString.startsWith("snap-")).head
    val badLength = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(DataFileConstants.MAGIC, 0, 4)
      Varint.writeVarlong(1L, out) // one metadata entry,
      Varint.writeVarlong(-3L, out) // whose key is -3 bytes long
      out.write(Array.fill[Byte](8)(0), 0, 8)
      out.toByteArray
    }
    val hugeCount = {
      val header = IcebergMetadata.avroFile("\"null\"",
        org.apache.avro.Schema.create(org.apache.avro.Schema.Type.NULL), Seq.empty, Map.empty)
      val out = new java.io.ByteArrayOutputStream()
      out.write(header, 0, header.length)
      Varint.writeVarlong(1L << 40, out); Varint.writeVarlong(0L, out) // 2^40 rows in 0 bytes
      out.write(header, header.length - 16, 16) // the sync marker
      out.toByteArray
    }
    val badSync = {
      val bytes = Files.readAllBytes(list)
      bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0x1).toByte
      bytes
    }
    Seq("bad-length" -> badLength, "huge-count" -> hugeCount, "bad-sync" -> badSync).foreach { case (name, bytes) =>
      val p = Files.write(Paths.get(dir, s"$name.avro"), bytes)
      val t0 = System.nanoTime()
      val e = intercept[IllegalArgumentException](IcebergMetadata.readAvro(p, IcebergMetadata.ManifestListSchema))
      assert(e.getMessage.contains(p.toString), e.getMessage)
      assert(System.nanoTime() - t0 < 5000000000L, s"$name: a corrupt file must fail at once")
    }
  }

  test("STOCK Apache Avro reads the manifest list and manifest (true interop)") {
    // org.apache.avro ships with Spark — a genuinely third-party reader:
    // if DataFileReader accepts these files, any Iceberg runtime's Avro
    // layer does too (Iceberg reads manifests through exactly this API).
    import org.apache.avro.file.{DataFileReader, SeekableByteArrayInput}
    import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
    def readAll(path: java.nio.file.Path): Vector[GenericRecord] = {
      val rd = new DataFileReader[GenericRecord](
        new SeekableByteArrayInput(Files.readAllBytes(path)),
        new GenericDatumReader[GenericRecord]())
      try Iterator.continually(rd).takeWhile(_.hasNext).map(_.next()).toVector
      finally rd.close()
    }
    val (dir, table) = makeTable()
    new IcebergExport(dir).export()
    val metaDir = Paths.get(dir, "metadata")
    val lists = scala.util.Using.resource(Files.list(metaDir))(
      _.iterator().asScala.filter(_.getFileName.toString.startsWith("snap-")).toVector).sorted

    val listRecords = readAll(lists.last)
    assert(listRecords.size == 1)
    val m = listRecords.head
    assert(m.get("content").asInstanceOf[Int] == 0)
    assert(m.get("added_snapshot_id").asInstanceOf[Long] == table.snapshots().last.version)
    val manifestPath = m.get("manifest_path").toString
    assert(m.get("manifest_length").asInstanceOf[Long] == Files.size(Paths.get(manifestPath)))

    val entries = readAll(Paths.get(manifestPath))
    val native = table.listManifests()
    assert(entries.size == native.size)
    val byPath = entries.map(e =>
      e.get("data_file").asInstanceOf[GenericRecord].get("file_path").toString -> e).toMap
    native.foreach { nm =>
      val abs = Paths.get(dir).toAbsolutePath.normalize.resolve(nm.file).toString
      val df = byPath(abs).get("data_file").asInstanceOf[GenericRecord]
      assert(df.get("record_count").asInstanceOf[Long] == nm.rowCount)
      assert(df.get("file_format").toString == "PARQUET")
      // bounds survive the stock decode: array-of-(key,value) map encoding
      val lower = df.get("lower_bounds").asInstanceOf[java.util.List[GenericRecord]].asScala
      val lowVal = java.nio.ByteBuffer.wrap(
        lower.head.get("value").asInstanceOf[java.nio.ByteBuffer].array())
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
      assert(lowVal == nm.minOffset)
    }
  }

  test("schema evolution keeps field-ids stable across exported schema versions") {
    val (dir, table) = makeTable()
    // evolve: new nullable top-level column via a widened append
    val extra = table.read(spark).limit(5)
      .withColumn("kafka", col("kafka")) // keep struct
      .withColumn("note", lit("x"))
    table.appendSegment(spark, "seg-extra", extra)
    val exp = new IcebergExport(dir)
    val md = mapper.readTree(Files.readString(exp.export()))
    val schemas = md.get("schemas").elements().asScala.toVector
    assert(schemas.size >= 2, "evolved table exports both schema versions")
    // shared columns carry the SAME id in every schema version
    def topIds(s: com.fasterxml.jackson.databind.JsonNode): Map[String, Int] =
      s.get("fields").elements().asScala.map(f => f.get("name").asText() -> f.get("id").asInt()).toMap
    val all = schemas.map(topIds)
    val shared = all.map(_.keySet).reduce(_ intersect _)
    shared.foreach { name =>
      assert(all.map(_(name)).distinct.size == 1, s"column '$name' changed field-id across versions")
    }
    // last-column-id covers every id used anywhere
    val maxId = {
      def allIds(n: com.fasterxml.jackson.databind.JsonNode): Iterator[Int] =
        n.findValues("id").asScala.iterator.map(_.asInt())
      schemas.flatMap(allIds).max
    }
    assert(md.get("last-column-id").asInt() >= maxId)
    // the current schema includes the evolved column and self-reads equal
    assert(exp.readState().schema == table.currentSchema.get)
  }

  test("export-only reader: DataFrame + SQL view + offset pruning equal the native read (r6)") {
    val (dir, table) = makeTable()
    new IcebergExport(dir).export()

    // 1. full read from ONLY metadata/ equals the native table read
    val viaExport = IcebergExportReader.read(spark, dir)
    val native = table.read(spark)
    assert(viaExport.schema == native.schema)
    def keyOffsets(df: org.apache.spark.sql.DataFrame): Vector[(Long, String)] =
      df.selectExpr("kafka.offset", "CAST(key_raw AS STRING)").collect()
        .map(r => (r.getLong(0), r.getString(1))).toVector.sorted
    assert(keyOffsets(viaExport) == keyOffsets(native))

    // 2. served as SQL: an r02-style aggregate over the registered view
    //    equals the same aggregate over the native read
    IcebergExportReader.registerView(spark, dir, "iceberg_export_tbl")
    val sqlRow = spark.sql(
      """SELECT COUNT(*) AS n, MIN(kafka.offset) AS lo, MAX(kafka.offset) AS hi,
        |       COUNT(DISTINCT kafka.offset) AS n_offsets
        |FROM iceberg_export_tbl""".stripMargin).head()
    val nat = native.selectExpr("COUNT(*)", "MIN(kafka.offset)",
      "MAX(kafka.offset)", "COUNT(DISTINCT kafka.offset)").head()
    assert(sqlRow == nat, s"SQL-over-export $sqlRow != native $nat")

    // 3. offset-range read: file skipping via the manifest bounds — the
    //    probe [25, 30] lives entirely in seg-020's file, so exactly ONE
    //    data file is planned, and rows are exact (residual filter)
    val ranged = IcebergExportReader.readOffsetRange(spark, dir, 25L, 30L)
    assert(ranged.inputFiles.length == 1,
      s"expected 1 pruned file, planned ${ranged.inputFiles.mkString(", ")}")
    val expect = native.where("kafka.offset BETWEEN 25 AND 30")
    assert(keyOffsets(ranged) == keyOffsets(expect))
    // empty probe outside all bounds plans zero files and returns nothing
    val empty = IcebergExportReader.readOffsetRange(spark, dir, 1000L, 2000L)
    assert(empty.inputFiles.isEmpty && empty.count() == 0L)
  }
}
