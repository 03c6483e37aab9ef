package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The chunk-index math of SURVEY.md §2 (T4/T5, R1/R2) expressed as pure
  * relational arithmetic over the `documents` table, so the DuckDB oracle can
  * verify it: each document's `n_chars` plays the original file size, with
  * the engine's chunk grid and encryption overhead applied arithmetically.
  *
  * This is exactly how the Spark segment layer plans fetches at scale: chunk
  * metadata as *rows*, range selection as a prunable filter — never a
  * driver-side loop.
  */
object SegmentQueries {
  import Tables._

  /** Reference-recommended 4 MiB, scaled to the documents table (48-553 chars) so multi-chunk layouts actually occur. */
  val ChunkSize = 64
  /** AES-GCM per-chunk overhead: 12-byte IV + 16-byte tag (T3). */
  val EncOverhead = 28

  /** FixedSizeChunkIndex arithmetic (`FixedSizeChunkIndex.java:45-93`):
    * chunk count (ceil), final chunk size, total transformed size under
    * encryption's constant per-chunk overhead. */
  def q12ChunkIndex(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .select(
        col("doc_id"),
        col("n_chars"),
        expr(s"CASE WHEN n_chars = 0 THEN 0 ELSE (n_chars + ${ChunkSize - 1}) div $ChunkSize END")
          .as("chunk_count"))
      .select(
        col("doc_id"), col("n_chars"), col("chunk_count"),
        expr(s"CASE WHEN chunk_count = 0 THEN 0 ELSE n_chars - (chunk_count - 1) * $ChunkSize END")
          .as("final_chunk_size"),
        expr(s"CASE WHEN chunk_count = 0 THEN 0 ELSE (chunk_count - 1) * ${ChunkSize + EncOverhead} " +
          s"+ (n_chars - (chunk_count - 1) * $ChunkSize) + $EncOverhead END")
          .as("transformed_size"))

  /** `chunksForRange` (`AbstractChunkIndex.java:113-122`) as a relational
    * plan: explode each document's chunk grid, keep chunks overlapping the
    * requested original-byte range — the range predicate is what partition/
    * file pruning keys on at 100 TB. */
  def q13ChunksForRange(s: SparkSession, d: String): DataFrame = {
    val from = 100L
    val to = 300L // closed range [100, 300]
    documents(s, d)
      .select(col("doc_id"), col("n_chars"),
        expr(s"CASE WHEN n_chars = 0 THEN 0 ELSE (n_chars + ${ChunkSize - 1}) div $ChunkSize END")
          .as("chunk_count"))
      .filter(col("chunk_count") > 0)
      .select(col("doc_id"), col("n_chars"), col("chunk_count"),
        explode(sequence(lit(0L), col("chunk_count") - 1)).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id"),
        (col("chunk_id") * ChunkSize).as("orig_pos"),
        when(col("chunk_id") === col("chunk_count") - 1,
          col("n_chars") - (col("chunk_count") - 1) * ChunkSize)
          .otherwise(lit(ChunkSize.toLong)).as("orig_size"),
        (col("chunk_id") * (ChunkSize + EncOverhead)).as("trans_pos"))
      .filter(col("orig_pos") <= to && col("orig_pos") + col("orig_size") > from)
  }

  /** r01: the per-segment FORMAT SELECTOR's decision table (R11,
    * `InternalRemoteStorageManagerSelector.java:67-91`) as a relational
    * plan — a precedence union: each segment is served by the primary
    * format when its manifest exists there, else by the fallback. Modeled
    * over `documents` (doc ≙ segment; membership predicates ≙ manifest
    * presence in each store): FULL OUTER join + coalesce precedence, the
    * exact shape a catalog-reconciliation query runs at fleet scale. The
    * byte-level selector itself is [[graft.records.FormatSelector]]
    * (spec-asserted on mixed fleets); this query oracle-checks the routing
    * algebra. */
  def r01FormatRoute(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).selectExpr("doc_id", "CAST(n_chars AS BIGINT) AS n_chars")
    val k = docs.filter("doc_id % 3 != 0")
      .selectExpr("doc_id AS kid", "'kafka' AS kfmt", "n_chars AS kn")
    val r = docs.filter("doc_id % 2 = 0")
      .selectExpr("doc_id AS rid", "'records' AS rfmt", "n_chars AS rn")
    k.join(r, col("kid") === col("rid"), "full_outer")
      .selectExpr(
        "coalesce(kid, rid) AS segment_id",
        "coalesce(kfmt, rfmt) AS route",
        "coalesce(kn, rn) AS n_chars")
  }

  /** Segment count for [[r02IcebergStats]] — model-bounded (a driver loop
    * over 4 appends, like s06's K centroids), not data-sized. */
  val R02Buckets = 4

  /** r02: the ICEBERG EXPORT LOOP, oracle-gated end-to-end. Documents
    * become record rows (offset = doc_id), land in a fresh
    * [[graft.records.RecordTable]] as [[R02Buckets]] segments, the table
    * exports its Iceberg v2 metadata tree
    * ([[graft.records.IcebergExport]]), and the OUTPUT is read back
    * exclusively from the Iceberg files — version-hint → metadata.json →
    * Avro manifest list → Avro manifests → per-file record counts and
    * kafka.offset bounds. The DuckDB oracle recomputes the same numbers
    * straight from `documents`, so a pass certifies the whole chain:
    * append txn → snapshot → Avro manifest encoding (Apache Avro's
    * `DataFileWriter`) → spec field layout → bounds serialization →
    * self-read. (Spec-level golden checks live in IcebergExportSpec; this
    * row puts the whole loop under the oracle.) */
  def r02IcebergStats(s: SparkSession, d: String): DataFrame = {
    import graft.records.{IcebergExport, RecordTable}
    val rows = documents(s, d).selectExpr(
      "doc_id % " + R02Buckets + " AS bucket",
      s"""named_struct(
         |  'partition', 0,
         |  'offset', doc_id,
         |  'timestamp', 1700000000000 + doc_id,
         |  'batch_byte_offset', 0,
         |  'batch_base_offset', doc_id,
         |  'batch_partition_leader_epoch', 0,
         |  'batch_magic', 2,
         |  'batch_timestamp_type', 0,
         |  'batch_compression_type', 0,
         |  'batch_max_timestamp', 1700000000000 + doc_id,
         |  'batch_producer_id', CAST(-1 AS BIGINT),
         |  'batch_producer_epoch', -1,
         |  'batch_base_sequence', -1) AS kafka""".stripMargin,
      "CAST(array() AS ARRAY<STRUCT<key: STRING, value: BINARY>>) AS headers",
      "CAST(CONCAT('k', doc_id) AS BINARY) AS key_raw",
      "CAST(text AS BINARY) AS value_raw")
    val dir = java.nio.file.Files.createTempDirectory("graft-r02").toString
    val table = new RecordTable(dir)
    (0 until R02Buckets).foreach { b =>
      table.appendSegment(s, f"seg-$b%02d",
        rows.filter(col("bucket") === b).drop("bucket"))
    }
    val exp = new IcebergExport(dir)
    exp.export()
    val state = exp.readState()
    val SegRe = ".*seg-(\\d+)\\.parquet$".r
    val stats = state.currentFiles.map { f =>
      val SegRe(b) = f.path
      (b.toLong, f.recordCount, f.lowerOffset.get, f.upperOffset.get)
    }
    import s.implicits._
    stats.toDF("bucket", "n_rows", "min_off", "max_off")
  }

  /** Records per tiered segment in [[r03TimeRangeScan]]'s store — a fixed
    * width, so the segment count grows with the corpus (the 100 TB shape)
    * while the time-range read plans O(range/width) of them. */
  val R03SegmentRows = 8192L

  /** One tiered store per corpus dir per process (see [[r03TimeRangeScan]]). */
  private val r03Stores = new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** r03: the TIME-RANGE SCAN over tiered segments, end-to-end through the
    * `graft-segments` DSv2 source (r8, VERDICT r7 task 1). Documents become
    * Kafka records (offset = doc_id, timestamp = epoch + doc_id), ride the
    * DSv2 WRITE path into a fresh tiered store ([[R03SegmentRows]]-record
    * segments, manifest `RecordStats` computed by the upload job), and the
    * OUTPUT is `spark.read.format("graft-segments")` filtered to a
    * timestamp range — the "what happened since yesterday" ops query. The
    * scan prunes segments by manifest stats bounds
    * ([[graft.sources.v2.SegmentCatalog.statsPrune]]): at 100 TB the range
    * plans only the segments whose interval intersects, fetching none of
    * the rest (partition-count assertions live in GraftSegmentsSourceSpec;
    * this row makes the pruned read oracle-visible — DuckDB recomputes the
    * same rows straight from `documents`). */
  def r03TimeRangeScan(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val T0 = 1700000000000L
    val rows = documents(s, d).selectExpr(
      s"concat('docs-', lpad(CAST((doc_id div $R03SegmentRows) * $R03SegmentRows AS STRING), 20, '0')) AS segment_key",
      s"""named_struct(
         |  'partition', 0,
         |  'offset', doc_id,
         |  'timestamp', $T0 + doc_id,
         |  'batch_byte_offset', 0,
         |  'batch_base_offset', doc_id,
         |  'batch_partition_leader_epoch', 0,
         |  'batch_magic', 2,
         |  'batch_timestamp_type', 0,
         |  'batch_compression_type', 0,
         |  'batch_max_timestamp', $T0 + doc_id,
         |  'batch_producer_id', CAST(-1 AS BIGINT),
         |  'batch_producer_epoch', -1,
         |  'batch_base_sequence', -1) AS kafka""".stripMargin,
      "CAST(array() AS ARRAY<STRUCT<key: STRING, value: BINARY>>) AS headers",
      "CAST(CONCAT('k', doc_id) AS BINARY) AS key_raw",
      "CAST(text AS BINARY) AS value_raw")
    // ONE store per (sfDir, process) — bench/probe harnesses invoke each
    // query up to 3× (warmup + passes), and a corpus-sized segment copy
    // per invocation exhausts /tmp at replica scale (r9, advisor; the
    // disk-exhaustion failure mode that crashed two r7 probe runs). The
    // first invocation writes, the rest re-read; the tree is removed on
    // JVM exit.
    val store = r03Stores.computeIfAbsent(d, { _ =>
      val p = java.nio.file.Files.createTempDirectory("graft-r03")
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        graft.streaming.EventStreams.deleteTree(p)))
      rows.repartition(col("segment_key"))
        .write.format("graft-segments").option("root", p.toString).mode("append").save()
      p.toString
    })
    s.read.format("graft-segments").option("root", store).load()
      .filter(col("kafka.timestamp") >= T0 + 100L && col("kafka.timestamp") <= T0 + 1100L)
      .select(
        col("kafka.offset").as("doc_id"),
        col("kafka.timestamp").as("ts"),
        org.apache.spark.sql.functions.length(col("value_raw").cast("string"))
          .cast("long").as("n_chars"))
  }
}
