package graft.records

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** THE central analytic table schema: one row per Kafka record with full
  * batch metadata, headers, and key/value (decoded and/or raw) — mirrors
  * `iceberg/data/RowSchema.java:50-86` / FIXTURES.md F6.
  */
object RowSchema {

  val kafkaStruct: StructType = StructType(Seq(
    StructField("partition", IntegerType, nullable = false),
    StructField("offset", LongType, nullable = false),
    StructField("timestamp", LongType, nullable = false),
    StructField("batch_byte_offset", IntegerType, nullable = false),
    StructField("batch_base_offset", LongType, nullable = false),
    StructField("batch_partition_leader_epoch", IntegerType, nullable = false),
    StructField("batch_magic", IntegerType, nullable = false),
    StructField("batch_timestamp_type", IntegerType, nullable = false),
    StructField("batch_compression_type", IntegerType, nullable = false),
    StructField("batch_max_timestamp", LongType, nullable = false),
    StructField("batch_producer_id", LongType, nullable = false),
    StructField("batch_producer_epoch", IntegerType, nullable = false),
    StructField("batch_base_sequence", IntegerType, nullable = false)))

  val headersType: ArrayType = ArrayType(StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", BinaryType, nullable = true))), containsNull = false)

  /** Raw schema (no registry): key/value as raw bytes only. Registry-decoded
    * variants add typed `key`/`value` columns via [[SegmentToRows]]. */
  val rawSchema: StructType = StructType(Seq(
    StructField("kafka", kafkaStruct, nullable = false),
    StructField("headers", headersType, nullable = true),
    StructField("key_raw", BinaryType, nullable = true),
    StructField("value_raw", BinaryType, nullable = true)))

  /** Field `i` of [[kafkaStruct]] for the record at `offsetDelta` and
    * `timestampDelta` of batch `b` — the one definition of the record
    * metadata, shared by [[kafkaRow]] and the DSv2 reader's Catalyst
    * writer (which asks only for the fields a query requires). */
  def kafkaValue(b: KafkaWireCodec.BatchView, offsetDelta: Int, timestampDelta: Long,
                 partition: Int, i: Int): Any =
    i match {
      case 0  => partition
      case 1  => b.baseOffset + offsetDelta
      case 2  => b.baseTimestamp + timestampDelta
      case 3  => b.byteOffset
      case 4  => b.baseOffset
      case 5  => b.partitionLeaderEpoch
      case 6  => b.magic.toInt
      case 7  => b.timestampType
      case 8  => b.compressionType
      case 9  => b.maxTimestamp
      case 10 => b.producerId
      case 11 => b.producerEpoch.toInt
      case 12 => b.baseSequence
      case _  => throw new IndexOutOfBoundsException(s"kafka field $i")
    }

  def kafkaRow(b: KafkaWireCodec.BatchView, r: KafkaWireCodec.Record, partition: Int): Row =
    Row.fromSeq(Seq.tabulate(kafkaStruct.length)(kafkaValue(b, r.offsetDelta, r.timestampDelta, partition, _)))

  def recordRow(b: KafkaWireCodec.BatchView, r: KafkaWireCodec.Record, partition: Int): Row =
    Row(
      kafkaRow(b, r, partition),
      r.headers.map(h => Row(h.key, h.value)),
      r.key,
      r.value)
}

/** I1 — the segment→records generator: explode a binary segment into
  * RowSchema rows. Distributed: one segment per task via `binaryFile` or an
  * in-memory dataset of (partition, bytes).
  */
object SegmentToRows {

  private def recordRows(bytes: Array[Byte], partition: Int): Iterator[Row] =
    KafkaWireCodec.batchViews(bytes).flatMap { b =>
      val c = b.cursor
      Iterator.continually(c).takeWhile(_.next()).map(c => RowSchema.recordRow(b, c.record, partition))
    }

  def fromSegmentBytes(spark: SparkSession, segments: Seq[(Int, Array[Byte])]): DataFrame = {
    val rows = spark.sparkContext.parallelize(segments, math.max(segments.size, 1))
      .flatMap { case (partition, bytes) => recordRows(bytes, partition) }
    spark.createDataFrame(rows, RowSchema.rawSchema)
  }

  /** Read ONE segment by exact path, bytes opened executor-side through
    * the Hadoop filesystem with NO glob expansion — `binaryFile`/`load()`
    * treat `[`, `{`, `*` in file names as glob metacharacters, so a
    * legally-named `seg[0].log` handed back from a streaming source would
    * wedge the stream with "Path does not exist". Only the path string
    * transits the driver. */
  def fromSegmentFile(spark: SparkSession, path: String, partition: Int = 0): DataFrame = {
    // ship the SESSION's Hadoop conf to the executor — a fresh
    // Configuration() would drop fs credentials/scheme settings
    // (spark.hadoop.*, fs.s3a.*, …) and fail on any configured filesystem
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val rows = spark.sparkContext.parallelize(Seq(path), 1).flatMap { p =>
      val hp =
        try new org.apache.hadoop.fs.Path(new java.net.URI(p))
        catch { case _: Exception => new org.apache.hadoop.fs.Path(p) }
      val fs = hp.getFileSystem(conf.value)
      val in = fs.open(hp)
      val bytes = try in.readAllBytes() finally in.close()
      recordRows(bytes, partition)
    }
    spark.createDataFrame(rows, RowSchema.rawSchema)
  }
}
