package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.BytesRange
import graft.sources.{ObjectKey, StorageBackends}

/** SCRUB: distributed integrity audit of a tiered store — the ops job that
  * catches object-store bit rot, truncated uploads and key-rotation
  * mistakes BEFORE a consumer fetch does. The reference leaves this to
  * "fetch fails later"; an engine holding 100 TB of cold segments needs
  * the proactive pass (cf. HDFS block scanner / S3 inventory + checksum
  * audits).
  *
  * Per segment, in severity order (first failure wins):
  *
  *  1. `manifest-unreadable` — JSON parse / incompatible codec or wrap
  *     algorithm / unknown key id: the read spec is resolved here, uncached
  *     ([[SegmentFetchJob.resolve]]), so the audit sees the stored manifest;
  *  2. `log-missing` / `log-size-mismatch` — object gone, or its size
  *     differs from the chunk index's transformed extent (truncated or
  *     padded upload);
  *  3. `indexes-missing` / `indexes-size-mismatch` — the concatenated
  *     Kafka-index object vs the manifest's recorded extents;
  *  4. `detransform-failed` — full decrypt+decompress pass; AES-256-GCM
  *     authenticates EVERY chunk, so any flipped bit in the ciphertext
  *     surfaces here as a tag failure (this is why the scrub needs no
  *     separate per-chunk checksum: the cipher tag IS the checksum);
  *  5. `length-mismatch` — detransformed byte count vs the manifest's
  *     original file size;
  *  6. (opt-in `verifyWire`) `wire-invalid` — Kafka record-batch parse
  *     with CRC-32C enforcement over the reassembled original bytes; off
  *     by default because the segment layer is payload-agnostic.
  *
  * Scale shape: the driver lists manifest keys (one LIST per store); each
  * task scrubs its segments independently through the same core functions
  * the serving path uses — embarrassingly parallel, no shuffle, network
  * cost = one ranged GET per chunk exactly like a full fetch. Output is
  * one summary row per segment.
  */
object ScrubJob {

  final case class SegmentScrub(
      segment_key: String, ok: Boolean, issue: String,
      chunks: Int, bytes_checked: Long, wire_batches: Long)

  /** Scrub one segment (serving-path core — usable without Spark). */
  def scrubOne(cfg: SegmentJobConfig, segKey: String,
               verifyWire: Boolean = false): SegmentScrub =
    scrubWith(StorageBackends.forRoot(cfg.storageRoot), cfg, segKey, verifyWire)

  private def scrubWith(storage: graft.sources.StorageBackend, cfg: SegmentJobConfig,
                        segKey: String, verifyWire: Boolean): SegmentScrub = {
    def bad(issue: String, chunks: Int = 0, bytes: Long = 0L) =
      SegmentScrub(segKey, ok = false, issue, chunks, bytes, 0L)

    val (manifest, spec) =
      try SegmentFetchJob.resolve(storage, cfg, segKey)
      catch { case e: Exception => return bad(s"manifest-unreadable: ${e.getMessage}") }
    val nChunks = manifest.chunkIndex.chunks.size

    val logKey = s"$segKey.${ObjectKey.Suffix.Log.value}"
    if (!storage.exists(logKey)) return bad("log-missing", nChunks)
    val logSize = storage.size(logKey)
    val transformedSize = manifest.chunkIndex.transformedFileSize
    if (logSize != transformedSize)
      return bad(s"log-size-mismatch: stored $logSize != manifest $transformedSize", nChunks)

    manifest.segmentIndexes.foreach { si =>
      val idxKey = s"$segKey.${ObjectKey.Suffix.Indexes.value}"
      if (!storage.exists(idxKey)) return bad("indexes-missing", nChunks)
      val parts = Seq(Some(si.offset), Some(si.timestamp), Some(si.producerSnapshot),
        Some(si.leaderEpoch), si.transaction).flatten
      val expect = parts.map(i => i.position.toLong + i.size).foldLeft(0L)(math.max)
      val actual = storage.size(idxKey)
      if (actual != expect)
        return bad(s"indexes-size-mismatch: stored $actual != manifest $expect", nChunks)
    }

    val originalSize = manifest.chunkIndex.originalFileSize.toLong
    val original =
      try SegmentFetchJob.readRange(storage, segKey, manifest, spec, BytesRange(0, originalSize - 1))
      catch { case e: Exception => return bad(s"detransform-failed: ${e.getMessage}", nChunks) }
    if (original.length.toLong != originalSize)
      return bad(s"length-mismatch: detransformed ${original.length} != manifest $originalSize",
        nChunks, original.length.toLong)

    val batches =
      if (!verifyWire) 0L
      else
        try graft.records.KafkaWireCodec.batchViews(original).map { b =>
          val c = b.cursor
          while (c.next()) () // each record's length check, nothing copied
          1L
        }.sum
        catch { case e: Exception => return bad(s"wire-invalid: ${e.getMessage}", nChunks, originalSize) }

    SegmentScrub(segKey, ok = true, "", nChunks, originalSize, batches)
  }

  /** Distributed scrub of every manifested segment in the store. */
  def run(spark: SparkSession, cfg: SegmentJobConfig,
          verifyWire: Boolean = false): DataFrame = {
    import spark.implicits._
    val segKeys = ObjectKey.committedSegments(StorageBackends.forRoot(cfg.storageRoot), "")
    val cfgB = cfg
    val wire = verifyWire
    spark.createDataset(segKeys)
      .repartition(math.min(segKeys.size max 1, spark.sparkContext.defaultParallelism))
      // backend resolved once per PARTITION, not per segment, and threaded
      // through every read — metadata checks AND the detransform fetch —
      // so a provider whose handle is not cheap is fully amortized
      .mapPartitions { it =>
        val storage = StorageBackends.forRoot(cfgB.storageRoot)
        it.map(segKey => scrubWith(storage, cfgB, segKey, wire))
      }
      .toDF()
  }

  /** Streaming twin (r6, VERDICT r5 task 8): audit-on-INGEST. `arrivals`
    * is a streaming DataFrame with a `segment_key` column (the segment
    * upload/ingest notification stream — e.g. the tier-out job's result
    * stream, or a file-arrival source over manifest keys); each
    * micro-batch scrubs exactly the segments that just landed, emitting
    * the same [[SegmentScrub]] verdict rows as the batch [[run]].
    *
    * STATELESS by design — one verdict per arrival event, no watermark,
    * no state store: the operational "did my upload survive?" check
    * should fire once per segment at ingest time, while the batch scrub
    * remains the periodic full-store audit (bit rot after ingest). The
    * scrub kernel is the same `scrubWith` the batch path uses, backend
    * resolved once per partition per micro-batch. */
  def stream(spark: SparkSession, cfg: SegmentJobConfig, arrivals: DataFrame,
             verifyWire: Boolean = false): DataFrame = {
    import spark.implicits._
    val cfgB = cfg
    val wire = verifyWire
    arrivals.select("segment_key").as[String]
      .mapPartitions { it =>
        val storage = StorageBackends.forRoot(cfgB.storageRoot)
        it.map(segKey => scrubWith(storage, cfgB, segKey, wire))
      }
      .toDF()
  }
}
