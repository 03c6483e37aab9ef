package graft.bench

import graft.core.security.AesEncryptionProvider
import graft.core.transform.{TransformPipeline, TransformSpec}
import graft.operators.{SegmentCompressionChecker, SegmentJobConfig}
import graft.records.{KafkaWireCodec, RegistryEnvelope}

/** Layer probes: direct timed calls into the segment-side layers on the
  * workload's own generated segments, with the workload's own transform
  * settings. Each figure is the median of three repetitions. */
object Probes {
  private def timedS[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def median3[T](body: => T): (T, Double) = {
    val runs = (1 to 3).map(_ => timedS(body))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  def segments(store: EventGen.Store, registry: RegistryEnvelope,
               cfg: SegmentJobConfig): Map[String, Double] = {
    val payloads = store.segments.map(_.bytes)
    val mb = store.bytes / Stats.MB
    val ring = cfg.ring
    val dk = AesEncryptionProvider.createDataKeyAndAAD()
    val specs = payloads.map(p => TransformSpec(cfg.chunkSize,
      cfg.compression && SegmentCompressionChecker.shouldCompress(p), Some(dk.dataKey), dk.aad,
      cfg.compressionCodec))

    val (transformed, encodeS) = median3(payloads.zip(specs).map { case (p, s) => TransformPipeline.transform(p, s) })
    val (_, decodeS) = median3(transformed.zip(specs).foreach { case (t, s) => TransformPipeline.detransformAll(t, s) })
    val storedBytes = transformed.map(_.index.transformedFileSize.toLong).sum

    val wraps = 20
    val (wrapped, wrapS) = median3((1 to wraps).map(_ => ring.wrapDataKey(dk.dataKey)).last)
    val (_, unwrapS) = median3((1 to wraps).foreach(_ => ring.unwrapDataKey(wrapped._1, wrapped._2)))

    val (batches, parseS) = median3(payloads.map(KafkaWireCodec.parseSegment))
    val values = batches.flatMap(_.flatMap(_.records.map(_.value)))
    val (_, avroS) = median3(values.foreach(v => registry.decode(v)))

    Map(
      "transform.encode_mbps" -> mb / encodeS,
      "transform.decode_mbps" -> mb / decodeS,
      "transform.compress_ratio" -> storedBytes.toDouble / store.bytes,
      "security.wrap_ms" -> wrapS * 1000 / wraps,
      "security.unwrap_ms" -> unwrapS * 1000 / wraps,
      "records.wire_parse_mbps" -> mb / parseS,
      "records.avro_decode_krps" -> values.size / avroS / 1000)
  }
}

