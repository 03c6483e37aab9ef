package graft.core

import java.util.Base64
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core.transform.Transforms

/** `(position, size)` of one Kafka index inside the concatenated `indexes`
  * object (ref `manifest/SegmentIndexV1.java`). */
final case class SegmentIndex(position: Int, size: Int) {
  def range: BytesRange = BytesRange.ofFromPositionAndSize(position.toLong, size.toLong)
}

/** The five named Kafka index byte-ranges (transaction nullable).
  * Ref `manifest/SegmentIndexesV1.java:26-100`. */
final case class SegmentIndexes(
    offset: SegmentIndex,
    timestamp: SegmentIndex,
    producerSnapshot: SegmentIndex,
    leaderEpoch: SegmentIndex,
    transaction: Option[SegmentIndex]
) {
  def apply(indexType: String): Option[SegmentIndex] = indexType match {
    case "offset"           => Some(offset)
    case "timestamp"        => Some(timestamp)
    case "producerSnapshot" => Some(producerSnapshot)
    case "leaderEpoch"      => Some(leaderEpoch)
    case "transaction"      => transaction
    case other              => throw new IllegalArgumentException(s"unknown index type $other")
  }
}

/** Encryption metadata carried in the manifest: which RSA key wrapped the
  * AES data key, the wrapped key, and the AAD (ref
  * `manifest/serde/EncryptionSerdeModule.java`, `DataKeySerializer.java`).
  * `wrapAlg` selects the unwrap cipher per segment: since r3 this engine
  * wraps with the reference's OAEP-SHA3-512 parameters
  * (`RsaEncryptionProvider.java:42`, replicated via JDK OAEPParameterSpec)
  * and still unwraps the pre-r3 RSA-OAEP-SHA256 blobs; a reader seeing an
  * unknown `wrapAlg` fails with "incompatible wrap algorithm" instead of a
  * bad-padding error. The case-class default stays SHA256 so that manifests
  * parsed from pre-r3 JSON (no field) claim what those builds wrapped with;
  * write paths pass the ring's algorithm explicitly. */
final case class EncryptionMetadata(
    keyId: String, wrappedDataKey: Array[Byte], aad: Array[Byte],
    wrapAlg: String = SegmentManifest.WrapAlgOaepSha256)

/** Exact per-segment record statistics, computed by the upload job from
  * the payload it is already serializing (r7): lets metadata-only queries
  * — `count(*)`, `min/max(kafka.offset)`, `min/max(kafka.timestamp)` —
  * answer from the manifest without fetching a byte of log data
  * ([[graft.sources.v2.GraftSegments]] aggregate pushdown). OPTIONAL and
  * self-describing: reference-written manifests (and payloads that are
  * not Kafka wire) simply omit it, and readers fall back to the payload. */
final case class RecordStats(
    count: Long, minOffset: Long, maxOffset: Long,
    minTimestamp: Long, maxTimestamp: Long)

/** Versioned per-segment manifest: chunk index + index ranges + transform
  * flags. Ref `manifest/SegmentManifestV1.java:30-77`; JSON field layout per
  * FIXTURES.md F3.
  */
final case class SegmentManifest(
    chunkIndex: ChunkIndex,
    segmentIndexes: Option[SegmentIndexes],
    compression: Boolean,
    encryption: Option[EncryptionMetadata],
    /** Self-describing chunk codec (when `compression`), one of
      * [[Transforms.Codecs]]: the upload job writes "zstd" by
      * default — raw frames byte-compatible with the reference's write path
      * (`CompressionChunkEnumeration.java:52-62`, via the zstd-jni that
      * ships with Spark) — and "lz4" or "deflate" when configured. The
      * case-class default "lz4" is what pre-r3 manifests without the field
      * were written with. Declaring the codec in the manifest makes the
      * boundary explicit: a reader without a codec sees its name and can
      * reject cleanly instead of failing mid-detransform. */
    compressionCodec: String = Transforms.CodecNameLz4,
    /** Exact record stats for metadata-only aggregates (see
      * [[RecordStats]]); None when the writer could not parse the payload
      * as Kafka wire, or for reference-written manifests. */
    recordStats: Option[RecordStats] = None
) {
  def toJson: String = SegmentManifest.toJson(this)
}

object SegmentManifest {
  val Version = "1"
  val WrapAlgOaepSha256: String = security.RsaKeyRing.WrapAlgSha256
  val WrapAlgOaepSha3512: String = security.RsaKeyRing.WrapAlgSha3512

  /** Bound on a decoded `transformedChunks` blob — the reference's
    * deserializer guard (`TransformedChunksDeserializer.java:33`, 10 MiB —
    * a zstd-bomb backstop for untrusted manifests). */
  val MaxTransformedChunksBytes: Long = 10L * 1024 * 1024
  private val mapper = new ObjectMapper()
  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)
  private def unb64(s: String): Array[Byte] = Base64.getDecoder.decode(s)

  def toJson(m: SegmentManifest): String = {
    val root = mapper.createObjectNode()
    root.put("version", Version)
    val ci = root.putObject("chunkIndex")
    m.chunkIndex match {
      case f: FixedSizeChunkIndex =>
        ci.put("type", "fixed")
        ci.put("originalChunkSize", f.originalChunkSize)
        ci.put("originalFileSize", f.originalFileSize)
        ci.put("transformedChunkSize", f.transformedChunkSize)
        ci.put("finalTransformedChunkSize", f.finalTransformedChunkSize)
      case v: VariableSizeChunkIndex =>
        ci.put("type", "variable")
        ci.put("originalChunkSize", v.originalChunkSize)
        ci.put("originalFileSize", v.originalFileSize)
        ci.put("transformedChunks", b64(ChunkSizesBinaryCodec.encode(v.transformedChunks)))
    }
    m.segmentIndexes match {
      case Some(si) =>
        val n = root.putObject("segmentIndexes")
        def putIdx(name: String, i: SegmentIndex): Unit = {
          val o = n.putObject(name)
          o.put("position", i.position); o.put("size", i.size)
        }
        putIdx("offset", si.offset)
        putIdx("timestamp", si.timestamp)
        putIdx("producerSnapshot", si.producerSnapshot)
        putIdx("leaderEpoch", si.leaderEpoch)
        si.transaction match {
          case Some(t) => putIdx("transaction", t)
          case None    => n.putNull("transaction")
        }
      case None => root.putNull("segmentIndexes")
    }
    root.put("compression", m.compression)
    if (m.compression) root.put("compressionCodec", m.compressionCodec)
    m.encryption match {
      case Some(e) =>
        val n = root.putObject("encryption")
        n.put("keyId", e.keyId)
        n.put("dataKey", b64(e.wrappedDataKey))
        n.put("aad", b64(e.aad))
        n.put("wrapAlg", e.wrapAlg)
      case None => root.putNull("encryption")
    }
    m.recordStats.foreach { rs =>
      val n = root.putObject("recordStats")
      n.put("count", rs.count)
      n.put("minOffset", rs.minOffset); n.put("maxOffset", rs.maxOffset)
      n.put("minTimestamp", rs.minTimestamp); n.put("maxTimestamp", rs.maxTimestamp)
    }
    mapper.writeValueAsString(root)
  }

  def fromJson(json: String): SegmentManifest = {
    val root = mapper.readTree(json)
    val ci = root.get("chunkIndex")
    val chunkIndex: ChunkIndex = ci.get("type").asText() match {
      case "fixed" =>
        FixedSizeChunkIndex(
          ci.get("originalChunkSize").asInt(),
          ci.get("originalFileSize").asInt(),
          ci.get("transformedChunkSize").asInt(),
          ci.get("finalTransformedChunkSize").asInt())
      case "variable" =>
        // Reference manifests zstd-compress the binary-codec bytes before
        // base64 (`index/serde/TransformedChunksSerializer.java:33-52`); we
        // store them raw. The zstd frame magic discriminates: our codec's
        // first 4 bytes are the chunk count, which never plausibly equals
        // 0x28B52FFD (683M chunks).
        val raw = unb64(ci.get("transformedChunks").asText())
        val codecBytes =
          if (Transforms.isZstdFrame(raw)) Transforms.decompressZstd(raw, 0, MaxTransformedChunksBytes)
          else raw
        VariableSizeChunkIndex(
          ci.get("originalChunkSize").asInt(),
          ci.get("originalFileSize").asInt(),
          ChunkSizesBinaryCodec.decode(codecBytes))
      case other => throw new IllegalArgumentException(s"unknown chunk index type $other")
    }
    def idx(n: JsonNode): SegmentIndex = SegmentIndex(n.get("position").asInt(), n.get("size").asInt())
    val segmentIndexes = Option(root.get("segmentIndexes")).filter(!_.isNull).map { si =>
      SegmentIndexes(
        idx(si.get("offset")), idx(si.get("timestamp")), idx(si.get("producerSnapshot")),
        idx(si.get("leaderEpoch")),
        Option(si.get("transaction")).filter(!_.isNull).map(idx))
    }
    // Reference manifests carry `remoteLogSegmentMetadata`
    // (`SegmentManifestV1.java:88`) and ours never do — the layout
    // discriminator for the two defaults below.
    val isReference = root.has("remoteLogSegmentMetadata")
    val encryption = Option(root.get("encryption")).filter(!_.isNull).map { e =>
      if (e.has("keyId"))
        EncryptionMetadata(
          e.get("keyId").asText(), unb64(e.get("dataKey").asText()), unb64(e.get("aad").asText()),
          // absent in pre-r3 manifests -> this engine's only historical alg
          Option(e.get("wrapAlg")).filter(!_.isNull).map(_.asText()).getOrElse(WrapAlgOaepSha256))
      else {
        // Reference layout: dataKey = "<keyEncryptionKeyId>:<base64 wrapped>"
        // (`security/EncryptedDataKey.java:58-60`), wrapped with
        // OAEP-SHA3-512 (`RsaEncryptionProvider.java:42`).
        val s = Option(e.get("dataKey")).filter(!_.isNull).map(_.asText()).getOrElse(
          throw new IllegalArgumentException(
            "encryption metadata has neither keyId nor dataKey (stripped manifest?)"))
        val colon = s.indexOf(':')
        require(colon > 0 && colon == s.lastIndexOf(':'), s"malformed encrypted data key: $s")
        EncryptionMetadata(s.substring(0, colon), unb64(s.substring(colon + 1)),
          unb64(e.get("aad").asText()), WrapAlgOaepSha3512)
      }
    }
    val recordStats = Option(root.get("recordStats")).filter(!_.isNull).map { rs =>
      RecordStats(rs.get("count").asLong(),
        rs.get("minOffset").asLong(), rs.get("maxOffset").asLong(),
        rs.get("minTimestamp").asLong(), rs.get("maxTimestamp").asLong())
    }
    SegmentManifest(chunkIndex, segmentIndexes, root.get("compression").asBoolean(), encryption,
      Option(root.get("compressionCodec")).filter(!_.isNull).map(_.asText()).getOrElse(
        // the reference's only codec is zstd; our pre-r3 manifests were lz4
        if (isReference) Transforms.CodecNameZstd else Transforms.CodecNameLz4),
      recordStats)
  }
}
