package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** FIXTURES.md F3 — manifest JSON golden shapes, mirrors
  * `manifest/SegmentManifestV1SerdeTest.java`. */
class SegmentManifestSpec extends AnyFunSuite {

  private val fixedManifest = SegmentManifest(
    FixedSizeChunkIndex(100, 250, 110, 55),
    Some(SegmentIndexes(
      SegmentIndex(0, 100), SegmentIndex(100, 80), SegmentIndex(180, 64),
      SegmentIndex(244, 12), None)),
    compression = false,
    encryption = None)

  test("fixed-index manifest round-trips through JSON") {
    val json = fixedManifest.toJson
    assert(json.contains(""""version":"1""""))
    assert(json.contains(""""type":"fixed""""))
    assert(json.contains(""""transaction":null"""))
    assert(SegmentManifest.fromJson(json) == fixedManifest)
  }

  test("variable-index manifest round-trips, sizes base64-delta-encoded") {
    val m = SegmentManifest(
      VariableSizeChunkIndex(100, 250, Vector(30, 20, 10)),
      None, compression = true, encryption = None)
    val json = m.toJson
    assert(json.contains(""""type":"variable""""))
    assert(SegmentManifest.fromJson(json) == m)
  }

  test("encryption metadata round-trips (wrapped key + aad base64)") {
    val enc = EncryptionMetadata("k1", Array[Byte](1, 2, 3, 4), Array[Byte](9, 8, 7))
    val m = fixedManifest.copy(encryption = Some(enc))
    val back = SegmentManifest.fromJson(m.toJson)
    val be = back.encryption.get
    assert(be.keyId == "k1")
    assert(be.wrappedDataKey.toSeq == Seq[Byte](1, 2, 3, 4))
    assert(be.aad.toSeq == Seq[Byte](9, 8, 7))
  }

  test("transaction index present round-trips") {
    val m = fixedManifest.copy(segmentIndexes = fixedManifest.segmentIndexes.map(
      _.copy(transaction = Some(SegmentIndex(256, 24)))))
    assert(SegmentManifest.fromJson(m.toJson).segmentIndexes.get.transaction.contains(SegmentIndex(256, 24)))
  }

  test("segment index lookup by name") {
    val si = fixedManifest.segmentIndexes.get
    assert(si("offset").contains(SegmentIndex(0, 100)))
    assert(si("transaction").isEmpty)
    intercept[IllegalArgumentException](si("bogus"))
  }

  test("GOLDEN: manifest JSON layout is frozen (interop boundary is explicit)") {
    // The exact serialized form a compressed+encrypted manifest takes. If
    // this assertion ever fails, the on-disk format changed: bump the
    // version field and add a legacy-read path — do not silently reshape.
    val m = SegmentManifest(
      VariableSizeChunkIndex(64, 150, Vector(50, 40, 30)),
      None,
      compression = true,
      encryption = Some(EncryptionMetadata("key-1", Array[Byte](1, 2), Array[Byte](3))))
    val golden =
      """{"version":"1","chunkIndex":{"type":"variable","originalChunkSize":64,""" +
        """"originalFileSize":150,"transformedChunks":"AAAAAwAAACgBCgAAAAAe"},""" +
        """"segmentIndexes":null,"compression":true,"compressionCodec":"lz4",""" +
        """"encryption":{"keyId":"key-1","dataKey":"AQI=","aad":"Aw==","wrapAlg":"RSA-OAEP-SHA256"}}"""
    assert(m.toJson == golden, s"manifest layout changed:\n${m.toJson}\nvs golden:\n$golden")
    val back = SegmentManifest.fromJson(golden)
    assert(back.compressionCodec == "lz4")
    assert(back.encryption.get.wrapAlg == "RSA-OAEP-SHA256")
  }

  test("pre-r3 manifests (no codec/wrapAlg fields) read with historical defaults") {
    val legacy =
      """{"version":"1","chunkIndex":{"type":"fixed","originalChunkSize":100,""" +
        """"originalFileSize":250,"transformedChunkSize":110,"finalTransformedChunkSize":55},""" +
        """"segmentIndexes":null,"compression":true,""" +
        """"encryption":{"keyId":"k","dataKey":"AQI=","aad":"Aw=="}}"""
    val m = SegmentManifest.fromJson(legacy)
    assert(m.compressionCodec == graft.core.transform.Transforms.CodecNameLz4)
    assert(m.encryption.get.wrapAlg == SegmentManifest.WrapAlgOaepSha256)
  }

  test("fuzz: corrupt manifest JSON fails with a validation error, never hangs or NPEs silently") {
    // manifests come off the object store — truncations, field deletions
    // and random garbage must all surface as clean parse/validation
    // failures on the serving path (never a decoded-garbage manifest)
    val valid =
      """{"version":"1","chunkIndex":{"type":"variable","originalChunkSize":64,""" +
        """"originalFileSize":150,"transformedChunks":"AAAAAwAAACgBCgAAAAAe"},""" +
        """"segmentIndexes":null,"compression":true,"compressionCodec":"lz4",""" +
        """"encryption":{"keyId":"key-1","dataKey":"AQI=","aad":"Aw==","wrapAlg":"RSA-OAEP-SHA256"}}"""
    def parses(j: String): Boolean =
      try { SegmentManifest.fromJson(j); true }
      catch {
        case _: IllegalArgumentException | _: NullPointerException |
             _: com.fasterxml.jackson.core.JacksonException |
             _: NegativeArraySizeException => false
      }
    assert(parses(valid))
    // every truncation point
    (0 until valid.length by 3).foreach { cut => parses(valid.substring(0, cut)); () }
    // random garbage
    val rnd = new java.util.Random(4)
    (0 until 100).foreach { _ =>
      val b = new Array[Byte](rnd.nextInt(512)); rnd.nextBytes(b)
      parses(new String(b, "ISO-8859-1")); ()
    }
    // structurally valid JSON with a corrupt binary-codec payload must be
    // rejected by the codec's validation, not decoded into a wrong index
    val badCodec = valid.replace("AAAAAwAAACgBCgAAAAAe", "////////////")
    assert(!parses(badCodec), "corrupt transformedChunks must not decode")
    // unknown chunk-index type fails loudly
    assert(!parses(valid.replace("\"variable\"", "\"mystery\"")))
  }
}
