package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import com.github.luben.zstd.ZstdCompressCtx
import javax.crypto.Cipher
import javax.crypto.spec.{GCMParameterSpec, OAEPParameterSpec, PSource, SecretKeySpec}
import java.security.spec.MGF1ParameterSpec
import java.util.Base64

import graft.core._
import graft.core.security.RsaKeyRing
import graft.sources.FileSystemStorage

/** End-to-end interop: a segment produced EXACTLY the reference's way —
  * zstd chunk frames (`transform/CompressionChunkEnumeration.java:50-63`),
  * AES-256-GCM with IV prepend + AAD (`EncryptionChunkEnumeration.java:65-80`),
  * an RSA-OAEP-SHA3-512-wrapped data key (`RsaEncryptionProvider.java:42`),
  * and the reference's manifest JSON layout
  * (`manifest/SegmentManifestV1SerdeTest.java:99-110`: `dataKey` as
  * "keyId:base64", zstd-compressed `transformedChunks`, a
  * `remoteLogSegmentMetadata` object, no codec field) — served byte-exactly
  * by this engine's fetch path with no special configuration. This test
  * deliberately builds every byte with raw JDK/zstd primitives, NOT our
  * production transforms, so it proves cross-implementation compatibility
  * rather than self-consistency.
  */
class ReferenceSegmentInteropSpec extends AnyFunSuite {

  private def b64(b: Array[Byte]): String = Base64.getEncoder.encodeToString(b)

  test("a reference-written segment (zstd + GCM + SHA3-512 wrap + V1 manifest) serves ranged fetches") {
    val store = java.nio.file.Files.createTempDirectory("graft-refseg").toString
    val rnd = new java.util.Random(99L)

    // --- the reference broker's write path, hand-rolled -------------------
    val payload = {
      val pat = "kafka segment record batch payload ".getBytes("UTF-8")
      Array.tabulate(50123)(i => pat(i % pat.length))
    }
    val chunkSize = 4096
    val dataKey = new Array[Byte](32); rnd.nextBytes(dataKey)
    val aad = new Array[Byte](32); rnd.nextBytes(aad)

    def zstdFrame(chunk: Array[Byte]): Array[Byte] = {
      val ctx = new ZstdCompressCtx()
      try { ctx.setPledgedSrcSize(chunk.length.toLong); ctx.setContentSize(true); ctx.compress(chunk) }
      finally ctx.close()
    }
    def gcmEncrypt(chunk: Array[Byte]): Array[Byte] = {
      val iv = new Array[Byte](12); rnd.nextBytes(iv)
      val c = Cipher.getInstance("AES/GCM/NoPadding")
      c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(dataKey, "AES"), new GCMParameterSpec(128, iv))
      c.updateAAD(aad)
      val ct = c.doFinal(chunk)
      iv ++ ct
    }
    val transformed = payload.grouped(chunkSize).map(c => gcmEncrypt(zstdFrame(c))).toVector
    val logBytes = transformed.flatten.toArray

    // RSA-OAEP-SHA3-512 wrap, BC-parameter-equivalent via explicit spec.
    val gen = java.security.KeyPairGenerator.getInstance("RSA")
    gen.initialize(2048)
    val kp = gen.generateKeyPair()
    val wrapC = Cipher.getInstance("RSA/ECB/OAEPPadding")
    wrapC.init(Cipher.ENCRYPT_MODE, kp.getPublic, new OAEPParameterSpec(
      "SHA3-512", "MGF1", new MGF1ParameterSpec("SHA3-512"), PSource.PSpecified.DEFAULT))
    val wrappedKey = wrapC.doFinal(dataKey)

    // transformedChunks: binary codec THEN zstd THEN base64
    // (TransformedChunksSerializer.java:33-52).
    val sizesBlob = zstdFrame(ChunkSizesBinaryCodec.encode(transformed.map(_.length)))

    val manifestJson =
      s"""{"version":"1",
         |"chunkIndex":{"type":"variable","originalChunkSize":$chunkSize,
         |"originalFileSize":${payload.length},"transformedChunks":"${b64(sizesBlob)}"},
         |"segmentIndexes":null,
         |"compression":true,
         |"encryption":{"dataKey":"kek-1:${b64(wrappedKey)}","aad":"${b64(aad)}"},
         |"remoteLogSegmentMetadata":{"startOffset":0,"endOffset":1000,"brokerId":2}}""".stripMargin.replace("\n", "")

    val storage = FileSystemStorage(store)
    storage.uploadBytes(logBytes, "ref-seg.log")
    storage.uploadBytes(manifestJson.getBytes("UTF-8"), "ref-seg.rsm-manifest")

    // --- this engine's read path, stock configuration ---------------------
    val cfg = SegmentJobConfig(store,
      keyId = "kek-1",
      rsaPublicKey = RsaKeyRing.serializePublic(kp.getPublic),
      rsaPrivateKey = RsaKeyRing.serializePrivate(kp.getPrivate))

    val m = SegmentFetchJob.loadManifest(storage, "ref-seg")
    assert(m.compressionCodec == graft.core.transform.Transforms.CodecNameZstd) // inferred from layout
    assert(m.encryption.get.keyId == "kek-1")
    assert(m.encryption.get.wrapAlg == SegmentManifest.WrapAlgOaepSha3512)
    assert(m.chunkIndex.chunkCount == transformed.length)

    val full = SegmentFetchJob.fetchRange(cfg, "ref-seg", BytesRange(0, payload.length - 1L))
    assert(java.util.Arrays.equals(full, payload))
    val mid = SegmentFetchJob.fetchRange(cfg, "ref-seg", BytesRange(5000, 44999))
    assert(java.util.Arrays.equals(mid, java.util.Arrays.copyOfRange(payload, 5000, 45000)))
    val tail = SegmentFetchJob.fetchRange(cfg, "ref-seg", BytesRange(payload.length - 7L, payload.length + 99L))
    assert(java.util.Arrays.equals(tail, java.util.Arrays.copyOfRange(payload, payload.length - 7, payload.length)))
  }
}
