package graft.core.transform

import org.scalatest.funsuite.AnyFunSuite
import graft.core._
import java.util.Random

/** The golden round-trip invariant of FIXTURES.md F1, mirroring
  * `transform/TransformsEndToEndTest.java:32-67`:
  * detransform(transform(bytes)) == bytes across the chunk-size grid ×
  * {plain, compressed, encrypted, compressed+encrypted}, on 1 812 004
  * deterministic pseudo-random bytes.
  */
class TransformsEndToEndSpec extends AnyFunSuite {
  private val Size = 1812004
  private val original: Array[Byte] = {
    val b = new Array[Byte](Size)
    new Random(42L).nextBytes(b)
    b
  }
  private val key: Array[Byte] = {
    val k = new Array[Byte](32); new Random(7L).nextBytes(k); k
  }
  private val aad: Array[Byte] = {
    val a = new Array[Byte](32); new Random(11L).nextBytes(a); a
  }

  private val allChunkSizes = Seq(0, 1, 2, 3, 5, 13, 1024, 2048, 5123, Size - 1, 2 * Size)
  private val bigChunkSizes = allChunkSizes.filter(s => s == 0 || s >= 1023)

  private def roundTrip(chunkSize: Int, compression: Boolean, encryption: Boolean): Unit = {
    val spec = TransformSpec(chunkSize, compression, if (encryption) Some(key) else None, aad)
    val segment = TransformPipeline.transform(original, spec)
    // invariant: index sums equal file/object sizes
    assert(segment.index.originalFileSize == Size)
    assert(segment.index.chunks.map(_.originalSize.toLong).sum == Size)
    assert(segment.chunks.map(_.length.toLong).sum == segment.index.transformedFileSize)
    assert(segment.chunks.zip(segment.index.chunks).forall { case (b, c) => b.length == c.transformedSize })
    val back = TransformPipeline.detransformAll(segment, spec)
    assert(java.util.Arrays.equals(back, original), s"round trip failed chunkSize=$chunkSize comp=$compression enc=$encryption")
  }

  for (cs <- allChunkSizes) test(s"plain round trip, chunkSize=$cs") { roundTrip(cs, false, false) }
  for (cs <- bigChunkSizes) {
    test(s"compressed round trip, chunkSize=$cs") { roundTrip(cs, true, false) }
    test(s"encrypted round trip, chunkSize=$cs") { roundTrip(cs, false, true) }
    test(s"compressed+encrypted round trip, chunkSize=$cs") { roundTrip(cs, true, true) }
  }

  test("empty input round trips") {
    for (comp <- Seq(false, true); enc <- Seq(false, true)) {
      val spec = TransformSpec(1024, comp, if (enc) Some(key) else None, aad)
      val seg = TransformPipeline.transform(Array.emptyByteArray, spec)
      assert(TransformPipeline.detransformAll(seg, spec).isEmpty)
    }
  }

  test("identity transform yields arithmetic fixed index, no size change") {
    val spec = TransformSpec(1024, compression = false, encryptionKey = None)
    val seg = TransformPipeline.transform(original, spec)
    assert(seg.index.isInstanceOf[FixedSizeChunkIndex])
    assert(seg.index.transformedFileSize == Size)
  }

  test("encryption-only yields fixed index with constant overhead") {
    val spec = TransformSpec(1024, compression = false, encryptionKey = Some(key), aad)
    val seg = TransformPipeline.transform(original, spec)
    val idx = seg.index.asInstanceOf[FixedSizeChunkIndex]
    assert(idx.transformedChunkSize == 1024 + Transforms.encryptionOverhead)
  }

  test("compression yields variable index") {
    val spec = TransformSpec(4096, compression = true, encryptionKey = None)
    // compressible input
    val compressible = Array.fill[Byte](100000)(7)
    val seg = TransformPipeline.transform(compressible, spec)
    assert(seg.index.isInstanceOf[VariableSizeChunkIndex])
    assert(seg.index.transformedFileSize < compressible.length)
    assert(java.util.Arrays.equals(TransformPipeline.detransformAll(seg, spec), compressible))
  }

  test("strict read: wrong transformed size fails") {
    val spec = TransformSpec(1024, compression = false, encryptionKey = Some(key), aad)
    val seg = TransformPipeline.transform(original.take(5000), spec)
    val corrupted = seg.chunks.updated(1, seg.chunks(1).take(10))
    intercept[IllegalArgumentException] {
      TransformPipeline.detransform(corrupted.iterator, seg.index.chunks, spec).foreach(_ => ())
    }
  }

  test("negative chunk size fails fast (no silent infinite grouped loop)") {
    intercept[IllegalArgumentException](
      Transforms.chunkedBytes(Array[Byte](1, 2, 3), -5).toVector)
    intercept[IllegalArgumentException](
      TransformPipeline.transform(Array[Byte](1, 2, 3),
        TransformSpec(-5, compression = false, encryptionKey = Some(key), aad)))
  }

  test("decryption with wrong AAD fails") {
    val spec = TransformSpec(1024, compression = false, encryptionKey = Some(key), aad)
    val seg = TransformPipeline.transform(original.take(3000), spec)
    val badSpec = spec.copy(aad = Array.fill[Byte](32)(1))
    intercept[Exception](TransformPipeline.detransformAll(seg, badSpec))
  }

  test("GOLDEN: pre-r3 stored segment (tag-less deflate chunks, no manifest codec field) still serves fetches") {
    // The full legacy persistence layout, not just one chunk: chunks are
    // `[4-byte size][zlib stream]` with NO codec tag (what pre-codec-tag
    // builds wrote), the manifest omits `compressionCodec` entirely, and
    // the segment is served through the real fetch path — proving the
    // historical default (manifest) + CMF-nibble routing (chunk) compose.
    import graft.core.{BytesRange, SegmentManifest, VariableSizeChunkIndex}
    import graft.operators.{SegmentFetchJob, SegmentJobConfig}
    import graft.sources.{FileSystemStorage, ObjectKey}
    val payload = ("graft legacy layout fixture " * 2000).getBytes("UTF-8")
    val chunkSize = 8192
    def legacyDeflate(b: Array[Byte]): Array[Byte] = {
      val d = new java.util.zip.Deflater(java.util.zip.Deflater.BEST_SPEED)
      d.setInput(b); d.finish()
      val out = new java.io.ByteArrayOutputStream()
      out.write(java.nio.ByteBuffer.allocate(4).putInt(b.length).array())
      val buf = new Array[Byte](8192)
      while (!d.finished()) { val n = d.deflate(buf); out.write(buf, 0, n) }
      d.end()
      out.toByteArray
    }
    val transformed = payload.grouped(chunkSize).toVector.map(legacyDeflate)
    transformed.foreach(c => assert((c(4) & 0x0F) == 8, "fixture must be tag-less zlib"))
    val manifest = SegmentManifest(
      VariableSizeChunkIndex(chunkSize, payload.length, transformed.map(_.length)),
      None, compression = true, None)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.readTree(manifest.toJson)
      .asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
    node.remove("compressionCodec") // a pre-r3 writer simply never emitted it
    val legacyJson = mapper.writeValueAsString(node)
    assert(!legacyJson.contains("compressionCodec"))
    val store = java.nio.file.Files.createTempDirectory("graft-legacy-seg").toString
    val st = FileSystemStorage(store)
    st.uploadBytes(transformed.toArray.flatten, s"legacy-000.${ObjectKey.Suffix.Log.value}")
    st.uploadBytes(legacyJson.getBytes("UTF-8"), s"legacy-000.${ObjectKey.Suffix.Manifest.value}")
    val cfg = SegmentJobConfig(storageRoot = store, encryption = false)
    val full = SegmentFetchJob.fetchRange(cfg, "legacy-000", BytesRange(0L, payload.length - 1L))
    assert(java.util.Arrays.equals(full, payload))
    // ranged fetch crossing a chunk border exercises chunksForRange + skip
    val sub = SegmentFetchJob.fetchRange(cfg, "legacy-000",
      BytesRange(chunkSize - 100L, chunkSize + 100L))
    assert(java.util.Arrays.equals(sub,
      java.util.Arrays.copyOfRange(payload, chunkSize - 100, chunkSize + 101)))
  }

  /** Ciphertext ‖ tag from one JCE `doFinal`: the pre-slicing writer. */
  private def oneShotEncrypt(input: Array[Byte], iv: Array[Byte]): Array[Byte] = {
    import javax.crypto.Cipher
    import javax.crypto.spec.{GCMParameterSpec, SecretKeySpec}
    val c = Cipher.getInstance("AES/GCM/NoPadding")
    c.init(Cipher.ENCRYPT_MODE, new SecretKeySpec(key, "AES"), new GCMParameterSpec(Transforms.GcmTagLengthBits, iv))
    c.updateAAD(aad)
    c.doFinal(input)
  }

  test("sliced GCM encrypt is byte-identical to a one-shot JCE doFinal at slice boundaries") {
    for (n <- Seq(0, 1, 16, 8191, 8192, 8193, 4 << 20, (4 << 20) + 5)) {
      // a fixed IV per length: JCE refuses to reuse key + IV for encryption
      val iv = java.nio.ByteBuffer.allocate(Transforms.GcmIvLength).putInt(0, n).array()
      val plain = new Array[Byte](n)
      new Random(n.toLong).nextBytes(plain)
      val sliced = Transforms.encryptWithIv(plain, key, aad, iv)
      assert(sliced.length == Transforms.GcmIvLength + n + Transforms.GcmTagLength, s"length at $n")
      assert(java.util.Arrays.equals(sliced, iv ++ oneShotEncrypt(plain, iv)),
        s"ciphertext differs at $n")
      assert(java.util.Arrays.equals(Transforms.decrypt(sliced, key, aad), plain), s"decrypt at $n")
    }
  }

  test("a chunk written by one-shot GCM decrypts, and a flipped ciphertext byte fails the tag") {
    val iv = Array.tabulate[Byte](Transforms.GcmIvLength)(i => (100 - i).toByte)
    val plain = original.take(3 * 8192 + 17)
    val chunk = iv ++ oneShotEncrypt(plain, iv)
    assert(java.util.Arrays.equals(Transforms.decrypt(chunk, key, aad), plain))
    for (written <- Seq(chunk, Transforms.encryptWithIv(plain, key, aad, iv))) {
      val bad = written.clone()
      bad(Transforms.GcmIvLength + 9000) = (bad(Transforms.GcmIvLength + 9000) ^ 0x01).toByte
      intercept[javax.crypto.AEADBadTagException](Transforms.decrypt(bad, key, aad))
    }
  }

  test("chunked stream reader handles partial reads") {
    // a stream that returns 1 byte at a time
    val in = new java.io.InputStream {
      private var i = 0
      override def read(): Int = if (i >= 5000) -1 else { val b = original(i); i += 1; b & 0xFF }
      override def read(buf: Array[Byte], off: Int, len: Int): Int = {
        val b = read(); if (b == -1) -1 else { buf(off) = b.toByte; 1 }
      }
    }
    val chunks = Transforms.chunked(in, 1024).toVector
    assert(chunks.map(_.length) == Vector(1024, 1024, 1024, 1024, 904))
    assert(java.util.Arrays.equals(chunks.flatten.toArray, original.take(5000)))
  }
}
