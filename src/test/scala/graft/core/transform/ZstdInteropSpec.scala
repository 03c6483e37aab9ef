package graft.core.transform

import org.scalatest.funsuite.AnyFunSuite
import com.github.luben.zstd.{Zstd, ZstdCompressCtx}
import java.util.Random

/** The "zstd" codec is wire-compatible with the reference
  * (`core/.../transform/CompressionChunkEnumeration.java:50-63` writes raw
  * zstd frames with embedded content size; `DecompressionChunkEnumeration
  * .java:42-46` reads them back via the frame header). These tests pin the
  * interop boundary in both directions against zstd-jni used exactly the way
  * the reference uses it.
  */
class ZstdInteropSpec extends AnyFunSuite {

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val b = new Array[Byte](n); new Random(seed).nextBytes(b); b
  }
  /** Compressible payload: low-entropy repeated text. */
  private def textBytes(n: Int): Array[Byte] = {
    val pat = "the quick brown fox jumps over the lazy dog 0123456789 ".getBytes("UTF-8")
    Array.tabulate(n)(i => pat(i % pat.length))
  }

  test("round trip across sizes and payload shapes") {
    for {
      n <- Seq(0, 1, 13, 1024, 65536, 1812004)
      payload <- Seq(randomBytes(n, n + 1L), textBytes(n))
    } {
      val frame = Transforms.compressZstd(payload)
      val back = Transforms.decompress(frame, payload.length)
      assert(java.util.Arrays.equals(back, payload), s"round trip failed n=$n")
    }
  }

  test("reads frames written the reference's way (ZstdCompressCtx, content size on)") {
    val payload = textBytes(123457)
    // Exactly CompressionChunkEnumeration.java:52-61.
    val ctx = new ZstdCompressCtx()
    val refFrame = try {
      ctx.setPledgedSrcSize(payload.length.toLong)
      ctx.setContentSize(true)
      ctx.compress(payload)
    } finally ctx.close()
    assert(java.util.Arrays.equals(Transforms.decompress(refFrame, payload.length), payload))
  }

  test("frames we write are readable the reference's way (frame-header size + one-shot)") {
    val payload = randomBytes(50000, 3L)
    val frame = Transforms.compressZstd(payload)
    // Exactly DecompressionChunkEnumeration.java:42-46.
    val declared = Zstd.decompressedSize(frame)
    assert(declared == payload.length.toLong)
    assert(java.util.Arrays.equals(Zstd.decompress(frame, declared.toInt), payload))
  }

  test("codec dispatch: compressWith names round-trip through the self-describing reader") {
    val payload = textBytes(8192)
    for (codec <- Seq("lz4", "zstd", "deflate")) {
      val packed = Transforms.compressWith(payload, codec)
      assert(java.util.Arrays.equals(Transforms.decompress(packed, payload.length), payload), codec)
    }
    intercept[IllegalArgumentException](Transforms.compressWith(payload, "snappy"))
  }

  test("zstd magic never collides with prefixed layouts") {
    // A prefixed chunk whose first 4 bytes alias the zstd magic would need
    // content size exactly 0x28B52FFD (651 MiB); the prefix writers reject
    // that one size outright, so below it the discrimination is exact:
    for (n <- Seq(0, 1, 1024, 65536)) {
      val lz4 = Transforms.compress(randomBytes(n, n + 7L))
      val defl = Transforms.compressDeflate(randomBytes(n, n + 9L))
      def magic(b: Array[Byte]) = b.length >= 4 &&
        b(0) == 0x28.toByte && b(1) == 0xB5.toByte && b(2) == 0x2F.toByte && b(3) == 0xFD.toByte
      assert(!magic(lz4) && !magic(defl), s"prefix aliased zstd magic at n=$n")
    }
  }

  test("end-to-end segment transform with zstd + encryption") {
    val original = textBytes(1812004)
    val key = randomBytes(32, 7L)
    val aad = randomBytes(32, 11L)
    for (chunkSize <- Seq(0, 1024, 5123, 4 * 1024 * 1024)) {
      val spec = TransformSpec(chunkSize, compression = true, Some(key), aad, codec = "zstd")
      val segment = TransformPipeline.transform(original, spec)
      assert(segment.index.originalFileSize == original.length)
      val back = TransformPipeline.detransformAll(segment, spec)
      assert(java.util.Arrays.equals(back, original), s"zstd e2e failed chunkSize=$chunkSize")
    }
  }
}
