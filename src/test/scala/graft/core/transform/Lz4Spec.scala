package graft.core.transform

import java.nio.ByteBuffer

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.testkit.Props

/** The "lz4" chunk codec: `[int32 content size][tag 1][LZ4 block]`, the
  * block written and read by lz4-java. */
class Lz4Spec extends AnyFunSuite {

  /** The LZ4 block format's worst case for `n` input bytes. */
  private def lz4Bound(n: Int): Int = n + n / 255 + 16

  private def hex(s: String): Array[Byte] = s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** A spec block inside the chunk header, as [[Transforms.compress]] writes it. */
  private def chunkOf(block: Array[Byte], contentSize: Int): Array[Byte] =
    ByteBuffer.allocate(5 + block.length).putInt(contentSize).put(1.toByte).put(block).array()

  /** Compresses `src` as an "lz4" chunk, checks the layout and round trip,
    * and returns the chunk. */
  private def roundTrip(src: Array[Byte]): Array[Byte] = {
    val c = Transforms.compress(src)
    assert(ByteBuffer.wrap(c).getInt == src.length && c(4) == 1, "layout: [int32 size][tag 1][block]")
    assert(c.length <= 5 + lz4Bound(src.length))
    val back = Transforms.decompress(c, src.length)
    assert(java.util.Arrays.equals(back, src),
      s"round trip failed for ${src.length} bytes")
    c
  }

  test("edge sizes: empty, 1, and everything below the 13-byte match floor") {
    (0 to 16).foreach(n => roundTrip(Array.tabulate(n)(_.toByte)))
  }

  test("constant runs compress hard and round trip (overlap-copy path)") {
    Seq(13, 100, 65535, 1 << 20).foreach { n =>
      val c = roundTrip(Array.fill(n)(7.toByte))
      assert(c.length < n / 50 + 32, s"constant run of $n compressed to ${c.length}")
    }
  }

  test("long literal runs (>255 extension bytes) round trip") {
    val rnd = new java.util.Random(1)
    val src = new Array[Byte](300000) // incompressible -> one huge literal run
    rnd.nextBytes(src)
    roundTrip(src)
  }

  test("short-period patterns exercise offset < matchLen replication") {
    (1 to 8).foreach { period =>
      val src = Array.tabulate(10000)(i => (i % period).toByte)
      roundTrip(src)
    }
  }

  test("property: arbitrary byte arrays round trip") {
    val gen = for {
      n <- Gen.chooseNum(0, 5000)
      mode <- Gen.oneOf(0, 1, 2)
      bytes <- mode match {
        case 0 => Gen.containerOfN[Array, Byte](n, Gen.chooseNum(-128, 127).map(_.toByte))
        case 1 => Gen.containerOfN[Array, Byte](n, Gen.oneOf(0.toByte, 1.toByte, 2.toByte)) // highly repetitive
        case 2 => Gen.const(Array.tabulate(n)(i => ((i * 31) ^ (i >> 3)).toByte))
      }
    } yield bytes
    Props.forAllN(gen, n = 200)(src => roundTrip(src))
  }

  test("half-random half-constant (the bench content shape)") {
    val rnd = new java.util.Random(42)
    val src = new Array[Byte](1 << 20)
    rnd.nextBytes(src)
    java.util.Arrays.fill(src, src.length / 2, src.length, 7.toByte)
    val c = roundTrip(src)
    assert(c.length < src.length, "half-constant content must shrink")
  }

  test("decodes handcrafted blocks from the published format spec") {
    // sequence 1: token 0x34 -> 3 literals 'abc', match offset 3 len 4+4=8
    // (replicates "abc" periodically); final sequence: 5 literals "hello"
    val block = Array[Byte](
      0x34.toByte, 'a', 'b', 'c', 0x03, 0x00, // "abc" + 8-byte overlap match
      0x50.toByte, 'h', 'e', 'l', 'l', 'o') // trailing literals
    val out = new String(Transforms.decompress(chunkOf(block, 16), 16), "UTF-8")
    assert(out == "abcabcabcab" + "hello", s"got '$out'")

    // 255-extension: 15+255+3 = 273 literals of 'x', then end
    val lits = Array.fill(273)('x'.toByte)
    val ext = Array[Byte](0xF0.toByte, 0xFF.toByte, 0x03) ++ lits
    val back = Transforms.decompress(chunkOf(ext, 273), 273)
    assert(back.length == 273 && back.forall(_ == 'x'.toByte))
  }

  test("chunks written by earlier builds' encoder decode byte-identically") {
    // Captured from the pure-Scala block encoder this codec replaced: the
    // back-compat guarantee for "lz4" segments already in object storage.
    val rnd = new java.util.Random(5)
    val mixed = new Array[Byte](600)
    rnd.nextBytes(mixed)
    java.util.Arrays.fill(mixed, 280, 600, 9.toByte)
    val fixtures = Seq(
      Array.emptyByteArray -> "000000000100",
      "graft".getBytes("UTF-8") -> "0000000501506772616674",
      ("the quick brown fox jumps over the lazy dog; " * 6).getBytes("UTF-8") ->
        ("0000010e01f01074686520717569636b2062726f776e20666f78206a756d7073206f766572201f00916c617a79" +
          "20646f673b0e000f2d00c550646f673b20"),
      Array.tabulate(400)(i => (i % 3).toByte) -> "00000190013f0001020300ff76500200010200",
      mixed ->
        ("0000025801ffff0fbf5903bb58cb352d441a9816e01ca09c15d9287dcadbe9f19cf63a76470989d33458d77252" +
          "8c746d8f469db22fd7a8c017c21b4741e48258c9ca8cc2142dced654682038ce7c61768340a0eb628745bb488d" +
          "d4e23a116d51d118d53838bf255393dd45e2356d390638d180706eb91751c68c9364805dcea883c1a6fed9813b" +
          "aa5b09aae1d2863033d6727c48cd562daae57b713fff46660f03d4f397e268517d888508835704877f1cdfc313" +
          "fb52b58daaf1470a4c8f65564884ddae848e42d6ea4e6373577a4c79daedc35afa67edb950a3454d1b8c4d799f" +
          "711c20b037401dc6af8859c9af139777c33bb1cfe25aa0c776d833c60739b9263dbb089de87a5255fa7b318b06" +
          "19296b4f7a3b0280a0fe3065d709cdb1305709090909090300ff24500909090909"))
    fixtures.foreach { case (src, chunk) =>
      assert(java.util.Arrays.equals(Transforms.decompress(hex(chunk), src.length), src),
        s"fixture of ${src.length} bytes")
    }
  }

  test("compressed output is itself spec-shaped (token walk terminates exactly)") {
    // walk the emitted sequences manually with an independent mini-parser
    val rnd = new java.util.Random(9)
    val src = new Array[Byte](20000)
    rnd.nextBytes(src)
    java.util.Arrays.fill(src, 5000, 15000, 3.toByte)
    val c = Transforms.compress(src)
    var s = 5 // past the size prefix and codec tag
    var produced = 0
    while (s < c.length) {
      val token = c(s) & 0xFF; s += 1
      var lit = token >>> 4
      if (lit == 15) { var b = 0; while ({ b = c(s) & 0xFF; s += 1; b == 255 }) lit += 255; lit += b }
      s += lit; produced += lit
      if (s < c.length) {
        val off = (c(s) & 0xFF) | ((c(s + 1) & 0xFF) << 8); s += 2
        assert(off > 0 && off <= produced, s"offset $off beyond produced $produced")
        var ml = (token & 15) + 4
        if ((token & 15) == 15) { var b = 0; while ({ b = c(s) & 0xFF; s += 1; b == 255 }) ml += 255; ml += b }
        produced += ml
      }
    }
    assert(s == c.length, s"token walk overran the block: $s of ${c.length}")
    assert(produced == src.length, s"token walk produced $produced of ${src.length}")
  }

  test("deflate stays readable through the codec tag") {
    val rnd = new java.util.Random(3)
    val src = new Array[Byte](50000)
    rnd.nextBytes(src)
    java.util.Arrays.fill(src, 0, 25000, 1.toByte)
    val viaDeflate = Transforms.compressDeflate(src)
    assert(java.util.Arrays.equals(Transforms.decompress(viaDeflate, src.length), src))
    val viaLz4 = Transforms.compress(src)
    assert(java.util.Arrays.equals(Transforms.decompress(viaLz4, src.length), src))
  }

  test("legacy 4-byte (pre-codec-tag) deflate chunks stay readable") {
    // Earlier builds wrote [int32 size][zlib stream] with no tag byte; the
    // zlib CMF byte (low nibble 8, e.g. 0x78) lands where the tag now
    // lives. decompress must route it through the legacy path.
    val rnd = new java.util.Random(9)
    val src = new Array[Byte](20000)
    rnd.nextBytes(src)
    java.util.Arrays.fill(src, 0, 10000, 2.toByte)
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(src); deflater.finish()
    val out = new java.io.ByteArrayOutputStream()
    out.write(java.nio.ByteBuffer.allocate(4).putInt(src.length).array())
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) { val n = deflater.deflate(buf); out.write(buf, 0, n) }
    deflater.end()
    val legacy = out.toByteArray
    assert((legacy(4) & 0x0F) == 8, "zlib CMF low nibble must be 8")
    assert(java.util.Arrays.equals(Transforms.decompress(legacy, src.length), src))
  }

  test("unknown codec tag fails with a clear message") {
    val bogus = java.nio.ByteBuffer.allocate(6).putInt(1).put(0x55.toByte).put(0.toByte).array()
    val e = intercept[IllegalArgumentException](Transforms.decompress(bogus, 1))
    assert(e.getMessage.contains("unknown codec tag"))
  }

  test("a corrupt LZ4 block fails with IllegalArgumentException") {
    // a match offset reaching before the start of the output
    val block = Array[Byte](0x14.toByte, 'a', 0x09, 0x00, 0x50.toByte, 'h', 'e', 'l', 'l', 'o')
    intercept[IllegalArgumentException](Transforms.decompress(chunkOf(block, 14), 14))
    // a block that decodes to fewer bytes than the prefix declares
    intercept[IllegalArgumentException](
      Transforms.decompress(chunkOf(Array[Byte](0x50.toByte, 'h', 'e', 'l', 'l', 'o'), 9), 9))
  }
}
