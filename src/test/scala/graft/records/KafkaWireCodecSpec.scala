package graft.records

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import java.nio.ByteBuffer
import graft.testkit.Props.forAllN
import KafkaWireCodec._

/** FIXTURES.md F4 — Kafka v2 wire format: parse→write byte-identity, CRC
  * enforcement, compression, nulls/headers, e2e-style batch shapes
  * (batches of size offset%10+1, key-<n>, ~1 KiB values —
  * `SingleBrokerTest.java:313-358`). */
class KafkaWireCodecSpec extends AnyFunSuite {

  private def kb(s: String): Array[Byte] = s.getBytes("UTF-8")

  private def e2eStyleSegment(compression: Int = CodecNone): (Array[Byte], Vector[Batch]) = {
    val rnd = new java.util.Random(42)
    var offset = 0L
    val batches = Vector.newBuilder[Batch]
    val out = new java.io.ByteArrayOutputStream()
    while (offset < 100) {
      val n = (offset % 10 + 1).toInt
      val recs = (0 until n).map { i =>
        val v = new Array[Byte](1000 + rnd.nextInt(24))
        rnd.nextBytes(v)
        (kb(s"key-${offset + i}"), v,
          if (i % 3 == 0) Seq(Header("h1", kb("v1")), Header("h2", null)) else Seq.empty)
      }
      val built = buildBatch(offset, 1700000000000L + offset * 10, recs,
        producerId = 77L, producerEpoch = 3, baseSequence = offset.toInt,
        partitionLeaderEpoch = 5, compression = compression)
      val bytes = writeBatch(built)
      batches += built.copy(byteOffset = out.size())
      out.write(bytes)
      offset += n
    }
    (out.toByteArray, batches.result())
  }

  test("segment parse recovers every batch and record (codec none)") {
    val (segment, built) = e2eStyleSegment()
    val parsed = parseSegment(segment)
    assert(parsed.size == built.size)
    parsed.zip(built).foreach { case (p, b) =>
      assert(p.baseOffset == b.baseOffset)
      assert(p.byteOffset == b.byteOffset)
      assert(p.records.size == b.records.size)
      assert(p.producerId == 77L && p.baseSequence == b.baseSequence)
      p.records.zip(b.records).foreach { case (pr, br) =>
        assert(java.util.Arrays.equals(pr.key, br.key))
        assert(java.util.Arrays.equals(pr.value, br.value))
        assert(pr.headers.map(_.key) == br.headers.map(_.key))
      }
    }
  }

  test("parse→write round trip is byte-identical (codec none)") {
    val (segment, _) = e2eStyleSegment()
    val rewritten = parseSegment(segment).map(writeBatch).reduce(_ ++ _)
    assert(java.util.Arrays.equals(rewritten, segment))
  }

  test("gzip batches decode to the same records") {
    val (plain, _) = e2eStyleSegment(CodecNone)
    val (gz, _) = e2eStyleSegment(CodecGzip)
    val a = parseSegment(plain).flatMap(_.records)
    val b = parseSegment(gz).flatMap(_.records)
    assert(a.size == b.size)
    a.zip(b).foreach { case (x, y) =>
      assert(java.util.Arrays.equals(x.value, y.value))
    }
    // and gzip re-serialization still parses to the same records
    val regz = parseSegment(parseSegment(gz).map(writeBatch).reduce(_ ++ _)).flatMap(_.records)
    assert(regz.size == b.size)
    regz.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x.value, y.value)) }
  }

  test("null keys/values and empty batches") {
    val b = buildBatch(5L, 1000L, Seq((null, kb("v"), Seq.empty), (kb("k"), null, Seq.empty)))
    val parsed = parseSegment(writeBatch(b))
    assert(parsed.head.records(0).key == null)
    assert(parsed.head.records(1).value == null)
  }

  test("corrupted CRC is rejected") {
    val (segment, _) = e2eStyleSegment()
    segment(30) = (segment(30) ^ 0xFF).toByte // inside the records area of batch 0
    intercept[IllegalArgumentException](parseSegment(segment))
  }

  test("transactional metadata fields survive the round trip") {
    val b = buildBatch(0L, 1L, Seq((kb("k"), kb("v"), Seq.empty)),
      producerId = 1234L, producerEpoch = 9, baseSequence = 42)
      .copy(attributes = (1 << 4).toShort) // isTransactional bit
    val p = parseSegment(writeBatch(b)).head
    assert(p.attributes == (1 << 4).toShort)
    assert(p.producerId == 1234L && p.producerEpoch == 9.toShort && p.baseSequence == 42)
  }

  test("firstBatchCompressionType: header-only codec sniff with validation (T7)") {
    import KafkaWireCodec._
    def seg(compression: Int): Array[Byte] =
      writeBatch(buildBatch(0L, 1L,
        (0 until 4).map(i => (s"k$i".getBytes, s"v$i".getBytes, Seq.empty)),
        compression = compression))
    assert(firstBatchCompressionType(seg(CodecNone)).contains(CodecNone))
    assert(firstBatchCompressionType(seg(CodecGzip)).contains(CodecGzip))
    // corrupted CRC -> not valid wire -> None (heuristic territory)
    val bad = seg(CodecNone)
    bad(17) = (bad(17) ^ 0xFF).toByte // inside the CRC field
    assert(firstBatchCompressionType(bad).isEmpty)
    // opaque payloads -> None
    val rnd = new Array[Byte](5000); new java.util.Random(5).nextBytes(rnd)
    assert(firstBatchCompressionType(rnd).isEmpty)
    assert(firstBatchCompressionType(Array.emptyByteArray).isEmpty)
  }

  test("T7 predicate: producer-compressed kafka wire skips re-compression, uncompressed wire compresses") {
    import KafkaWireCodec._
    import graft.operators.SegmentCompressionChecker
    val uncompressed = writeBatch(buildBatch(0L, 1L,
      (0 until 50).map(i => (s"key-$i".getBytes, ("value " * 20 + i).getBytes, Seq.empty))))
    assert(SegmentCompressionChecker.shouldCompress(uncompressed),
      "NONE-codec wire must go through compression")
    val gzipped = writeBatch(buildBatch(0L, 1L,
      (0 until 50).map(i => (s"key-$i".getBytes, ("value " * 20 + i).getBytes, Seq.empty)),
      compression = CodecGzip))
    assert(!SegmentCompressionChecker.shouldCompress(gzipped),
      "producer-compressed wire must not be re-compressed (ref predicate)")
  }

  private val AllCodecs =
    Seq(CodecNone -> "none", CodecGzip -> "gzip", CodecSnappy -> "snappy",
      CodecLz4 -> "lz4", CodecZstd -> "zstd")

  test("every producer codec decodes to the same records AND round-trips byte-identically") {
    val (plain, _) = e2eStyleSegment(CodecNone)
    val expected = parseSegment(plain).flatMap(_.records)
    AllCodecs.foreach { case (codec, name) =>
      val (seg, _) = e2eStyleSegment(codec)
      val parsed = parseSegment(seg)
      assert(parsed.forall(_.compressionType == codec), s"$name attribute bits")
      val records = parsed.flatMap(_.records)
      assert(records.size == expected.size, name)
      records.zip(expected).foreach { case (x, y) =>
        assert(java.util.Arrays.equals(x.key, y.key), name)
        assert(java.util.Arrays.equals(x.value, y.value), name)
        assert(x.headers.map(_.key) == y.headers.map(_.key), name)
      }
      // our compressors are deterministic: parse→write is byte-identical
      // for every codec, not just none (I9 contract for regrouped batches)
      val rewritten = parsed.map(writeBatch).reduce(_ ++ _)
      assert(java.util.Arrays.equals(rewritten, seg), s"$name round trip")
    }
  }

  test("mixed-codec segment: consecutive batches with different producer codecs parse in order") {
    val out = new java.io.ByteArrayOutputStream()
    AllCodecs.zipWithIndex.foreach { case ((codec, _), i) =>
      out.write(writeBatch(buildBatch(i * 10L, 1000L + i,
        (0 until 3).map(j => (kb(s"k$i-$j"), kb(s"v$i-$j" * 50), Seq.empty)),
        compression = codec)))
    }
    val parsed = parseSegment(out.toByteArray)
    assert(parsed.map(_.compressionType) == AllCodecs.map(_._1))
    assert(parsed.flatMap(_.records).size == AllCodecs.size * 3)
    val rewritten = parsed.map(writeBatch).reduce(_ ++ _)
    assert(java.util.Arrays.equals(rewritten, out.toByteArray))
  }

  test("LZ4 frame reader accepts the full spec surface (checksums, content size, stored blocks)") {
    // our writer emits kafka's minimal flag set; the reader must also take
    // frames from producers that enable the optional fields. lz4-java's own
    // frame writer sets content-size + content-checksum — use it as the
    // 'foreign producer'.
    val data = ("lz4 interop payload " * 500).getBytes("UTF-8")
    val bos = new java.io.ByteArrayOutputStream()
    val fout = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
    fout.write(data); fout.close()
    assert(java.util.Arrays.equals(BatchCompression.decompress(CodecLz4, bos.toByteArray), data))
    // incompressible input exercises the stored-block (high bit) path
    val rnd = new Array[Byte](200 * 1024); new java.util.Random(7).nextBytes(rnd)
    assert(java.util.Arrays.equals(
      BatchCompression.decompress(CodecLz4, BatchCompression.compress(CodecLz4, rnd)), rnd))
    // and a flipped header byte fails the header checksum loudly
    val framed = BatchCompression.compress(CodecLz4, data)
    framed(4) = (framed(4) ^ 0x10).toByte // toggle block-checksum flag
    intercept[IllegalArgumentException](BatchCompression.decompress(CodecLz4, framed))
  }

  /** A batch as comparable values (records carry arrays, which `==`
    * compares by reference). */
  private def comparable(b: Batch) =
    (b.copy(records = Vector.empty), b.records.map(r =>
      (r.offsetDelta, r.timestampDelta, Option(r.key).map(_.toSeq), Option(r.value).map(_.toSeq),
        r.headers.map(h => (h.key, Option(h.value).map(_.toSeq))))))

  test("batches streams exactly what parseSegment returns, for every codec fixture") {
    val mixed = AllCodecs.zipWithIndex.map { case ((codec, _), i) =>
      writeBatch(buildBatch(i * 10L, 1000L + i,
        (0 until 3).map(j => (kb(s"k$i-$j"), kb(s"v$i-$j" * 50), Seq(Header("h", null)))),
        compression = codec))
    }.reduce(_ ++ _)
    val nulls = writeBatch(buildBatch(5L, 1000L, Seq((null, kb("v"), Seq.empty), (kb("k"), null, Seq.empty))))
    val fixtures = AllCodecs.map { case (codec, name) => name -> e2eStyleSegment(codec)._1 } ++
      Seq("mixed" -> mixed, "nulls" -> nulls, "empty" -> Array.emptyByteArray)
    fixtures.foreach { case (name, seg) =>
      assert(batches(seg).toVector.map(comparable) == parseSegment(seg).map(comparable), name)
    }
  }

  test("the record cursor reads every written record in place, for every codec") {
    AllCodecs.foreach { case (codec, name) =>
      val (seg, built) = e2eStyleSegment(codec)
      val views = batchViews(seg).toVector
      assert(views.size == built.size, name)
      views.zip(built).foreach { case (v, b) =>
        assert((v.baseOffset, v.byteOffset, v.recordCount, v.producerId, v.compressionType) ==
          (b.baseOffset, b.byteOffset, b.records.size, b.producerId, codec), name)
        val c = v.cursor
        b.records.foreach { r =>
          assert(c.next(), name)
          assert((c.offsetDelta, c.timestampDelta) == (r.offsetDelta, r.timestampDelta), name)
          assert(java.util.Arrays.equals(c.key, r.key) && java.util.Arrays.equals(c.value, r.value), name)
          assert(c.headerCount == r.headers.size, name)
          r.headers.foreach { h =>
            c.nextHeader()
            assert(new String(c.headerKey, "UTF-8") == h.key, name)
            assert(java.util.Arrays.equals(c.headerValue, h.value), name)
          }
        }
        assert(!c.next() && !c.next(), name)
      }
    }
  }

  /** `batch` with its CRC recomputed after an edit. */
  private def withCrc(batch: Array[Byte]): Array[Byte] = {
    val c = new java.util.zip.CRC32C
    c.update(batch, 21, batch.length - 21)
    ByteBuffer.wrap(batch).putInt(17, c.getValue.toInt)
    batch
  }

  test("the cursor checks each record's length, walking headers it does not decode") {
    val good = writeBatch(buildBatch(0L, 1L, Seq(
      (kb("k0"), kb("v0"), Seq(Header("h", kb("ZZ")))),
      (kb("k1"), kb("v1"), Seq.empty))))
    val bad = good.clone()
    val at = bad.indexOfSlice(kb("ZZ")) - 1
    assert(bad(at) == 4) // zigzag varint of the header value's length 2
    bad(at) = 2 // now 1: the header walk ends one byte short of the record
    withCrc(bad)
    val c = batchViews(bad).next().cursor
    val e = intercept[IllegalArgumentException](c.next())
    assert(e.getMessage.contains("record length mismatch"))
    intercept[IllegalArgumentException](parseSegment(bad))
    intercept[IllegalArgumentException](graft.operators.SegmentUploadJob.recordStats(bad))
  }

  test("recordStats over the cursor equals the stats of the materialized records") {
    def viaRecords(seg: Array[Byte]): graft.core.RecordStats = {
      val offTs = parseSegment(seg).flatMap(b =>
        b.records.map(r => (b.baseOffset + r.offsetDelta, b.baseTimestamp + r.timestampDelta)))
      if (offTs.isEmpty) graft.core.RecordStats(0L, 0L, -1L, 0L, -1L)
      else graft.core.RecordStats(offTs.size.toLong, offTs.map(_._1).min, offTs.map(_._1).max,
        offTs.map(_._2).min, offTs.map(_._2).max)
    }
    val shuffled = writeBatch(buildBatch(100L, 5000L, (0 until 5).map(i => (kb(s"k$i"), kb(s"v$i"), Seq.empty)),
      timestampDeltaPerRecord = -7L))
    val fixtures = AllCodecs.map { case (codec, name) => name -> e2eStyleSegment(codec)._1 } ++
      Seq("empty" -> Array.emptyByteArray, "descending-ts" -> shuffled,
        "nulls" -> writeBatch(buildBatch(5L, 1000L, Seq((null, kb("v"), Seq.empty), (kb("k"), null, Seq.empty)))))
    fixtures.foreach { case (name, seg) =>
      assert(graft.operators.SegmentUploadJob.recordStats(seg) == viaRecords(seg), name)
    }
  }

  test("batches is lazy: a bad CRC in the last batch surfaces only when that batch is reached") {
    val (seg, built) = e2eStyleSegment()
    val last = built.last.byteOffset
    seg(last + 30) = (seg(last + 30) ^ 0xFF).toByte
    val it = batches(seg)
    (0 until built.size - 1).foreach(i => assert(it.next().baseOffset == built(i).baseOffset))
    val e = intercept[IllegalArgumentException](it.next())
    assert(e.getMessage.contains("CRC mismatch"))
    intercept[IllegalArgumentException](parseSegment(seg))
  }

  test("LZ4 frame decodes multi-block frames with stored blocks in place, every check intact") {
    import net.jpountz.lz4.LZ4FrameOutputStream
    import LZ4FrameOutputStream.{BLOCKSIZE, FLG}
    val data = MixedLz4Body
    def decodeAt(frame: Array[Byte]): Array[Byte] = {
      // the frame sits inside a larger array, as a batch payload does
      val padded = Array.fill[Byte](5)(9) ++ frame ++ Array.fill[Byte](3)(9)
      val b = BatchCompression.decompressed(CodecLz4, padded, 5, frame.length)
      java.util.Arrays.copyOfRange(b.array(), b.position(), b.limit())
    }
    val ours = BatchCompression.compress(CodecLz4, data)
    val sizeWords = {
      val b = ByteBuffer.wrap(ours).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.position(7)
      Iterator.continually(b.getInt()).takeWhile(_ != 0)
        .map { w => b.position(b.position() + (w & 0x7FFFFFFF)); w }.toVector
    }
    assert(sizeWords.size == 7 && sizeWords.exists(_ < 0) && sizeWords.exists(_ > 0),
      "fixture must hold compressed and stored (high-bit) blocks")
    assert(java.util.Arrays.equals(decodeAt(ours), data))
    // a foreign frame: 64 KiB blocks with block + content checksums and
    // the declared content size
    val bos = new java.io.ByteArrayOutputStream()
    val fout = new LZ4FrameOutputStream(bos, BLOCKSIZE.SIZE_64KB, data.length.toLong,
      FLG.Bits.BLOCK_INDEPENDENCE, FLG.Bits.BLOCK_CHECKSUM, FLG.Bits.CONTENT_CHECKSUM, FLG.Bits.CONTENT_SIZE)
    fout.write(data); fout.close()
    val foreign = bos.toByteArray
    assert(java.util.Arrays.equals(decodeAt(foreign), data))
    assert(java.util.Arrays.equals(BatchCompression.decompress(CodecLz4, foreign), data))
    // a flipped byte in the last block's data fails its block checksum
    val badBlock = foreign.clone()
    badBlock(foreign.length - 20) = (badBlock(foreign.length - 20) ^ 0x01).toByte
    intercept[IllegalArgumentException](decodeAt(badBlock))
    // a flipped content checksum fails after the decode
    val badContent = foreign.clone()
    badContent(foreign.length - 1) = (badContent(foreign.length - 1) ^ 0x01).toByte
    assert(intercept[IllegalArgumentException](decodeAt(badContent)).getMessage.contains("Content checksum mismatch"))
    // a declared content size one byte short of the blocks' total fails
    val patched = withDeclaredSize(foreign, data.length - 1L)
    assert(intercept[IllegalArgumentException](decodeAt(patched)).getMessage.contains("Size check mismatch"))
  }

  /** Compressible, incompressible (stored) and compressible 64 KiB blocks:
    * seven blocks of an LZ4 frame. */
  private lazy val MixedLz4Body: Array[Byte] = {
    val noise = new Array[Byte](140 * 1024); new java.util.Random(3).nextBytes(noise)
    ("block one " * 15000).getBytes("UTF-8") ++ noise ++ ("block three " * 9000).getBytes("UTF-8")
  }

  /** `frame` (which carries a content size field) declaring `size` bytes:
    * the size field (bytes 6-13) patched and the header checksum re-sealed. */
  private def withDeclaredSize(frame: Array[Byte], size: Long): Array[Byte] = {
    val patched = frame.clone()
    ByteBuffer.wrap(patched).order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(6, size)
    val xx = net.jpountz.xxhash.XXHashFactory.fastestInstance().hash32()
    patched(14) = ((xx.hash(patched, 4, 10, 0) >> 8) & 0xFF).toByte
    patched
  }

  test("LZ4 bomb cap: a frame declaring 2^40 bytes fails fast, allocating nothing from the declared size") {
    import net.jpountz.lz4.LZ4FrameOutputStream
    val zeros = new Array[Byte](1 << 20)
    val bos = new java.io.ByteArrayOutputStream()
    val fout = new LZ4FrameOutputStream(bos, LZ4FrameOutputStream.BLOCKSIZE.SIZE_64KB, zeros.length.toLong,
      LZ4FrameOutputStream.FLG.Bits.BLOCK_INDEPENDENCE, LZ4FrameOutputStream.FLG.Bits.CONTENT_SIZE)
    fout.write(zeros); fout.close()
    val declared = bos.toByteArray
    assert(BatchCompression.decompress(CodecLz4, declared).length == (1 << 20))
    val bomb = withDeclaredSize(declared, 1L << 40)
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException](BatchCompression.decompress(CodecLz4, bomb))
    assert(e.getMessage.contains("Size check mismatch"), e.getMessage)
    assert(System.nanoTime() - t0 < 10L * 1000 * 1000 * 1000, "a declared 1 TiB must not be allocated or waited for")
  }

  test("LZ4 frames written by earlier builds: the writer reproduces them and the reader decodes them") {
    // FIXTURES.md F10: frames from the hand-rolled LZ4 frame writer that
    // lz4-java's frame streams replaced
    val bodies = Seq(
      "empty" -> Array.emptyByteArray,
      "one-byte" -> Array[Byte](42),
      "64k" -> Array.tabulate(64 * 1024)(i => (i % 251).toByte),
      "mixed" -> MixedLz4Body)
    bodies.foreach { case (name, body) =>
      val frame = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(getClass.getResource(s"lz4-frame/$name.lz4").toURI))
      assert(java.util.Arrays.equals(BatchCompression.compress(CodecLz4, body), frame), s"$name: writer bytes")
      assert(java.util.Arrays.equals(BatchCompression.decompress(CodecLz4, frame), body), s"$name: reader")
    }
  }

  test("a truncated payload fails with IllegalArgumentException naming its codec, for every compressed codec") {
    val body = (0 until 2000).flatMap(i => s"record $i value ${i * 7919 % 1000}|".getBytes("UTF-8")).toArray
    AllCodecs.filter(_._1 != CodecNone).foreach { case (codec, name) =>
      val payload = BatchCompression.compress(codec, body)
      val cut = java.util.Arrays.copyOfRange(payload, 0, payload.length / 2)
      val e = intercept[IllegalArgumentException](BatchCompression.decompress(codec, cut))
      assert(e.getMessage.contains(name), s"$name: ${e.getMessage}")
      assert(e.getCause.isInstanceOf[java.io.IOException], name)
    }
  }

  test("codec payload round trip law: random bodies, all codecs") {
    forAllN(Gen.chooseNum(0, 300000), n = 8) { size =>
      val body = new Array[Byte](size)
      new java.util.Random(size).nextBytes(body)
      AllCodecs.foreach { case (codec, name) =>
        val back = BatchCompression.decompress(codec, BatchCompression.compress(codec, body))
        assert(java.util.Arrays.equals(back, body), name)
      }
    }
  }

  test("T7 predicate skips re-compression for snappy/lz4/zstd producer batches too") {
    import graft.operators.SegmentCompressionChecker
    Seq(CodecSnappy, CodecLz4, CodecZstd).foreach { codec =>
      val seg = writeBatch(buildBatch(0L, 1L,
        (0 until 50).map(i => (s"key-$i".getBytes, ("value " * 20 + i).getBytes, Seq.empty)),
        compression = codec))
      assert(firstBatchCompressionType(seg).contains(codec))
      assert(!SegmentCompressionChecker.shouldCompress(seg),
        s"codec $codec wire must not be re-compressed")
    }
  }

  test("fuzz: arbitrary bytes and truncations never hang or OOM the parser") {
    // the records path feeds parseSegment whatever the object store serves;
    // corrupt or truncated segments must fail FAST with a validation error
    // (or parse a valid prefix), never loop, allocate absurdly, or return
    // silently-wrong records
    val rnd = new java.util.Random(99)
    (0 until 200).foreach { i =>
      val garbage = new Array[Byte](rnd.nextInt(4096))
      rnd.nextBytes(garbage)
      try { parseSegment(garbage); () }
      catch {
        case _: IllegalArgumentException | _: java.io.IOException |
             _: java.nio.BufferUnderflowException | _: IndexOutOfBoundsException |
             _: NegativeArraySizeException => ()
      }
    }
    // every truncation point of a VALID compressed segment
    val (seg, _) = e2eStyleSegment(CodecZstd)
    (0 until seg.length by 7).foreach { cut =>
      val t = java.util.Arrays.copyOfRange(seg, 0, cut)
      try { parseSegment(t); () }
      catch {
        case _: IllegalArgumentException | _: java.io.IOException |
             _: java.nio.BufferUnderflowException | _: IndexOutOfBoundsException |
             _: NegativeArraySizeException => ()
      }
    }
    // and bit-flips inside batch bodies are caught by the CRC, not decoded
    (0 until 50).foreach { _ =>
      val bad = seg.clone()
      val pos = 21 + rnd.nextInt(bad.length - 21) // past batch 0's CRC field
      bad(pos) = (bad(pos) ^ (1 << rnd.nextInt(8))).toByte
      try {
        val parsed = parseSegment(bad)
        // a flip that lands in a LATER batch can leave batch 0 valid; any
        // parsed result must re-serialize consistently (no silent damage)
        parsed.foreach(b => writeBatch(b))
      } catch {
        case _: IllegalArgumentException | _: java.io.IOException |
             _: java.nio.BufferUnderflowException | _: IndexOutOfBoundsException |
             _: NegativeArraySizeException => ()
      }
    }
  }

  test("decompression bomb: a tiny payload may not expand past the bound (r4 advice)") {
    // zstd collapses 128 MiB of zeros to a few KiB — far beyond the 4096:1
    // cap and the 64 MiB floor, so the decode must abort mid-stream instead
    // of allocating the full bomb
    val zeros = new Array[Byte](128 << 20)
    val payload = BatchCompression.compress(BatchCompression.Zstd, zeros)
    assert(payload.length < (1 << 20), "precondition: the bomb really is tiny")
    val e = intercept[IllegalArgumentException](
      BatchCompression.decompress(BatchCompression.Zstd, payload))
    assert(e.getMessage.contains("bomb"))
    // an LZ4 block expands at most ~255:1, so an LZ4 frame claims a bomb
    // only through its declared content size ("LZ4 bomb cap"); legit
    // frames under the floor round-trip
    val lz4 = BatchCompression.compress(BatchCompression.Lz4, new Array[Byte](1024))
    assert(BatchCompression.decompress(BatchCompression.Lz4,
      BatchCompression.compress(BatchCompression.Lz4, new Array[Byte](1 << 20))).length == (1 << 20))
    assert(BatchCompression.decompress(BatchCompression.Lz4, lz4).sameElements(new Array[Byte](1024)))
    // legit sizes stay unconstrained: 4 MiB of zeros round-trips every codec
    val legit = new Array[Byte](4 << 20)
    for (c <- Seq(BatchCompression.Gzip, BatchCompression.Snappy, BatchCompression.Lz4, BatchCompression.Zstd))
      assert(BatchCompression.decompress(c, BatchCompression.compress(c, legit)).sameElements(legit))
  }

  test("varint law: round trip over full int/long range") {
    forAllN(Gen.chooseNum(Int.MinValue, Int.MaxValue)) { v =>
      val out = new java.io.ByteArrayOutputStream()
      Varint.writeVarint(v, out)
      assert(Varint.readVarint(java.nio.ByteBuffer.wrap(out.toByteArray)) == v)
    }
    forAllN(Gen.chooseNum(Long.MinValue, Long.MaxValue)) { v =>
      val out = new java.io.ByteArrayOutputStream()
      Varint.writeVarlong(v, out)
      assert(Varint.readVarlong(java.nio.ByteBuffer.wrap(out.toByteArray)) == v)
    }
  }
}
