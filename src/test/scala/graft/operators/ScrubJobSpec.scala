package graft.operators

import java.nio.file.{Files, Paths, StandardOpenOption}

import graft.sources.FileSystemStorage
import graft.testkit.SparkSpec

/** The scrub must pass a healthy store, and each corruption class must
  * land in its named issue bucket — bit rot through the AES-GCM tag,
  * truncation through the size check, lost objects through existence. */
class ScrubJobSpec extends SparkSpec {

  private def freshStore(): (SegmentJobConfig, Vector[(String, Array[Byte])]) = {
    val store = Files.createTempDirectory("graft-scrub").toString
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val rnd = new java.util.Random(11)
    val segs = (0 until 3).toVector.map { i =>
      val payload = new Array[Byte](20000 + i * 3000)
      rnd.nextBytes(payload)
      java.util.Arrays.fill(payload, payload.length / 2, payload.length, 9.toByte)
      val key = f"scrub-seg-$i%02d"
      SegmentUploadJob.uploadOne(FileSystemStorage(store), cfg.ring, None, cfg, key, payload)
      (key, payload)
    }
    (cfg, segs)
  }

  private def scrubMap(cfg: SegmentJobConfig, verifyWire: Boolean = false) =
    ScrubJob.run(spark, cfg, verifyWire).collect()
      .map(r => r.getAs[String]("segment_key") ->
        (r.getAs[Boolean]("ok"), r.getAs[String]("issue"))).toMap

  test("healthy store: every segment ok, bytes and chunks accounted") {
    val (cfg, segs) = freshStore()
    val rows = ScrubJob.run(spark, cfg).collect()
    assert(rows.length == segs.size)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("ok"), r.toString)
      assert(r.getAs[String]("issue").isEmpty)
      assert(r.getAs[Int]("chunks") > 1)
    }
    val byKey = segs.toMap
    rows.foreach(r => assert(
      r.getAs[Long]("bytes_checked") == byKey(r.getAs[String]("segment_key")).length.toLong))
  }

  test("flipped ciphertext bit -> detransform-failed (the GCM tag IS the checksum)") {
    val (cfg, _) = freshStore()
    val log = Paths.get(cfg.storageRoot, "scrub-seg-01.log")
    val bytes = Files.readAllBytes(log)
    bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 0x40).toByte
    Files.write(log, bytes)
    val m = scrubMap(cfg)
    assert(m("scrub-seg-01")._1 == false)
    assert(m("scrub-seg-01")._2.startsWith("detransform-failed"), m("scrub-seg-01")._2)
    assert(m("scrub-seg-00")._1 && m("scrub-seg-02")._1, "untouched segments stay ok")
  }

  test("truncated log -> log-size-mismatch; deleted log -> log-missing") {
    val (cfg, _) = freshStore()
    val log0 = Paths.get(cfg.storageRoot, "scrub-seg-00.log")
    val truncated = java.util.Arrays.copyOf(Files.readAllBytes(log0), 100)
    Files.write(log0, truncated, StandardOpenOption.TRUNCATE_EXISTING)
    Files.delete(Paths.get(cfg.storageRoot, "scrub-seg-02.log"))
    val m = scrubMap(cfg)
    assert(m("scrub-seg-00")._2.startsWith("log-size-mismatch"), m("scrub-seg-00")._2)
    assert(m("scrub-seg-02")._2 == "log-missing")
    assert(m("scrub-seg-01")._1)
  }

  test("corrupt manifest -> manifest-unreadable") {
    val (cfg, _) = freshStore()
    val mf = Paths.get(cfg.storageRoot, "scrub-seg-01.rsm-manifest")
    Files.writeString(mf, "{ not json")
    // parseable but incompatible: an unknown key-wrap algorithm
    val storage = FileSystemStorage(cfg.storageRoot)
    val m2 = SegmentFetchJob.loadManifest(storage, "scrub-seg-02")
    val badWrap = m2.copy(encryption = m2.encryption.map(_.copy(wrapAlg = "RSA-OAEP-SHA1")))
    storage.uploadBytes(badWrap.toJson.getBytes("UTF-8"), "scrub-seg-02.rsm-manifest")
    val m = scrubMap(cfg)
    assert(m("scrub-seg-01")._2.startsWith("manifest-unreadable"), m("scrub-seg-01")._2)
    assert(m("scrub-seg-02")._2.startsWith("manifest-unreadable: incompatible key-wrap algorithm"),
      m("scrub-seg-02")._2)
    assert(m("scrub-seg-00")._1)
  }

  test("verifyWire: real Kafka wire passes with batch count; garbage payload flagged") {
    val store = Files.createTempDirectory("graft-scrub-wire").toString
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 2048)
    import graft.records.KafkaWireCodec
    val out = new java.io.ByteArrayOutputStream()
    (0 until 3).foreach { b =>
      out.write(KafkaWireCodec.writeBatch(KafkaWireCodec.buildBatch(
        b * 10L, 1700000000000L + b,
        (0 until 10).map(i =>
          (s"k$i".getBytes("UTF-8"), s"v$i".getBytes("UTF-8"),
            Seq.empty[KafkaWireCodec.Header])))))
    }
    SegmentUploadJob.uploadOne(FileSystemStorage(store), cfg.ring, None, cfg,
      "wire-seg", out.toByteArray)
    val rnd = new java.util.Random(3)
    val junk = new Array[Byte](8000); rnd.nextBytes(junk)
    SegmentUploadJob.uploadOne(FileSystemStorage(store), cfg.ring, None, cfg,
      "junk-seg", junk)
    val rows = ScrubJob.run(spark, cfg, verifyWire = true).collect()
      .map(r => r.getAs[String]("segment_key") -> r).toMap
    assert(rows("wire-seg").getAs[Boolean]("ok"))
    assert(rows("wire-seg").getAs[Long]("wire_batches") == 3L)
    assert(!rows("junk-seg").getAs[Boolean]("ok"))
    assert(rows("junk-seg").getAs[String]("issue").startsWith("wire-invalid"))
  }

  test("verifyWire: a bad CRC in the last batch is still wire-invalid") {
    val store = Files.createTempDirectory("graft-scrub-crc").toString
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 2048)
    import graft.records.KafkaWireCodec
    val batches = (0 until 3).map { b =>
      KafkaWireCodec.writeBatch(KafkaWireCodec.buildBatch(b * 10L, 1700000000000L + b,
        (0 until 10).map(i =>
          (s"k$b-$i".getBytes("UTF-8"), s"v$b-$i".getBytes("UTF-8"), Seq.empty[KafkaWireCodec.Header]))))
    }
    val seg = batches.reduce(_ ++ _)
    val last = seg.length - batches.last.length
    seg(last + 30) = (seg(last + 30) ^ 0xFF).toByte // inside the last batch's records
    SegmentUploadJob.uploadOne(FileSystemStorage(store), cfg.ring, None, cfg, "crc-seg", seg)
    val m = scrubMap(cfg, verifyWire = true)
    assert(m("crc-seg")._1 == false)
    assert(m("crc-seg")._2.startsWith("wire-invalid") && m("crc-seg")._2.contains("CRC mismatch"),
      m("crc-seg")._2)
    assert(scrubMap(cfg)("crc-seg")._1, "without verifyWire the chunk checks pass")
  }
}
