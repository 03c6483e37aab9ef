package graft.operators

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.core.BytesRange
import graft.sources.FileSystemStorage
import graft.testkit.SparkSpec

/** End-to-end segment layer on Spark (SURVEY §3.1/§3.2): upload job →
  * storage layout + manifests; fetch → byte equality; failure semantics. */
class SegmentJobsSpec extends SparkSpec {

  private def tmpDir(prefix: String) = Files.createTempDirectory(prefix).toString

  private def makeSegments(dir: String, n: Int, size: Int): Vector[(String, Array[Byte])] = {
    val rnd = new java.util.Random(7)
    (0 until n).toVector.map { i =>
      val b = new Array[Byte](size + i * 1000)
      rnd.nextBytes(b)
      // make it compressible half the time
      if (i % 2 == 0) java.util.Arrays.fill(b, b.length / 2, b.length, 42.toByte)
      val p = java.nio.file.Paths.get(dir, f"seg$i%03d.bin")
      Files.write(p, b)
      (s"file:$p".replaceFirst("^file:/+", "").replace('/', '_').replace(':', '_'), b)
    }
  }

  test("upload job tiers out all segments; fetch returns exact ranges") {
    val in = tmpDir("graft-segs-in")
    val store = tmpDir("graft-store")
    val segs = makeSegments(in, 4, 50000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)

    val results = SegmentUploadJob.run(spark, in, cfg).collect()
    assert(results.length == 4)
    assert(results.forall(_.getAs[Boolean]("success")))

    val storage = FileSystemStorage(store)
    val keys = storage.listKeys("")
    assert(keys.count(_.endsWith(".log")) == 4)
    assert(keys.count(_.endsWith(".rsm-manifest")) == 4)

    // serving-path fetch: several ranges, byte-for-byte
    segs.foreach { case (segKey, payload) =>
      val whole = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, payload.length - 1L))
      assert(java.util.Arrays.equals(whole, payload), s"whole fetch mismatch for $segKey")
      val mid = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(1234, 9876))
      assert(java.util.Arrays.equals(mid, java.util.Arrays.copyOfRange(payload, 1234, 9877)))
      // range beyond EOF clamps
      val tail = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(payload.length - 10L, payload.length + 500L))
      assert(java.util.Arrays.equals(tail, java.util.Arrays.copyOfRange(payload, payload.length - 10, payload.length)))
    }
  }

  test("compression predicate: incompressible segments stored uncompressed") {
    val in = tmpDir("graft-segs-in2")
    val store = tmpDir("graft-store2")
    makeSegments(in, 4, 50000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val res = SegmentUploadJob.run(spark, in, cfg).collect()
    val bySeg = res.map(r => r.getAs[String]("segment_key") -> r.getAs[Boolean]("compressed")).toMap
    // even indices end with a long constant run -> compressible; odd are pure random
    assert(bySeg.exists(_._2) && bySeg.exists(!_._2),
      s"expected a mix of compressed/uncompressed, got $bySeg")
  }

  test("distributed chunk fetch: range predicate prunes, bytes reassemble") {
    val in = tmpDir("graft-segs-in3")
    val store = tmpDir("graft-store3")
    val segs = makeSegments(in, 2, 30000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    SegmentUploadJob.run(spark, in, cfg).collect()

    val chunks = SegmentFetchJob.chunksAsDataFrame(spark, cfg)
    assert(chunks.count() > 2)

    val range = BytesRange(5000, 12000)
    val fetched = SegmentFetchJob.fetchChunksDF(spark, cfg, range)
      .orderBy(col("segment_key"), col("chunk_id"))
      .collect()
    // only chunks 1..2 (4096-grid) per segment overlap [5000, 12000]
    assert(fetched.map(_.getAs[Int]("chunk_id")).toSet == Set(1, 2))
    segs.foreach { case (segKey, payload) =>
      val mine = fetched.filter(_.getString(0) == segKey)
      val joined = mine.flatMap(_.getAs[Array[Byte]]("bytes"))
      assert(java.util.Arrays.equals(joined, java.util.Arrays.copyOfRange(payload, 4096, 3 * 4096)))
    }
  }

  test("interrupted fetch returns an empty result, not an error (R3 cancellation)") {
    val in = tmpDir("graft-segs-in5")
    val store = tmpDir("graft-store5")
    val segs = makeSegments(in, 1, 30000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    SegmentUploadJob.run(spark, in, cfg).collect()
    val segKey = segs.head._1
    // sanity: uninterrupted fetch returns bytes
    assert(SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, 999)).length == 1000)
    Thread.currentThread().interrupt()
    try {
      val r = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, 999))
      assert(r.isEmpty, "cancelled fetch must yield an empty stream, not data or an exception")
    } finally {
      Thread.interrupted() // clear the flag for subsequent tests
    }
  }

  test("incompatible manifest fields fail fast with a clear message (wrapAlg / codec)") {
    import graft.core.SegmentManifest
    val in = tmpDir("graft-compat-in")
    val store = tmpDir("graft-compat-store")
    makeSegments(in, 1, 20000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    assert(SegmentUploadJob.run(spark, in, cfg).collect().forall(_.getAs[Boolean]("success")))
    val storage = FileSystemStorage(store)
    val manifestKey = storage.listKeys("").find(_.endsWith(".rsm-manifest")).get
    val segKey = manifestKey.stripSuffix(".rsm-manifest")
    val m = SegmentManifest.fromJson(new String(storage.fetchBytes(manifestKey), "UTF-8"))

    // The ranged fetch (the DSv2 reader's one path) must reject an
    // incompatible manifest with a clear message. Each bad manifest sits on
    // a copy of the segment under a fresh key; a manifest that fails
    // validation is never cached, so every read re-reads it.
    def rejects(bad: SegmentManifest, suffix: String, message: String): Unit = {
      storage.uploadBytes(bad.toJson.getBytes("UTF-8"), s"$segKey-$suffix.rsm-manifest")
      storage.uploadBytes(storage.fetchBytes(s"$segKey.log"), s"$segKey-$suffix.log")
      val e = intercept[IllegalStateException](
        SegmentFetchJob.fetchRange(cfg, s"$segKey-$suffix", BytesRange(0, 10)))
      assert(e.getMessage.contains(message), e.getMessage)
    }

    // foreign key-wrap algorithm (SHA3-512 — the reference's — is readable
    // since r3, so use a genuinely unknown one)
    rejects(m.copy(encryption = m.encryption.map(_.copy(wrapAlg = "RSA-OAEP-SHA1"))),
      "wrap", "incompatible key-wrap algorithm")

    // foreign codec this engine genuinely has no decoder for ("zstd" used to
    // live here — it is now a first-class readable codec, tested below)
    assert(m.compression, "segment 0 is the compressible one")
    rejects(m.copy(compressionCodec = "snappy"), "z", "incompatible compression codec")
  }

  test("the manifest cache is scoped by key material: a wrong key pair never reads a warm segment") {
    val in = tmpDir("graft-wrongkey-in")
    val store = tmpDir("graft-wrongkey-store")
    val segs = makeSegments(in, 1, 20000)
    val cfgA = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    assert(SegmentUploadJob.run(spark, in, cfgA).collect().forall(_.getAs[Boolean]("success")))
    val (segKey, payload) = segs.head
    // key A warms the serving cache with the segment's unwrapped data key
    val whole = BytesRange(0, payload.length - 1L)
    assert(java.util.Arrays.equals(SegmentFetchJob.fetchRange(cfgA, segKey, whole), payload))
    // key B (same root, same key id, other key pair) must unwrap for itself — and fail
    val cfgB = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    assert(!cfgB.rsaPrivateKey.sameElements(cfgA.rsaPrivateKey))
    intercept[Exception](SegmentFetchJob.fetchRange(cfgB, segKey, whole))
    // key A still reads
    assert(java.util.Arrays.equals(SegmentFetchJob.fetchRange(cfgA, segKey, whole), payload))
  }

  /** Uploads `payload` to `segKey` and reads it whole through the cached
    * serving path. */
  private def uploadAndRead(storage: FileSystemStorage, cfg: SegmentJobConfig,
                            segKey: String, payload: Array[Byte]): Array[Byte] = {
    val ring = if (cfg.encryption) cfg.ring else null
    assert(SegmentUploadJob.uploadOne(storage, ring, None, cfg, segKey, payload).success)
    SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, payload.length - 1L))
  }

  test("a re-uploaded segment key serves the new upload, not a cached manifest and data key") {
    val store = tmpDir("graft-reupload")
    val storage = FileSystemStorage(store)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val rnd = new java.util.Random(11)
    val first, second = new Array[Byte](20000)
    rnd.nextBytes(first); rnd.nextBytes(second)
    assert(java.util.Arrays.equals(uploadAndRead(storage, cfg, "seg", first), first))
    // other bytes: a fresh data key and a fresh chunk table
    assert(java.util.Arrays.equals(uploadAndRead(storage, cfg, "seg", second), second))
    // the same bytes again (an idempotent replay) still get a fresh data key
    assert(java.util.Arrays.equals(uploadAndRead(storage, cfg, "seg", second), second))
  }

  test("an unencrypted re-upload is not clamped to the cached segment size") {
    val store = tmpDir("graft-reupload-plain")
    val storage = FileSystemStorage(store)
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096, encryption = false)
    val rnd = new java.util.Random(12)
    val short = new Array[Byte](10000); val long = new Array[Byte](30000)
    rnd.nextBytes(short); rnd.nextBytes(long)
    assert(java.util.Arrays.equals(uploadAndRead(storage, cfg, "seg", short), short))
    assert(java.util.Arrays.equals(uploadAndRead(storage, cfg, "seg", long), long))
  }

  test("zstd-codec segments upload and serve ranged fetches byte-identically") {
    val in = tmpDir("graft-zstd-in")
    val store = tmpDir("graft-zstd-store")
    val segs = makeSegments(in, 2, 30000)
    val cfg = SegmentJobConfig.withGeneratedKeys(store)
      .copy(chunkSize = 4096, compressionCodec = graft.core.transform.Transforms.CodecNameZstd)
    assert(SegmentUploadJob.run(spark, in, cfg).collect().forall(_.getAs[Boolean]("success")))
    val storage = FileSystemStorage(store)
    // Compressed manifests must declare zstd (seg 0 is the compressible one).
    val codecs = storage.listKeys("").filter(_.endsWith(".rsm-manifest")).map { k =>
      graft.core.SegmentManifest.fromJson(new String(storage.fetchBytes(k), "UTF-8"))
    }.filter(_.compression).map(_.compressionCodec)
    assert(codecs.nonEmpty && codecs.forall(_ == graft.core.transform.Transforms.CodecNameZstd))
    // Byte-identity against the original payloads across range shapes.
    segs.foreach { case (segKey, payload) =>
      val full = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(0, payload.length - 1L))
      assert(java.util.Arrays.equals(full, payload))
      val mid = SegmentFetchJob.fetchRange(cfg, segKey, BytesRange(1000, 9999))
      assert(java.util.Arrays.equals(mid, java.util.Arrays.copyOfRange(payload, 1000, 10000)))
    }
  }

  test("segments wrapped with the pre-r3 SHA-256 algorithm still serve fetches") {
    val in = tmpDir("graft-oldwrap-in")
    val store = tmpDir("graft-oldwrap-store")
    val segs = makeSegments(in, 1, 25000)
    val base = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val oldCfg = base.copy(wrapAlg = graft.core.SegmentManifest.WrapAlgOaepSha256)
    assert(SegmentUploadJob.run(spark, in, oldCfg).collect().forall(_.getAs[Boolean]("success")))
    // Read back with a DEFAULT-config (SHA3-512-wrapping) engine holding the
    // same keys: the manifest's declared wrapAlg must drive the unwrap.
    segs.foreach { case (segKey, payload) =>
      val full = SegmentFetchJob.fetchRange(base, segKey, BytesRange(0, payload.length - 1L))
      assert(java.util.Arrays.equals(full, payload))
    }
  }

  test("upload failure leaves no partial objects (compensating delete)") {
    val store = tmpDir("graft-store4")
    val cfg = SegmentJobConfig.withGeneratedKeys(store)
    // storage root that cannot be written: point at a file
    val bad = Files.createTempFile("not-a-dir", ".txt")
    val badCfg = cfg.copy(storageRoot = bad.toString + "/sub")
    val r = SegmentUploadJob.uploadOne(FileSystemStorage(store), badCfg.ring, None, badCfg.copy(storageRoot = store),
      "seg-x", Array[Byte](1, 2, 3))
    assert(r.success)
    // failure mid-upload (r6: config validation now rejects a bad chunk
    // size at construction, so inject the failure at the manifest commit
    // point instead — .log already landed, compensating delete must clean)
    val real = FileSystemStorage(store)
    val failing = new graft.sources.StorageBackend {
      override def upload(in: java.io.InputStream, key: String): Long =
        if (key.endsWith(".rsm-manifest"))
          throw new java.io.IOException("injected manifest failure")
        else real.upload(in, key)
      override def fetch(key: String) = real.fetch(key)
      override def fetchRange(key: String, range: graft.core.BytesRange) =
        real.fetchRange(key, range)
      override def delete(key: String): Unit = real.delete(key)
      override def exists(key: String) = real.exists(key)
      override def size(key: String) = real.size(key)
      override def listKeys(prefix: String) = real.listKeys(prefix)
    }
    val r2 = SegmentUploadJob.uploadOne(failing, cfg.ring, None,
      cfg, "seg-y", Array[Byte](1, 2, 3))
    assert(!r2.success && r2.error.nonEmpty)
    assert(!real.listKeys("").exists(_.startsWith("seg-y")))
  }

  test("upload result carries the tagged-field custom metadata; wire decodes to the real sizes") {
    import scala.collection.immutable.TreeMap
    val store = java.nio.file.Files.createTempDirectory("graft-cmeta").toString
    val cfg = SegmentJobConfig.withGeneratedKeys(store).copy(chunkSize = 4096)
    val payload = new Array[Byte](20000)
    new java.util.Random(3).nextBytes(payload)
    val storage = FileSystemStorage(store)
    val r = SegmentUploadJob.uploadOne(storage, cfg.ring, None, cfg, "cm-seg", payload)
    assert(r.success && r.custom_metadata.nonEmpty)
    val fields = SegmentCustomMetadata.deserialize(r.custom_metadata)
    assert(fields(SegmentCustomMetadata.ObjectKeyTag) == "cm-seg")
    assert(fields(SegmentCustomMetadata.ObjectPrefixTag) == "")
    // remote_size == the actual bytes sitting in the store for this segment
    val stored = storage.listKeys("").filter(_.startsWith("cm-seg"))
      .map(storage.size).sum
    assert(fields(SegmentCustomMetadata.RemoteSizeTag) == stored,
      s"wire remote_size ${fields(SegmentCustomMetadata.RemoteSizeTag)} != stored $stored")
    // failure rows carry no metadata
    assert(TreeMap.empty[Int, Any] == SegmentCustomMetadata.deserialize(Array.emptyByteArray))
  }
}
