package graft.tools

import graft.core._
import graft.operators.{IndexTransform, SegmentFetchJob, SegmentJobConfig, SegmentUploadJob}
import graft.sources._

/** Usage example / smoke CLI for the segment layer: tier a real file out to a
  * [[graft.sources.FileSystemStorage]] with compression (when it pays) and
  * encryption, then serve a byte range back via the manifest — the
  * end-to-end semantics of SURVEY.md §3.1/§3.2 (copyLogSegmentData +
  * fetchLogSegment), driven through the library's public API only.
  *
  * Args: [inputFile] [storageDir]; defaults exercise testdata.
  */
object SegmentRoundTripDemo {
  def main(args: Array[String]): Unit = {
    val input = args.headOption.getOrElse("/root/testdata/sf0.001/lineitem.parquet")
    val root = args.lift(1).getOrElse(java.nio.file.Files.createTempDirectory("graft-demo").toString)
    val storage = FileSystemStorage(root)

    val payload = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(input))
    println(s"segment bytes: ${payload.length}")

    // Write path: chunk + compress (when it pays) + encrypt, upload log,
    // indexes and manifest (last) — the library's own tier-out.
    val cfg = SegmentJobConfig.withGeneratedKeys(root).copy(chunkSize = 4096)
    val segKey = ObjectKey.filePrefix("topic", "tid", 0, 0L, "seg1")
    val idx = IndexTransform.SegmentIndexData(
      offset = Array.tabulate[Byte](64)(_.toByte),
      timestamp = Array.tabulate[Byte](48)(i => (i * 2).toByte),
      producerSnapshot = Array.tabulate[Byte](32)(i => (i + 5).toByte),
      leaderEpoch = Array.tabulate[Byte](8)(_.toByte),
      transaction = None)
    val up = SegmentUploadJob.uploadOne(storage, cfg.ring, None, cfg, segKey, payload, Some(idx))
    require(up.success, up.error)
    println(s"chunks: ${up.n_chunks}, transformed: ${up.transformed_size} bytes, " +
      s"compressed: ${up.compressed}")
    println(s"uploaded: ${storage.listKeys("").mkString(", ")}")

    // Read path: manifest → read spec (validated, key unwrapped) → chunk
    // planning → ranged GETs → detransform → slice.
    val (m, spec) = SegmentFetchJob.readSpec(storage, cfg, segKey)
    val want = BytesRange(math.min(100000L, payload.length / 2L), math.max(math.min(179999L, payload.length - 1L), 0L))
    val chunks = m.chunkIndex.chunksForRange(want)
    if (chunks.isEmpty) {
      println(s"range $want covers no chunks (empty segment) — nothing to fetch"); return
    }
    println(s"range $want covers ${chunks.size} chunks (${chunks.head.id}..${chunks.last.id}), " +
      s"index: ${m.chunkIndex.getClass.getSimpleName}")
    val sliced = SegmentFetchJob.fetchRange(storage, cfg, segKey, want)
    val expected = payload.slice(want.from.toInt, want.to.toInt + 1)
    println(s"byte-equal: ${java.util.Arrays.equals(sliced, expected)} (${sliced.length} bytes)")

    // Index files (T10/R9): encrypted-not-compressed, running positions.
    val si = m.segmentIndexes.get
    val back = IndexTransform.fetch(storage, segKey, si, "timestamp", spec.encryptionKey, spec.aad)
    println(s"index round trip: positions ${si.offset.position}/${si.timestamp.position}/" +
      s"${si.producerSnapshot.position}/${si.leaderEpoch.position}, " +
      s"timestamp index byte-equal: ${back.exists(_.sameElements(idx.timestamp))}")

    // Tamper probe: corrupting the stored object must fail decryption loudly.
    val logKey = s"$segKey.${ObjectKey.Suffix.Log.value}"
    val corrupt = storage.fetchBytes(logKey)
    val hit = chunks.head.transformedPosition + chunks.head.transformedSize / 2
    corrupt(hit) = (corrupt(hit) ^ 0xFF).toByte
    storage.uploadBytes(corrupt, logKey)
    val res = scala.util.Try(SegmentFetchJob.fetchRange(storage, cfg, segKey, want))
    println(s"tampered fetch: ${if (res.isFailure) s"rejected (${res.failed.get.getClass.getSimpleName})" else "SILENTLY SUCCEEDED (BUG)"}")
  }
}
