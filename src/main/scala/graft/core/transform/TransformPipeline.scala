package graft.core.transform

import graft.core._

/** Per-segment transform configuration: what the write-path DAG applies and
  * the read path must invert (ref `KafkaRemoteStorageManager.java:275-294`,
  * the `transformation()` composition). */
final case class TransformSpec(
    chunkSize: Int,
    compression: Boolean,
    encryptionKey: Option[Array[Byte]],
    aad: Array[Byte] = Array.emptyByteArray,
    /** Write-path codec (manifest `compressionCodec` name). The read path
      * ignores it — compressed chunks are self-describing (tag byte / zstd
      * frame magic, [[Transforms.decompress]]). */
    codec: String = Transforms.CodecNameLz4
) {
  def identity: Boolean = !compression && encryptionKey.isEmpty
}

/** Result of transforming one segment: transformed chunk payloads (in id
  * order) plus the sealed [[ChunkIndex]]. */
final case class TransformedSegment(chunks: Vector[Array[Byte]], index: ChunkIndex)

/** The write-path finisher + read-path detransform, mirroring
  * `TransformFinisher.java:47-199` and `BaseDetransformChunkEnumeration.java`.
  *
  * Key behaviors kept from the reference:
  *   - identity transforms skip per-chunk work entirely and compute the index
  *     arithmetically (`TransformFinisher.java:107-131`);
  *   - encryption (fixed overhead) yields a [[FixedSizeChunkIndex]];
  *     compression yields a [[VariableSizeChunkIndex]]
  *     (`TransformFinisher.java:75-90`);
  *   - the read path checks each chunk's length against the index and fails
  *     on short/long reads (`BaseDetransformChunkEnumeration.java:100-110`).
  */
object TransformPipeline {

  def transformChunk(chunk: Array[Byte], spec: TransformSpec): Array[Byte] = {
    var c = chunk
    if (spec.compression) c = Transforms.compressWith(c, spec.codec)
    spec.encryptionKey.foreach { key => c = Transforms.encrypt(c, key, spec.aad) }
    c
  }

  /** Inverse of [[transformChunk]] for a chunk whose index entry says
    * `originalSize` bytes; decompression is bounded by it. */
  def detransformChunk(chunk: Array[Byte], spec: TransformSpec, originalSize: Int): Array[Byte] = {
    var c = chunk
    spec.encryptionKey.foreach { key => c = Transforms.decrypt(c, key, spec.aad) }
    if (spec.compression) c = Transforms.decompress(c, originalSize)
    c
  }

  /** Transform a whole segment. The effective chunk grid always derives from
    * `spec.chunkSize` (0 = single chunk). */
  def transform(original: Array[Byte], spec: TransformSpec): TransformedSegment = {
    val effectiveChunkSize = if (spec.chunkSize == 0) math.max(original.length, 1) else spec.chunkSize
    if (spec.identity) {
      // Identity shortcut: no per-chunk re-read; index computed arithmetically
      // (ref TransformFinisher.java:124-131).
      val count = ChunkIndex.chunkCountOf(effectiveChunkSize, original.length)
      val finalSize =
        if (count == 0) 0
        else original.length - (count - 1) * effectiveChunkSize
      val index = FixedSizeChunkIndex(effectiveChunkSize, original.length, effectiveChunkSize, finalSize)
      TransformedSegment(Transforms.chunkedBytes(original, effectiveChunkSize).toVector, index)
    } else {
      // stream chunk → transform chunk-by-chunk: materializing all original
      // chunk copies first would hold a second full content in memory (r8 —
      // the 1 GiB × 100 KiB point was GC-bound); each copy is now dead as
      // soon as its transformed chunk exists
      val transformed = Transforms.chunkedBytes(original, effectiveChunkSize)
        .map(transformChunk(_, spec)).toVector
      val index: ChunkIndex =
        if (!spec.compression) {
          // Encryption only: constant overhead -> fixed-size index.
          val overhead = Transforms.encryptionOverhead
          val b = new FixedSizeChunkIndexBuilder(effectiveChunkSize, original.length, effectiveChunkSize + overhead)
          transformed.dropRight(1).foreach(c => b.addChunk(c.length))
          b.finish(transformed.lastOption.map(_.length).getOrElse(0))
        } else {
          val b = new VariableSizeChunkIndexBuilder(effectiveChunkSize, original.length)
          transformed.dropRight(1).foreach(c => b.addChunk(c.length))
          b.finish(transformed.lastOption.map(_.length).getOrElse(0))
        }
      TransformedSegment(transformed, index)
    }
  }

  /** Inverse of [[transform]] over the already-sliced transformed chunks.
    * `expected` drives strict size checking. */
  def detransform(
      transformedChunks: Iterator[Array[Byte]],
      expected: Vector[Chunk],
      spec: TransformSpec
  ): Iterator[Array[Byte]] = {
    val expectedIt = expected.iterator
    transformedChunks.map { c =>
      require(expectedIt.hasNext, "more chunks than the index declares")
      val meta = expectedIt.next()
      require(c.length == meta.transformedSize,
        s"chunk ${meta.id}: read ${c.length} bytes, index declares ${meta.transformedSize}")
      val plain =
        try detransformChunk(c, spec, meta.originalSize)
        catch {
          case e: IllegalArgumentException =>
            throw new IllegalArgumentException(s"chunk ${meta.id}: ${e.getMessage}", e)
        }
      require(plain.length == meta.originalSize,
        s"chunk ${meta.id}: detransformed to ${plain.length} bytes, index declares ${meta.originalSize}")
      plain
    }
  }

  /** Full-fidelity round trip used by tests and the serving layer. */
  def detransformAll(segment: TransformedSegment, spec: TransformSpec): Array[Byte] = {
    val real = if (segment.index.originalFileSize == 0) Vector.empty[Chunk] else segment.index.chunks
    val out = new java.io.ByteArrayOutputStream(segment.index.originalFileSize)
    detransform(segment.chunks.iterator, real, spec).foreach(out.write)
    out.toByteArray
  }
}
