package graft.sources

/** Deterministic object-key layout, mirroring
  * `core/src/main/java/io/aiven/kafka/tieredstorage/ObjectKeyFactory.java:43-131`:
  * `prefix + topic-topicId/partition/zeropad20(baseOffset)-segmentId.suffix`.
  */
object ObjectKey {
  sealed abstract class Suffix(val value: String)
  object Suffix {
    case object Log extends Suffix("log")
    case object Indexes extends Suffix("indexes")
    case object Manifest extends Suffix("rsm-manifest")
    val all: Seq[Suffix] = Seq(Log, Indexes, Manifest)
  }

  /** `%020d` zero-padding of the base offset (ref :127-135). */
  def formatOffset(offset: Long): String = f"$offset%020d"

  def filePrefix(topic: String, topicId: String, partition: Int, baseOffset: Long, segmentId: String): String =
    s"$topic-$topicId/$partition/${formatOffset(baseOffset)}-$segmentId"

  def key(prefix: String, topic: String, topicId: String, partition: Int,
          baseOffset: Long, segmentId: String, suffix: Suffix): String =
    s"$prefix${filePrefix(topic, topicId, partition, baseOffset, segmentId)}.${suffix.value}"

  /** All three object keys of one segment (log + indexes + manifest) — the
    * unit of the per-segment atomic commit / compensating delete. */
  def allKeys(prefix: String, topic: String, topicId: String, partition: Int,
              baseOffset: Long, segmentId: String): Seq[String] =
    Suffix.all.map(s => key(prefix, topic, topicId, partition, baseOffset, segmentId, s))

  /** Committed segment keys (suffix stripped) among listed object keys: the
    * manifest is uploaded last, so a segment is committed iff its manifest
    * exists. */
  def committedSegments(keys: Vector[String]): Vector[String] =
    keys.filter(_.endsWith(s".${Suffix.Manifest.value}"))
      .map(_.stripSuffix(s".${Suffix.Manifest.value}"))

  /** One LIST under `prefix`, reduced to its committed segment keys. */
  def committedSegments(storage: StorageBackend, prefix: String): Vector[String] =
    committedSegments(storage.listKeys(prefix))
}
