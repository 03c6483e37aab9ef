package graft.operators

import graft.sources.{ObjectKey, StorageBackend, StorageBackends}

/** Maintenance/ops jobs: retention deletes and orphan GC — the
  * `deleteLogSegmentData` + compensating-delete semantics
  * (`KafkaRemoteStorageManager.java:590-620`) as batch jobs.
  *
  * Deletes are batched at [[StorageBackend.DeleteBatchSize]] (1000, the S3
  * protocol limit) — at 100 TB a retention pass deletes millions of keys;
  * batching is what keeps that one API round-trip per thousand.
  */
object RetentionJob {

  final case class Report(segmentsDeleted: Int, objectsDeleted: Int, orphansDeleted: Int)

  private def segKeysOf(storage: StorageBackend): (Vector[String], Vector[String]) = {
    val keys = storage.listKeys("")
    val logs = keys.filter(_.endsWith(s".${ObjectKey.Suffix.Log.value}"))
      .map(_.stripSuffix(s".${ObjectKey.Suffix.Log.value}"))
    (ObjectKey.committedSegments(keys), logs)
  }

  /** Delete whole segments selected by predicate (e.g. by base offset or
    * age); all of a segment's objects go in one batched pass. */
  def deleteSegments(cfg: SegmentJobConfig, select: String => Boolean): Report = {
    val storage = StorageBackends.forRoot(cfg.storageRoot)
    val (manifested, _) = segKeysOf(storage)
    val doomed = manifested.filter(select)
    val objects = doomed.flatMap(k => ObjectKey.Suffix.all.map(s => s"$k.${s.value}"))
      .filter(storage.exists)
    storage.deleteAll(objects)
    Report(doomed.size, objects.size, 0)
  }

  /** Orphan GC: a log without a manifest is an aborted upload (the manifest
    * is the commit point) — remove it. A manifest without a log is
    * corruption — remove it too and report. */
  def gcOrphans(cfg: SegmentJobConfig): Report = {
    val storage = StorageBackends.forRoot(cfg.storageRoot)
    val (manifested, logs) = segKeysOf(storage)
    val manifestSet = manifested.toSet
    val logSet = logs.toSet
    val abortedLogs = logs.filterNot(manifestSet.contains).map(k => s"$k.${ObjectKey.Suffix.Log.value}")
    val danglingManifests = manifested.filterNot(logSet.contains)
      .map(k => s"$k.${ObjectKey.Suffix.Manifest.value}")
    storage.deleteAll(abortedLogs ++ danglingManifests)
    Report(0, abortedLogs.size + danglingManifests.size, abortedLogs.size + danglingManifests.size)
  }
}
