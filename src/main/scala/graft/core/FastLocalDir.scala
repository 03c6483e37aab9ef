package graft.core

import java.nio.file.{Files, Paths}

/** Picks the scratch directory for `spark.local.dir` (shuffle files,
  * spilled blocks, broadcast staging) on this machine.
  *
  * Why this exists: shuffle throughput is a property of the SCRATCH disk,
  * not the engine. On a real cluster the local dirs point at the fast
  * instance-local SSDs (never the boot volume); the single-JVM rig this
  * project benches on has a boot disk that sustains ~33 MB/s buffered
  * writes under writeback pressure while its memory-backed `/dev/shm`
  * (126 GiB, >10x faster) sits empty — measured r9, where shuffle-heavy
  * queries ran 10-50x slower than the identical code on a fast-disk box
  * purely from `java.io.tmpdir` scratch placement. Routing the local dir
  * at session-build time is the same decision a cluster operator makes
  * with `SPARK_LOCAL_DIRS`; query code and plans are untouched.
  *
  * Selection: `SPARK_GRAFT_LOCAL_DIR` env overrides everything (set it to
  * an empty string to force Spark's default); otherwise `/dev/shm` is used
  * when it is writable with comfortable headroom; otherwise None (Spark
  * falls back to `java.io.tmpdir`).
  */
object FastLocalDir {
  /** Minimum free bytes before the memory-backed fs is trusted with
    * shuffle scratch: replica-scale benches spill tens of GiB, and a
    * tmpfs page consumed is RAM the executors cannot use. */
  private val MinFreeBytes = 32L << 30

  def pick(): Option[String] = pickFrom(sys.env.get("SPARK_GRAFT_LOCAL_DIR"))

  /** Decision kernel, separated so the override semantics are unit-testable:
    * explicit empty string = force Spark's default, explicit dir = trust the
    * operator verbatim, unset = probe the memory-backed fs. */
  private[core] def pickFrom(envOverride: Option[String]): Option[String] =
    envOverride match {
      case Some("")  => None
      case Some(dir) => Some(dir)
      case None      => probeShm()
    }

  private def probeShm(): Option[String] = {
    val shm = Paths.get("/dev/shm")
    try {
      if (Files.isDirectory(shm) && Files.isWritable(shm) &&
          Files.getFileStore(shm).getUsableSpace >= MinFreeBytes) {
        val d = shm.resolve("graft-spark-local")
        Files.createDirectories(d)
        Some(d.toString)
      } else None
    } catch { case _: Throwable => None }
  }
}
