package graft.core

import org.apache.spark.sql.SparkSession

/** The one local SparkSession every main, tool and spec runs on.
  *
  * Oracle parity depends on these settings, so they live in one place:
  * the UTC session time zone the DuckDB oracle's timestamps are compared
  * in, one shuffle partition per executor thread, and the scratch
  * directory [[FastLocalDir]] picks. In local mode driver and executor
  * share the JVM, so a whole-JVM pause (r12: 173 s of host steal or
  * full-GC thrash) stalls the heartbeat receiver's clock too; the long
  * network timeout and heartbeat interval keep such a pause from killing
  * the in-process executor. On a real cluster these are operator-tuned.
  */
object LocalSession {

  /** Executor threads for the mains and tools, from the environment (else
    * 4). Specs and PlanAudit pass 4 instead: the plan locks and PLANS.md
    * are calibrated there. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** `local[cpus]` with the settings above; an existing session is reused. */
  def session(cpus: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.network.timeout", "600s")
      .config("spark.executor.heartbeatInterval", "60s")
    val spark = FastLocalDir.pick().fold(b)(d => b.config("spark.local.dir", d)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Wall seconds of `f`, with its result. By-name, so building a lazy
    * plan that checkpoints eagerly is inside the clock. */
  def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val a = f
    ((System.nanoTime() - t0) / 1e9, a)
  }
}
